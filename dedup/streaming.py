"""Structured Streaming surface (engine extra).

The reference and the north rule are batch-only (SURVEY §2.5: no watermarks,
no state). This module exists because a production ingest pipeline usually
lands crawl batches continuously: it provides the streaming equivalents of
the first pipeline stages so the batch engine's tables can be maintained
incrementally.

- `stream_signatures`: readStream-compatible transform — the same single
  Arrow pass as the batch signatures stage (mapInPandas works unchanged on
  streaming DataFrames).
- `stream_exact_dedup`: drop exact-duplicate urls within a watermark via
  dropDuplicatesWithinWatermark (state-bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup.config import DedupConfig
from dedup.signature import signatures_table


def stream_signatures(stream_corpus: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Streaming corpus(url, warc_ts, text) -> streaming signatures rows.
    Append-mode friendly: stateless per-row transform."""
    return signatures_table(stream_corpus, cfg)


def stream_exact_dedup(stream_corpus: DataFrame,
                       watermark: str = "1 hour",
                       key: str = "url") -> DataFrame:
    """Keep the first occurrence per key within the watermark window —
    bounded state, late rows beyond the watermark are dropped by the engine.
    """
    return (stream_corpus
            .withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark([key]))


def stream_windowed_counts(stream_corpus: DataFrame,
                           watermark: str = "30 minutes",
                           window: str = "1 hour",
                           ts_col: str = "warc_ts") -> DataFrame:
    """Watermarked tumbling-window ingest counts per language — the
    canonical late-data windowed aggregation (crawl-monitoring analog of
    the reference's request-rate middleware, app/main.py:120-160). Rows
    later than the watermark are dropped by the engine; in append mode a
    window finalizes (emits once) when the watermark passes its end."""
    return (stream_corpus
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window).alias("win"), "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "lang", "n_docs"))


PAIR_OUTPUT_SCHEMA = "a string, b string, match_source string"
_PAIR_STATE_SCHEMA = "members array<string>, last_seen_ms bigint"


def stream_candidate_pairs(stream_corpus: DataFrame, cfg: DedupConfig,
                           state_cap: int = 64,
                           state_ttl_ms: int | None = None) -> DataFrame:
    """Custom stateful streaming operator: incremental near-dup candidate
    emission over a document stream.

    The streaming analog of the batch grouped pair emission
    (dedup/lsh.pairs_within_groups): signatures -> unified blocking keys
    (band hashes + normalized urls) -> applyInPandasWithState keyed by
    blocking key. Per-bucket state is the SORTED member list, bounded by
    `state_cap`: while a bucket is small every arriving document pairs with
    all remembered members (all-pairs semantics across batches); once the
    bucket is hot, new arrivals emit ONE star edge to the bucket's minimum
    member and the state stops growing — the same connectivity-preserving
    cap the batch path uses, so state size is O(buckets x cap) regardless
    of stream length.

    Output rows (a, b, match_source) may repeat across buckets/batches;
    downstream either feeds incremental clustering or a
    dropDuplicatesWithinWatermark. Pairs from a url key carry
    match_source='url_exact' (threshold bypass, reference
    app/hash_detector.py:263-266), band keys carry 'lsh', metadata keys
    'title' / 'description'.

    State lifetime: with the default state_ttl_ms=None, bucket membership
    lives forever — right for availableNow batch drops. Pass state_ttl_ms
    for ROLLING-WINDOW semantics: a bucket whose last arrival is older than
    the TTL is treated as expired, its stale members are dropped before
    pairing, and the arriving document re-seeds it. Documented recall
    trade: a document arriving after its bucket expired does not pair with
    pre-expiry members — standard dedup-window semantics at web scale; the
    batch pipeline over the accumulated table remains the exhaustive path.

    Why in-state expiry instead of GroupStateTimeout.ProcessingTimeTimeout:
    this PySpark build crashes the Python worker on every timed-out-key
    invocation — worker.py's `wrap_grouped_map_pandas_udf_with_state`
    infers the input columns via `next(value_series_gen)` in the
    hasTimedOut branch, but a timed-out key carries no data chunks, so the
    worker dies on StopIteration ("Python worker exited unexpectedly") and
    availableNow queries re-fire the same timeouts forever
    (tools/repro_state_timeout_bug.py reproduces it with vanilla
    applyInPandasWithState). transformWithStateInPandas (state-v2, native
    TTL) needs google.protobuf, absent in this sandbox. So member LISTS are
    TTL-bounded here, while expired bucket ROWS are reclaimed offline by
    `evict_expired_pair_state` between drops (an evict-only pass through
    the same checkpoint that state.remove()s still-expired buckets) — the
    row count is then bounded by the live key set, not by keys ever seen.
    """
    import bisect
    import time as _time

    import pandas as pd

    from dedup.lsh import unified_group_keys

    sigs = signatures_table(stream_corpus, cfg)
    keys = unified_group_keys(sigs, cfg)

    def emit(key, pdfs, state):
        from pyspark.sql.streaming.state import GroupState  # noqa: F401
        now_ms = int(_time.time() * 1000)
        members: list[str] = []
        if state.exists:
            members, last_seen = list(state.get[0]), state.get[1]
            if state_ttl_ms is not None and now_ms - last_seen > state_ttl_ms:
                members = []  # expired window: stale members do not pair
        # key = (gk_band, gk_url, gk_txt) — exactly one non-null
        if key[1] is not None:
            source = "url_exact"
        elif key[0] is not None:
            source = "lsh"
        else:
            source = "title" if str(key[2]).startswith("t:") else "description"
        new: list[str] = []
        for pdf in pdfs:
            new.extend(pdf["url"].tolist())
        out_a: list[str] = []
        out_b: list[str] = []
        for u in sorted(set(new) - set(members)):
            if len(members) < state_cap:
                for m in members:
                    a, b = (m, u) if m < u else (u, m)
                    out_a.append(a)
                    out_b.append(b)
                bisect.insort(members, u)
            elif members:
                center = members[0]
                a, b = ((center, u) if center < u else (u, center))
                out_a.append(a)
                out_b.append(b)
        state.update((members, now_ms))
        if out_a:
            yield pd.DataFrame({"a": out_a, "b": out_b,
                                "match_source": [source] * len(out_a)})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (keys.groupBy("gk_band", "gk_url", "gk_txt")
            .applyInPandasWithState(
                emit,
                outputStructType=PAIR_OUTPUT_SCHEMA,
                stateStructType=_PAIR_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def run_stream_candidate_pairs(spark, source_dir: str, checkpoint_dir: str,
                               output_dir: str, cfg: DedupConfig,
                               state_ttl_ms: int | None = None,
                               schema: str = ("url string, "
                                              "warc_ts timestamp, "
                                              "html binary, text string, "
                                              "lang string")):
    """File-source ingest -> stateful candidate pairs -> parquet append.
    Each availableNow run processes new files; bucket state persists in the
    checkpoint, so pairs across drops are still found (until the optional
    TTL evicts an idle bucket)."""
    src = spark.readStream.schema(schema).parquet(source_dir)
    pairs = stream_candidate_pairs(src.select("url", "text"), cfg,
                                   state_ttl_ms=state_ttl_ms)
    return (pairs.writeStream
            .format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def latest_signatures(spark, sig_dir: str) -> DataFrame:
    """ONE signature row per url from an append-accumulated ingest table,
    with a DETERMINISTIC winner: a url re-delivered in a later drop
    (re-crawl, duplicate file) keeps the row from the freshest micro-batch
    (ingest_batch stamp), tie-broken by simhash within a batch — so a
    changed re-crawl pins the new content every run instead of
    dropDuplicates picking an arbitrary row.

    Two legacy-workdir hazards are handled explicitly:
    - a table started by the OLD streaming-parquet sink carries a
      `_spark_metadata` log that batch reads would trust, silently hiding
      every batch-appended file — the data files are globbed directly so
      the log cannot mask them;
    - files written before the ingest_batch stamp existed merge in with a
      null stamp (mergeSchema) and lose to ANY stamped delivery
      (desc_nulls_last), i.e. legacy rows are the oldest."""
    from pathlib import Path

    path = f"{sig_dir}/part-*" if Path(sig_dir, "_spark_metadata").exists() \
        else sig_dir
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if "ingest_batch" not in df.columns:
        return df.dropDuplicates(["url"])
    from pyspark.sql import Window
    w = (Window.partitionBy("url")
         .orderBy(F.desc_nulls_last("ingest_batch"),
                  F.desc_nulls_last("simhash")))
    return (df.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1").drop("_rn", "ingest_batch"))


_ASSIGN_MANIFEST = "assignments_manifest.json"
# snapshots kept per workdir (Iceberg expire_snapshots analog): every fold
# lands a full assignment copy, so an unbounded history would grow disk as
# O(drops x corpus); the latest KEEP_ASSIGNMENT_VERSIONS stay readable
KEEP_ASSIGNMENT_VERSIONS = 10
# every snapshot is read with this declared schema: a schema-inferring
# parquet read launches one Spark job
ASSIGNMENT_SCHEMA = "url string, cluster_id string"


def _read_assign_manifest(workdir: str) -> dict | None:
    """Tolerant manifest read: a manifest truncated by a crash mid-write
    (pre-atomic-rename writers) is REBUILT from the version dirs on disk
    instead of bricking the workdir with JSONDecodeError forever."""
    import json
    import re
    from pathlib import Path

    mp = Path(workdir) / _ASSIGN_MANIFEST
    if not mp.exists():
        return None
    try:
        return json.loads(mp.read_text())
    except json.JSONDecodeError:
        complete = {
            int(m.group(1)): (d / "_COMMITTED").exists()
            for d in Path(workdir).glob("assignments_v*")
            if (m := re.fullmatch(r"assignments_v(\d+)", d.name))
            and (d / "_SUCCESS").exists()}
        # prefer manifest-committed snapshots (the _COMMITTED marker lands
        # right after the atomic repoint): a dir whose parquet completed
        # but whose fold never committed (crash before the repoint) must
        # NOT be adopted as latest — that would silently commit an
        # uncommitted fold. Marker-less dirs only count when NO marker
        # exists anywhere (a pre-marker legacy workdir).
        versions = sorted(v for v, c in complete.items() if c) \
            or sorted(complete)
        # honor the retention contract: expired dirs a crash left on disk
        # (rmtree runs after the repoint) must not resurrect
        versions = versions[-KEEP_ASSIGNMENT_VERSIONS:]
        if not versions:
            return None
        return {"latest": versions[-1], "versions": versions}


def list_assignment_versions(workdir: str) -> list[int]:
    """Snapshot versions recorded by ingest_drop, oldest first (empty for
    a pre-versioning or fresh workdir)."""
    man = _read_assign_manifest(workdir)
    return sorted(int(v) for v in man["versions"]) if man else []


def read_assignments(spark, workdir: str, version: int | None = None):
    """The maintained (url, cluster_id) assignment — latest by default, or
    any RETAINED snapshot version (Iceberg-snapshot-style as-of read: every
    ingest fold lands in a fresh versioned dir; on an Iceberg deployment
    these map to table snapshots and this function to VERSION AS OF; the
    last KEEP_ASSIGNMENT_VERSIONS are retained, older snapshots are
    expired). Raises KeyError for an unknown/expired version. Reading
    starts no Spark job: the snapshot is read with ASSIGNMENT_SCHEMA."""
    man = _read_assign_manifest(workdir)
    if man is not None:
        v = man["latest"] if version is None else int(version)
        if v not in set(int(x) for x in man["versions"]):
            raise KeyError(f"assignment version {v} not in "
                           f"{sorted(man['versions'])}")
        path = f"{workdir}/assignments_v{v}"
    elif version is not None:
        raise KeyError("workdir has no assignment snapshots")
    else:
        path = f"{workdir}/assignments"
    return spark.read.schema(ASSIGNMENT_SCHEMA).parquet(path)


def _write_assignment_version(df, workdir: str,
                              keep: int = KEEP_ASSIGNMENT_VERSIONS) -> int:
    """Write `df` as the next assignment snapshot, repoint the manifest
    ATOMICALLY (temp file + os.replace), and expire snapshots beyond the
    retention window. The write goes to a FRESH dir (never overwrites the
    version being read), so the read-modify-write fold needs no checkpoint
    barrier."""
    import json
    import os
    import shutil
    from pathlib import Path

    mp = Path(workdir) / _ASSIGN_MANIFEST
    man = _read_assign_manifest(workdir) or {"latest": 0, "versions": []}
    v = int(man["latest"]) + 1
    # overwrite: a crash between the parquet write and the manifest
    # repoint leaves an ORPHAN dir at this version — reclaim it; recorded
    # versions are never targeted (v > latest always)
    df.write.mode("overwrite").parquet(f"{workdir}/assignments_v{v}")
    keep_set = sorted(set(int(x) for x in man["versions"]) | {v})[-keep:]
    expired = [x for x in man["versions"] if int(x) not in keep_set]
    man["latest"] = v
    man["versions"] = keep_set
    tmp = mp.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(man))
    os.replace(tmp, mp)  # readers see old-or-new, never a torn file
    # commit marker for the torn-manifest rebuild path: distinguishes a
    # manifest-committed snapshot from an orphan whose parquet completed
    # but whose fold crashed before the repoint
    (Path(workdir) / f"assignments_v{v}" / "_COMMITTED").touch()
    for x in expired:    # after the repoint: no reader can resolve them
        shutil.rmtree(f"{workdir}/assignments_v{int(x)}",
                      ignore_errors=True)
    return v


def ingest_drop(spark, source_dir: str, workdir: str, cfg: DedupConfig,
                state_ttl_ms: int | None = None,
                schema: str = ("url string, warc_ts timestamp, "
                               "html binary, text string, lang string")):
    """End-to-end INCREMENTAL dedup over crawl drops: one call processes
    whatever new files appeared in `source_dir` and folds them into a
    maintained cluster assignment — the streaming counterpart of the batch
    pipeline, built from the same operators.

    Per availableNow cycle:
    1. the signatures stream appends the new documents' signatures to
       `workdir/signatures` (stateless Arrow pass, parquet append);
    2. the stateful candidate-pair stream emits new intra- AND cross-drop
       candidate pairs (bucket state persists in `workdir/ckpt_pairs`);
       its foreachBatch sink verifies each micro-batch against the
       accumulated signatures table (reference cosine / engine Jaccard —
       the pipeline's `verified_stage`, broadcast gate included) and
       merges kept edges into the maintained assignment via
       cluster.merge_assignments, so only the touched components are
       re-solved;
    3. documents never seen in an edge enter as singletons — inside the
       fold, or by a top-up pass when no micro-batch was folded.

    Each micro-batch runs the stateful pair plan once: the fold pins the
    micro-batch and its verified edges (persist, materialized by one
    count()) before merging, because every read of the micro-batch would
    otherwise re-run the signing, key emission and state commit.

    Returns the updated assignments DataFrame (url, cluster_id). The
    connected-components work is O(drop + touched clusters), not a full
    recompute; semantics match the batch pipeline whenever no bucket
    exceeds the streaming state cap (hot buckets degrade to the same
    star-edge connectivity the batch path uses). Three parts of a fold are
    still O(corpus): `latest_signatures` windows the whole signatures
    directory, twice per fold (the verify gate's collect and the new-url
    anti-join; the broadcast verify plan reads no signatures, the join
    plan over the gate's bound reads the window twice more), each fold
    rewrites the full assignment table, and the pair stream signs the
    drop a second time (stream_candidate_pairs reads the raw source, not
    the rows q1 wrote). Storage note: every fold lands the assignment in
    a FRESH `workdir/assignments_v{n}` dir with a manifest pointer (the
    table was rewritten wholesale anyway, so the version history is
    free) — `read_assignments(workdir, version=...)`
    gives snapshot as-of reads/rollback across drops; on an Iceberg
    deployment versions map to table snapshots and merge_assignments'
    touched/untouched split to a MERGE INTO that rewrites only the
    affected files."""
    from pathlib import Path

    from dedup.cluster import merge_assignments
    from dedup.pipeline import verified_stage

    sig_dir = f"{workdir}/signatures"
    # null-url rows are state-compaction tombstone files read under the
    # corpus schema (evict_expired_pair_state) — inert, keep them out of
    # the signatures table
    def append_sigs(batch_df, batch_id):
        # stamp the micro-batch id so a url re-delivered in a LATER drop
        # has a deterministic winner (freshest delivery) instead of
        # dropDuplicates picking an arbitrary row when a re-crawl changed
        # the text
        (batch_df.withColumn("ingest_batch", F.lit(int(batch_id)))
         .write.mode("append").parquet(sig_dir))

    q1 = (stream_signatures(
        spark.readStream.schema(schema).parquet(source_dir)
        .where(F.col("url").isNotNull())
        .select("url", "text"), cfg)
        .writeStream.foreachBatch(append_sigs)
        .option("checkpointLocation", f"{workdir}/ckpt_sigs")
        .outputMode("append").trigger(availableNow=True).start())
    q1.awaitTermination()

    def current_assignments():
        # versioned manifest first; a pre-versioning workdir's flat
        # `assignments` dir reads as the base; None on a fresh workdir
        if (Path(workdir) / _ASSIGN_MANIFEST).exists() or \
                Path(f"{workdir}/assignments").exists():
            return read_assignments(spark, workdir)
        return None

    folded = []

    def fold(batch_df, batch_id):
        sigs = latest_signatures(spark, sig_dir)
        # every read of batch_df re-runs the whole stateful pair plan
        # (signing, key emission, state load and commit). The join plan
        # reads its pairs twice (url_exact and scored branches), so the
        # micro-batch is pinned under the verified edges; one count()
        # materializes every partition of both, and no later action
        # falls through to the stateful plan. The merge stays inside the
        # verified stage: tasks over the pinned edges ship their lineage
        pinned = [batch_df.persist()]

        def pin(stage, build, funnel=None):
            pinned.append(build().where("keep").select("a", "b").persist())
            pinned[-1].count()
            return pinned[-1]

        try:
            with verified_stage(pinned[0], sigs, cfg, pin) as verified:
                assignments = current_assignments()
                if assignments is None:
                    assignments = sigs.select(
                        "url", F.col("url").alias("cluster_id"))
                # signed urls with no assignment yet: merge_assignments
                # clusters the ones an edge touches, the rest enter as
                # singletons — kept out of the merge so its driver steps
                # never read the signatures window
                edge_urls = (verified.select(F.col("a").alias("url"))
                             .unionByName(verified.select(
                                 F.col("b").alias("url"))))
                new_urls = (sigs.select("url")
                            .join(assignments.select("url"), "url",
                                  "left_anti")
                            .join(edge_urls, "url", "left_anti")
                            .select("url", F.col("url").alias("cluster_id")))
                merged = (merge_assignments(assignments, verified)
                          .unionByName(new_urls))
                # fresh versioned dir: no read-overwrite hazard, and the
                # version history gives Iceberg-snapshot-style as-of reads
                _write_assignment_version(merged, workdir)
        finally:
            for df in pinned:
                df.unpersist()
        folded.append(batch_id)

    src = spark.readStream.schema(schema).parquet(source_dir)
    q2 = (stream_candidate_pairs(src.select("url", "text"), cfg,
                                 state_ttl_ms=state_ttl_ms)
          .writeStream.foreachBatch(fold)
          .option("checkpointLocation", f"{workdir}/ckpt_pairs")
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination()
    if folded:
        # a fold assigns every signed url (merged or new_urls), and q1
        # finished before q2 started: nothing is left to top up
        return read_assignments(spark, workdir)

    # a drop whose documents hit no blocking bucket emits no micro-batch
    # at all — enter those documents as singletons
    sigs = latest_signatures(spark, sig_dir)
    assignments = current_assignments()
    if assignments is not None:
        missing = (sigs.select("url")
                   .join(assignments.select("url"), "url", "left_anti")
                   .select("url", F.col("url").alias("cluster_id"))
                   .localCheckpoint())
        if missing.count():
            _write_assignment_version(
                assignments.unionByName(missing), workdir)
    else:
        _write_assignment_version(
            sigs.select("url", F.col("url").alias("cluster_id")), workdir)
    return read_assignments(spark, workdir)


def read_pair_state(spark, checkpoint_dir: str) -> DataFrame:
    """The stateful pair stream's live state rows via Spark's state data
    source (read-only): one row per bucket with the grouping key struct,
    the (members, last_seen_ms) value struct, and partition_id."""
    return (spark.read.format("statestore")
            .option("path", checkpoint_dir).load())


_TOMBSTONE_PREFIX = "tombstones-"
_EVICT_SCHEMA = "gk_band bigint, gk_url string, gk_txt string"


def _seen_source_files(checkpoint_dir: str) -> set[str]:
    """File paths the pair stream's file source has already processed,
    parsed from the checkpoint's sources/0 metadata log."""
    import json as _json
    from pathlib import Path

    seen: set[str] = set()
    log_dir = Path(checkpoint_dir, "sources", "0")
    if not log_dir.exists():
        return seen
    for f in log_dir.iterdir():
        # batch files are named "<n>" or "<n>.compact"; skip .crc etc.
        if not f.is_file() or not f.name.split(".")[0].isdigit():
            continue
        for line in f.read_text(errors="ignore").splitlines():
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                entry = _json.loads(line)
            except ValueError:
                continue
            p = entry.get("path")
            if p:
                seen.add(p.removeprefix("file://").removeprefix("file:"))
    return seen


def evict_expired_pair_state(spark, source_dir: str, checkpoint_dir: str,
                             state_ttl_ms: int,
                             output_dir: str | None = None,
                             now_ms: int | None = None) -> int:
    """Offline state-ROW compaction for the stateful pair stream — the
    piece engine timeouts would provide but crash on (see
    stream_candidate_pairs: this build's applyInPandasWithState dies on
    every timed-out key, repro in tools/repro_state_timeout_bug.py).

    The in-stream TTL already empties a stale bucket's member list, but the
    bucket ROW lives in the state store until checkpoint reset, so row
    count grows with distinct keys ever seen on a continuous stream. This
    utility reclaims those rows BETWEEN availableNow drops:

    1. read the live state through the state data source and select
       buckets whose last_seen_ms is older than the TTL;
    2. land those bucket keys as ONE uniquely-named tombstone parquet file
       in the WATCHED source dir (the file source is path-keyed, so both
       the tombstone batch and later restart-replays resolve under the
       same root — a separate staging dir trips the source's basePath
       check during restart bookkeeping);
    3. run one evict-only availableNow pass THROUGH THE SAME CHECKPOINT:
       same source path, same grouping columns, same state/output schemas,
       so the state store accepts it as the next batch of the same
       operator — but the rows are read under the tombstone (key-columns)
       schema and the state function calls state.remove() for
       still-expired buckets, emitting nothing.

    The real query later lists the tombstone files as corpus rows whose
    columns are all NULL (disjoint schemas) — they produce no signature
    and no blocking key, so they are inert; ingest_drop additionally
    filters null urls out of the signatures append. A bucket that received
    fresh data between steps 1 and 3 fails the re-check inside the pass
    and is left alone (the decision reads the CURRENT state, not the
    snapshot). Returns the number of buckets tombstoned.

    Pass `output_dir` when the pair stream writes through a FILE sink
    (run_stream_candidate_pairs): the evict batch then commits an empty
    entry to the sink's _spark_metadata log, keeping its batch ids
    contiguous for readers. Leave it None for foreachBatch pipelines
    (ingest_drop), which have no sink log.

    Refuses to run while the source dir holds UNPROCESSED corpus files:
    the evict pass would mark them seen without pairing them (shared
    sources log) — process pending drops first.
    """
    import glob
    import os
    import shutil
    import time as _time
    import uuid

    from pyspark.sql.streaming.state import GroupStateTimeout

    now = int(_time.time() * 1000) if now_ms is None else now_ms
    seen = _seen_source_files(checkpoint_dir)
    pending = [p for p in glob.glob(f"{source_dir}/*")
               if os.path.isfile(p) and os.path.realpath(p) not in
               {os.path.realpath(s) for s in seen}
               and not os.path.basename(p).startswith(_TOMBSTONE_PREFIX)]
    if pending:
        raise RuntimeError(
            f"evict_expired_pair_state: {len(pending)} unprocessed drop "
            f"file(s) in {source_dir} (e.g. {pending[0]}); run the pair "
            "stream first — evicting now would mark them processed "
            "without pairing them")

    state = read_pair_state(spark, checkpoint_dir)
    # applyInPandasWithState nests the user state under value.groupState
    expired = (state
               .where(F.col("value.groupState.last_seen_ms")
                      < now - state_ttl_ms)
               .select(F.col("key.gk_band").alias("gk_band"),
                       F.col("key.gk_url").alias("gk_url"),
                       F.col("key.gk_txt").alias("gk_txt"))
               .localCheckpoint())
    n = expired.count()
    if n == 0:
        return 0
    # ONE flat uniquely-named tombstone file (re-used names would be
    # skipped as already-seen by the path-keyed source)
    tmp = f"{source_dir}/_tmp_{uuid.uuid4().hex[:8]}"
    expired.coalesce(1).write.parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    shutil.move(part, f"{source_dir}/{_TOMBSTONE_PREFIX}{now}-"
                      f"{uuid.uuid4().hex[:8]}.parquet")
    shutil.rmtree(tmp, ignore_errors=True)

    def evict(key, pdfs, state):
        for _ in pdfs:   # drain the Arrow chunks (worker contract)
            pass
        if state.exists:
            last_seen = state.get[1]
            if now - last_seen > state_ttl_ms:
                state.remove()
        return iter(())

    src = (spark.readStream.schema(_EVICT_SCHEMA).parquet(source_dir))
    stateful = (src.where(F.col("gk_band").isNotNull()
                          | F.col("gk_url").isNotNull()
                          | F.col("gk_txt").isNotNull())
                .groupBy("gk_band", "gk_url", "gk_txt")
                .applyInPandasWithState(
                    evict,
                    outputStructType=PAIR_OUTPUT_SCHEMA,
                    stateStructType=_PAIR_STATE_SCHEMA,
                    outputMode="append",
                    timeoutConf=GroupStateTimeout.NoTimeout))
    if output_dir is not None:
        # same file sink as the real query: the (empty) evict batch lands
        # in _spark_metadata so the sink's batch ids stay contiguous
        w = (stateful.writeStream.format("parquet")
             .option("path", output_dir))
    else:
        # the sink must CONSUME every partition or the state stores never
        # commit (count() drives the full stateful plan; output is empty)
        w = stateful.writeStream.foreachBatch(
            lambda df, bid: df.count() and None)
    q = (w.option("checkpointLocation", checkpoint_dir)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return n


def run_file_stream_dedup(spark, source_dir: str, checkpoint_dir: str,
                          output_dir: str, cfg: DedupConfig,
                          schema: str = ("url string, warc_ts timestamp, "
                                         "html binary, text string, "
                                         "lang string")):
    """File-source ingest: watch a directory of parquet drops, dedup
    exact urls within the watermark, append signatures to `output_dir`.
    Returns the StreamingQuery (caller stops it)."""
    src = (spark.readStream.schema(schema).parquet(source_dir))
    deduped = stream_exact_dedup(src, watermark="30 minutes")
    sigs = stream_signatures(deduped.select("url", "text"), cfg)
    return (sigs.writeStream
            .format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())
