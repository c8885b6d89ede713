"""Streaming ingest and streaming-state tests: ingest_drop folds (batch
equivalence, re-delivery, snapshots, one stateful plan run per fold, idle
calls), the latest_signatures read and the assignment manifest."""

from __future__ import annotations

import contextlib
import glob
import shutil
import time

import pytest

SF = "/root/testdata/sf0.001"
THRESHOLD_KEY = "spark.sql.autoBroadcastJoinThreshold"


@contextlib.contextmanager
def _broadcast_threshold(spark, value):
    """Set autoBroadcastJoinThreshold to `value` (None keeps the session's)
    and restore it on exit."""
    saved = spark.conf.get(THRESHOLD_KEY)
    spark.conf.set(THRESHOLD_KEY, value or saved)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD_KEY, saved)


def _land_drop(df, tmp_path, src, name):
    """Write `df` as one parquet file named `name` in the watched dir."""
    tmp = str(tmp_path / f"tmp_{name}")
    df.coalesce(1).write.parquet(tmp)
    shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0],
                str(src / f"{name}.parquet"))


@pytest.mark.parametrize("threshold", [None, "800"],
                         ids=["broadcast", "join"])
def test_ingest_drop_incremental_equals_batch(spark, tmp_path, threshold):
    """Two crawl drops through streaming.ingest_drop (signatures append ->
    stateful pairs -> verify -> merge_assignments) must end at EXACTLY the
    batch pipeline's clustering of the union corpus — cross-drop dups only
    co-cluster if bucket state and the incremental merge both work. Under
    an autoBroadcastJoinThreshold of one matrix row (800 bytes) the folds
    verify through the join plan instead of the broadcast."""
    import glob
    import shutil

    from dedup.config import PARITY_CONFIG
    from dedup.queries import docs_as_corpus, q_dup_clusters
    from dedup.streaming import ingest_drop

    c = docs_as_corpus(spark, SF).select("url", "text", "doc_id")
    src = str(tmp_path / "src")
    wd = str(tmp_path / "wd")
    (tmp_path / "src").mkdir()
    results = []
    for drop_no, pred in enumerate(("doc_id % 2 = 0", "doc_id % 2 = 1")):
        tmp = str(tmp_path / f"tmp{drop_no}")
        c.where(pred).select("url", "text").coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/drop{drop_no}.parquet")
        # collect eagerly: the returned frame is a live view of the
        # assignments dir, which the next drop overwrites
        with _broadcast_threshold(spark, threshold):
            results.append({(r["url"], r["cluster_id"])
                            for r in ingest_drop(
                                spark, src, wd, PARITY_CONFIG,
                                schema="url string, text string").collect()})

    want = {(r["url"], r["cluster_id"])
            for r in q_dup_clusters(spark, SF).collect()}
    assert results[-1] == want
    # intermediate state after drop 1 covered only the even docs
    assert len(results[0]) < len(results[-1])


def test_ingest_redelivered_url_stays_single(spark, tmp_path):
    """A url re-delivered in a later drop must not duplicate assignment
    rows nor signature-join rows (ADVICE r3: dropDuplicates on the
    accumulated signatures read)."""
    import glob
    import shutil

    from dedup.config import PARITY_CONFIG
    from dedup.queries import docs_as_corpus
    from dedup.streaming import ingest_drop

    c = docs_as_corpus(spark, SF).select("url", "text", "doc_id")
    src = tmp_path / "src"
    src.mkdir()
    drop0 = c.where("doc_id < 40").select("url", "text")
    drop1 = c.where("doc_id >= 30 AND doc_id < 70").select("url", "text")
    for i, d in enumerate((drop0, drop1)):
        tmp = str(tmp_path / f"tmp{i}")
        d.coalesce(1).write.parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0],
                    str(src / f"drop{i}.parquet"))
        result = ingest_drop(spark, str(src), str(tmp_path / "wd"),
                             PARITY_CONFIG,
                             schema="url string, text string")
    rows = result.collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls))
    assert set(urls) == {r["url"]
                         for r in c.where("doc_id < 70").select("url")
                         .distinct().collect()}


def test_latest_signatures_sees_batch_appends_past_sink_log(spark, tmp_path):
    """A signatures dir started by the OLD streaming parquet sink carries
    a _spark_metadata log; a plain batch read trusts it and silently hides
    every batch-appended file (the new append path). latest_signatures
    must glob past the log and merge stamped/unstamped schemas."""
    import glob
    import shutil
    from pathlib import Path

    from dedup.config import PARITY_CONFIG
    from dedup.signature import signatures_table
    from dedup.streaming import latest_signatures, stream_signatures

    src = tmp_path / "src"
    src.mkdir()
    sig_dir, ckpt = str(tmp_path / "sigs"), str(tmp_path / "ckpt")
    tmp = str(tmp_path / "d0")
    spark.createDataFrame([("https://l.example/a", "alpha " * 30)],
                          "url string, text string") \
        .coalesce(1).write.parquet(tmp)
    shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0],
                str(src / "d0.parquet"))
    q = (stream_signatures(
        spark.readStream.schema("url string, text string")
        .parquet(str(src)), PARITY_CONFIG)
        .writeStream.format("parquet").option("path", sig_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert Path(sig_dir, "_spark_metadata").exists()

    # new-code batch append of a stamped row
    from pyspark.sql import functions as F
    (signatures_table(
        spark.createDataFrame([("https://l.example/b", "bravo " * 30)],
                              "url string, text string"), PARITY_CONFIG)
        .withColumn("ingest_batch", F.lit(0))
        .write.mode("append").parquet(sig_dir))

    # the hazard this guards against: a plain read trusts the sink log
    assert spark.read.parquet(sig_dir).count() == 1
    urls = {r["url"] for r in latest_signatures(spark, sig_dir).collect()}
    assert urls == {"https://l.example/a", "https://l.example/b"}


def test_ingest_assignment_snapshots_as_of_reads(spark, tmp_path):
    """Every ingest fold lands in a fresh versioned dir: after a second
    drop, the assignment AS OF the first drop's end is still readable and
    equals what the first ingest_drop call returned (Iceberg-snapshot
    analog); unknown versions raise."""
    import glob
    import shutil

    import pytest as _pytest

    from dedup.config import PARITY_CONFIG
    from dedup.queries import docs_as_corpus
    from dedup.streaming import (ingest_drop, list_assignment_versions,
                                 read_assignments)

    c = docs_as_corpus(spark, "/root/testdata/sf0.001") \
        .where("doc_id < 60").select("url", "text", "doc_id")
    src = tmp_path / "src"
    src.mkdir()
    wd = str(tmp_path / "wd")
    results = []
    for i, pred in enumerate(("doc_id < 30", "doc_id >= 30")):
        tmp = str(tmp_path / f"tmp{i}")
        c.where(pred).select("url", "text").coalesce(1).write.parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0],
                    str(src / f"drop{i}.parquet"))
        r = ingest_drop(spark, str(src), wd, PARITY_CONFIG,
                        schema="url string, text string")
        results.append({(x["url"], x["cluster_id"]) for x in r.collect()})
        if i == 0:
            v_end_drop0 = max(list_assignment_versions(wd))

    versions = list_assignment_versions(wd)
    assert len(versions) >= 2 and v_end_drop0 < max(versions)
    as_of = {(x["url"], x["cluster_id"])
             for x in read_assignments(spark, wd, v_end_drop0).collect()}
    assert as_of == results[0]
    latest = {(x["url"], x["cluster_id"])
              for x in read_assignments(spark, wd).collect()}
    assert latest == results[1]
    with _pytest.raises(KeyError):
        read_assignments(spark, wd, 999)


def test_redelivered_url_with_changed_text_keeps_freshest(spark, tmp_path):
    """ADVICE r4: a re-crawl whose text CHANGED must deterministically pin
    the newest delivery's signature, not an arbitrary row per run."""
    import glob
    import shutil

    from dedup.config import PARITY_CONFIG
    from dedup.signature import signatures_table
    from dedup.streaming import ingest_drop, latest_signatures

    text_a = "alpha " * 40
    text_b = "bravo " * 40
    drops = [
        [("https://x.example/recrawl", text_a),
         ("https://x.example/other1", "gamma " * 40)],
        [("https://x.example/recrawl", text_b),
         ("https://x.example/other2", "delta " * 40)],
    ]
    src = tmp_path / "src"
    src.mkdir()
    wd = str(tmp_path / "wd")
    for i, rows in enumerate(drops):
        tmp = str(tmp_path / f"tmp{i}")
        spark.createDataFrame(rows, "url string, text string") \
            .coalesce(1).write.parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0],
                    str(src / f"drop{i}.parquet"))
        ingest_drop(spark, str(src), wd, PARITY_CONFIG,
                    schema="url string, text string")

    raw = spark.read.parquet(f"{wd}/signatures")
    recrawl_rows = raw.where("url = 'https://x.example/recrawl'").collect()
    assert len(recrawl_rows) == 2  # both deliveries appended
    assert "ingest_batch" in raw.columns

    kept = latest_signatures(spark, f"{wd}/signatures") \
        .where("url = 'https://x.example/recrawl'").collect()
    assert len(kept) == 1
    expect = signatures_table(
        spark.createDataFrame([("https://x.example/recrawl", text_b)],
                              "url string, text string"),
        PARITY_CONFIG).first()
    assert list(kept[0]["minhash"]) == list(expect["minhash"])
    assert kept[0]["simhash"] == expect["simhash"]


def test_torn_manifest_rebuild_respects_commit_and_retention(tmp_path):
    """The torn-manifest rebuild must not adopt an uncommitted orphan dir
    as latest, must not resurrect dirs beyond the retention window, and
    must still adopt marker-less dirs for pre-marker legacy workdirs
    (round-5 review finding)."""
    import os

    from dedup.streaming import (_ASSIGN_MANIFEST, _read_assign_manifest,
                                 KEEP_ASSIGNMENT_VERSIONS)

    def mkver(wd, v, committed):
        d = wd / f"assignments_v{v}"
        os.makedirs(d)
        (d / "_SUCCESS").touch()
        if committed:
            (d / "_COMMITTED").touch()

    # orphan exclusion: v3's parquet finished but its fold never repointed
    wd = tmp_path / "a"
    os.makedirs(wd)
    (wd / _ASSIGN_MANIFEST).write_text('{"latest": 2, "versi')  # torn
    mkver(wd, 1, True)
    mkver(wd, 2, True)
    mkver(wd, 3, False)
    man = _read_assign_manifest(str(wd))
    assert man == {"latest": 2, "versions": [1, 2]}

    # legacy workdir (no markers anywhere): adopt every complete dir
    wd = tmp_path / "b"
    os.makedirs(wd)
    (wd / _ASSIGN_MANIFEST).write_text("{broken")
    mkver(wd, 1, False)
    mkver(wd, 2, False)
    man = _read_assign_manifest(str(wd))
    assert man == {"latest": 2, "versions": [1, 2]}

    # retention: expired dirs a crash left behind must not resurrect
    wd = tmp_path / "c"
    os.makedirs(wd)
    (wd / _ASSIGN_MANIFEST).write_text("{broken")
    n = KEEP_ASSIGNMENT_VERSIONS + 3
    for v in range(1, n + 1):
        mkver(wd, v, True)
    man = _read_assign_manifest(str(wd))
    assert man["latest"] == n
    assert man["versions"] == list(range(4, n + 1))


def test_fold_runs_the_stateful_pair_plan_once(spark, tmp_path):
    """A fold reads its micro-batch once: the pair query's state operator
    updates one row per distinct blocking key of the drop, not one per
    key for every action the fold runs on the micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    from dedup.config import PARITY_CONFIG
    from dedup.lsh import unified_group_keys
    from dedup.queries import docs_as_corpus
    from dedup.signature import signatures_table
    from dedup.streaming import ingest_drop

    class StateRows(StreamingQueryListener):
        def __init__(self):
            self.updated, self.terminated = [], 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            ops = event.progress.stateOperators
            if ops:
                self.updated.append(ops[0].numRowsUpdated)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    drop = (docs_as_corpus(spark, SF).where("doc_id < 30")
            .select("url", "text"))
    src = tmp_path / "src"
    src.mkdir()
    _land_drop(drop, tmp_path, src, "drop0")
    keys = (unified_group_keys(signatures_table(drop, PARITY_CONFIG),
                               PARITY_CONFIG)
            .select("gk_band", "gk_url", "gk_txt").distinct().count())
    listener = StateRows()
    spark.streams.addListener(listener)
    try:
        ingest_drop(spark, str(src), str(tmp_path / "wd"), PARITY_CONFIG,
                    schema="url string, text string")
        # listener events arrive asynchronously: wait for both queries
        deadline = time.monotonic() + 60
        while listener.terminated < 2 and time.monotonic() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert keys > 0
    assert sum(listener.updated) == keys


def _plan_nodes(plan):
    """Operator names of a physical plan, the final plan under AQE; a
    cached frame is one InMemoryTableScan leaf (its plan is not walked)."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        return _plan_nodes(plan.executedPlan())
    kids = plan.children()
    return [plan.nodeName(), *(n for i in range(kids.size())
                               for n in _plan_nodes(kids.apply(i)))]


def _land_sf_drop(spark, tmp_path):
    from dedup.queries import docs_as_corpus

    src = tmp_path / "src"
    src.mkdir()
    _land_drop(docs_as_corpus(spark, SF).where("doc_id < 30")
               .select("url", "text"), tmp_path, src, "drop0")
    return str(src)


def test_fold_verifies_through_the_broadcast(spark, tmp_path, monkeypatch):
    """Under the default threshold each fold scores its pinned micro-batch
    in one MapInArrow: no ArrowEvalPython, no join, and no
    latest_signatures Window (the gate's collect reads the window)."""
    import dedup.pipeline as pipeline
    from dedup.config import PARITY_CONFIG
    from dedup.streaming import ingest_drop

    plans = []
    verify_pairs = pipeline.verify_pairs

    def recording(*args, **kwargs):
        df = verify_pairs(*args, **kwargs)
        plans.append(_plan_nodes(df._jdf.queryExecution().executedPlan()))
        return df

    monkeypatch.setattr(pipeline, "verify_pairs", recording)
    ingest_drop(spark, _land_sf_drop(spark, tmp_path),
                str(tmp_path / "wd"), PARITY_CONFIG,
                schema="url string, text string")
    assert plans
    for nodes in plans:
        assert nodes.count("MapInArrow") == 1, nodes
        assert "InMemoryTableScan" in nodes, nodes
        assert "ArrowEvalPython" not in nodes
        assert not any("Join" in n for n in nodes), nodes
        assert "Window" not in nodes


def test_fold_merges_while_the_broadcast_lives(spark, tmp_path,
                                               monkeypatch):
    """The fold merges inside the verified stage: tasks over the pinned
    edges ship their lineage, broadcast included, and an evicted edge
    partition recomputes through the broadcast verify plan, so the
    broadcast must outlive the merge. The edges are unpersisted as the
    merge starts (an eviction); the fold's result still equals the batch
    clustering of the drop."""
    import dedup.cluster as cluster
    from dedup.config import PARITY_CONFIG
    from dedup.pipeline import dedup_stages, local_checkpoint
    from dedup.queries import docs_as_corpus
    from dedup.signature import signatures_table
    from dedup.streaming import ingest_drop

    merge_assignments = cluster.merge_assignments
    evicted = []

    def evicting(assignments, new_edges, *args, **kwargs):
        new_edges.unpersist(blocking=True)
        evicted.append(new_edges.count())
        return merge_assignments(assignments, new_edges, *args, **kwargs)

    monkeypatch.setattr(cluster, "merge_assignments", evicting)
    got = {tuple(r) for r in ingest_drop(
        spark, _land_sf_drop(spark, tmp_path), str(tmp_path / "wd"),
        PARITY_CONFIG, schema="url string, text string").collect()}
    assert evicted and evicted[0] > 0
    sigs = signatures_table(
        docs_as_corpus(spark, SF).where("doc_id < 30").select("url", "text"),
        PARITY_CONFIG).localCheckpoint()
    want = {tuple(r) for r in dedup_stages(sigs, PARITY_CONFIG,
                                           local_checkpoint)[2].collect()}
    assert got == want


def test_idle_ingest_drop_changes_nothing(spark, tmp_path):
    """A second ingest_drop with no new files in the source dir folds no
    micro-batch: it returns the same assignment and writes no snapshot."""
    from dedup.config import PARITY_CONFIG
    from dedup.queries import docs_as_corpus
    from dedup.streaming import ingest_drop, list_assignment_versions

    src = tmp_path / "src"
    src.mkdir()
    _land_drop(docs_as_corpus(spark, SF).where("doc_id < 30")
               .select("url", "text"), tmp_path, src, "drop0")
    wd = str(tmp_path / "wd")
    runs = []
    for _ in range(2):
        rows = ingest_drop(spark, str(src), wd, PARITY_CONFIG,
                           schema="url string, text string").collect()
        runs.append(({(r["url"], r["cluster_id"]) for r in rows},
                     list_assignment_versions(wd)))
    assert runs[0][0] and runs[1] == runs[0]


def test_read_assignments_starts_no_job(spark, tmp_path):
    """Every assignment snapshot is read with the declared schema, so
    read_assignments launches no Spark job (a schema-inferring parquet
    read launches one), for a versioned workdir, an as-of version and a
    legacy flat `assignments` dir, and each returns the rows written."""
    import uuid

    from dedup.streaming import _write_assignment_version, read_assignments
    from test_pipeline_resume import _clear_job_group, _settle

    rows = [("https://x.example/1", "https://x.example/1"),
            ("https://x.example/2", "https://x.example/1"),
            ("https://x.example/3", "https://x.example/3")]
    df = spark.createDataFrame(rows, "url string, cluster_id string")
    legacy = str(tmp_path / "legacy")
    df.write.parquet(f"{legacy}/assignments")
    versioned = str(tmp_path / "versioned")
    _write_assignment_version(df.limit(1), versioned)
    _write_assignment_version(df, versioned)

    sc = spark.sparkContext
    group = f"read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read")
    try:
        frames = [read_assignments(spark, legacy),
                  read_assignments(spark, versioned),
                  read_assignments(spark, versioned, 1)]
    finally:
        _clear_job_group(sc)
    _settle(spark)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    got = [sorted(tuple(r) for r in f.collect()) for f in frames]
    assert got == [rows, rows, rows[:1]]
    assert all(f.columns == ["url", "cluster_id"] for f in frames)
