"""Corpus-wide dedup pipeline with per-stage checkpoints, lineage + metrics.

The batch DAG (SURVEY §3.4), replacing the reference's per-request
orchestration (app/main.py:413-496):

    corpus -> extract -> signatures -> candidate pairs (LSH ∪ url_exact)
           -> verify -> edges -> connected components -> clusters

Every stage materializes to parquet under `workdir/<stage>/` keyed by the
config's content-addressed job key (md5 of canonical-JSON config — the same
construction as the reference's detection-cache key, app/main.py:207-225).
A stage whose manifest matches the current job key is SKIPPED on resume and
its table is read back — resume-from-failure therefore costs only the stages
after the last completed checkpoint. Lineage lives in
`workdir/_lineage/<stage>.json`; per-part row counts and wall times go to
the `metrics` table (`workdir/metrics/`). Two manifests carry a funnel:
- pairs: keys -> singleton / cold / hot;
- verified: pairs, one count per match_source, scored (similarity not
  null) and kept.

Bookkeeping rides the write and launches no Spark job in path mode: row
counts come from the footers of the part files the stage write produced,
one metrics row per written file; the metrics rows are one Arrow table
written from the driver; the stage table is read back with the schema of
the frame that was written; each funnel is an Observation that fills
during its stage's write (the verified one on the written frame itself).
Every job a stage runs carries the job tag `dedup-stage:<stage>`.

One builder, `dedup_stages`, composes signatures -> pairs -> verified ->
clusters for this pipeline, the driver queries and `__spark_entry__`; the
streaming fold and `q_clusters_incremental` use its verify step,
`verified_stage`, alone. Each caller passes a `materialize(stage, build,
funnel=None)` callback: this pipeline `_run_stage`, the driver queries
`local_checkpoint`, the fold a persist pinned by one count().
`verified_stage` runs the gate `verify.broadcast_signatures` inside the
build, one bounded collect of the signed rows (with no limit when
`n_signed`, the signatures stage's footer row count, is known); under its
bound the pairs are read once and scored by row index against one
broadcast signature matrix, over it the join plan runs. The gate's job
carries the verified stage's tag, a resumed stage runs none, and the
broadcast is destroyed when the caller leaves the stage's `with` block.

Scale notes: stage boundaries are exactly the expensive shuffles (banding
groupBy, pair join, label-prop iterations), so checkpoints double as shuffle
barriers; AQE re-plans each stage with real sizes. At cluster scale the same
code runs via spark-submit --py-files (jobs/dedupe_corpus.py) with workdir on
shared storage; this sandbox uses local paths.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from dedup.cluster import assign_clusters
from dedup.config import DedupConfig
from dedup.lsh import candidate_pairs
from dedup.signature import signatures_table
from dedup.storage import Storage
from dedup.verify import broadcast_signatures, verify_pairs

STAGES = ("signatures", "pairs", "verified", "clusters")
# optional stages that only exist when requested (still invalidated)
OPTIONAL_STAGES = ("keys",)
# one row per written part file of a computed stage
METRICS_SCHEMA = pa.schema([
    ("partition_id", pa.int32()), ("rows", pa.int64()),
    ("stage", pa.string()), ("job_key", pa.string()),
    ("wall_ms", pa.float64()), ("executor_run_time_ms", pa.int64()),
    ("shuffle_read_bytes", pa.int64()), ("shuffle_write_bytes", pa.int64()),
    ("num_tasks", pa.int64()), ("n_capped_buckets", pa.int64())])
METRICS_SPARK_SCHEMA = from_arrow_schema(METRICS_SCHEMA)
_TELEMETRY = ("executor_run_time_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "num_tasks")


def local_checkpoint(stage: str, build, funnel=None) -> DataFrame:
    """The driver queries' `materialize`: an eager localCheckpoint."""
    return build().localCheckpoint()


@contextmanager
def verified_stage(pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig,
                   materialize, n_signed: int = -1):
    """Yields `materialize("verified", build, funnel)`. The build runs the
    gate (`broadcast_signatures`, given the signatures' row count
    `n_signed` when known), then `verify_pairs`, observed by the funnel:
    pairs, one count per match_source, scored (similarity not null) and
    kept. The broadcast is destroyed on exit, so every read of a frame
    whose lineage holds the verify plan (a persisted one too) belongs
    inside the block; a localCheckpoint or a stage write cuts it."""
    funnel = Observation()
    sig_broadcast = None

    def build():
        nonlocal sig_broadcast
        sig_broadcast = broadcast_signatures(signatures, cfg, n_rows=n_signed)
        return verify_pairs(pairs, signatures, cfg,
                            sig_broadcast=sig_broadcast).observe(
            funnel, F.count(F.lit(1)).alias("pairs"),
            *(F.count_if(F.col("match_source") == src).alias(src)
              for src in ("url_exact", "lsh", "title", "description")),
            F.count("similarity").alias("scored"),
            F.count_if("keep").alias("kept"))

    try:
        yield materialize("verified", build, funnel)
    finally:
        if sig_broadcast is not None:
            sig_broadcast.destroy()


def dedup_stages(signatures: DataFrame, cfg: DedupConfig, materialize,
                 n_signed: int = -1):
    """signatures -> (pairs, verified, clusters), each stage built by
    `materialize(stage, build, funnel=None)`: candidate pairs (with the
    key-funnel Observation), `verified_stage`, and connected components
    over the kept edges, every signatures url a vertex."""
    funnel = Observation()
    pairs = materialize(
        "pairs", lambda: candidate_pairs(signatures, cfg, funnel=funnel),
        funnel)
    with verified_stage(pairs, signatures, cfg, materialize,
                        n_signed) as verified:
        clusters = materialize(
            "clusters", lambda: assign_clusters(
                signatures.select("url"),
                verified.where("keep").select("a", "b")))
    return pairs, verified, clusters


@dataclass
class StageInfo:
    name: str
    skipped: bool
    rows: int
    wall_ms: float


class DedupPipeline:
    def __init__(self, spark: SparkSession, workdir: str, cfg: DedupConfig,
                 resume: bool = True, storage: Storage | None = None):
        self.spark = spark
        self.workdir = workdir.rstrip("/")
        self.cfg = cfg
        self.resume = resume
        # storage seam (SURVEY §1.3): Iceberg catalog when the caller
        # configured one, path-based parquet otherwise (this sandbox)
        self.storage = storage or Storage(spark)
        self.job_key = cfg.job_key()
        self.stage_infos: list[StageInfo] = []
        Path(self.workdir, "_lineage").mkdir(parents=True, exist_ok=True)

    def _stage_ref(self, stage: str) -> str:
        if self.storage.config.catalog:
            return f"dedup_{self.job_key[:12]}.{stage}"
        return f"{self.workdir}/{stage}"

    # --- lineage ----------------------------------------------------------
    def _manifest_path(self, stage: str) -> Path:
        return Path(self.workdir, "_lineage", f"{stage}.json")

    def _stage_done(self, stage: str) -> bool:
        mp = self._manifest_path(stage)
        if not mp.exists():
            return False
        try:
            man = json.loads(mp.read_text())
        except json.JSONDecodeError:
            return False
        from dedup.config import SIGNATURE_VERSION
        # a manifest without the version token predates the rolling-hash /
        # int32-shingle signature layout (sig_version 1): its persisted
        # stage tables carry band hashes this code cannot probe — recompute
        return (man.get("job_key") == self.job_key
                and man.get("status") == "complete"
                and (man.get("config") or {}).get("sig_version", 1)
                == SIGNATURE_VERSION
                and self.storage.table_complete(self._stage_ref(stage)))

    def _write_manifest(self, stage: str, rows: int, wall_ms: float,
                        n_partitions: int,
                        funnel: dict | None = None) -> None:
        from dataclasses import asdict

        from dedup.config import SIGNATURE_VERSION
        self._manifest_path(stage).write_text(json.dumps({
            "job_key": self.job_key,
            "config": {**asdict(self.cfg),
                       "sig_version": SIGNATURE_VERSION},
            "stage": stage,
            "status": "complete",
            "rows": rows,
            "wall_ms": wall_ms,
            "n_partitions": n_partitions,
            "funnel": funnel,
            "finished_at": time.time(),
        }, indent=2))

    def _record_metrics(self, stage: str, counts: list[int], wall_ms: float,
                        task_totals: dict | None,
                        n_capped_buckets: int | None = None) -> None:
        """Per-part lineage rows -> metrics table, one row per written part
        file with its footer row count (`Storage.part_row_counts`), appended
        from the driver as one Arrow table: no Spark job in path mode.
        Task-level telemetry (executor run time, shuffle read/write bytes
        from the monitoring REST API — M12) rides along on every row when
        available, null otherwise. `n_capped_buckets` (pairs stage only)
        records how many blocking buckets exceeded band_bucket_cap and
        emitted star edges — the 'no silent caps' counter; null on stages
        without a cap."""
        tt = task_totals or {}
        rows = [{"partition_id": i, "rows": n, "stage": stage,
                 "job_key": self.job_key, "wall_ms": float(wall_ms),
                 **{k: tt.get(k) for k in _TELEMETRY},
                 "n_capped_buckets": n_capped_buckets}
                for i, n in enumerate(counts or [0])]
        self.storage.append_rows(
            pa.Table.from_pylist(rows, schema=METRICS_SCHEMA),
            self._stage_ref("metrics"))

    def _run_stage(self, stage: str, build,
                   funnel: Observation | None = None) -> DataFrame:
        """Build and write one stage, or read it back when a resumable
        checkpoint exists. `funnel` is the Observation the built frame
        carries (the pairs stage's key funnel): it fills during the stage
        write, and is recorded in the manifest, with its `hot` count as
        the metrics rows' n_capped_buckets. It is not read when the stage
        wrote no row: AQE then may have pruned the observed subplan, and
        the Observation holds no metrics."""
        from dedup.metrics import rest_stage_metrics, stage_ids, task_totals

        ref = self._stage_ref(stage)
        if self.resume and self._stage_done(stage):
            df = self.storage.read_table(ref)
            self.stage_infos.append(StageInfo(stage, True, -1, 0.0))
            return df
        sc = self.spark.sparkContext
        tag = f"dedup-stage:{stage}"
        before = stage_ids(rest_stage_metrics(self.spark))
        t0 = time.monotonic()
        # a tag, not a job group: callers (perfbench's spans) attribute
        # jobs by group id, and a group set here would replace theirs
        sc.addJobTag(tag)
        try:
            built = build()
            self.storage.write_table(built, ref)
            wall_ms = (time.monotonic() - t0) * 1000
            totals = task_totals(rest_stage_metrics(self.spark), before)
            counts = self.storage.part_row_counts(ref)
        finally:
            sc.removeJobTag(tag)
        rows = sum(counts)
        observed = funnel.get if funnel is not None and rows else None
        self._record_metrics(stage, counts, wall_ms, totals,
                             (observed or {}).get("hot"))
        self._write_manifest(stage, rows, wall_ms, max(1, len(counts)),
                             observed)
        self.stage_infos.append(StageInfo(stage, False, rows, wall_ms))
        return self.storage.read_table(ref, schema=built.schema)

    def invalidate(self) -> None:
        """Explicit checkpoint invalidation — the engine analog of the
        reference's /admin/cache/clear (app/main.py:620-668): drops every
        stage table + manifest so the next run() recomputes from scratch
        even with resume=True."""
        for stage in STAGES + OPTIONAL_STAGES + ("metrics",):
            self.storage.invalidate(self._stage_ref(stage))
            mp = self._manifest_path(stage)
            if mp.exists():
                mp.unlink()
        self.stage_infos.clear()

    # --- stages -------------------------------------------------------------
    def run(self, corpus: DataFrame,
            build_key_index: bool = False) -> dict[str, DataFrame]:
        """corpus(url, warc_ts, html[, text, lang]) -> table dict.

        Extraction and signing are ONE Arrow pass and one materialization;
        the `extracted` table is a columnar projection of the signatures
        parquet (text column read without touching the arrays).

        With `build_key_index`, an extra `keys` stage persists the exploded
        inverted key table (url, gk_band, gk_url, gk_txt) range-partitioned
        and sorted by key: per-document queries (`dedupe_one` /
        `dedupe_metadata` / jobs/detect.py --key-index) then resolve their
        ~b+2-key IN-list against parquet min/max stats, and read only the
        candidates' signatures rows (a join by url), instead of ranking
        every signatures row against the source's keys in one scan."""
        has_html = "html" in corpus.columns
        signatures = self._run_stage(
            "signatures",
            lambda: signatures_table(
                corpus, self.cfg,
                extract_html_col="html" if has_html else None,
                emit_text=True))
        # the stage's footer row count lets the verify gate collect
        # without a limit; -1 when the stage was resumed
        n_signed = self.stage_infos[-1].rows
        extracted = signatures.select("url", "text")
        keys = None
        if build_key_index:
            from dedup.lsh import unified_group_keys
            keys = self._run_stage(
                "keys",
                lambda: unified_group_keys(signatures, self.cfg)
                .repartitionByRange(self.cfg.shuffle_partitions,
                                    "gk_band", "gk_url", "gk_txt")
                .sortWithinPartitions("gk_band", "gk_url", "gk_txt"))
        pairs, verified, clusters = dedup_stages(
            signatures, self.cfg, self._run_stage, n_signed)
        out = {
            "extracted": extracted,
            "signatures": signatures,
            "pairs": pairs,
            "verified": verified,
            "clusters": clusters,
            "metrics": self.storage.read_table(self._stage_ref("metrics"),
                                               schema=METRICS_SPARK_SCHEMA),
        }
        if keys is not None:
            out["keys"] = keys
        return out


def dedupe_corpus(spark: SparkSession, corpus: DataFrame | str, workdir: str,
                  cfg: DedupConfig | None = None,
                  resume: bool = True) -> dict[str, DataFrame]:
    """One-call entry: path or DataFrame in, table dict out."""
    if isinstance(corpus, str):
        corpus = spark.read.parquet(corpus)
    cfg = cfg or DedupConfig()
    return DedupPipeline(spark, workdir, cfg, resume=resume).run(corpus)
