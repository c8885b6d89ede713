"""Pipeline checkpoint/resume (SURVEY §5.7): interrupting after an early
stage and re-running must (a) skip the completed stages, (b) produce final
tables identical to an uninterrupted run; a config change must invalidate
all checkpoints (content-addressed job key)."""

from __future__ import annotations

from dataclasses import replace

import pytest

from dedup.config import PARITY_CONFIG
from dedup.pipeline import DedupPipeline, dedupe_corpus
from dedup.synth import corpus_pdf


@pytest.fixture(scope="module")
def corpus_df(spark):
    pdf = corpus_pdf(150, seed=21)
    return spark.createDataFrame(
        pdf[["url", "warc_ts", "html", "text", "lang"]]).cache()


def _clusters(tables):
    return sorted((r["url"], r["cluster_id"])
                  for r in tables["clusters"].collect())


class TestResume:
    def test_interrupt_and_resume(self, spark, corpus_df, tmp_path):
        wd = str(tmp_path / "job")

        # fresh full run for the expected result
        full = dedupe_corpus(spark, corpus_df, str(tmp_path / "ref"),
                             PARITY_CONFIG)
        expect = _clusters(full)

        # simulate a crash after 'signatures': run fully, then erase the
        # lineage manifests of the later stages (their outputs may be
        # partial/absent after a real crash; missing manifest = not done)
        dedupe_corpus(spark, corpus_df, wd, PARITY_CONFIG)
        for stage in ("pairs", "verified", "clusters"):
            (tmp_path / "job" / "_lineage" / f"{stage}.json").unlink()

        p2 = DedupPipeline(spark, wd, PARITY_CONFIG)
        tables = p2.run(corpus_df)
        skipped = {s.name for s in p2.stage_infos if s.skipped}
        assert skipped == {"signatures"}
        assert _clusters(tables) == expect

    def test_config_change_invalidates(self, spark, corpus_df, tmp_path):
        wd = str(tmp_path / "job2")
        dedupe_corpus(spark, corpus_df, wd, PARITY_CONFIG)
        cfg2 = replace(PARITY_CONFIG, threshold=0.95)
        p = DedupPipeline(spark, wd, cfg2)
        p.run(corpus_df)
        assert all(not s.skipped for s in p.stage_infos)

    def test_metrics_lineage_rows(self, spark, corpus_df, tmp_path):
        import json
        from pathlib import Path
        wd = str(tmp_path / "job3")
        tables = dedupe_corpus(spark, corpus_df, wd, PARITY_CONFIG)
        # one driver-written file per stage, no temp file left behind
        files = [p.name for p in Path(wd, "metrics").iterdir()]
        assert len(files) == 4
        assert not [f for f in files if f.startswith(".")]
        m = tables["metrics"]
        assert len(m.columns) == 10
        stages = {r["stage"] for r in m.select("stage").distinct().collect()}
        assert stages == {"signatures", "pairs", "verified", "clusters"}
        # per-partition rows sum to stage totals
        for stage in stages:
            man = json.loads(
                (Path(wd) / "_lineage" / f"{stage}.json").read_text())
            total = (m.where(f"stage = '{stage}'")
                     .groupBy().sum("rows").first()[0])
            assert total == man["rows"]

    def test_metrics_task_telemetry_on_by_default(self, spark, corpus_df,
                                                  tmp_path):
        """build_session enables the UI (ephemeral port) by default, so a
        DEFAULT pipeline run lands real task telemetry on every computed
        stage's metrics rows — the M12 columns must be non-null."""
        wd = str(tmp_path / "job4")
        tables = dedupe_corpus(spark, corpus_df, wd, PARITY_CONFIG)
        m = tables["metrics"]
        assert {"executor_run_time_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "num_tasks"} <= set(m.columns)
        assert m.where("executor_run_time_ms IS NULL").count() == 0
        assert m.where("num_tasks IS NULL OR num_tasks <= 0").count() == 0
        assert m.where("stage = 'pairs' AND shuffle_write_bytes > 0"
                       ).count() > 0

    def test_metrics_degrade_to_null_without_rest(self):
        """With no REST snapshot (UI off / unreachable) the telemetry
        aggregation degrades to None instead of crashing."""
        from dedup.metrics import stage_ids, task_totals
        assert task_totals(None) is None
        assert stage_ids(None) == set()


def test_pipeline_metrics_record_capped_buckets(spark, tmp_path):
    """'No silent caps': the pairs-stage metrics rows must carry how many
    blocking buckets exceeded band_bucket_cap (star-edge degradation),
    null on stages without a cap (VERDICT r4 #5)."""
    from dataclasses import replace

    from dedup.config import PARITY_CONFIG
    from dedup.pipeline import dedupe_corpus
    from dedup.synth import corpus_pdf

    corpus = spark.createDataFrame(
        corpus_pdf(80, seed=11, hot_frac=0.5)[
            ["url", "warc_ts", "html", "text", "lang"]])
    cfg = replace(PARITY_CONFIG, band_bucket_cap=1)  # any 2-member bucket
    tables = dedupe_corpus(spark, corpus, str(tmp_path / "wd"), cfg)
    m = tables["metrics"]
    assert "n_capped_buckets" in m.columns
    pairs_vals = {r["n_capped_buckets"]
                  for r in m.where("stage = 'pairs'").collect()}
    assert len(pairs_vals) == 1
    capped = pairs_vals.pop()
    assert capped is not None and capped >= 1  # hot boilerplate bucket
    other_vals = {r["n_capped_buckets"]
                  for r in m.where("stage != 'pairs'").collect()}
    assert other_vals == {None}
    # the pairs manifest carries the key funnel the count came from
    import json
    funnel = json.loads(
        (tmp_path / "wd" / "_lineage" / "pairs.json").read_text())["funnel"]
    assert funnel["hot"] == capped
    assert funnel["keys"] == (funnel["singleton"] + funnel["cold"]
                              + funnel["hot"])


def test_engine_mode_pipeline_tracks_capped_buckets(spark, tmp_path):
    """Regression: scoring='jaccard' routes candidate_pairs through the
    SimHash-prefilter branch, whose gate REASSIGNS the tagged DataFrame —
    the hot-keys frame must be captured before that, or the pairs stage
    dies with AttributeError and the whole engine-mode batch pipeline is
    broken (round-5 review finding)."""
    from dataclasses import replace

    from dedup.config import ENGINE_CONFIG
    from dedup.pipeline import dedupe_corpus
    from dedup.synth import corpus_pdf

    corpus = spark.createDataFrame(
        corpus_pdf(60, seed=13, hot_frac=0.4)[
            ["url", "warc_ts", "html", "text", "lang"]])
    cfg = replace(ENGINE_CONFIG, band_bucket_cap=1)
    tables = dedupe_corpus(spark, corpus, str(tmp_path / "wd"), cfg)
    pairs_vals = {r["n_capped_buckets"]
                  for r in tables["metrics"].where("stage = 'pairs'").collect()}
    assert len(pairs_vals) == 1
    capped = pairs_vals.pop()
    assert capped is not None and capped >= 1
    assert tables["clusters"].count() > 0


def test_metrics_read_merges_grown_schema(spark, tmp_path):
    """A workdir whose metrics table mixes pre-n_capped_buckets files with
    new ones must read back with the full merged schema (plain parquet
    reads resolve from one arbitrary footer)."""
    from dedup.pipeline import METRICS_SPARK_SCHEMA
    from dedup.storage import Storage, StorageConfig

    st = Storage(spark, StorageConfig(catalog=None))
    old = spark.createDataFrame(
        [(0, 5, "pairs", "k", 1.0)],
        "partition_id int, rows long, stage string, job_key string, "
        "wall_ms double")
    new = spark.createDataFrame(
        [(0, 5, "pairs", "k", 1.0, 3)],
        "partition_id int, rows long, stage string, job_key string, "
        "wall_ms double, n_capped_buckets long")
    ref = str(tmp_path / "metrics")
    st.write_table(old.coalesce(1), ref, mode="append")
    st.write_table(new.coalesce(1), ref, mode="append")
    m = st.read_table(ref, schema=METRICS_SPARK_SCHEMA)
    assert "n_capped_buckets" in m.columns
    vals = {r["n_capped_buckets"] for r in m.collect()}
    assert vals == {None, 3}


def test_task_totals_keeps_latest_stage_attempt():
    """A retried stage appears as two attempt entries in /stages; only the
    latest attempt's telemetry may count (round-5 review finding)."""
    from dedup.metrics import task_totals

    stages = [
        {"stageId": 1, "attemptId": 0, "executorRunTime": 100,
         "numTasks": 8, "shuffleReadBytes": 10, "shuffleWriteBytes": 5,
         "inputBytes": 1},
        {"stageId": 1, "attemptId": 1, "executorRunTime": 120,
         "numTasks": 8, "shuffleReadBytes": 12, "shuffleWriteBytes": 6,
         "inputBytes": 2},
        {"stageId": 2, "attemptId": 0, "executorRunTime": 50,
         "numTasks": 4, "shuffleReadBytes": 0, "shuffleWriteBytes": 0,
         "inputBytes": 0},
    ]
    t = task_totals(stages)
    assert t["n_spark_stages"] == 2
    assert t["executor_run_time_ms"] == 170  # 120 (latest) + 50, not 270
    assert t["num_tasks"] == 12
    assert task_totals(stages, exclude_ids={1})["executor_run_time_ms"] == 50


def _settle(spark) -> None:
    """Wait until the status store has seen every job started so far: jobs
    are registered in order, so once a fence job shows up, every earlier
    job has too."""
    import time
    import uuid

    sc = spark.sparkContext
    fence = f"fence-{uuid.uuid4().hex}"
    sc.setJobGroup(fence, "fence")
    spark.range(1).count()
    _clear_job_group(sc)
    while not sc.statusTracker().getJobIdsForGroup(fence):
        time.sleep(0.05)


def _clear_job_group(sc) -> None:
    for k in ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel"):
        sc.setLocalProperty(k, None)


def test_stage_bookkeeping_runs_no_spark_job(spark, corpus_df, tmp_path):
    """Path mode: everything _run_stage does after the stage write returns
    (part row counts, the metrics append, the manifest, the read-back)
    launches no Spark job, for a plain stage and for the pairs stage with
    its key-funnel Observation."""
    import uuid

    from pyspark.sql import Observation

    from dedup.lsh import candidate_pairs
    from dedup.signature import signatures_table
    from dedup.storage import Storage

    sc = spark.sparkContext

    class GroupAfterWrite(Storage):
        group = None

        def write_table(self, df, ref, mode="overwrite"):
            super().write_table(df, ref, mode)
            sc.setJobGroup(self.group, "bookkeeping")

    st = GroupAfterWrite(spark)
    pipe = DedupPipeline(spark, str(tmp_path / "wd"), PARITY_CONFIG,
                         resume=False, storage=st)

    def bookkeeping_jobs(stage, build, funnel=None):
        st.group = f"bookkeeping-{stage}-{uuid.uuid4().hex}"
        try:
            df = pipe._run_stage(stage, build, funnel)
        finally:
            _clear_job_group(sc)
        _settle(spark)
        return df, sc.statusTracker().getJobIdsForGroup(st.group)

    sigs, jobs = bookkeeping_jobs(
        "signatures", lambda: signatures_table(
            corpus_df, PARITY_CONFIG, extract_html_col="html",
            emit_text=True))
    assert jobs == []
    funnel = Observation()
    pairs, jobs = bookkeeping_jobs(
        "pairs", lambda: candidate_pairs(sigs, PARITY_CONFIG, funnel=funnel),
        funnel)
    assert jobs == []
    assert [s.name for s in pipe.stage_infos] == ["signatures", "pairs"]
    assert pipe.stage_infos[1].rows == pairs.count() > 0


def test_every_pass_job_carries_one_stage_tag(spark, corpus_df, tmp_path):
    """A run explains itself: every Spark job of a fresh pass carries
    exactly one `dedup-stage:<stage>` job tag (monitoring REST jobTags)."""
    import uuid

    from dedup.metrics import rest_json

    if rest_json(spark, "jobs") is None:
        pytest.skip("the Spark UI (monitoring REST API) is off")
    sc = spark.sparkContext
    group = f"pass-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pass")
    try:
        DedupPipeline(spark, str(tmp_path / "job"), PARITY_CONFIG,
                      resume=False).run(corpus_df)
    finally:
        _clear_job_group(sc)
    _settle(spark)
    jobs = [j for j in rest_json(spark, "jobs") if j.get("jobGroup") == group]
    assert len(jobs) >= 4
    tags = {j["jobId"]: [t for t in j["jobTags"]
                         if t.startswith("dedup-stage:")] for j in jobs}
    assert all(len(t) == 1 for t in tags.values()), tags
    assert {t[0] for t in tags.values()} == {
        f"dedup-stage:{s}"
        for s in ("signatures", "pairs", "verified", "clusters")}
