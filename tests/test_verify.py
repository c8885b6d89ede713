"""Candidate-pair verification (dedup/verify.py): the cosine plan against
its r5 barrier, engine mode against the single-node oracle, the broadcast
plan against the join plan, the broadcast gate, and the verified stage of
a pipeline pass (its executed plan, funnel and clusters)."""

from __future__ import annotations

import json
import uuid
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedup.config import ENGINE_CONFIG, PARITY_CONFIG
from dedup.lsh import candidate_pairs
from dedup.pipeline import DedupPipeline
from dedup.queries import docs_as_corpus
from dedup.signature import signatures_table
from dedup.storage import Storage
from dedup.synth import corpus_pdf
from dedup.verify import broadcast_signatures, verify_pairs
from harness_oracle import SF_DIR as SF
from test_pipeline_resume import _clear_job_group, _settle

FIXTURE = (Path(__file__).resolve().parents[1] / "dedup" / "fixtures"
           / "oracle_sf001.json")
THRESHOLD_KEY = "spark.sql.autoBroadcastJoinThreshold"


def _rows(df):
    # raw values on purpose: NULL and NaN must not compare equal
    return sorted(tuple(r) for r in df.collect())


def test_verify_cosine_matches_r5_barrier_and_evaluates_udf_once(spark):
    # the r6 parity path scores through a nondeterministic pandas-UDF
    # column; results must equal the r5 mapInPandas barrier exactly and
    # the plan must hold exactly ONE ArrowEvalPython (no CollapseProject
    # duplication under the keep comparison / where(keep))
    import pandas as pd
    from dedup.config import PARITY_CONFIG
    from dedup.lsh import candidate_pairs
    from dedup.queries import docs_as_corpus
    from dedup.signature import signatures_table
    from dedup.verify import (_VERIFIED_SCHEMA, cosine_similarity,
                              verify_pairs)

    def old_verify(pairs, signatures, cfg):
        sig = (signatures.select("url", "minhash")
               .where(F.col("minhash").isNotNull()))
        sa = sig.select(F.col("url").alias("a"),
                        F.col("minhash").alias("_sig_a"))
        sb = sig.select(F.col("url").alias("b"),
                        F.col("minhash").alias("_sig_b"))
        url_exact = (pairs.where(F.col("match_source") == "url_exact")
                     .select("a", "b", "match_source",
                             F.lit(1.0).alias("similarity"),
                             F.lit(1.0).alias("jaccard"),
                             F.lit(True).alias("keep")))
        joined = (pairs.where(F.col("match_source") != "url_exact")
                  .join(sa, "a").join(sb, "b"))
        threshold = cfg.threshold

        def score_cosine(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                sims = np.array([cosine_similarity(x, y) for x, y in
                                 zip(pdf["_sig_a"], pdf["_sig_b"])])
                yield pd.DataFrame({
                    "a": pdf["a"], "b": pdf["b"],
                    "match_source": pdf["match_source"],
                    "similarity": sims,
                    "jaccard": np.full(len(pdf), np.nan),
                    "keep": sims >= threshold,
                })

        scored = joined.mapInPandas(score_cosine, schema=_VERIFIED_SCHEMA)
        return url_exact.unionByName(scored)

    sigs = signatures_table(docs_as_corpus(spark, SF), PARITY_CONFIG)
    pairs = candidate_pairs(sigs, PARITY_CONFIG).persist()
    pairs.count()
    o, n = (old_verify(pairs, sigs, PARITY_CONFIG),
            verify_pairs(pairs, sigs, PARITY_CONFIG))
    assert str(o.schema) == str(n.schema)

    def norm(rows):
        # raw values on purpose: the old barrier's np.nan became NULL
        # through pandas→Arrow, and a NaN literal would NOT equal it
        return sorted((r["a"], r["b"], r["match_source"],
                       r["similarity"], r["jaccard"], r["keep"])
                      for r in rows)

    assert norm(o.collect()) == norm(n.collect())
    plan = (n.where("keep")._jdf.queryExecution().executedPlan()
            .toString())
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    pairs.unpersist()


def test_engine_verify_matches_oracle_including_prefilter(spark):
    """Spark verify_pairs (engine/jaccard mode: native estimate prefilter ->
    shingle join -> flattened searchsorted) must agree with the independent
    single-node oracle (intersect1d path) on keeps, exact jaccards, AND the
    NULL-scored prefilter-rejected rows."""
    from dedup import local_oracle as lo
    from dedup.config import ENGINE_CONFIG
    from dedup.signature import signatures_table
    from dedup.verify import verify_pairs

    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "green turtles watch from the riverbank in complete silence "
            "every single morning before the sun rises over the hills")
    other = ("completely unrelated content about database query planners "
             "and distributed shuffle exchanges in modern analytics engines "
             "running on large clusters of commodity hardware nodes")
    rows = [
        ("https://a.org/1", base, "shared title one"),
        ("https://b.org/1", base, "shared title one"),        # exact dup
        ("https://c.org/1", base + " with a tiny suffix change",
         "different t1"),                                     # near dup
        # same title forces a 'title' candidate pair whose texts share
        # ~nothing -> MinHash estimate ~0 -> prefilter rejection row
        ("https://d.org/1", other, "block key shared"),
        ("https://e.org/1", base[:120], "block key shared"),
        ("https://f.org/1", other + " more words here", "unrelated title"),
    ]
    corpus = spark.createDataFrame(
        rows, "url string, text string, title string")
    sigs = signatures_table(corpus, ENGINE_CONFIG)
    oc = [(u, t, None, ti, None) for u, t, ti in rows]
    osigs = lo.local_signatures(oc, ENGINE_CONFIG)
    # the oracle's pairs skip candidate_pairs' engine-mode SimHash gate,
    # so the title pair reaches verify's MinHash prefilter
    opairs = lo.local_candidate_pairs(osigs, ENGINE_CONFIG)
    pairs = spark.createDataFrame(
        opairs, "a string, b string, match_source string")
    got = {(r["a"], r["b"], r["match_source"]):
           (r["similarity"], r["jaccard"], r["keep"])
           for r in verify_pairs(pairs, sigs, ENGINE_CONFIG).collect()}

    want = {(a, b, src): (sim, jac, keep)
            for a, b, src, sim, jac, keep in lo.local_verify(
                opairs, osigs, ENGINE_CONFIG)}

    assert set(got) == set(want)
    rejected = kept = 0
    for key, (wsim, wjac, wkeep) in want.items():
        gsim, gjac, gkeep = got[key]
        assert gkeep == wkeep, key
        if wsim is None:
            assert gsim is None and gjac is None, key
            rejected += 1
        else:
            assert gsim == pytest.approx(wsim, abs=1e-12), key
            assert gjac == pytest.approx(wjac, abs=0), key
            kept += 1
    # the scenario must actually exercise both branches
    assert rejected >= 1 and kept >= 2


def test_broadcast_plan_equals_join_plan(spark):
    """The broadcast plan returns the join plan's rows with bit-equal
    scores on the planted-mirror corpus, plus two pairs with an unsigned
    side: a url_exact one passes with 1.0, a scored one is dropped. Its
    plan is built without a Spark job."""
    sigs = signatures_table(docs_as_corpus(spark, SF),
                            PARITY_CONFIG).localCheckpoint()
    signed = sigs.where("minhash is not null").select("url")
    a_url, b_url = sorted(r[0] for r in signed.limit(2).collect())
    unsigned = "https://unsigned.example.org/0"
    extra = spark.createDataFrame(
        [(a_url, unsigned, "url_exact"), (b_url, unsigned, "title")],
        "a string, b string, match_source string")
    pairs = (candidate_pairs(sigs, PARITY_CONFIG).unionByName(extra)
             .localCheckpoint())
    bc = broadcast_signatures(sigs, PARITY_CONFIG)
    assert bc is not None
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build")
    try:
        got = verify_pairs(pairs, sigs, PARITY_CONFIG, sig_broadcast=bc)
    finally:
        _clear_job_group(sc)
    try:
        want = verify_pairs(pairs, sigs, PARITY_CONFIG)
        assert str(got.schema) == str(want.schema)
        rows = _rows(got)
        assert rows == _rows(want)
    finally:
        bc.destroy()
    _settle(spark)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    by_pair = {(r[0], r[1]): r for r in rows}
    assert by_pair[(a_url, unsigned)] == (a_url, unsigned, "url_exact",
                                          1.0, 1.0, True)
    assert (b_url, unsigned) not in by_pair
    assert sum(r[5] is True for r in rows) >= 10
    assert sum(r[5] is False for r in rows) >= 1


def test_broadcast_gate_falls_back_to_the_join(spark):
    """The gate broadcasts exactly up to autoBroadcastJoinThreshold //
    (8 * num_hashes) signed rows, and returns None above it, for a
    threshold of -1, for duplicate signed urls and in engine mode."""
    pdf = corpus_pdf(40, seed=11, hot_frac=0.0)
    sigs = signatures_table(
        spark.createDataFrame(pdf[["url", "text"]]), PARITY_CONFIG
    ).localCheckpoint()
    n = sigs.where("minhash is not null").count()
    assert n > 1
    row_bytes = 8 * PARITY_CONFIG.num_hashes
    saved = spark.conf.get(THRESHOLD_KEY)
    try:
        spark.conf.set(THRESHOLD_KEY, str(row_bytes * n))
        bc = broadcast_signatures(sigs, PARITY_CONFIG)
        assert bc is not None
        index, matrix = bc.value
        assert len(index) == n and matrix.shape == (
            n, PARITY_CONFIG.num_hashes)
        bc.destroy()
        spark.conf.set(THRESHOLD_KEY, str(row_bytes * n - 1))
        assert broadcast_signatures(sigs, PARITY_CONFIG) is None
        spark.conf.set(THRESHOLD_KEY, "-1")
        assert broadcast_signatures(sigs, PARITY_CONFIG) is None
    finally:
        spark.conf.set(THRESHOLD_KEY, saved)
    assert broadcast_signatures(
        sigs.unionByName(sigs.limit(1)), PARITY_CONFIG) is None
    engine_sigs = signatures_table(
        spark.createDataFrame(pdf[["url", "text"]]), ENGINE_CONFIG)
    assert broadcast_signatures(engine_sigs, ENGINE_CONFIG) is None


def test_gate_with_a_row_count_within_the_bound_collects_without_limit(
        spark, monkeypatch):
    """Given the table's row count, the gate returns the same broadcast
    and the same None cases, and its collect plans no CollectLimit when
    the count is within the bound; without a count, with -1 (a resumed
    stage's) or with a count over the bound it keeps the limit."""
    pdf = corpus_pdf(40, seed=11, hot_frac=0.0)
    sigs = signatures_table(
        spark.createDataFrame(pdf[["url", "text"]]), PARITY_CONFIG
    ).localCheckpoint()
    n_rows = sigs.count()
    n = sigs.where("minhash is not null").count()
    plans = []
    to_arrow = type(sigs).toArrow

    def recording_to_arrow(df):
        out = to_arrow(df)
        plans.append("CollectLimit" in
                     df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(type(sigs), "toArrow", recording_to_arrow)
    row_bytes = 8 * PARITY_CONFIG.num_hashes
    saved = spark.conf.get(THRESHOLD_KEY)
    try:
        spark.conf.set(THRESHOLD_KEY, str(row_bytes * n_rows))
        values = []
        for count in ({}, {"n_rows": -1}, {"n_rows": n_rows}):
            bc = broadcast_signatures(sigs, PARITY_CONFIG, **count)
            index, matrix = bc.value
            values.append((list(index), matrix))
            bc.destroy()
        assert plans == [True, True, False]
        for index, matrix in values[1:]:
            assert index == values[0][0]
            assert np.array_equal(matrix, values[0][1])
        assert len(values[0][0]) == n
        spark.conf.set(THRESHOLD_KEY, str(row_bytes * n - 1))
        assert broadcast_signatures(sigs, PARITY_CONFIG,
                                    n_rows=n_rows) is None
        assert plans[-1] is True
        spark.conf.set(THRESHOLD_KEY, "-1")
        assert broadcast_signatures(sigs, PARITY_CONFIG,
                                    n_rows=n_rows) is None
    finally:
        spark.conf.set(THRESHOLD_KEY, saved)
    dup = sigs.unionByName(sigs.limit(1))
    assert broadcast_signatures(dup, PARITY_CONFIG,
                                n_rows=n_rows + 1) is None
    assert plans[-1] is False


class _PlanRecorder(Storage):
    """Records the physical plan of every frame the pipeline writes."""

    def __init__(self, spark):
        super().__init__(spark)
        self.plans = {}

    def write_table(self, df, ref, mode="overwrite"):
        super().write_table(df, ref, mode)
        self.plans[str(ref).rstrip("/").rsplit("/", 1)[-1]] = (
            df._jdf.queryExecution().executedPlan().toString())


@pytest.fixture(scope="module")
def sf001_passes(spark, tmp_path_factory):
    """One pipeline pass over the planted-mirror corpus per verify plan:
    "broadcast" under the default threshold, "join" under a threshold of
    one matrix row (800 bytes), where the gate must keep the join plan.
    Each maps to (tables, {stage: written plan})."""
    saved = spark.conf.get(THRESHOLD_KEY)
    passes = {}
    for path, threshold in (("broadcast", saved),
                            ("join", str(8 * PARITY_CONFIG.num_hashes))):
        storage = _PlanRecorder(spark)
        pipe = DedupPipeline(spark, str(tmp_path_factory.mktemp(path)),
                             PARITY_CONFIG, resume=False, storage=storage)
        spark.conf.set(THRESHOLD_KEY, threshold)
        try:
            passes[path] = pipe.run(docs_as_corpus(spark, SF)), storage.plans
        finally:
            spark.conf.set(THRESHOLD_KEY, saved)
    return passes


def test_pipeline_verified_plan_reads_pairs_once(sf001_passes):
    """Under the threshold the pipeline's p3 plan scores through the
    broadcast: one scan of the persisted pairs, one MapInArrow, no
    ArrowEvalPython, no join. Over it the join plan runs."""
    plan = sf001_passes["broadcast"][1]["verified"]
    assert plan.count("FileScan parquet") == 1, plan
    assert "/pairs" in plan
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in plan
    plan = sf001_passes["join"][1]["verified"]
    assert "Join" in plan and "ArrowEvalPython" in plan, plan
    assert "MapInArrow" not in plan


def test_pipeline_reproduces_dup_clusters_fixture(sf001_passes):
    """Both verify plans reproduce the dup_clusters fixture, and their
    persisted verified tables are equal row for row, raw floats."""
    want = sorted(tuple(r) for r in
                  json.loads(FIXTURE.read_text())["dup_clusters"]["rows"])
    verified = {}
    for path, (out, _) in sf001_passes.items():
        assert _rows(out["clusters"].select("url", "cluster_id")) == want
        verified[path] = _rows(out["verified"])
    assert verified["broadcast"] == verified["join"]
    assert sum(r[5] is True for r in verified["join"]) >= 10


def test_verified_funnel_equals_persisted_counts(spark, tmp_path):
    """The verified stage's funnel, observed on the frame it writes,
    equals groupBy counts over the persisted verified table. The corpus
    plants a text-less url variant of a signed page: its url_exact pair
    is kept with similarity 1.0 though one side is unsigned."""
    pdf = corpus_pdf(150, seed=5, hot_frac=0.3)
    signed_url = pdf["url"][0]
    unsigned_url = "https://www." + signed_url + "/?utm_source=x"
    rows = list(zip(pdf["url"], pdf["text"])) + [(unsigned_url, "")]
    corpus = spark.createDataFrame(rows, "url string, text string")
    out = DedupPipeline(spark, str(tmp_path / "wd"), PARITY_CONFIG,
                        resume=False).run(corpus)
    funnel = json.loads(
        (tmp_path / "wd" / "_lineage" / "verified.json").read_text())["funnel"]
    v = out["verified"]
    by_source = {r[0]: r[1] for r in v.groupBy("match_source").count()
                 .collect()}
    assert funnel == {
        "pairs": v.count(),
        **{s: by_source.get(s, 0)
           for s in ("url_exact", "lsh", "title", "description")},
        "scored": v.where("similarity is not null").count(),
        "kept": v.where("keep").count()}
    assert funnel["lsh"] > 0 and 0 < funnel["kept"] < funnel["pairs"]
    a, b = sorted((signed_url, unsigned_url))
    assert [tuple(r) for r in v.where(
        (F.col("a") == a) & (F.col("b") == b)).collect()] == [
        (a, b, "url_exact", 1.0, 1.0, True)]
