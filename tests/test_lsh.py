"""Candidate-pair generation (dedup/lsh.py): the grouped pair emission
against its r5 formulation, the executed p2 plan (one signatures scan, one
key exchange), a plan build that starts no Spark job, and the observed key
funnel against the single-node oracle's per-key row counts."""

from __future__ import annotations

import uuid
from collections import Counter
from dataclasses import replace

from pyspark.sql import Observation, functions as F

from dedup import local_oracle as lo
from dedup.config import PARITY_CONFIG
from dedup.lsh import candidate_pairs, pairs_within_groups
from dedup.signature import signatures_table
from dedup.synth import corpus_pdf
from test_pipeline_resume import _clear_job_group, _settle

# all-pairs expansion over the sorted members of one group: (i, j), i < j
_R5_EXPANSION = (
    "flatten(transform(us, (x, i) -> "
    "transform(slice(us, i + 2, size(us) - i - 1), y -> {})))")


def _pair_sql(a, b, payload):
    return (f"struct({a}.url as a, {b}.url as b, {a}._pl as pa, "
            f"{b}._pl as pb)" if payload else f"struct({a} as a, {b} as b)")


def _r5_pairs(members, cap, payload=False):
    """The r5 all-keys formulation: every key's rows go through the
    collect_set aggregation, hot keys are marked by a broadcast join and
    emit star edges from their min member through a second join. With
    `payload`, members are (url, pl) structs and pairs carry (pa, pb)."""
    member = (F.struct("url", F.col("pl").alias("_pl")) if payload
              else F.col("url"))
    m = members.select("k", member.alias("x"))
    hot_keys = (m.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
                .where(F.col("n") > cap).drop("n")
                .withColumn("_hot", F.lit(True)))
    marked = m.join(F.broadcast(
        hot_keys.withColumnRenamed("k", "__k")),
        F.col("k").eqNullSafe(F.col("__k")), "left").drop("__k")
    expansion = _R5_EXPANSION.format(_pair_sql("x", "y", payload))
    cold = (marked.where(F.col("_hot").isNull()).groupBy("k")
            .agg(F.sort_array(F.collect_set("x")).alias("us"))
            .where(F.size("us") > 1)
            .select(F.explode(F.expr(expansion)).alias("p")))
    hot = marked.where(F.col("_hot").isNotNull())
    centers = hot.groupBy("k").agg(F.min("x").alias("c"))
    hot_pairs = (hot.join(F.broadcast(
        centers.withColumnRenamed("k", "__k")),
        F.col("k").eqNullSafe(F.col("__k")), "inner")
        .where(F.col("x") != F.col("c"))
        .select(F.expr(_pair_sql("c", "x", payload)).alias("p")))
    return cold.unionByName(hot_pairs).select("p.*")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_pairs_within_groups_matches_r5_formulation(spark):
    # the windowed single-exchange plan must emit the r5 all-keys
    # formulation's pair multiset, with hot keys and without; the edge
    # input repeats a (key, member) row in a cold and in a hot key (the
    # hot key's min member too) and has a NULL key, and is checked in
    # the payload variant as well
    rows = []
    for k in range(30):            # singleton keys
        rows.append((f"k{k:03d}", f"u{k:03d}"))
    for k in range(5):             # cold multi keys (2-4 members)
        for i in range(2 + k % 3):
            rows.append((f"m{k}", f"mu{k}_{i:02d}"))
    for i in range(20):            # one hot key (cap below)
        rows.append(("hot", f"h{i:02d}"))
    members = spark.createDataFrame(rows, "k string, url string")
    no_hot = spark.createDataFrame(
        [("a", "u1"), ("a", "u2"), ("b", "u3")], "k string, url string")
    edge_rows = (rows[30:] + [("m0", "mu0_01"), ("m0", "mu0_01"),
                              ("hot", "h03"), ("hot", "h00"),
                              (None, "n2"), (None, "n1"), (None, "n1"),
                              ("solo", "n1")])
    edge = spark.createDataFrame(
        [(k, u, sum(map(ord, u))) for k, u in edge_rows],
        "k string, url string, pl bigint")

    for df, cap in ((members, 8), (members, 3), (no_hot, 10), (edge, 8),
                    (edge, 3)):
        want = _sorted(_r5_pairs(df, cap))
        got = _sorted(pairs_within_groups(df, ["k"], cap))
        assert got == want, (cap, len(got), len(want))
        if df is edge:
            want_pl = _sorted(_r5_pairs(df, cap, payload=True))
            got_pl = _sorted(pairs_within_groups(df, ["k"], cap,
                                                 payload_col="pl"))
            assert got_pl == want_pl, (cap, len(got_pl), len(want_pl))
            assert [p[:2] for p in got_pl] == got
    assert _sorted(pairs_within_groups(no_hot, ["k"], 10)) == [("u1", "u2")]
    # the edges are present: a repeated hot row emits twice, the NULL key
    # groups its rows, a repeated cold row emits once
    edge_got = _sorted(pairs_within_groups(edge, ["k"], 8))
    assert edge_got.count(("h00", "h03")) == 2
    assert edge_got.count(("n1", "n2")) == 1
    assert edge_got.count(("mu0_00", "mu0_01")) == 1


def test_funnel_fills_when_no_pair_is_emitted(spark, tmp_path):
    """The key funnel is observed above the key exchange and below the
    singleton filter, so it fills also when every key is a singleton or
    the key table (a parquet scan here) is empty."""
    two = spark.createDataFrame([("a", "u1"), ("b", "u2")],
                                "k string, url string")
    two.where("false").write.parquet(str(tmp_path / "empty"))
    empty = spark.read.parquet(str(tmp_path / "empty"))
    for df, want in ((two, 2), (empty, 0)):
        funnel = Observation()
        assert pairs_within_groups(df, ["k"], 4, funnel=funnel).count() == 0
        assert funnel.get == {"keys": want, "singleton": want, "cold": 0,
                              "hot": 0}


def test_p2_plan_is_one_key_exchange(spark, tmp_path):
    """The executed p2 plan over persisted signatures: one signatures
    scan, two hash exchanges (the key rows by key, the pairs by (a, b)
    for the labeling aggregate), and no join, broadcast or cartesian."""
    from dedup.queries import docs_as_corpus
    path = str(tmp_path / "sigs")
    signatures_table(docs_as_corpus(spark, "/root/testdata/sf0.001"),
                     PARITY_CONFIG).write.parquet(path)
    pairs = candidate_pairs(spark.read.parquet(path), PARITY_CONFIG,
                            funnel=Observation())
    assert pairs.count() > 0
    plan = (pairs._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])  # AQE's final plan
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    for op in ("Join", "BroadcastExchange", "CartesianProduct"):
        assert op not in plan, plan


def _planted_rows(n_docs=120, seed=5):
    pdf = corpus_pdf(n_docs, seed=seed, hot_frac=0.3)
    return list(zip(pdf["url"], pdf["text"]))


def test_building_candidate_pairs_starts_no_job(spark):
    """candidate_pairs is a pure plan: building it (with a funnel
    Observation attached) launches no Spark job on batch input."""
    corpus = spark.createDataFrame(_planted_rows(40), "url string, text string")
    sigs = signatures_table(corpus, PARITY_CONFIG)
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build")
    try:
        pairs = candidate_pairs(sigs, PARITY_CONFIG, funnel=Observation())
    finally:
        _clear_job_group(sc)
    _settle(spark)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert pairs.count() > 0


def test_observed_funnel_equals_oracle_key_counts(spark):
    """The funnel observed on the per-key count aggregate equals the
    per-key row counts of local_oracle.unified_keys: keys, singleton
    (n == 1), cold (1 < n <= cap) and hot (n > cap)."""
    cap = 3
    cfg = replace(PARITY_CONFIG, band_bucket_cap=cap)
    rows = _planted_rows()
    corpus = spark.createDataFrame(rows, "url string, text string")
    funnel = Observation()
    n_pairs = candidate_pairs(signatures_table(corpus, cfg), cfg,
                              funnel=funnel).count()

    per_key = Counter(gk for _, gk in
                      lo.unified_keys(lo.local_signatures(rows, cfg), cfg))
    want = {"keys": len(per_key),
            "singleton": sum(n == 1 for n in per_key.values()),
            "cold": sum(1 < n <= cap for n in per_key.values()),
            "hot": sum(n > cap for n in per_key.values())}
    assert n_pairs > 0 and want["cold"] > 0 and want["hot"] > 0, want
    assert funnel.get == want
