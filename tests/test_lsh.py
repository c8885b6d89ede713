"""Candidate-pair generation (dedup/lsh.py): the grouped pair emission
against its r5 formulation, a plan build that starts no Spark job, and the
observed key funnel against the single-node oracle's per-key row counts."""

from __future__ import annotations

import uuid
from collections import Counter
from dataclasses import replace

from pyspark.sql import Observation, functions as F

from dedup import local_oracle as lo
from dedup.config import PARITY_CONFIG
from dedup.lsh import _PAIR_EXPANSION, candidate_pairs, pairs_within_groups
from dedup.signature import signatures_table
from dedup.synth import corpus_pdf
from test_pipeline_resume import _clear_job_group, _settle


def _r5_pairs(members, cap):
    """The r5 all-keys formulation: every key's rows go through the
    collect_set aggregation, hot keys are marked by a broadcast join."""
    m = members.select("k", "url")
    hot_keys = (m.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
                .where(F.col("n") > cap).drop("n")
                .withColumn("_hot", F.lit(True)))
    marked = m.join(F.broadcast(
        hot_keys.withColumnRenamed("k", "__k")),
        F.col("k").eqNullSafe(F.col("__k")), "left").drop("__k")
    cold = (marked.where(F.col("_hot").isNull()).groupBy("k")
            .agg(F.sort_array(F.collect_set("url")).alias("us"))
            .where(F.size("us") > 1)
            .select("k", F.explode(F.expr(_PAIR_EXPANSION)).alias("p"))
            .select("k", "p.a", "p.b"))
    hot = marked.where(F.col("_hot").isNotNull()).drop("_hot")
    centers = hot.groupBy("k").agg(F.min("url").alias("a"))
    hot_pairs = (hot.join(F.broadcast(
        centers.withColumnRenamed("k", "__k")),
        F.col("k").eqNullSafe(F.col("__k")), "inner").drop("__k")
        .where(F.col("url") != F.col("a"))
        .select("k", "a", F.col("url").alias("b")))
    return cold.unionByName(hot_pairs).select("a", "b")


def test_pairs_within_groups_matches_r5_formulation(spark):
    # r6 routes only multi-member non-hot keys into the collect_set
    # aggregation; the emitted pair set must equal the r5 all-keys
    # formulation, with hot keys and without
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

    for df, cap in ((members, 8), (members, 3), (no_hot, 10)):
        want = sorted(tuple(r) for r in _r5_pairs(df, cap).collect())
        got = sorted(tuple(r) for r in
                     pairs_within_groups(df, ["k"], cap).collect())
        assert got == want, (cap, len(got), len(want))
    assert want == [("u1", "u2")]  # the no-hot input


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
