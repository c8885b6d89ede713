"""Round-6 optimization equivalence tests: every restructured query/operator
must produce BIT-IDENTICAL results to its round-5 formulation (the driver
re-hashes results against unchanged oracles, so "close" is a regression).
Each test pins the old formulation inline and compares exactly."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _exact_same(df_old, df_new):
    assert str(df_old.schema) == str(df_new.schema), (
        df_old.schema, df_new.schema)
    old = [tuple(r) for r in df_old.collect()]
    new = [tuple(r) for r in df_new.collect()]
    assert old == new


def test_line_dedup_matches_r5_formulation(spark):
    from dedup.queries import LINE_TOKENS, _TOKENS, _docs, q_line_dedup

    def old_line_dedup(spark, sf_dir):
        lines = (_docs(spark, sf_dir)
                 .select("doc_id", F.expr(_TOKENS).alias("t"))
                 .select("doc_id", F.posexplode(F.expr(
                     f"CASE WHEN size(t) = 0 THEN array() ELSE "
                     f"transform(sequence(0, CAST(ceil(size(t) / "
                     f"{LINE_TOKENS}.0) AS INT) - 1), i -> concat_ws(' ', "
                     f"slice(t, i * {LINE_TOKENS} + 1, {LINE_TOKENS}))) "
                     f"END")))
                 .withColumnsRenamed({"pos": "line_no", "col": "line"}))
        keyed = lines.withColumn("_h", F.xxhash64("line"))
        first = (keyed.groupBy("_h")
                 .agg(F.min(F.struct("doc_id", "line_no")).alias("_first")))
        marked = (keyed.join(first, "_h")
                  .withColumn("_keep",
                              (F.col("doc_id") == F.col("_first.doc_id"))
                              & (F.col("line_no")
                                 == F.col("_first.line_no"))))
        return (marked.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_lines"),
                     F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
                     .cast("bigint").alias("n_dup_lines"),
                     F.md5(F.concat_ws(" ", F.expr(
                         "transform(array_sort(collect_list(CASE WHEN "
                         "_keep THEN struct(line_no, line) END)), "
                         "s -> s.line)")))
                     .alias("clean_md5"))
                .orderBy("doc_id"))

    _exact_same(old_line_dedup(spark, SF), q_line_dedup(spark, SF))


def test_embedding_knn_matches_r5_formulation(spark):
    # the r6 rewrite ships each vector over Arrow once and folds dots in a
    # vectorized column loop; scores must stay bit-identical to the old
    # interpreted aggregate() fold (the driver hashes rounded doubles)
    from pyspark.sql import Window
    from dedup.queries import _emb, q_embedding_knn

    def old_knn(spark, sf_dir):
        e = _emb(spark, sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v"))
        q = (e.where("vec_id < 5")
             .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv")))
        dot = F.expr("aggregate(zip_with(qv, v, (x, y) -> x * y), "
                     "cast(0.0 as double), (acc, x) -> acc + x)")
        norm = ("sqrt(aggregate(transform({0}, x -> x * x), "
                "cast(0.0 as double), (acc, x) -> acc + x))")
        cos = F.try_divide(dot, F.expr(norm.format("qv"))
                           * F.expr(norm.format("v")))
        scored = (q.crossJoin(e).where(F.col("qid") != F.col("vec_id"))
                  .select("qid", "vec_id", cos.alias("cos")))
        w = Window.partitionBy("qid").orderBy(F.desc("cos"),
                                              F.asc("vec_id"))
        return (scored.withColumn("rank", F.row_number().over(w))
                .where("rank <= 5")
                .select("qid", "vec_id",
                        F.col("rank").cast("bigint").alias("rank"),
                        F.round("cos", 6).alias("cos_sim")))

    _exact_same(old_knn(spark, SF), q_embedding_knn(spark, SF))


def test_knn_fold_is_bit_exact_vs_interpreted_fold():
    # the vectorized column loop must reproduce the SQL left fold's IEEE
    # add sequence exactly, including adversarial magnitudes
    rng = np.random.RandomState(7)
    M = np.concatenate([rng.randn(40, 64),
                        rng.randn(10, 64) * 1e12,
                        rng.randn(10, 64) * 1e-12]).astype(np.float64)
    Q = rng.randn(5, 64).astype(np.float64)
    dots = np.zeros((M.shape[0], 5))
    nsq = np.zeros(M.shape[0])
    for j in range(64):
        col = M[:, j]
        dots += col[:, None] * Q[None, :, j]
        nsq += col * col
    for i in range(M.shape[0]):
        accn = 0.0
        for j in range(64):
            accn += float(M[i, j]) * float(M[i, j])
        assert accn == nsq[i]
        for k in range(5):
            acc = 0.0
            for j in range(64):
                acc += float(Q[k, j]) * float(M[i, j])
            assert acc == dots[i, k], (i, k)


def test_batched_minhash_simhash_bit_exact():
    # p1 batches the per-document MinHash/SimHash numpy loops into
    # segmented reductions; every signature must equal the per-doc
    # reference functions bit-for-bit, including across chunk boundaries
    from dedup.coeffs import load_coeffs
    from dedup.signature import (minhash_signature,
                                 minhash_signatures_batched, simhash64,
                                 simhash64_batched)
    rng = np.random.RandomState(11)
    A, B = load_coeffs(100, 42)
    arrs = [np.unique(rng.randint(0, 2**32, size=rng.randint(1, 300))
                      .astype(np.uint64)) for _ in range(200)]
    arrs += [np.array([0], dtype=np.uint64),
             np.array([2**32 - 1], dtype=np.uint64)]
    for chunk in (4_000_000, 513):  # huge chunk and forced multi-chunk
        sigs = minhash_signatures_batched(arrs, A, B,
                                          max_chunk_elems=chunk)
        hashes = simhash64_batched(arrs, max_chunk_elems=chunk)
        for i, a in enumerate(arrs):
            assert np.array_equal(sigs[i], minhash_signature(a, A, B)), i
            assert hashes[i] == simhash64(a), i


def test_pairs_within_groups_matches_r5_formulation(spark):
    # r6 routes only multi-member non-hot keys into the collect_set
    # aggregation and probe-skips the hot branch; the emitted pair set
    # must equal the r5 all-keys formulation, hot keys included
    from dedup.lsh import _PAIR_EXPANSION, pairs_within_groups

    rows = []
    for k in range(30):            # singleton keys
        rows.append((f"k{k:03d}", f"u{k:03d}"))
    for k in range(5):             # cold multi keys (2-4 members)
        for i in range(2 + k % 3):
            rows.append((f"m{k}", f"mu{k}_{i:02d}"))
    for i in range(20):            # one hot key (cap below)
        rows.append(("hot", f"h{i:02d}"))
    members = spark.createDataFrame(rows, "k string, url string")

    def r5_pairs(members, cap):
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

    for cap in (8, 3):
        want = sorted(tuple(r) for r in r5_pairs(members, cap).collect())
        got = sorted(tuple(r) for r in
                     pairs_within_groups(members, ["k"], cap).collect())
        assert got == want, (cap, len(got), len(want))


def test_pairs_within_groups_skips_hot_branch_when_none(spark):
    # with no hot key the executed plan must hold a single aggregation
    # chain (count pre-pass + cold collect_set), no hot-center min agg
    from dedup.lsh import pairs_within_groups
    members = spark.createDataFrame(
        [("a", "u1"), ("a", "u2"), ("b", "u3")], "k string, url string")
    df = pairs_within_groups(members, ["k"], cap=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert [tuple(r) for r in df.collect()] == [("u1", "u2")]


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


def test_driver_path_assignment_broadcasts_into_anti_join(spark):
    # the driver union-find assignment is bounded by driver_threshold by
    # construction; the singleton anti-join must plan as broadcast, not
    # a corpus-wide sort-merge
    from dedup.cluster import assign_clusters
    corpus = spark.createDataFrame(
        [(f"u{i}",) for i in range(50)], "url string")
    edges = spark.createDataFrame(
        [("u1", "u2"), ("u2", "u3"), ("u10", "u11")], "a string, b string")
    df = assign_clusters(corpus, edges)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    rows = {r["url"]: r["cluster_id"] for r in df.collect()}
    assert rows["u3"] == "u1" and rows["u11"] == "u10"
    assert rows["u42"] == "u42"
    assert len(rows) == 50


def test_domain_stats_matches_r5_formulation(spark):
    # r6 rolls every output column up from one (domain, md5) aggregation;
    # must equal the old two-aggregation + join formulation exactly
    from dedup.queries import _TOKENS, _docs, q_domain_stats

    def old_domain_stats(spark, sf_dir):
        d = (_docs(spark, sf_dir)
             .select("doc_id", "source",
                     F.when(F.col("doc_id") % 3 == 0,
                            F.concat(F.lit("shared boilerplate page for "),
                                     F.col("source")))
                     .otherwise(F.col("text")).alias("text"))
             .select(
                 F.concat(F.lit("www."), "source", F.lit(".example.com"))
                 .alias("domain"),
                 F.length("text").cast("bigint").alias("n_chars"),
                 F.expr(f"size({_TOKENS})").cast("bigint")
                 .alias("n_tokens"),
                 F.md5("text").alias("text_md5")))
        per = d.groupBy("domain").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum(F.when(F.col("n_tokens") < 20, 1).otherwise(0))
            .cast("bigint").alias("n_short"))
        dup = (d.groupBy("domain", "text_md5")
               .agg(F.count(F.lit(1)).alias("c"))
               .groupBy("domain")
               .agg(F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
                    .cast("bigint").alias("n_exact_dup_docs")))
        return per.join(dup, "domain").orderBy("domain")

    _exact_same(old_domain_stats(spark, SF), q_domain_stats(spark, SF))
    plan = (q_domain_stats(spark, SF)._jdf.queryExecution().executedPlan()
            .toString())
    assert "Join" not in plan  # single aggregation chain, no re-join


def test_line_dedup_all_dup_doc_gets_empty_md5(spark, tmp_path):
    # a doc whose EVERY line repeats an earlier doc exercises the left-join
    # + coalesce(md5('')) path the restructure introduced
    from dedup.queries import q_line_dedup
    import shutil
    sfd = tmp_path / "sf"
    sfd.mkdir()
    base = " ".join(f"word{i:02d}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, base, "en", "s"),
         (1, base, "en", "s"),  # pure repeat: every line dups doc 0's
         (2, base + " unique tail words here", "en", "s")],
        "doc_id bigint, text string, lang string, source string")
    docs.write.parquet(str(sfd / "documents.parquet"))
    rows = {r["doc_id"]: r for r in q_line_dedup(spark, str(sfd)).collect()}
    assert rows[1]["n_dup_lines"] == rows[1]["n_lines"]
    import hashlib
    assert rows[1]["clean_md5"] == hashlib.md5(b"").hexdigest()
    assert rows[0]["n_dup_lines"] == 0
    shutil.rmtree(sfd, ignore_errors=True)
