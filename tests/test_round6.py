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


def _old_knn(spark, sf_dir):
    """q_embedding_knn's r5 formulation: an interpreted aggregate() fold
    per (query, vector) pair of a crossJoin."""
    from pyspark.sql import Window
    from dedup.queries import _emb

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
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where("rank <= 5")
            .select("qid", "vec_id",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.round("cos", 6).alias("cos_sim")))


def test_embedding_knn_matches_r5_formulation(spark):
    # the r6 rewrite ships each vector over Arrow once and folds dots in a
    # vectorized column loop; scores must stay bit-identical to the old
    # interpreted aggregate() fold (the driver hashes rounded doubles)
    from dedup.queries import q_embedding_knn

    _exact_same(_old_knn(spark, SF), q_embedding_knn(spark, SF))


def test_knn_fold_guards_empty_and_null_batches():
    # an empty Arrow batch yields an empty frame instead of np.stack
    # raising; a NULL embedding yields NULL dots and norm
    import pandas as pd

    from dedup.queries import _knn_fold

    Q = np.array([[1.0, 2.0], [0.5, -1.0]])
    empty = _knn_fold(pd.Series([], dtype=object), Q)
    assert list(empty.columns) == ["dots", "nv"] and len(empty) == 0
    out = _knn_fold(pd.Series([np.array([3.0, 4.0]), None]), Q)
    assert list(out["dots"][0]) == [11.0, -2.5] and out["nv"][0] == 5.0
    assert list(out["dots"][1]) == [None, None]
    assert np.isnan(out["nv"][1])


def test_embedding_knn_null_embedding_scores_null(spark, tmp_path):
    # a NULL embedding row ranks with a NULL cosine, exactly as the SQL
    # fold scored it, instead of failing the query
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dedup.queries import q_embedding_knn

    rng = np.random.RandomState(3)
    vecs = [list(rng.randn(8)) for _ in range(3)] + [None]
    pq.write_table(pa.table({
        "vec_id": pa.array([0, 1, 2, 7], pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32()))}),
        tmp_path / "embeddings.parquet")
    sf = str(tmp_path)
    got = q_embedding_knn(spark, sf)
    _exact_same(_old_knn(spark, sf), got)
    nulls = {(r["qid"], r["vec_id"]) for r in got.collect()
             if r["cos_sim"] is None}
    assert nulls == {(0, 7), (1, 7), (2, 7)}


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
