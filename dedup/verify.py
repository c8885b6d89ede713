"""Candidate-pair verification: cosine (parity) and exact Jaccard (engine).

The reference scores a pair as the cosine of the two MinHash signature
vectors — NOT a Jaccard estimate (reference app/hash_detector.py:138-154,
formula at :153). Parity runs must therefore use cosine; engine mode adds
exact Jaccard over the shingle sets (the north-star's "exact verification").

Every score in the engine comes from one of two batched Arrow kernels, which
the per-document lookups in dedup/kernel.py share:
- cosine: `_cosines_from_matrices` over `_list_array_matrix` views of the
  signature ListArrays — batched BLAS, bit-identical to the reference's
  per-pair float64 ``np.dot / (norm * norm)`` (verified in tests);
- exact Jaccard: `batch_jaccards`, ONE searchsorted over the flattened
  (pair_id << 32 | shingle) composite keys of two shingle ListArrays — no
  per-pair Python loop anywhere.

Scale notes:
- candidate pairs arrive as a slim (a, b) table; signatures are joined back
  by key here so the wide arrays never ride through the banding shuffle.
- parity (cosine) mode has a second plan for a signature table that fits a
  broadcast: `broadcast_signatures` is an explicit driver step (one bounded
  collect) that ships every worker the (urls, float64 matrix) pair once;
  `verify_pairs` then reads the pairs in ONE mapInArrow that scores rows
  by index, so only the two url strings of a pair cross the Python
  boundary, not its two signature arrays. The gate's row bound is
  spark.sql.autoBroadcastJoinThreshold // (8 * num_hashes) — the bytes of
  the matrix under the planner's own broadcast budget; above it, with
  duplicate signed urls, or in engine mode the join plan runs. Every
  caller reaches both through `pipeline.verified_stage`, which runs the
  gate, owns the broadcast and destroys it after the caller's last read.
- engine (jaccard) mode is two-phase: a NATIVE MinHash-estimate prefilter
  over the already-joined signature vectors rejects most non-duplicate
  pairs before the 10-100x wider shingle arrays are joined at all.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from dedup.config import DedupConfig, minhash_prefilter_min_equal


def cosine_similarity(sig1: np.ndarray, sig2: np.ndarray) -> float:
    """Reference-identical cosine on float64 vectors
    (parity: app/hash_detector.py:149-154)."""
    if sig1 is None or sig2 is None:
        return 0.0
    s1 = sig1.astype(np.float64, copy=False)
    s2 = sig2.astype(np.float64, copy=False)
    return float(np.dot(s1, s2) / (np.linalg.norm(s1) * np.linalg.norm(s2)))


def _cosines_from_matrices(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Batched reference cosine over two (n, k) float64 matrices: batched
    BLAS matmul scores every pair at once, BIT-IDENTICAL to the
    reference's per-pair np.dot / np.linalg.norm (same BLAS kernels;
    verified by tests/test_signature.py cosine parity) — unlike
    einsum/sum(axis=1), whose pairwise summation differs from ddot in the
    last ulp."""
    dots = np.matmul(A[:, None, :], B[:, :, None]).ravel()
    na = np.sqrt(np.matmul(A[:, None, :], A[:, :, None]).ravel())
    nb = np.sqrt(np.matmul(B[:, None, :], B[:, :, None]).ravel())
    return dots / (na * nb)


def _list_array_matrix(arr) -> np.ndarray:
    """pyarrow ListArray of equal-length numeric lists -> (n, k) float64
    matrix: one zero-copy view of the values buffer + one vectorized cast
    instead of the per-row copies np.stack pays on a pandas object Series.
    Null rows or ragged lengths raise ValueError — a bare reshape would
    misalign every row after the first short one."""
    n = len(arr)
    if n == 0:
        return np.zeros((0, 1), dtype=np.float64)
    lens = np.diff(np.asarray(arr.offsets))
    if arr.null_count or (lens != lens[0]).any():
        raise ValueError(
            f"expected {n} equal-length non-null lists, got "
            f"{arr.null_count} nulls and lengths {lens.min()}..{lens.max()}")
    return (np.asarray(arr.flatten(), dtype=np.int64)
            .reshape(n, int(lens[0])).astype(np.float64))


def batch_jaccards(sh_a, sh_b) -> np.ndarray:
    """Exact Jaccard for two Arrow ListArrays of (sorted, distinct, < 2^32)
    shingle sets, row by row, with ONE np.searchsorted — no per-pair loop.
    A null row is the empty set.

    Shingle hashes are 32-bit values (dedup/signature.py), so packing
    (pair_id << 32 | value) into int64 yields composite keys that are
    globally sorted when concatenated in pair order (each per-pair array is
    stored sorted). One binary search of all A-side keys into the B-side
    buffer then counts every pairwise intersection at once; per-pair
    intersection sizes come back via bincount over the matched pair ids.
    """
    n = len(sh_a)

    def composite(arr):
        lens = np.asarray(pc.list_value_length(arr).fill_null(0),
                          dtype=np.int64)
        # stored arrays are int32 BIT PATTERNS of the uint32 hashes (see
        # dedup/signature.SIGNATURE_SCHEMA); masking after the int64 widen
        # reconstructs the unsigned values, under which each array is
        # sorted. (A nonnegative int64 array passes through unchanged.)
        # flatten() skips null rows, which the zero lengths account for.
        vals = np.asarray(arr.flatten(), dtype=np.int64) & 0xFFFFFFFF
        pid = np.repeat(np.arange(n, dtype=np.int64), lens)
        return lens, pid, (pid << 32) | vals

    lens_a, pid_a, comp_a = composite(sh_a)
    lens_b, _, comp_b = composite(sh_b)
    if comp_b.size and comp_a.size:
        idx = np.searchsorted(comp_b, comp_a)
        np.minimum(idx, comp_b.size - 1, out=idx)
        matched = comp_b[idx] == comp_a
        inter = np.bincount(pid_a[matched], minlength=n)
    else:
        inter = np.zeros(n, dtype=np.int64)
    union = lens_a + lens_b - inter
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(union > 0, inter / union, 0.0)


MIXED_SHINGLES_ERROR = (
    "scoring='jaccard' hit a signed row with NULL shingles{}: the "
    "signatures table mixes keep_shingles=False rows — rebuild it under "
    "one engine config")

_VERIFIED_SCHEMA = ("a string, b string, match_source string, "
                    "similarity double, jaccard double, keep boolean")


def minhash_estimate_equal_count_col(sig_a="_sig_a", sig_b="_sig_b"):
    """Number of equal MinHash components between two signature columns —
    k times the standard MinHash Jaccard estimate, as an exact BIGINT.
    Pure native expression (whole-stage codegen)."""
    return F.expr(
        f"size(filter(zip_with({sig_a}, {sig_b}, (x, y) -> x = y), v -> v))")


def broadcast_signatures(signatures: DataFrame, cfg: DedupConfig,
                         n_rows: int = -1):
    """The gate step of the broadcast verify plan: ONE bounded collect of
    the signed (url, minhash) rows -> a Spark broadcast of
    (pd.Index of urls, (n, num_hashes) float64 matrix) for
    `verify_pairs(..., sig_broadcast=)`. Returns None, and the caller keeps
    the join plan, when:
    - cfg.scoring is "jaccard" (the shingle arrays are joined too);
    - more than spark.sql.autoBroadcastJoinThreshold // (8 * num_hashes)
      rows are signed, i.e. the matrix exceeds the planner's own broadcast
      budget (a threshold of -1 means no broadcast). The collect reads at
      most bound + 1 rows, like `connected_components`' gate, unless the
      caller passes the table's total row count `n_rows` (the pipeline's
      footer count of the signatures stage it just wrote; -1 when
      unknown) and it is within the bound: total rows >= signed rows, so
      the collect then needs no limit, whose CollectLimit would add a
      single-partition exchange;
    - a signed url repeats: the join emits one row per matching signature
      row, which a url -> row index cannot reproduce.
    The caller (`pipeline.verified_stage`) owns the broadcast and
    destroy()s it after its last read of the verified frame. A
    pd.Index builds its hash table on its first lookup and keeps it, and a
    worker keeps a broadcast value across tasks, so each worker builds the
    url index once."""
    if cfg.scoring == "jaccard":
        return None
    spark = signatures.sparkSession
    budget = (spark._jsparkSession.sessionState().conf()
              .autoBroadcastJoinThreshold())
    if budget < 0:
        return None
    bound = budget // (8 * cfg.num_hashes)
    rows = (signatures.select("url", "minhash")
            .where(F.col("url").isNotNull() & F.col("minhash").isNotNull()))
    if not 0 <= n_rows <= bound:
        rows = rows.limit(bound + 1)
    signed = rows.toArrow()
    if signed.num_rows > bound:
        return None
    urls = pd.Index(signed.column("url").to_numpy())
    if not urls.is_unique:
        return None
    return spark.sparkContext.broadcast(
        (urls, _list_array_matrix(signed.column("minhash").combine_chunks())))


def _verify_indexed(pairs: DataFrame, sig_broadcast,
                    threshold: float) -> DataFrame:
    """verify_pairs' broadcast plan: one mapInArrow over the pairs."""
    def score(batches):
        index, matrix = sig_broadcast.value
        for rb in batches:
            source = rb.column("match_source")
            exact = pc.equal(source, "url_exact").fill_null(False).to_numpy(
                zero_copy_only=False)
            ia = index.get_indexer(rb.column("a").to_numpy(
                zero_copy_only=False))
            ib = index.get_indexer(rb.column("b").to_numpy(
                zero_copy_only=False))
            scored = (pc.not_equal(source, "url_exact").fill_null(False)
                      .to_numpy(zero_copy_only=False)
                      & (ia >= 0) & (ib >= 0))
            sims = np.ones(len(ia))  # url_exact rows score 1.0
            sims[scored] = _cosines_from_matrices(matrix[ia[scored]],
                                                  matrix[ib[scored]])
            take = exact | scored
            exact = exact[take]
            sim = pa.array(sims[take], from_pandas=True)  # NaN -> NULL
            out = rb.select(["a", "b", "match_source"]).filter(pa.array(take))
            yield pa.RecordBatch.from_pydict({
                **dict(zip(out.schema.names, out.columns)),
                "similarity": sim,
                "jaccard": pa.array(np.where(exact, 1.0, np.nan),
                                    from_pandas=True),
                "keep": pc.or_kleene(pa.array(exact),
                                     pc.greater_equal(sim, threshold))})

    return (pairs.select("a", "b", "match_source")
            .mapInArrow(score, schema=_VERIFIED_SCHEMA))


def verify_pairs(pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig,
                 sig_broadcast=None) -> DataFrame:
    """(a, b [, match_source]) + signatures -> verified pairs with scores.

    Output: a, b, match_source, similarity (reference cosine scoring),
    jaccard (exact, on the shingle sets), keep (boolean decision).

    url_exact pairs keep similarity 1.0 and bypass the threshold, matching
    the reference short-circuit (app/hash_detector.py:263-266, :295-297);
    they never reach the scoring stage.

    Parity (cosine) mode has two plans, with the same rows and bit-equal
    scores:
    - with `sig_broadcast` (from `broadcast_signatures`): ONE mapInArrow
      reads the pairs once. url_exact rows pass with (1.0, 1.0, True);
      every other row looks both urls up in the broadcast url index and is
      dropped when a side is unsigned (the join's inner semantics), else
      scored by `_cosines_from_matrices` over the two matrix rows. NaN
      becomes NULL, and keep is similarity >= threshold with NULL
      propagating as in SQL. Only the pair's url strings and
      match_source cross the Python boundary;
    - without it: ONE nondeterministic `arrow_udf` column over the
      natively-joined signature pairs (`_cosines_from_matrices`). Only the
      two signature arrays cross the Python boundary; the keep comparison
      stays in SQL. asNondeterministic stops CollapseProject from inlining
      the UDF once per referencing expression (keep + similarity) and stops
      filter pushdown from re-evaluating it below `where(keep)`, so the
      plan holds exactly one ArrowEvalPython. It runs where the gate
      declines: over its row bound, or with a repeated signed url.

    Engine (jaccard) mode adds a native prefilter BEFORE the shingle join:
    the MinHash Jaccard estimate (equal-component count over the two
    signatures, free once the narrow minhash columns are joined) rejects
    pairs estimating below jaccard_threshold - jaccard_prefilter_margin.
    Rejected pairs are emitted with NULL scores and keep=false — they never
    carry shingle arrays and never enter Python. Survivors join the shingle
    arrays by key and are scored by ONE mapInArrow with both kernels
    (cosine and batch_jaccards). The prefilter is a deterministic pure
    function of the signatures and is replicated exactly by the single-node
    oracle (dedup/local_oracle.local_verify), so Spark and oracle keep
    decisions agree bit-for-bit.
    """
    if "match_source" not in pairs.columns:
        pairs = pairs.withColumn("match_source", F.lit("lsh"))
    if sig_broadcast is not None:
        return _verify_indexed(pairs, sig_broadcast, cfg.threshold)
    sig = (signatures.select("url", "minhash")
           .where(F.col("minhash").isNotNull()))
    sa = sig.select(F.col("url").alias("a"), F.col("minhash").alias("_sig_a"))
    sb = sig.select(F.col("url").alias("b"), F.col("minhash").alias("_sig_b"))

    url_exact = pairs.where(F.col("match_source") == "url_exact").select(
        "a", "b", "match_source",
        F.lit(1.0).alias("similarity"),
        F.lit(1.0).alias("jaccard"),
        F.lit(True).alias("keep"),
    )

    joined = (pairs.where(F.col("match_source") != "url_exact")
              .join(sa, "a").join(sb, "b"))

    if cfg.scoring != "jaccard":
        def _cosine_arrow(sig_a, sig_b):
            return pa.array(
                _cosines_from_matrices(_list_array_matrix(sig_a),
                                       _list_array_matrix(sig_b)),
                type=pa.float64(), from_pandas=True)  # NaN -> NULL

        # real type objects: `from __future__ import annotations` would
        # stringify inline hints, which arrow_udf's inference rejects
        _cosine_arrow.__annotations__ = {
            "sig_a": pa.Array, "sig_b": pa.Array, "return": pa.Array}
        cosine_udf = F.arrow_udf(_cosine_arrow, "double")

        scored = (joined
                  .withColumn("similarity",
                              cosine_udf.asNondeterministic()(
                                  "_sig_a", "_sig_b"))
                  .select(
                      # nullif(null) never fires; the wrappers only pin
                      # the all-nullable output schema
                      F.nullif("a", F.lit(None).cast("string")).alias("a"),
                      F.nullif("b", F.lit(None).cast("string")).alias("b"),
                      F.nullif("match_source", F.lit(None).cast("string"))
                      .alias("match_source"),
                      F.col("similarity"),
                      F.lit(None).cast("double").alias("jaccard"),
                      (F.col("similarity") >= F.lit(cfg.threshold))
                      .alias("keep")))
        return url_exact.unionByName(scored)

    # --- engine (jaccard) mode -------------------------------------------
    # rejected + survivors both derive from with_est, so the join above is
    # planned twice; AQE reuses the exchange, and a persisted with_est
    # measured no wall-clock win at bench scale.
    min_equal = minhash_prefilter_min_equal(cfg)
    with_est = joined.withColumn("_est", minhash_estimate_equal_count_col())
    rejected = (with_est.where(F.col("_est") < min_equal)
                .select("a", "b", "match_source",
                        F.lit(None).cast("double").alias("similarity"),
                        F.lit(None).cast("double").alias("jaccard"),
                        F.lit(False).alias("keep")))
    survivors = with_est.where(F.col("_est") >= min_equal).drop("_est")
    sh = signatures.select("url", "shingles")
    sha = sh.select(F.col("url").alias("a"), F.col("shingles").alias("_sh_a"))
    shb = sh.select(F.col("url").alias("b"), F.col("shingles").alias("_sh_b"))
    survivors = survivors.join(sha, "a").join(shb, "b")

    def score_jaccard(batches):
        for rb in batches:
            # every row here carries a non-null minhash (the signature
            # join filters unsigned docs), so a null shingle array means a
            # MIXED signatures table (parity-slim rows appended into an
            # engine workdir, or a pre-keep_shingles resume) — fail loudly
            # instead of silently scoring 0.0/keep=false
            for side, key in (("_sh_a", "a"), ("_sh_b", "b")):
                col = rb.column(side)
                if col.null_count:
                    bad = rb.column(key).filter(col.is_null())[0].as_py()
                    raise ValueError(
                        MIXED_SHINGLES_ERROR.format(f" (url={bad!r})"))
            sims = _cosines_from_matrices(
                _list_array_matrix(rb.column("_sig_a")),
                _list_array_matrix(rb.column("_sig_b")))
            jacs = batch_jaccards(rb.column("_sh_a"), rb.column("_sh_b"))
            yield pa.RecordBatch.from_pydict({
                "a": rb.column("a"), "b": rb.column("b"),
                "match_source": rb.column("match_source"),
                "similarity": pa.array(sims, from_pandas=True),  # NaN->NULL
                "jaccard": jacs, "keep": jacs >= cfg.jaccard_threshold})

    scored = survivors.mapInArrow(score_jaccard, schema=_VERIFIED_SCHEMA)
    return url_exact.unionByName(scored).unionByName(rejected)
