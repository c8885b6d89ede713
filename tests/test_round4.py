"""Round-4 coverage: fully-vectorized engine Jaccard verify (flattened
searchsorted + native MinHash-estimate prefilter), trained IVF quantizer
(artifact + recall), --scoring CLI flag."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

SF = "/root/testdata/sf0.001"


# --- verify: flattened batch Jaccard kernel ---------------------------------

def _brute_jaccard(a, b):
    sa, sb = set(a), set(b)
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


def test_batch_jaccards_equals_bruteforce():
    import pyarrow as pa

    from dedup.verify import batch_jaccards

    rng = np.random.RandomState(7)
    pairs_a, pairs_b = [], []
    for _ in range(200):
        na, nb = rng.randint(0, 40, size=2)
        common = rng.randint(0, 2**32, size=rng.randint(0, 20))
        a = np.unique(np.r_[rng.randint(0, 2**32, size=na), common])
        b = np.unique(np.r_[rng.randint(0, 2**32, size=nb), common])
        pairs_a.append(a.astype(np.int64))
        pairs_b.append(b.astype(np.int64))
    # edge shapes: empty-vs-empty, empty-vs-full, None
    pairs_a += [np.empty(0, np.int64), np.empty(0, np.int64), None]
    pairs_b += [np.empty(0, np.int64), np.array([5], np.int64),
                np.array([5], np.int64)]
    got = batch_jaccards(pa.array(pairs_a, type=pa.list_(pa.int64())),
                         pa.array(pairs_b, type=pa.list_(pa.int64())))
    for i, (a, b) in enumerate(zip(pairs_a, pairs_b)):
        want = _brute_jaccard([] if a is None else a.tolist(),
                              [] if b is None else b.tolist())
        assert got[i] == pytest.approx(want, abs=0), i


def test_list_array_matrix_rejects_ragged_and_null_rows():
    import pyarrow as pa

    from dedup.verify import _list_array_matrix

    ok = pa.array([[1, 2], [3, 4], [5, 6]], type=pa.list_(pa.int64()))
    assert _list_array_matrix(ok.slice(1)).tolist() == [[3.0, 4.0],
                                                         [5.0, 6.0]]
    # the first case's total length divides evenly (6 = 3 * 2) — a bare
    # reshape would silently misalign its rows
    for bad in ([[1, 2], [3], [4, 5, 6]], [[1], [2, 3], [4, 5]],
                [[1, 2], None]):
        with pytest.raises(ValueError):
            _list_array_matrix(pa.array(bad, type=pa.list_(pa.int64())))


def test_engine_prefilter_never_drops_true_dups(spark):
    """dup_clusters_engine (prefilter active) still equals the oracle
    fixture path: planted mirrors co-cluster."""
    from dedup.queries import q_dup_clusters, q_dup_clusters_engine

    eng = {(r["url"], r["cluster_id"])
           for r in q_dup_clusters_engine(spark, SF).collect()}
    by_cluster: dict[str, set] = {}
    for u, c in eng:
        by_cluster.setdefault(c, set()).add(u)
    mirrors = [u for u, _ in eng if u.startswith("https://mirror.net/")]
    assert mirrors
    # every planted mirror copy co-clusters with its non-mirror original
    # (mirror urls sort first, so they are usually the representative)
    for u, c in eng:
        if u.startswith("https://mirror.net/"):
            members = by_cluster[c]
            assert any(not m.startswith("https://mirror.net/")
                       for m in members), (u, members)


def _slow_rolling(s: bytes, k: int):
    """Per-window reference of the engine char-shingle spec."""
    M, B = 1 << 32, 0x9E3779B1

    def fmix(x):
        x ^= x >> 16
        x = (x * 0x85EBCA6B) % M
        x ^= x >> 13
        x = (x * 0xC2B2AE35) % M
        x ^= x >> 16
        return x

    k = min(k, len(s))
    return sorted({
        fmix(sum(s[i + j] * pow(B, j, M) for j in range(k)) % M)
        for i in range(len(s) - k + 1)})


@given(st.lists(st.text(st.characters(blacklist_categories=("Cs",)),
                        min_size=1, max_size=8),
                min_size=1, max_size=25),
       st.sampled_from([3, 9, 25]))
@settings(max_examples=40, deadline=None)
def test_rolling_char_shingles_match_spec(words, k):
    """Vectorized rolling hash == per-window spec, incl. multi-byte
    UTF-8 (windows slide over BYTES of the encoded join)."""
    from dedup.signature import char_shingle_hashes

    got = char_shingle_hashes(words, k)
    assert got.tolist() == _slow_rolling(" ".join(words).encode(), k)


@given(st.lists(st.tuples(
    st.lists(st.integers(0, 2**32 - 1), max_size=30),
    st.lists(st.integers(0, 2**32 - 1), max_size=30)), max_size=20))
@settings(max_examples=40, deadline=None)
def test_batch_jaccards_property(pairs):
    import pyarrow as pa

    from dedup.verify import batch_jaccards

    a = [np.array(sorted(set(x)), dtype=np.int64) for x, _ in pairs]
    b = [np.array(sorted(set(y)), dtype=np.int64) for _, y in pairs]
    got = batch_jaccards(pa.array(a, type=pa.list_(pa.int64())),
                         pa.array(b, type=pa.list_(pa.int64())))
    for i, (x, y) in enumerate(pairs):
        assert got[i] == _brute_jaccard(x, y)


# --- trained IVF quantizer ---------------------------------------------------

def _emb_rows():
    con = duckdb.connect()
    return con.execute(
        f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet' "
        "ORDER BY vec_id").fetchall()


def test_train_kmeans_deterministic_and_normalized():
    from dedup.ann_index import train_kmeans

    rng = np.random.RandomState(3)
    M = rng.randn(500, 16)
    C1 = train_kmeans(M, 32)
    C2 = train_kmeans(M.copy(), 32)
    assert np.array_equal(C1, C2)
    assert np.allclose(np.linalg.norm(C1, axis=1), 1.0)


def test_ivf_trained_matches_oracle_and_recall(spark):
    """q_embedding_knn_ivf_trained == single-node replica; trained
    quantizer recall vs brute-force truth is within 2pp of (or better
    than) the sampling quantizer."""
    from dedup import local_oracle as lo
    from dedup.queries import (ANN_BUCKET_CAP, ANN_COS_MIN,
                               q_embedding_knn_ivf,
                               q_embedding_knn_ivf_trained)

    got = {(r["a"], r["b"], r["cos_sim"])
           for r in q_embedding_knn_ivf_trained(spark, SF).collect()}
    emb = _emb_rows()
    want = set(lo.local_ivf_trained_pairs(emb, ANN_COS_MIN, ANN_BUCKET_CAP))
    assert got == want

    # brute-force truth above the cosine floor
    M = np.stack([np.asarray(v, dtype=np.float64) for _, v in emb])
    ids = [int(i) for i, _ in emb]
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn.T
    truth = {(ids[i], ids[j])
             for i in range(len(ids)) for j in range(i + 1, len(ids))
             if sims[i, j] > ANN_COS_MIN + 1e-9}
    trained_pairs = {(a, b) for a, b, _ in got}
    sampling_pairs = {(r["a"], r["b"])
                      for r in q_embedding_knn_ivf(spark, SF).collect()}
    r_trained = len(trained_pairs & truth) / len(truth)
    r_sampling = len(sampling_pairs & truth) / len(truth)
    assert r_trained >= r_sampling - 0.02, (r_trained, r_sampling)
    assert r_trained > 0.3


def test_ivf_index_artifact_roundtrip_and_mismatch(spark, tmp_path):
    from pyspark.sql import functions as F

    from dedup.ann_index import (build_ivf_index, ivf_index_config,
                                 load_ivf_index)
    from dedup.queries import _emb

    e = _emb(spark, SF).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    path = str(tmp_path / "ivf_index")
    C = build_ivf_index(spark, e, path, k=32)
    expect = ivf_index_config(0, 0, 0)  # only kind/version/seed/... checked
    C2 = load_ivf_index(spark, path, expect)
    assert np.array_equal(C, C2)
    with pytest.raises(ValueError, match="mismatch"):
        load_ivf_index(spark, path, dict(expect, iters=99))
    import os
    os.remove(f"{path}/_manifest.json")
    with pytest.raises(ValueError, match="manifest"):
        load_ivf_index(spark, path, expect)


# --- training-pipeline extras: decontamination + repetition gate -------------

def _duck(sf, sql):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet'")
    return con.execute(sql).fetchall()


def test_decontaminate_matches_duckdb(spark):
    from dedup.queries import ORACLE_SQL, q_decontaminate

    got = [(r["doc_id"], r["n_hit_grams"], r["contaminated"])
           for r in q_decontaminate(spark, SF).collect()]
    want = _duck(SF, ORACLE_SQL["decontaminate"])
    assert got == [tuple(w) for w in want]
    # the planted eval split must flag at least the exact-duplicate texts
    assert all(d >= 50 for d, _, _ in got)


def test_pii_redact_matches_duckdb(spark):
    from dedup.queries import ORACLE_SQL, q_pii_redact

    got = [(r["doc_id"], r["n_emails"], r["n_phones"], r["clean_md5"])
           for r in q_pii_redact(spark, SF).collect()]
    want = _duck(SF, ORACLE_SQL["pii_redact"])
    assert got == [tuple(w) for w in want]
    # the planted contact line is found and redacted in every doc, and the
    # md5 equality above proves byte-identical redaction cross-engine
    assert all(e >= 1 and p >= 1 for _, e, p, _ in got)


def test_repetition_filter_matches_duckdb(spark):
    from dedup.queries import ORACLE_SQL, q_repetition_filter

    got = [(r["doc_id"], r["n_bigrams"], r["top_bigram_n"], r["keep"])
           for r in q_repetition_filter(spark, SF).collect()]
    want = _duck(SF, ORACLE_SQL["repetition_filter"])
    assert got == [tuple(w) for w in want]
    assert got  # integer-only decision: exact cross-engine equality
