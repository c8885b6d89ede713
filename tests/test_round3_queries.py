"""Round-3 coverage queries: semantic dedup, streaming pairs as a driver
row, checkpoint-resume as a driver row, M3/M5 response-layer parity,
engine-config signatures, T4 coefficients.

All at sf0.001 for speed; the sf0.01 driver-gate equivalents are frozen by
tools/gen_oracle_fixtures.py --check.
"""

from __future__ import annotations

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


def test_semantic_dedup_matches_local_replica(spark):
    from dedup import local_oracle as lo
    from dedup.queries import SEM_CELL_CAP, SEM_DEDUP_T, q_semantic_dedup

    got = {(r["vec_id"], r["cell"], r["keep"], r["rep_id"])
           for r in q_semantic_dedup(spark, SF).collect()}
    con = duckdb.connect()
    emb = con.execute(
        f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet' "
        "ORDER BY vec_id").fetchall()
    emb_planted = list(emb) + [(vid + 100000, v) for vid, v in emb
                               if vid < 50]
    want = set(lo.local_semantic_dedup(emb_planted, SEM_DEDUP_T,
                                       SEM_CELL_CAP))
    assert got == want
    # every planted clone is dropped with its original as representative
    dropped = {vid: rep for vid, _, keep, rep in got if not keep}
    for vid in range(50):
        assert dropped.get(100000 + vid) == vid


def test_stream_pairs_matches_replica(spark):
    from dedup import local_oracle as lo
    from dedup.config import PARITY_CONFIG
    from dedup.queries import q_stream_pairs

    from dedup.queries import STREAM_QUERY_DOC_BOUND

    got = [(r["a"], r["b"], r["match_source"])
           for r in q_stream_pairs(spark, SF).collect()]
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text, source FROM '{SF}/documents.parquet' "
        "ORDER BY doc_id").fetchall()
    corpus = [(f"https://www.{src}.example.com/docs/{d}", t, int(d))
              for d, t, src in rows]
    corpus += [(f"https://mirror.net/copy/{d}", t, d)
               for _, t, d in [(u, t, d) for u, t, d in corpus if d < 50]]
    corpus = [(u, t, d) for u, t, d in corpus
              if d < STREAM_QUERY_DOC_BOUND]
    drops = [[(u, t) for u, t, d in corpus if d % 2 == 0],
             [(u, t) for u, t, d in corpus if d % 2 == 1]]
    want = lo.local_stream_pairs(drops, PARITY_CONFIG)
    assert sorted(got) == want
    # cross-drop recall: an even/odd pair can only exist via persisted state
    assert any((a.endswith("/0") and b.endswith("/1")) or "copy" in a
               for a, b, _ in got)


@pytest.mark.parametrize("name", ["config_clamp", "pipeline_resume",
                                  "quality_filter", "top_terms",
                                  "stream_windowed_counts", "line_dedup",
                                  "domain_stats", "sample_split"])
def test_inline_sql_oracles_match(spark, name):
    """The two new inline-VALUES oracles replicate the driver compare."""
    from tests.harness_oracle import compare_query, duck_connection

    from dedup.queries import ORACLE_SQL, QUERIES

    con = duck_connection(SF)
    problems = compare_query(spark, con, name, QUERIES[name],
                             ORACLE_SQL[name], SF)
    assert not problems, problems


def test_permutation_coeffs_match_reference(spark, detector):
    from dedup.queries import q_permutation_coeffs

    rows = q_permutation_coeffs(spark, SF).collect()
    assert [(r["a"], r["b"]) for r in rows] == list(
        zip(detector.coeff_a, detector.coeff_b))


def test_candidate_stats_reference_semantics(spark):
    from dedup.queries import q_candidate_stats

    rows = {r["search_field"]: r
            for r in q_candidate_stats(spark, SF).collect()}
    t = rows["title"]
    # display truncation with '...' (app/main.py:185,192)
    assert t["search_value"].endswith("...") and \
        len(t["search_value"]) == 83
    assert t["normalized_value"].endswith("...") and \
        len(t["normalized_value"]) == 53
    # the source doc itself is in the pool -> field max similarity is 1.0
    assert t["max_similarity"] == 1.0
    assert rows["url"]["max_similarity"] is None


def test_minhash_signatures_engine_matches_local(spark):
    from dedup import local_oracle as lo
    from dedup.config import ENGINE_CONFIG
    from dedup.queries import q_minhash_signatures_engine

    got = {(r["url"], r["sig_len"], r["n_tokens"], r["sig0"], r["simhash"])
           for r in q_minhash_signatures_engine(spark, SF).collect()}
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text, source FROM '{SF}/documents.parquet' "
        "ORDER BY doc_id").fetchall()
    corpus = [(f"https://www.{src}.example.com/docs/{d}", t)
              for d, t, src in rows]
    corpus += [(f"https://mirror.net/copy/{d}", t)
               for d, t, _ in rows if int(d) < 50]
    want = {(s.url,
             len(s.minhash) if s.minhash is not None else None,
             s.n_tokens,
             int(s.minhash[0]) if s.minhash is not None else None,
             s.simhash)
            for s in lo.local_signatures(corpus, ENGINE_CONFIG)}
    assert got == want
