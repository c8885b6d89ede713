"""The dedup chain signatures -> pairs -> verified -> clusters as its
callers build it through `pipeline.dedup_stages` / `verified_stage`: the
driver queries against their sf0.01 fixture oracles, the batch
equivalence of the incremental queries, engine mode, and the verify plan
of a driver query."""

from __future__ import annotations

import pytest

from harness_oracle import SF_DIR, compare_query, duck_connection

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", [
    "dup_clusters", "dup_clusters_engine", "clusters_incremental",
    "cluster_representatives", "ingest_two_drops", "lsh_candidate_pairs",
    "metadata_block_pairs"])
def test_chain_query_matches_sf001_fixture(spark, name):
    """Every driver query that runs the chain, or its p1 -> p2 prefix,
    returns its frozen single-node oracle rows at sf0.01."""
    from dedup.queries import ORACLE_SQL, QUERIES

    problems = compare_query(spark, duck_connection(SF_DIR), name,
                             QUERIES[name], ORACLE_SQL[name], SF_DIR)
    assert not problems, problems


def test_dup_clusters_verify_plan_is_the_broadcast_plan(spark, monkeypatch):
    """Under the default threshold q_dup_clusters scores its pairs in one
    MapInArrow over the checkpointed pairs: no ArrowEvalPython, no join."""
    import dedup.pipeline as pipeline
    from dedup.queries import q_dup_clusters

    plans = []
    verify_pairs = pipeline.verify_pairs

    def recording(*args, **kwargs):
        df = verify_pairs(*args, **kwargs)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return df

    monkeypatch.setattr(pipeline, "verify_pairs", recording)
    assert q_dup_clusters(spark, SF).count() > 0
    assert len(plans) == 1
    plan = plans[0]
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_clusters_incremental_equals_batch(spark):
    """merge_assignments over a split edge set must equal the full batch
    recompute exactly (url -> cluster_id, component-minimum ids)."""
    from dedup.queries import q_clusters_incremental, q_dup_clusters

    batch = {(r["url"], r["cluster_id"])
             for r in q_dup_clusters(spark, SF).collect()}
    incr = {(r["url"], r["cluster_id"])
            for r in q_clusters_incremental(spark, SF).collect()}
    assert incr == batch


def test_dup_clusters_engine_mirrors_cluster_together(spark):
    """Engine-mode e2e (char shingles + SimHash prefilter + exact Jaccard):
    every planted mirror must land in its original's cluster, and the
    cluster id is the component minimum url."""
    from dedup.queries import q_dup_clusters_engine

    assign = {r["url"]: r["cluster_id"]
              for r in q_dup_clusters_engine(spark, SF).collect()}
    for url, cid in assign.items():
        if url.startswith("https://mirror.net/copy/"):
            doc_id = url.rsplit("/", 1)[1]
            twins = [u for u in assign
                     if u.endswith(f"/docs/{doc_id}")
                     and assign[u] == cid]
            assert twins, f"mirror {url} not clustered with its original"
        assert cid <= url  # component-minimum id


def test_ingest_two_drops_query_equals_batch(spark):
    """The incremental two-drop ingest lands at the BATCH pipeline's
    clustering of the same (subset) corpus — computed here by running the
    batch operators over the identical subset input."""
    from dedup.cluster import assign_clusters
    from dedup.config import PARITY_CONFIG
    from dedup.lsh import candidate_pairs
    from dedup.queries import (STREAM_QUERY_DOC_BOUND, docs_as_corpus,
                               q_ingest_two_drops)
    from dedup.signature import signatures_table
    from dedup.verify import verify_pairs

    got = {(r["url"], r["cluster_id"])
           for r in q_ingest_two_drops(spark, SF).collect()}
    c = (docs_as_corpus(spark, SF)
         .where(f"doc_id < {STREAM_QUERY_DOC_BOUND}")
         .select("url", "text"))
    sigs = signatures_table(c, PARITY_CONFIG).localCheckpoint()
    pairs = candidate_pairs(sigs, PARITY_CONFIG)
    keep = verify_pairs(pairs, sigs, PARITY_CONFIG).where("keep")
    want = {(r["url"], r["cluster_id"])
            for r in assign_clusters(c.select("url"),
                                     keep.select("a", "b")).collect()}
    assert got == want
