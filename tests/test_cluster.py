"""Connected-components correctness vs a pure-Python union-find oracle."""

from __future__ import annotations

import random

import numpy as np
import pytest

from dedup.cluster import assign_clusters, connected_components


def union_find(edges, vertices=()):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for v in vertices:
        find(v)
    return {v: find(v) for v in parent}


def _check(spark, edges, vertices=()):
    oracle = union_find(edges, vertices)
    expect = {v: r for v, r in oracle.items()}
    df = spark.createDataFrame(edges, "a string, b string")
    # both execution paths must agree with the oracle: the distributed
    # large-star/small-star loop (driver_threshold=0) and the size-gated
    # driver union-find (default)
    for threshold in (0, 2_000_000):
        got = {r["url"]: r["cluster_id"]
               for r in connected_components(
                   df, driver_threshold=threshold).collect()}
        assert got == expect, f"mismatch at driver_threshold={threshold}"


class TestConnectedComponents:
    def test_single_edge(self, spark):
        _check(spark, [("b", "a")])

    def test_chain(self, spark):
        _check(spark, [(f"v{i:03d}", f"v{i + 1:03d}") for i in range(40)])

    def test_two_components_and_clique(self, spark):
        edges = [("a", "b"), ("b", "c"), ("x", "y")]
        edges += [(f"k{i}", f"k{j}") for i in range(6) for j in range(i + 1, 6)]
        _check(spark, edges)

    def test_url_graph(self, spark):
        # url-shaped vertices: the distributed path encodes them to int64
        # ids and recovers each component's min url after propagation
        rng = np.random.RandomState(11)
        _check(spark, [(f"https://site{rng.randint(0, 300)}.org/x",
                        f"https://site{rng.randint(0, 300)}.org/x")
                       for _ in range(400)])

    def test_random_graphs(self, spark):
        rng = random.Random(42)
        for trial in range(3):
            n = 150
            verts = [f"n{i:04d}" for i in range(n)]
            edges = [tuple(rng.sample(verts, 2)) for _ in range(120)]
            _check(spark, edges)

    def test_empty(self, spark):
        df = spark.createDataFrame([], "a string, b string")
        assert connected_components(df).count() == 0

    def test_self_loops_ignored(self, spark):
        df = spark.createDataFrame([("a", "a"), ("a", "b")],
                                   "a string, b string")
        got = {r["url"]: r["cluster_id"]
               for r in connected_components(df).collect()}
        assert got == {"a": "a", "b": "a"}


class TestAssignClusters:
    def test_singletons_included(self, spark):
        corpus = spark.createDataFrame(
            [("u1",), ("u2",), ("u3",), ("u4",)], "url string")
        edges = spark.createDataFrame([("u1", "u3")], "a string, b string")
        got = {r["url"]: r["cluster_id"]
               for r in assign_clusters(corpus, edges).collect()}
        assert got == {"u1": "u1", "u3": "u1", "u2": "u2", "u4": "u4"}


    def test_driver_path_assignment_broadcasts_into_anti_join(self, spark):
        # the driver union-find assignment is bounded by driver_threshold
        # by construction; the singleton anti-join must plan as broadcast,
        # not a corpus-wide sort-merge
        corpus = spark.createDataFrame(
            [(f"u{i}",) for i in range(50)], "url string")
        edges = spark.createDataFrame(
            [("u1", "u2"), ("u2", "u3"), ("u10", "u11")],
            "a string, b string")
        df = assign_clusters(corpus, edges)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        rows = {r["url"]: r["cluster_id"] for r in df.collect()}
        assert rows["u3"] == "u1" and rows["u11"] == "u10"
        assert rows["u42"] == "u42"
        assert len(rows) == 50


class TestMergeAssignments:
    def _assign(self, spark, urls, edges):
        u = spark.createDataFrame([(x,) for x in urls], "url string")
        e = spark.createDataFrame(edges, "a string, b string")
        return assign_clusters(u, e)

    def test_merge_matches_full_recompute(self, spark):
        from dedup.cluster import merge_assignments

        urls = ["a", "b", "c", "d", "e", "x", "y", "solo"]
        initial = [("a", "b"), ("b", "c"), ("d", "e"), ("x", "y")]
        assignments = self._assign(spark, urls, initial)
        # merges two existing clusters; extends one with a new vertex;
        # creates a brand-new cluster from unseen vertices
        new = [("c", "d"), ("y", "z"), ("p", "q")]
        got = {(r["url"], r["cluster_id"])
               for r in merge_assignments(
                   assignments,
                   spark.createDataFrame(new, "a string, b string"))
               .collect()}
        want = {(r["url"], r["cluster_id"])
                for r in self._assign(spark, urls + ["z", "p", "q"],
                                      initial + new).collect()}
        assert got == want
        assert ("solo", "solo") in got          # untouched passes through
        assert ("e", "a") in got                # merged component min id

    def test_merge_random_graphs(self, spark):
        from dedup.cluster import merge_assignments

        rng = random.Random(11)
        verts = [f"v{i:02d}" for i in range(40)]
        initial = [tuple(sorted(rng.sample(verts, 2))) for _ in range(30)]
        new = [tuple(sorted(rng.sample(verts, 2))) for _ in range(15)]
        assignments = self._assign(spark, verts, initial)
        got = {(r["url"], r["cluster_id"])
               for r in merge_assignments(
                   assignments,
                   spark.createDataFrame(new, "a string, b string"))
               .collect()}
        oracle = union_find(initial + new, verts)
        assert got == set(oracle.items())

    def test_clusters_incremental_merges_two_clusters(self, spark):
        """A later edge bridging two existing clusters merges them under the
        min member id, and untouched clusters pass through unchanged."""
        from dedup.cluster import assign_clusters, merge_assignments

        urls = spark.createDataFrame([(u,) for u in "abcdefg"], "url string")
        first = spark.createDataFrame([("a", "b"), ("c", "d"), ("e", "f")],
                                      "a string, b string")
        base = assign_clusters(urls, first)
        bridge = spark.createDataFrame([("b", "c")], "a string, b string")
        merged = {r["url"]: r["cluster_id"]
                  for r in merge_assignments(base, bridge).collect()}
        assert merged == {"a": "a", "b": "a", "c": "a", "d": "a",
                          "e": "e", "f": "e", "g": "g"}


def test_merge_assignments_size_gate_fallback(spark):
    """A drop touching more clusters than the broadcast threshold must
    take the shuffle-join fallback and still produce the exact merged
    assignment (VERDICT r4 #6)."""
    from dedup.cluster import assign_clusters, merge_assignments

    urls = spark.createDataFrame([(f"u{i}",) for i in range(12)],
                                 "url string")
    first = spark.createDataFrame(
        [(f"u{i}", f"u{i+1}") for i in range(0, 12, 2)],
        "a string, b string")  # 6 two-member clusters
    base = assign_clusters(urls, first)
    # bridge edges touching EVERY cluster
    bridges = spark.createDataFrame(
        [(f"u{i+1}", f"u{i+2}") for i in range(0, 10, 2)],
        "a string, b string")
    want = {(r["url"], r["cluster_id"])
            for r in assign_clusters(urls,
                                     first.unionByName(bridges)).collect()}
    got_fallback = {(r["url"], r["cluster_id"])
                    for r in merge_assignments(
                        base, bridges, broadcast_threshold=1).collect()}
    got_broadcast = {(r["url"], r["cluster_id"])
                     for r in merge_assignments(base, bridges).collect()}
    assert got_fallback == want
    assert got_broadcast == want


def _executed_plans(df) -> str:
    """Analyzed logical plan + executed physical plan, after a collect."""
    df.collect()
    qe = df._jdf.queryExecution()
    return f"{qe.analyzed().toString()}\n{qe.executedPlan().toString()}"


def test_driver_built_frames_plan_as_local_relations(spark, tmp_path):
    """The driver union-find assignment and merge_assignments' gated
    cluster ids enter the plan as local Arrow relations, never as Python-RDD
    scans; the p4 singleton anti-join still broadcasts them unhinted."""
    from dedup.cluster import merge_assignments
    from dedup.config import PARITY_CONFIG
    from dedup.pipeline import dedupe_corpus
    from dedup.synth import write_corpus

    corpus_path = str(tmp_path / "corpus")
    write_corpus(spark, corpus_path, n_docs=80, seed=9)
    tables = dedupe_corpus(spark, spark.read.parquet(corpus_path),
                           str(tmp_path / "wd"), PARITY_CONFIG)
    # p4 exactly as the pipeline builds it, over the persisted stage tables
    edges = tables["verified"].where("keep").select("a", "b")
    assert edges.count() > 0
    clusters = assign_clusters(tables["extracted"].select("url"), edges)
    plan = _executed_plans(clusters)
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
    assert "LocalRelation" in plan or "LocalTableScan" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan

    merged = merge_assignments(tables["clusters"], edges.limit(3))
    plan = _executed_plans(merged)
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
    assert "LocalRelation" in plan or "LocalTableScan" in plan, plan
