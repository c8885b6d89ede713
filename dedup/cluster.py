"""Connected-components clustering — alternating large-star/small-star.

The reference never clusters (it answers per-document queries); the
north-star spec requires corpus-wide connected components over the verified
duplicate edges. GraphFrames is not available, so this is the pure-DataFrame
alternating large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14): converges in O(log n) rounds,
every round is two shuffles, and lineage is truncated with localCheckpoint
each round so plans don't grow unboundedly.

Vertex ids are the document keys (strings); min() over the natural string
ordering picks each component's canonical representative. The distributed
path first DENSE-ENCODES urls to int64 (xxhash64 with a collision check and
seed rotation) so every propagation round shuffles 8-byte ids instead of
~100 B-2 KB URL strings — at 10^12 docs the string width dominates CC cost.
Components are propagated over the int64 graph and the canonical min-URL
representative is recovered afterwards by one decode join + per-component
min, so results are IDENTICAL to the string path (equality-tested)."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("m"))
    mins = mins.select("u", F.least("m", "u").alias("m"))
    return (
        sym.where(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward smaller ids; for each node u connect all its
    smaller neighbors (and u itself) to the minimum one."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    reattach = (
        directed.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    keep = mins.select(F.col("u"), F.col("m").alias("v"))
    return reattach.unionByName(keep).distinct()


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # decimal(38,0) accumulator: sum of int64 hashes overflows long under
    # ANSI mode (Spark 4 default)
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _propagate(e: DataFrame, max_iterations: int) -> DataFrame:
    """Alternating large-star/small-star to convergence; returns the
    converged child -> component-root edge set. Id-type agnostic."""
    e = e.localCheckpoint(eager=True)
    prev = _checksum(e)
    for _ in range(max_iterations):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        cur = _checksum(e)
        if cur == prev:
            return e
        prev = cur
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds")


def _encode_vertices(e: DataFrame) -> DataFrame | None:
    """url -> collision-free int64 dictionary over the edge vertices, or
    None if three seeds in a row collide (fall back to the string path).
    One xxhash64 per vertex; the check is a single count/countDistinct agg.
    P(collision) ~ n^2/2^64 per seed, so the rotation is a formality —
    but silent collisions would merge unrelated clusters, so it's checked."""
    verts = (e.select(F.col("u").alias("url"))
             .unionByName(e.select(F.col("v").alias("url")))
             .distinct())
    for seed in (42, 43, 44):
        d = (verts.select(
            "url", F.xxhash64(F.lit(seed), "url").alias("vid"))
            .localCheckpoint(eager=True))
        row = d.agg(F.count(F.lit(1)).alias("n"),
                    F.countDistinct("vid").alias("nd")).first()
        if row["n"] == row["nd"]:
            return d
    return None


def _local_frame(spark, **cols: list[str]) -> DataFrame:
    """Driver-held string columns -> a DataFrame over one Arrow table. It
    plans as a LocalRelation with exact size statistics, so the planner
    broadcasts it under autoBroadcastJoinThreshold without a hint, where a
    frame built from a Python list is an RDD scan of unknown size."""
    return spark.createDataFrame(pa.table(
        {k: pa.array(v, pa.string()) for k, v in cols.items()}))


def connected_components(edges: DataFrame, max_iterations: int = 30,
                         driver_threshold: int = 200_000,
                         encode_ids: bool = True) -> DataFrame:
    """edges(a, b) -> assignments(url, cluster_id).

    cluster_id is the component's minimum vertex id. Only vertices that
    appear in an edge are returned; callers union singleton docs back with
    cluster_id = their own key (see `assign_clusters`).

    Size-gated hybrid: when the distinct edge set fits comfortably on the
    driver (< driver_threshold), a local union-find answers in milliseconds
    instead of paying O(log n) shuffle rounds — the right plan whenever dup
    edges are a sliver of the corpus. The default gate is 200k edges: with
    web-scale 2 KB URLs that bounds the collect at ~1 GB of driver heap
    worst-case (typical URLs ~100 B → ~40 MB). Larger edge sets (the
    10^12-doc case) take the distributed large-star/small-star path; pass
    driver_threshold=0 to force it (tests do). The driver result is a
    local Arrow relation (`_local_frame`); above
    `spark.sql.execution.arrow.localRelationThreshold` (48 MB by default)
    Spark ships it as an RDD scan instead, and joins against it fall back
    to the planner's default strategy.

    The distributed path propagates over a dense int64 vertex encoding by
    default (see module docstring; encode_ids=False keeps the string
    path). The component set is identical either way, and the cluster_id
    is recomputed as the component-minimum URL after decoding, so outputs
    match the string path exactly.
    """
    e = (edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
         .where(F.col("u") != F.col("v")).distinct())
    spark = edges.sparkSession
    if driver_threshold > 0:
        # single scan: pull at most threshold+1 edges; the sentinel row
        # (if present) sends us down the distributed path
        sample = e.limit(driver_threshold + 1).collect()
        if len(sample) <= driver_threshold:
            parent: dict[str, str] = {}

            def find(x: str) -> str:
                parent.setdefault(x, x)
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for row in sample:
                ra, rb = find(row[0]), find(row[1])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            return _local_frame(spark, url=list(parent),
                                cluster_id=[find(v) for v in parent])
    elif e.isEmpty():
        return _local_frame(spark, url=[], cluster_id=[])

    d = _encode_vertices(e) if encode_ids else None
    if d is not None:
        da = d.select(F.col("url").alias("u"), F.col("vid").alias("_ua"))
        db = d.select(F.col("url").alias("v"), F.col("vid").alias("_vb"))
        ei = (e.join(da, "u").join(db, "v")
              .select(F.col("_ua").alias("u"), F.col("_vb").alias("v")))
        ei = _propagate(ei, max_iterations)
        # converged: child vid -> root vid; roots are their own parents
        assign_int = (ei.unionByName(
            ei.select(F.col("v").alias("u"), F.col("v").alias("v")))
            .distinct())
        labeled = assign_int.join(
            d.withColumnRenamed("vid", "u"), "u").select("url", "v")
        reps = labeled.groupBy("v").agg(F.min("url").alias("cluster_id"))
        return labeled.join(reps, "v").select("url", "cluster_id")

    e = _propagate(e, max_iterations)
    # converged state: every edge points child -> component root
    children = e.select(F.col("u").alias("url"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("url"),
                     F.col("v").alias("cluster_id")).distinct()
    return children.unionByName(roots).distinct()


def merge_assignments(assignments: DataFrame, new_edges: DataFrame,
                      max_iterations: int = 30,
                      broadcast_threshold: int = 200_000) -> DataFrame:
    """Incremental clustering: union new duplicate edges (e.g. from the
    streaming candidate operator) into an existing (url, cluster_id)
    assignment WITHOUT recomputing connected components over the whole
    graph — only clusters touched by a new edge are re-solved.

    Correctness: the stored assignment is the star-compressed form of the
    prior edge set (every member points at its component root), and star
    compression preserves connectivity; so CC over {new edges} ∪ {star
    edges of touched clusters} equals CC over {all prior edges} ∪ {new
    edges} restricted to the touched subgraph, while untouched clusters
    are provably unchanged (no new edge reaches them). cluster_id remains
    the component-minimum url: a merged component's id is the min over all
    its members, exactly what a full recompute yields.

    Scale shape: a crawl drop touches a sliver of the corpus, so the
    touched cluster ids are usually broadcast against the big assignment
    table; the full assignment is scanned once for the member pull and
    once for the anti-join pass-through — no full-graph CC rounds. The
    broadcast is SIZE-GATED by one driver step, the same gate as
    `connected_components`: a bounded limit(broadcast_threshold +
    1).collect() of the touched ids. Under the gate the collected ids
    become a local Arrow relation, which the planner broadcasts from its
    exact size; a pathological drop touching more than
    `broadcast_threshold` clusters falls back to shuffle joins instead of
    blowing the driver/executor broadcast memory. Callers pass edges that
    are cheap to re-read (ingest_drop pins them): the gate and the
    re-solve each scan them.
    """
    touched_urls = (new_edges.select(F.col("a").alias("url"))
                    .unionByName(new_edges.select(F.col("b").alias("url"))))
    touched_clusters = (assignments.join(touched_urls, "url", "left_semi")
                        .select("cluster_id").distinct())
    ids = touched_clusters.limit(broadcast_threshold + 1).collect()
    if len(ids) <= broadcast_threshold:
        tc = _local_frame(assignments.sparkSession,
                          cluster_id=[r[0] for r in ids])
    else:
        tc = touched_clusters
    affected = assignments.join(tc, "cluster_id")
    star = (affected.where(F.col("url") != F.col("cluster_id"))
            .select(F.col("cluster_id").alias("a"), F.col("url").alias("b")))
    sub_urls = (affected.select("url").unionByName(touched_urls).distinct())
    merged = assign_clusters(sub_urls,
                             new_edges.select("a", "b").unionByName(star),
                             max_iterations)
    untouched = assignments.join(tc, "cluster_id", "left_anti")
    return untouched.select("url", "cluster_id").unionByName(merged)


def assign_clusters(corpus_keys: DataFrame, edges: DataFrame,
                    max_iterations: int = 30) -> DataFrame:
    """All documents -> (url, cluster_id); documents with no duplicate edge
    form singleton clusters keyed by their own url. A driver-built
    component table is a local relation, so the singleton anti-join
    broadcasts it instead of shuffling and sorting the corpus keys."""
    comp = connected_components(edges, max_iterations)
    singletons = (
        corpus_keys.select("url")
        .join(comp.select("url"), "url", "left_anti")
        .select("url", F.col("url").alias("cluster_id"))
    )
    return comp.unionByName(singletons)
