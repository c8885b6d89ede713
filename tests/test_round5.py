"""Round-5 fixes: zero-norm embeddings through the ANN/semantic query
UDFs (the guard landed in dedup/ann_index.py in round 4 — these tests pin
it in the queries.py UDF path and the single-node oracle too)."""

from __future__ import annotations

import math

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def zero_vec_sf_dir(spark, tmp_path_factory):
    """A temp sf-dir whose embeddings table is the sf0.001 set plus TWO
    planted all-zero vectors — one on a centroid id (vec_id % mod == 0
    territory) and one off — so both the centroid matrix and the batch
    side of the normalized matmuls see a zero row."""
    base = tmp_path_factory.mktemp("zerovec")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    n = emb.count()
    # centroids are rows with vec_id % mod == 0 (mod = 16 at this n), so
    # the first zero goes on the next multiple of 16 (a CENTROID id — the
    # centroid matrix itself contains a zero row) and the second just past
    # it (a plain member)
    cid = -(-n // 16) * 16
    zeros = spark.createDataFrame(
        [(cid, [0.0] * dim), (cid + 1, [0.0] * dim)],
        "vec_id bigint, embedding array<double>")
    (emb.select("vec_id", "embedding").unionByName(zeros)
     .write.parquet(f"{base}/embeddings.parquet"))
    return str(base)


def _vec_rows(spark, sf_dir):
    return [(r["vec_id"], list(r["embedding"]))
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .orderBy("vec_id").collect()]


def test_ivf_query_survives_zero_vectors(spark, zero_vec_sf_dir):
    """A planted zero embedding must not NaN-poison the Arrow batch's cell
    assignments: every emitted cos_sim is finite and the pair set equals
    the independently-guarded single-node oracle."""
    from dedup import local_oracle as lo
    from dedup.queries import ANN_BUCKET_CAP, ANN_COS_MIN, q_embedding_knn_ivf

    got = [(r["a"], r["b"], r["cos_sim"])
           for r in q_embedding_knn_ivf(spark, zero_vec_sf_dir).collect()]
    assert got, "query emitted no pairs"
    assert all(math.isfinite(c) for _, _, c in got)
    want = lo.local_ivf_pairs(_vec_rows(spark, zero_vec_sf_dir),
                              ANN_COS_MIN, ANN_BUCKET_CAP)
    assert got == want


def test_semantic_dedup_survives_zero_vectors(spark, zero_vec_sf_dir):
    """Zero vectors get a deterministic cell (argmax over an all-zero sim
    row) and survive the greedy sweep as keeps; every row present, none
    NaN-assigned, oracle-equal."""
    from dedup import local_oracle as lo
    from dedup.queries import SEM_CELL_CAP, SEM_DEDUP_T, q_semantic_dedup

    got = [(r["vec_id"], r["cell"], r["keep"], r["rep_id"])
           for r in q_semantic_dedup(spark, zero_vec_sf_dir).collect()]
    rows = _vec_rows(spark, zero_vec_sf_dir)
    planted = rows + [(vid + 100000, v) for vid, v in rows if vid < 50]
    want = lo.local_semantic_dedup(planted, SEM_DEDUP_T, SEM_CELL_CAP)
    assert sorted(got) == want
    # the two zero vectors are present and kept (cos 0 to everything)
    cid = max(vid for vid, _ in rows) - 1
    zero_rows = [r for r in got if r[0] in (cid, cid + 1)]
    assert len(zero_rows) == 2
    assert all(keep for _, _, keep, _ in zero_rows)


def test_semantic_dedup_reports_capped_cells(spark):
    """semantic_dedup_frame's accumulator counts cells above the cap once
    the result materializes; tail rows still pass through keep=true."""
    from dedup.queries import semantic_dedup_frame

    rows = [(i, [1.0, 0.0, float(i) * 1e-4]) for i in range(10)]
    e = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
    df, acc = semantic_dedup_frame(spark, e, t=0.99, cell_cap=3)
    got = df.collect()
    assert len(got) == 10
    assert acc.value >= 1  # every vector lands in one cell of 10 > cap 3
    # tail rows beyond the cap pass through as keeps with rep -1
    tail = [r for r in got if r["rep_id"] == -1 and r["keep"]]
    assert tail


def test_mixed_signatures_table_fails_loud_in_jaccard_mode(spark):
    """A signatures table mixing shingle-bearing engine rows with
    parity-slim (null-shingle) rows must raise on every jaccard-scored
    query, by metadata or by url, not silently drop the slim rows'
    candidates (ADVICE r4: the single-row probe can miss appended slim
    rows)."""
    import pytest as _pytest

    from dedup.config import ENGINE_CONFIG
    from dedup.kernel import dedupe_metadata, dedupe_one, SourceMetadata
    from dedup.signature import signatures_table

    texts = [(f"https://m.example/{i}",
              " ".join(f"tok{j}" for j in range(i, i + 40)))
             for i in range(8)]
    full = signatures_table(
        spark.createDataFrame(texts, "url string, text string"),
        ENGINE_CONFIG)
    # strip shingles from half the rows — what a parity-config append
    # into an engine workdir produces
    mixed = full.selectExpr(
        "url",
        "CASE WHEN url LIKE '%/1' OR url LIKE '%/3' THEN NULL "
        "ELSE shingles END AS shingles",
        *[c for c in full.columns if c not in ("url", "shingles")])
    with _pytest.raises(Exception, match="shingle"):
        dedupe_metadata(mixed, SourceMetadata(title=texts[1][1]),
                        ENGINE_CONFIG, scoring="jaccard").collect()
    # a full source whose slim near-copies are candidates, and a slim source
    for url in (texts[0][0], texts[1][0]):
        with _pytest.raises(Exception, match="shingle"):
            dedupe_one(mixed, url, ENGINE_CONFIG, scoring="jaccard").collect()


def test_dedupe_metadata_jaccard_threshold_zero_keeps_everything(spark):
    """The prefilter cut derives from the caller's cfg.jaccard_threshold:
    jaccard_threshold=0.0 ('keep everything', kernel.py contract) must
    surface a title-key candidate with near-zero text similarity that the
    default threshold's cut would reject before scoring."""
    from dataclasses import replace

    from dedup.config import ENGINE_CONFIG
    from dedup.kernel import SourceMetadata, dedupe_metadata
    from dedup.signature import signatures_table

    title = "Completely shared curriculum title"
    rows = [("https://t.example/a", "xray " * 50, title, None, None),
            ("https://t.example/b", "yankee " * 50, "Other title", None,
             None)]
    sigs = signatures_table(
        spark.createDataFrame(
            rows, "url string, text string, title string, "
                  "description string, redirect_url string"),
        ENGINE_CONFIG)
    src = SourceMetadata(title=title, description="zulu " * 50)
    strict = {r["node_url"]
              for r in dedupe_metadata(sigs, src, ENGINE_CONFIG,
                                       scoring="jaccard").collect()}
    keep_all = {r["node_url"]
                for r in dedupe_metadata(
                    sigs, src, replace(ENGINE_CONFIG, jaccard_threshold=0.0),
                    scoring="jaccard").collect()}
    # the title-key candidate has ~0 text Jaccard: dropped under the
    # default threshold, present under jaccard_threshold=0.0
    assert "https://t.example/a" not in strict
    assert "https://t.example/a" in keep_all


# --- signature-version lineage token (round-5 ADVICE, medium) ---------------


def test_key_config_carries_signature_version():
    """A live config stamps the CURRENT version; a recorded manifest dict
    without the token reads as version 1 (pre-rolling-hash) and must
    mismatch, so old persisted key indexes / signatures are refused
    instead of silently probing wrong band buckets."""
    from dataclasses import asdict

    from dedup.config import (PARITY_CONFIG, SIGNATURE_VERSION, key_config)

    live = key_config(PARITY_CONFIG)
    assert live["sig_version"] == SIGNATURE_VERSION
    legacy = asdict(PARITY_CONFIG)  # what pre-token manifests recorded
    assert key_config(legacy) != live
    current = {**asdict(PARITY_CONFIG), "sig_version": SIGNATURE_VERSION}
    assert key_config(current) == live


def test_pre_version_manifest_forces_recompute(spark, tmp_path):
    """A workdir whose lineage manifests lack the sig_version token (built
    by pre-round-4 code whose band hashes this code cannot probe) must
    recompute every stage on resume, not skip off the stale tables."""
    import json as _json

    from dedup.config import PARITY_CONFIG
    from dedup.pipeline import DedupPipeline
    from dedup.synth import corpus_pdf

    corpus = spark.createDataFrame(
        corpus_pdf(60, seed=21)[["url", "warc_ts", "html", "text", "lang"]])
    wd = str(tmp_path / "job")
    p = DedupPipeline(spark, wd, PARITY_CONFIG)
    p.run(corpus)

    # same workdir, version token intact -> all stages skip
    p2 = DedupPipeline(spark, wd, PARITY_CONFIG)
    p2.run(corpus)
    assert all(s.skipped for s in p2.stage_infos)

    # strip the token from every manifest (what old code wrote)
    for mp in (tmp_path / "job" / "_lineage").glob("*.json"):
        man = _json.loads(mp.read_text())
        if isinstance(man.get("config"), dict):
            man["config"].pop("sig_version", None)
            mp.write_text(_json.dumps(man))
    p3 = DedupPipeline(spark, wd, PARITY_CONFIG)
    p3.run(corpus)
    assert all(not s.skipped for s in p3.stage_infos)


def test_cluster_representatives_match_live_replica(spark):
    """q_cluster_representatives vs a LIVE single-node replica at sf0.001
    (the driver's fixture oracle is frozen at sf0.01; this pins the same
    argmax-by-(n_tokens, url) selection at the other scale)."""
    import duckdb

    from dedup import local_oracle as lo
    from dedup.config import PARITY_CONFIG
    from dedup.queries import q_cluster_representatives

    con = duckdb.connect()
    df = con.execute(
        f"SELECT doc_id, text, source FROM '{SF}/documents.parquet' "
        "ORDER BY doc_id").df()
    rows = [(f"https://www.{s}.example.com/docs/{d}", t)
            for d, t, s in zip(df["doc_id"], df["text"], df["source"])]
    rows += [(f"https://mirror.net/copy/{d}", t)
             for d, t, _ in zip(df["doc_id"], df["text"], df["source"])
             if int(d) < 50]
    sigs = lo.local_signatures(rows, PARITY_CONFIG)
    pairs = lo.local_candidate_pairs(sigs, PARITY_CONFIG)
    verified = lo.local_verify(pairs, sigs, PARITY_CONFIG)
    keep_edges = [(a, b) for a, b, _, _, _, keep in verified if keep]
    assign = lo.union_find_clusters([s.url for s in sigs], keep_edges)

    toks = {s.url: int(s.n_tokens or 0) for s in sigs}
    members: dict[str, list[str]] = {}
    for url, cid in assign:
        members.setdefault(cid, []).append(url)
    want = set()
    for cid, urls in members.items():
        if len(urls) < 2:
            continue
        best = min(urls, key=lambda u: (-toks.get(u, 0), u))
        want.add((cid, best, toks.get(best, 0), len(urls), len(urls) - 1))

    got = {(r["cluster_id"], r["rep_url"], r["rep_n_tokens"],
            r["n_members"], r["n_dropped"])
           for r in q_cluster_representatives(spark, SF).collect()}
    assert want, "replica produced no non-singleton clusters — vacuous test"
    assert got == want


def test_build_ivf_index_refuses_empty_table(spark, tmp_path):
    """Empty embeddings input fails with a clear message, not an opaque
    NoneType/stack error."""
    import pytest as _pytest

    from dedup.ann_index import build_ivf_index

    e = spark.createDataFrame([], "vec_id bigint, v array<double>")
    with _pytest.raises(ValueError, match="empty embeddings"):
        build_ivf_index(spark, e, str(tmp_path / "idx"))
