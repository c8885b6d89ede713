"""Single-node oracle engine — an INDEPENDENT pure-Python/numpy
re-computation of every non-SQL-expressible query's expected output.

The driver's correctness gate compares each Spark query against a DuckDB
oracle. Normalization/aggregation queries have real SQL oracles; the
hash-pipeline queries (signatures, LSH candidates, clusters, fingerprints,
ANN) are not SQL-expressible, so their oracles are VALUES-fixtures frozen by
tools/gen_oracle_fixtures.py from THIS module: a from-first-principles
single-node implementation of the same public semantics (reference
app/hash_detector.py for MinHash, xxHash64 spec for band hashes, classic
union-find for components). No Spark execution is involved anywhere in this
module — parity between this code and the distributed plans is exactly what
the driver then verifies.

Shared pure per-document functions (tokenize/shingle/minhash/simhash,
winnowing window hashes) are imported from their home modules — they are the
same functions the executors run (the blessed extract_text pattern:
single-node oracle and Spark UDF share one deterministic function, so
per-row parity holds by construction and the DISTRIBUTED plumbing — joins,
grouping, capping, dedup, clustering — is what the fixture actually checks).
The group/pair/cluster logic here is written independently (dict/set
union-find, not DataFrames).
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass

import numpy as np

from dedup.config import DedupConfig


# canonical zero-norm-guarded row normalizer — the same pure function the
# executors run (blessed shared-pure-function pattern, module docstring)
from dedup.ann_index import unit_rows as _unit_rows

# --- xxHash64 (Spark-compatible) ---------------------------------------------
# Pure-Python implementation of the public xxHash64 algorithm (Yann Collet,
# BSD) for 8-byte inputs, matching Spark's `xxhash64` SQL function over
# ARRAY<BIGINT>: hash = seed; for each element e: hash = xxh64_long(e, hash).
# Verified bit-exact against Spark in tests/test_local_oracle.py.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64_long(value: int, seed: int) -> int:
    """xxHash64 of one 64-bit integer (8-byte little-endian input)."""
    h = (seed + _P5 + 8) & _M64
    k = _rotl((value & _M64) * _P2 & _M64, 31) * _P1 & _M64
    h ^= k
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    # fmix
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h


def _signed64(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def xxh64_int(value: int, seed: int) -> int:
    """xxHash64 of one 32-bit integer (4-byte input) — Spark's hash of an
    INT column/argument."""
    h = (seed + _P5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M64
    h = (_rotl(h, 23) * _P2 + _P3) & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h


def xxh64_long_array(values, seed: int = 42) -> int:
    """Spark `xxhash64(array<bigint>)`: fold elements through xxh64_long.
    Returns the SIGNED 64-bit value Spark prints/concats."""
    h = seed
    for v in values:
        h = xxh64_long(int(v) & _M64, h)
    return _signed64(h)


def xxh64_band_key(band_id: int, band_slice, seed: int = 42) -> int:
    """Spark `xxhash64(band_id INT, slice ARRAY<BIGINT>)` — the engine's
    unified band key (dedup/lsh.unified_group_keys)."""
    h = xxh64_int(band_id, seed)
    for v in band_slice:
        h = xxh64_long(int(v) & _M64, h)
    return _signed64(h)


# --- per-document signatures ---------------------------------------------------

@dataclass
class DocSig:
    url: str
    norm_url: str | None
    norm_redirect: str | None
    minhash: np.ndarray | None     # int64[k] or None
    simhash: int | None
    shingles: np.ndarray | None    # sorted int64 or None
    n_tokens: int
    title_keys: list[str] | None = None   # metadata blocking keys ('t:')
    desc_key: str | None = None           # description-prefix key ('d:')


def local_signatures(rows, cfg: DedupConfig) -> list[DocSig]:
    """rows: iterable of (url, text[, redirect_url[, title[, description]]])
    -> per-doc signatures, computed with the same pure functions the
    executors run. Rows longer than 3 carry metadata columns: blocking keys
    are derived and, when the text yields no signature, the reference's T6
    metadata signature (title + " " + description over valid fields) is
    used instead — mirroring signatures_table."""
    from dedup.coeffs import load_coeffs
    from dedup.normalize import (description_block_key, is_valid_field,
                                 normalize_url, title_block_keys)
    from dedup.signature import (char_shingle_hashes, minhash_signature,
                                 shingle_hashes, simhash64, tokenize)

    A, B = load_coeffs(cfg.num_hashes, cfg.seed)
    out = []
    for row in rows:
        url, text = row[0], row[1]
        redirect = row[2] if len(row) > 2 else None
        has_meta = len(row) > 3
        title = row[3] if has_meta else None
        desc = row[4] if len(row) > 4 else None
        t_keys = (title_block_keys(title) or None) if has_meta else None
        d_key = description_block_key(desc) if has_meta else None
        words = tokenize(text)
        if not words and has_meta:
            parts = [v for v in (title, desc) if is_valid_field(v)]
            words = tokenize(" ".join(parts))
        if not words:
            out.append(DocSig(url, normalize_url(url),
                              normalize_url(redirect) if redirect else None,
                              None, None, None, 0, t_keys, d_key))
            continue
        sh = (char_shingle_hashes(words, cfg.char_shingle_size)
              if cfg.char_shingles else shingle_hashes(words, cfg.shingle_size))
        arr = (sh if isinstance(sh, np.ndarray)
               else np.fromiter(sh, dtype=np.uint64, count=len(sh)))
        out.append(DocSig(
            url, normalize_url(url),
            normalize_url(redirect) if redirect else None,
            minhash_signature(arr, A, B), simhash64(arr),
            np.sort(arr).astype(np.int64), len(words), t_keys, d_key))
    return out


# --- grouped pair emission (pairs_within_groups semantics, independent impl) ---

def pairs_from_groups(member_rows, cap: int):
    """member_rows: iterable of (key, member). Replicates the engine's
    skew-aware group expansion contract: per key, DISTINCT members sorted;
    groups whose ROW count <= cap emit all (i<j) pairs, hotter groups emit
    star edges around the minimum member. Yields (key, a, b)."""
    rows_per_key = defaultdict(int)
    members = defaultdict(set)
    for key, m in member_rows:
        rows_per_key[key] += 1
        members[key].add(m)
    for key, ms in members.items():
        us = sorted(ms)
        if len(us) < 2:
            continue
        if rows_per_key[key] <= cap:
            for i in range(len(us)):
                for j in range(i + 1, len(us)):
                    yield key, us[i], us[j]
        else:
            center = us[0]
            for other in us[1:]:
                yield key, center, other


def unified_keys(sigs: list[DocSig], cfg: DedupConfig):
    """(url, gk) rows — same key space as dedup/lsh.unified_group_keys.
    gk is ('b', xxhash64(band_id, slice)) for band keys, ('u', norm) for
    exact normalized-URL keys, ('t', key) for title keys, and ('d', key)
    for description-prefix keys (mirroring the engine's three nullable
    key columns)."""
    b, r = cfg.lsh_bands, cfg.lsh_rows
    for s in sigs:
        if s.minhash is not None:
            for i in range(b):
                band = s.minhash[i * r:(i + 1) * r]
                yield s.url, ("b", xxh64_band_key(i, band))
        if s.norm_url is not None:
            yield s.url, ("u", s.norm_url)
        if s.norm_redirect is not None:
            yield s.url, ("u", s.norm_redirect)
        for t in s.title_keys or ():
            yield s.url, ("t", t)
        if s.desc_key is not None:
            yield s.url, ("d", s.desc_key)


# match-source priority: url exact short-circuits, hash bands are the
# signature path, title and description-prefix are the metadata recall paths
_SOURCE_RANK = {"u": 0, "b": 1, "t": 2, "d": 3}
_SOURCE_NAME = {0: "url_exact", 1: "lsh", 2: "title", 3: "description"}


def local_candidate_pairs(sigs: list[DocSig],
                          cfg: DedupConfig) -> list[tuple[str, str, str]]:
    """(a, b, match_source) — LSH ∪ url_exact ∪ metadata keys; provenance
    is the highest-priority key kind the pair was seen under."""
    best: dict[tuple[str, str], int] = {}
    for gk, a, b in pairs_from_groups(
            ((gk, url) for url, gk in unified_keys(sigs, cfg)),
            cfg.band_bucket_cap):
        key = (a, b)
        rank = _SOURCE_RANK[gk[0]]
        best[key] = min(best.get(key, 3), rank)
    return [(a, b, _SOURCE_NAME[rank]) for (a, b), rank in best.items()]


def local_verify(pairs, sigs: list[DocSig], cfg: DedupConfig):
    """(a, b, match_source) -> (a, b, match_source, similarity, jaccard,
    keep) with the reference cosine formula (app/hash_detector.py:153).

    Jaccard (engine) mode replicates the Spark verify stage's MinHash-
    estimate prefilter (dedup/verify.py): a pair whose equal-component
    count falls below minhash_prefilter_min_equal(cfg) is rejected with
    NULL scores and never has its exact Jaccard computed. The exact
    intersection here deliberately uses np.intersect1d — an implementation
    INDEPENDENT of the engine's flattened-searchsorted kernel, so the two
    sides cross-check each other."""
    from dedup.config import minhash_prefilter_min_equal

    min_equal = minhash_prefilter_min_equal(cfg)
    by_url = {s.url: s for s in sigs}
    out = []
    for a, b, source in pairs:
        if source == "url_exact":
            out.append((a, b, source, 1.0, 1.0, True))
            continue
        sa, sb = by_url.get(a), by_url.get(b)
        if sa is None or sb is None or sa.minhash is None or sb.minhash is None:
            continue
        if cfg.scoring == "jaccard":
            if int(np.count_nonzero(sa.minhash == sb.minhash)) < min_equal:
                out.append((a, b, source, None, None, False))
                continue
        va = sa.minhash.astype(np.float64)
        vb = sb.minhash.astype(np.float64)
        sim = float(np.dot(va, vb) / (np.linalg.norm(va) * np.linalg.norm(vb)))
        if cfg.scoring == "jaccard":
            inter = np.intersect1d(sa.shingles, sb.shingles,
                                   assume_unique=True).size
            union = sa.shingles.size + sb.shingles.size - inter
            jac = inter / union if union else 0.0
            keep = jac >= cfg.jaccard_threshold
        else:
            jac = float("nan")
            keep = sim >= cfg.threshold
        out.append((a, b, source, sim, jac, keep))
    return out


def union_find_clusters(all_urls, edges) -> list[tuple[str, str]]:
    """(url, cluster_id = min member of the component); singletons self."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    assign = {}
    for u in parent:
        assign[u] = find(u)
    for u in all_urls:
        assign.setdefault(u, u)
    return sorted(assign.items())


def _meta_src_keys(title_keys: list[str], desc_key: str | None):
    keys = {("t", k) for k in title_keys}
    if desc_key is not None:
        keys.add(("d", desc_key))
    return keys


def _score_candidates(cands: dict[str, int], by_url: dict[str, DocSig],
                      src_sig, threshold: float):
    """Shared tail of the per-document queries: url_exact short-circuits to
    1.0, everything else is reference cosine >= threshold, labeled by the
    best key rank, 4-dp HALF_UP rounding, (-sim, url) order."""
    out = []
    for u, rank in cands.items():
        if rank == 0:
            out.append((u, 1.0, "url_exact"))
            continue
        c = by_url[u]
        if c.minhash is None or src_sig is None:
            continue
        va = src_sig.astype(np.float64)
        vb = c.minhash.astype(np.float64)
        sim = float(np.dot(va, vb) / (np.linalg.norm(va) * np.linalg.norm(vb)))
        if sim >= threshold:
            out.append((u, round_half_up(sim, 4), _SOURCE_NAME[rank]))
    return sorted(out, key=lambda t: (-t[1], t[0]))


def local_dedupe_one(sigs: list[DocSig], url: str, cfg: DedupConfig):
    """(node_url, similarity, match_source) — per-key query expectation
    (kernel.dedupe_one): candidates share any unified key with the source,
    source excluded, url_exact wins, cosine >= threshold otherwise,
    4-dp HALF_UP rounding at the boundary."""
    by_url = {s.url: s for s in sigs}
    src = by_url.get(url)
    if src is None:
        return []
    src_keys = set()
    if src.minhash is not None:
        b, r = cfg.lsh_bands, cfg.lsh_rows
        for i in range(b):
            src_keys.add(("b", xxh64_band_key(i, src.minhash[i * r:(i + 1) * r])))
    src_keys |= {("u", n) for n in (src.norm_url, src.norm_redirect) if n}
    src_keys |= _meta_src_keys(src.title_keys or [], src.desc_key)

    cands: dict[str, int] = {}
    for u, gk in unified_keys(sigs, cfg):
        if u != url and gk in src_keys:
            cands[u] = min(cands.get(u, 3), _SOURCE_RANK[gk[0]])
    return _score_candidates(cands, by_url, src.minhash, cfg.threshold)


def local_dedupe_metadata(sigs: list[DocSig], title: str | None,
                          description: str | None, url: str | None,
                          cfg: DedupConfig, redirect_url: str | None = None):
    """(node_url, similarity, match_source) — ad-hoc by-metadata query
    expectation (kernel.dedupe_metadata): source signature from valid
    fields, candidates share any key (band / normalized url incl. redirect
    / title / description prefix), url_exact wins, cosine >= threshold,
    4-dp HALF_UP rounding."""
    from dedup.normalize import (description_block_key, is_valid_field,
                                 normalize_url, title_block_keys)
    from dedup.signature import compute_text_signature
    from dedup.coeffs import load_coeffs

    parts = ([title] if is_valid_field(title) else []) + \
        ([description] if is_valid_field(description) else [])
    A, B = load_coeffs(cfg.num_hashes, cfg.seed)
    src_sig = compute_text_signature(" ".join(parts), A, B, cfg)
    src_norms = {n for n in (normalize_url(url),
                             normalize_url(redirect_url)
                             if redirect_url else None) if n}

    src_keys = set()
    if src_sig is not None:
        b, r = cfg.lsh_bands, cfg.lsh_rows
        for i in range(b):
            src_keys.add(("b", xxh64_band_key(i, src_sig[i * r:(i + 1) * r])))
    src_keys |= {("u", n) for n in src_norms}
    # metadata keys only block when the corpus rows carry them (mirrors the
    # engine's `"title_keys" in signatures.columns` gate)
    if any(s.title_keys is not None or s.desc_key is not None for s in sigs):
        src_keys |= _meta_src_keys(title_block_keys(title),
                                   description_block_key(description))

    cands: dict[str, int] = {}
    for u, gk in unified_keys(sigs, cfg):
        if gk in src_keys:
            cands[u] = min(cands.get(u, 3), _SOURCE_RANK[gk[0]])
    by_url = {s.url: s for s in sigs}
    return _score_candidates(cands, by_url, src_sig, cfg.threshold)


# --- substring (winnowing) pass -------------------------------------------------

def local_substring_fingerprints(corpus_rows, cfg: DedupConfig, k: int = 64):
    """(url, fp, pos) rows — same winnowing math as dedup/substring.py
    (shared pure functions), independent assembly."""
    from dedup.substring import _positions_per_fp, _window_hashes, _winnow
    w = max(1, cfg.substring_min_len - k + 1)
    out = []
    for url, text in corpus_rows:
        if not text or len(text) < k:
            continue
        hashes = _window_hashes(text, k)
        sel = _winnow(hashes, w)
        h = hashes[sel].astype(np.int64)
        for j in _positions_per_fp(h, sel):
            out.append((url, int(h[j]), int(sel[j])))
    return out


def local_substring_pairs(corpus_rows, cfg: DedupConfig, k: int = 64,
                          group_cap: int = 500, max_witnesses: int = 32):
    """(a, b, substr_len, 'substring') — grouped emission on fingerprints,
    all shared witnesses (bounded, sorted), max extension, keep >= min_len."""
    corpus_rows = list(corpus_rows)
    fps = local_substring_fingerprints(corpus_rows, cfg, k)
    # pair generation over DISTINCT (fp, url) — position multiplicity must
    # not change group sizes vs the Spark side's .distinct()
    cand = {(a, b) for _, a, b in
            pairs_from_groups(sorted({(fp, url) for url, fp, _ in fps}),
                              group_cap)}
    fp_by_url: dict[str, dict[int, list[int]]] = defaultdict(
        lambda: defaultdict(list))
    for url, fp, pos in fps:
        fp_by_url[url][fp].append(pos)
    text_by_url = {u: t for u, t in corpus_rows}
    out = []
    for a, b in sorted(cand):
        fa, fb = fp_by_url[a], fp_by_url[b]
        shared = set(fa) & set(fb)
        witnesses = sorted({(pa, pb) for fp in shared
                            for pa in fa[fp]
                            for pb in fb[fp]})[:max_witnesses]
        ba = text_by_url[a].encode("utf-8", errors="replace")
        bb = text_by_url[b].encode("utf-8", errors="replace")
        best = 0
        for pa, pb in witnesses:
            lo = 0
            while pa - lo > 0 and pb - lo > 0 and ba[pa - lo - 1] == bb[pb - lo - 1]:
                lo += 1
            hi = 0
            while (pa + k + hi < len(ba) and pb + k + hi < len(bb)
                   and ba[pa + k + hi] == bb[pb + k + hi]):
                hi += 1
            best = max(best, lo + k + hi)
        if best >= cfg.substring_min_len:
            out.append((a, b, best, "substring"))
    return out


# --- ANN (multi-table hyperplane LSH) --------------------------------------------

def local_ann_pairs(vec_rows, cos_min: float, bucket_cap: int):
    """vec_rows: iterable of (vec_id, float-list). Replicates the Spark ANN
    scale path: bucket codes via the shared hyperplane matrix, grouped pair
    emission per (table, code), numeric canonicalization, exact rerank with
    the same sequential-fold cosine the native Spark expression computes,
    HALF_UP 6-dp rounding (Spark F.round semantics)."""
    from dedup.queries import ann_bucket_codes, ann_hyperplanes
    ids, vecs = [], []
    for vid, v in vec_rows:
        ids.append(int(vid))
        vecs.append(np.asarray(v, dtype=np.float64))
    M = np.stack(vecs)
    planes = ann_hyperplanes(M.shape[1])
    codes = ann_bucket_codes(M, planes)
    member_rows = []
    for i, vid in enumerate(ids):
        for t in range(codes.shape[1]):
            member_rows.append(((t, int(codes[i, t])), str(vid)))
    raw = {(a, b) for _, a, b in pairs_from_groups(member_rows, bucket_cap)}
    pairs = {(min(int(a), int(b)), max(int(a), int(b))) for a, b in raw}
    by_id = {vid: vecs[i] for i, vid in enumerate(ids)}

    def fold_dot(x, y):
        acc = np.float64(0.0)
        for xi, yi in zip(x, y):
            acc = acc + xi * yi
        return acc

    out = []
    for a, b in sorted(pairs):
        va, vb = by_id[a], by_id[b]
        with np.errstate(invalid="ignore", divide="ignore"):
            # zero-norm side -> nan, excluded below (engine: try_divide NULL)
            cos = float(fold_dot(va, vb)
                        / (np.sqrt(fold_dot(va, va))
                           * np.sqrt(fold_dot(vb, vb))))
        cos_r = round_half_up(cos, 6)
        if cos_r > cos_min:
            out.append((a, b, cos_r))
    return out


def local_ivf_pairs(vec_rows, cos_min: float, bucket_cap: int,
                    nprobe: int = 2, centroid_mod: int | None = None):
    """Single-node expectation of queries.q_embedding_knn_ivf: deterministic
    BOUNDED centroid subset (vec_id % mod == 0, mod = ivf_centroid_mod(n)
    unless overridden), nprobe nearest cells via the same normalized matmul
    + stable argsort, capped grouped pair emission per cell, exact
    sequential-fold cosine rerank."""
    ids, vecs = [], []
    for vid, v in vec_rows:
        ids.append(int(vid))
        vecs.append(np.asarray(v, dtype=np.float64))
    if centroid_mod is None:
        from dedup.queries import ivf_centroid_mod
        centroid_mod = ivf_centroid_mod(len(ids))
    M = np.stack(vecs)
    cent = [i for i, vid in enumerate(ids) if vid % centroid_mod == 0]
    cent.sort(key=lambda i: ids[i])
    C = M[cent]
    # drop centroids equal to an earlier one, as semantic_dedup_frame does
    C = C[np.sort(np.unique(C, axis=0, return_index=True)[1])]
    Cn = _unit_rows(C)
    Mn = _unit_rows(M)
    sims = Mn @ Cn.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    member_rows = []
    for i, vid in enumerate(ids):
        for cell in top[i]:
            member_rows.append((int(cell), str(vid)))
    raw = {(a, b) for _, a, b in pairs_from_groups(member_rows, bucket_cap)}
    pairs = {(min(int(a), int(b)), max(int(a), int(b))) for a, b in raw}
    by_id = {vid: vecs[i] for i, vid in enumerate(ids)}

    def fold_dot(x, y):
        acc = np.float64(0.0)
        for xi, yi in zip(x, y):
            acc = acc + xi * yi
        return acc

    out = []
    for a, b in sorted(pairs):
        va, vb = by_id[a], by_id[b]
        with np.errstate(invalid="ignore", divide="ignore"):
            # zero-norm side -> nan, excluded below (engine: try_divide NULL)
            cos = float(fold_dot(va, vb)
                        / (np.sqrt(fold_dot(va, va))
                           * np.sqrt(fold_dot(vb, vb))))
        cos_r = round_half_up(cos, 6)
        if cos_r > cos_min:
            out.append((a, b, cos_r))
    return out


def local_ivf_trained_pairs(vec_rows, cos_min: float, bucket_cap: int,
                            nprobe: int = 2):
    """Single-node expectation of queries.q_embedding_knn_ivf_trained: the
    SAME pure training function (dedup.ann_index.train_kmeans) over the
    same deterministic sample — ordered by (xxhash64(vec_id), vec_id),
    replicated here with the Spark-parity xxh64_long — then nprobe-cell
    assignment, capped grouped pair emission, exact fold-cosine rerank."""
    from dedup.ann_index import (IVF_TRAIN_SAMPLE, ivf_k_for, train_kmeans)

    ids, vecs = [], []
    for vid, v in vec_rows:
        ids.append(int(vid))
        vecs.append(np.asarray(v, dtype=np.float64))
    M = np.stack(vecs)
    order = sorted(range(len(ids)),
                   key=lambda i: (_signed64(xxh64_long(ids[i] & _M64, 42)),
                                  ids[i]))
    sample = M[order[:IVF_TRAIN_SAMPLE]]
    C = train_kmeans(sample, ivf_k_for(len(ids)))
    Cn = _unit_rows(C)
    Mn = _unit_rows(M)
    sims = Mn @ Cn.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    member_rows = []
    for i, vid in enumerate(ids):
        for cell in top[i]:
            member_rows.append((int(cell), str(vid)))
    raw = {(a, b) for _, a, b in pairs_from_groups(member_rows, bucket_cap)}
    pairs = {(min(int(a), int(b)), max(int(a), int(b))) for a, b in raw}
    by_id = {vid: vecs[i] for i, vid in enumerate(ids)}

    def fold_dot(x, y):
        acc = np.float64(0.0)
        for xi, yi in zip(x, y):
            acc = acc + xi * yi
        return acc

    out = []
    for a, b in sorted(pairs):
        va, vb = by_id[a], by_id[b]
        with np.errstate(invalid="ignore", divide="ignore"):
            # zero-norm side -> nan, excluded below (engine: try_divide NULL)
            cos = float(fold_dot(va, vb)
                        / (np.sqrt(fold_dot(va, va))
                           * np.sqrt(fold_dot(vb, vb))))
        cos_r = round_half_up(cos, 6)
        if cos_r > cos_min:
            out.append((a, b, cos_r))
    return out


_STREAM_SOURCE = {"u": "url_exact", "b": "lsh", "t": "title",
                  "d": "description"}


def local_stream_pairs(drops, cfg: DedupConfig, state_cap: int = 64):
    """Single-node replica of streaming.stream_candidate_pairs across a
    sequence of availableNow drops sharing one checkpoint. `drops` is a
    list of row-lists (same shapes local_signatures accepts), processed in
    order; per-bucket state is the sorted member list capped at state_cap —
    every new arrival pairs with all remembered members while the bucket is
    small, hot buckets emit one star edge to the minimum member. Returns
    the DISTINCT (a, b, match_source) rows, sorted."""
    import bisect

    state: dict[tuple, list[str]] = {}
    out: set[tuple[str, str, str]] = set()
    for drop in drops:
        sigs = local_signatures(drop, cfg)
        per_key: dict[tuple, set[str]] = defaultdict(set)
        for url, gk in unified_keys(sigs, cfg):
            per_key[gk].add(url)
        for gk, new in per_key.items():
            members = state.setdefault(gk, [])
            source = _STREAM_SOURCE[gk[0]]
            for u in sorted(new - set(members)):
                if len(members) < state_cap:
                    for m in members:
                        out.add((min(m, u), max(m, u), source))
                    bisect.insort(members, u)
                elif members:
                    c0 = members[0]
                    out.add((min(c0, u), max(c0, u), source))
    return sorted(out)


def local_semantic_dedup(vec_rows, t: float, cell_cap: int,
                         centroid_mod: int | None = None):
    """Single-node expectation of queries.q_semantic_dedup: nearest-cell
    assignment against the bounded centroid subset (argmax over the same
    normalized matmul), then the greedy keep/drop sweep per cell in vec_id
    order with 6-dp-rounded cosine decisions — identical numpy ops to the
    Spark sweep so decisions agree bit-for-bit. Returns sorted
    (vec_id, cell, keep, rep_id) rows."""
    ids, vecs = [], []
    for vid, v in vec_rows:
        ids.append(int(vid))
        vecs.append(np.asarray(v, dtype=np.float64))
    if centroid_mod is None:
        from dedup.queries import ivf_centroid_mod
        centroid_mod = ivf_centroid_mod(len(ids))
    M = np.stack(vecs)
    cent = [i for i, vid in enumerate(ids) if vid % centroid_mod == 0]
    cent.sort(key=lambda i: ids[i])
    C = M[cent]
    # drop centroids equal to an earlier one, as semantic_dedup_frame does
    C = C[np.sort(np.unique(C, axis=0, return_index=True)[1])]
    Cn = _unit_rows(C)
    Mn = _unit_rows(M)
    cell_of = np.argmax(Mn @ Cn.T, axis=1)

    by_cell: dict[int, list[int]] = defaultdict(list)
    for i, vid in enumerate(ids):
        by_cell[int(cell_of[i])].append(i)
    out = []
    for cell, idxs in by_cell.items():
        idxs = sorted(idxs, key=lambda i: ids[i])
        head = idxs[:cell_cap]
        Mc = np.stack([vecs[i] for i in head])
        Mcn = _unit_rows(Mc)
        kept: list[int] = []
        for pos, i in enumerate(idxs):
            if pos >= cell_cap:
                out.append((ids[i], cell, True, -1))
                continue
            if kept:
                sims = np.round(Mcn[kept] @ Mcn[pos], 6)
                j = int(np.argmax(sims))
                if sims[j] >= t:
                    out.append((ids[i], cell, False, ids[head[kept[j]]]))
                    continue
            kept.append(pos)
            out.append((ids[i], cell, True, -1))
    return sorted(out)


def round_half_up(x: float, digits: int) -> float:
    """Spark F.round semantics: BigDecimal(shortest-repr of the double),
    HALF_UP at `digits`. Python's repr is the same shortest-roundtrip
    decimal, so Decimal(repr(x)) reproduces it exactly."""
    from decimal import ROUND_HALF_UP, Decimal
    if x != x:  # NaN
        return x
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


# --- media ----------------------------------------------------------------------

def local_media_items(n: int, seed: int = 42):
    """Replicates dedup/multimodal.synth_media deterministically."""
    import random as _random
    rng = _random.Random(seed)
    rows = []
    for i in range(n):
        mtype = ("image", "audio", "video")[i % 3]
        payload = bytes(rng.getrandbits(8) for _ in range(256))
        rows.append((f"media://{i}", payload, mtype))
        if i % 7 == 0:
            rows.append((f"media://{i}-twin", payload, mtype))
    return rows


def local_media_features(items):
    """(url, media_type, byte_len, sha256, fingerprint) via the shared
    deterministic decode stub + the same perceptual-hash construction."""
    import hashlib

    from dedup.multimodal import decode_media
    out = []
    for url, payload, mtype in items:
        arr = decode_media(payload, mtype)
        flat = arr.ravel()
        grid = flat[:64].reshape(8, 8) if flat.size >= 64 else \
            np.resize(flat, (8, 8))
        bits = (grid > grid.mean()).ravel()
        fp = 0
        for bit in bits:
            fp = (fp << 1) | int(bit)
        out.append((url, mtype, len(payload),
                    hashlib.sha256(payload).hexdigest(), _signed64(fp)))
    return out


def local_media_dup_pairs(features, hamming_max: int = 6):
    """(a, b, match_source): sha256-exact groups + 8x8-bit fingerprint band
    buckets (clean-band guarantee covers Hamming <= 7 >= hamming_max) with
    Hamming verify; exact label wins on overlap."""
    exact = {(a, b) for _, a, b in pairs_from_groups(
        ((sha, url) for url, _, _, sha, _ in features), 10_000)}
    banded = []
    fp_by_url = {}
    for url, _, _, _, fp in features:
        fp_by_url[url] = fp
        for band in range(8):
            banded.append(((band, (fp >> (band * 8)) & 0xFF), url))
    near = set()
    for _, a, b in pairs_from_groups(banded, 10_000):
        xor = (fp_by_url[a] ^ fp_by_url[b]) & _M64
        if bin(xor).count("1") <= hamming_max:
            near.add((a, b))
    out = [(a, b, "media_exact") for a, b in exact]
    out += [(a, b, "media_near") for a, b in near - exact]
    return sorted(out)
