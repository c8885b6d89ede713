"""Tokenize / shingle / MinHash / SimHash — one vectorized Arrow pass.

Parity targets (tested bit-exact vs a live reference import):
- tokenize   — reference app/hash_detector.py:42-50
- shingles   — reference app/hash_detector.py:52-79 (incl. the <3-word
               whole-text single-shingle fallback at :68-72)
- minhash    — reference app/hash_detector.py:81-103: for each permutation i,
               min((a_i * s + b_i) mod p) over the shingle set,
               p = 4294967311. The reference stores float64; every value is
               < p < 2^33 and therefore exact in float64, so we compute and
               store int64 — numerically identical.
- coefficients are NEVER derived on executors; they come from the frozen
  fixture (dedup/coeffs.py) and ride along via closure capture, which Spark
  serializes once per task set (equivalent to an explicit broadcast for
  arrays this small: 2 * num_hashes * 8 bytes).

Engine extras (no reference counterpart; north-star spec):
- SimHash 64-bit fingerprint over the shingle hashes (each 32-bit shingle
  hash expanded to 64 bits with the splitmix64 finalizer, then sign-summed),
  Hamming distance via native bit_count(a ^ b).
- optional k-char shingling mode.

Scale notes: the heavy math is numpy inside mapInPandas (Arrow batches,
no per-row Python UDF). The signatures table keeps the shingle array for
exact-Jaccard verification, but downstream stages project it away before
any shuffle — LSH banding and pair shuffles carry only (url, band hashes);
verification joins shingles back by key (SURVEY §4 "spill-aware").
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from dedup.config import MINHASH_PRIME, DedupConfig
from dedup.coeffs import load_coeffs

_P = np.uint64(MINHASH_PRIME)

# shingles are uint32 hash values stored as their INT32 bit pattern
# (array<int>, half the bytes of array<bigint>): the shingle column is the
# widest thing the engine materializes (10-100x the minhash width in char
# mode) and rides the verify stage's survivor-pair joins, so its width is
# a first-order scale cost. Arrays are sorted in UNSIGNED order before the
# bit-pattern cast; consumers reconstruct with (int64 & 0xFFFFFFFF), under
# which the stored order is ascending again.
SIGNATURE_SCHEMA = (
    "url string, norm_url string, norm_redirect string, "
    "minhash array<bigint>, simhash bigint, "
    "shingles array<int>, n_tokens int"
)
# field-metadata key on `shingles` for tables signed with keep_shingles off
# (the column is then all NULL): lets exact-Jaccard lookups refuse such a
# table from its schema alone
SHINGLES_DROPPED = "dedup.shingles_dropped"


# --- pure per-document functions (shared with the single-node oracle) --------

def tokenize(text: str | None) -> list[str]:
    """Lowercase whitespace tokens, length > 1 (parity: hash_detector.py:42-50)."""
    if not text:
        return []
    return [w for w in text.lower().split() if len(w) > 1]


def shingle_hashes(words: list[str], shingle_size: int = 3) -> set[int]:
    """CRC32 hashes of word n-grams; texts with < shingle_size words collapse
    to one whole-text shingle (parity: hash_detector.py:52-79).

    Implementation slices ONE pre-joined byte string by token offsets
    instead of join()ing every window — identical bytes reach crc32 (the
    window `" ".join(words[i:i+k])` is exactly the substring of
    `" ".join(words)` spanning those tokens), ~3x faster per doc."""
    if not words:
        return set()
    if len(words) < shingle_size:
        return {zlib.crc32(" ".join(words).encode()) & 0xFFFFFFFF}
    joined = " ".join(words).encode()
    # byte offsets of each token in the joined encoding
    starts = np.empty(len(words), dtype=np.int64)
    pos = 0
    for i, w in enumerate(words):
        starts[i] = pos
        pos += len(w.encode()) + 1
    ends = np.concatenate([starts[shingle_size:] - 1,
                           [len(joined)]])  # end of window i = start of
    view = memoryview(joined)               # token i+k minus the space
    n = len(words) - shingle_size + 1
    return {zlib.crc32(view[int(starts[i]):int(ends[i])]) & 0xFFFFFFFF
            for i in range(n)}


# Engine char-shingle rolling hash (Rabin-Karp over bytes, mod 2^32):
# B is an odd 32-bit constant (golden-ratio), so it is invertible mod 2^32
# and every window hash comes from ONE vectorized prefix-sum pass instead
# of a per-window Python loop. A murmur3-fmix32 finalizer restores
# avalanche (the raw polynomial value is linear in the bytes).
_RK_B = 0x9E3779B1
_RK_BINV = pow(_RK_B, -1, 1 << 32)
_M32 = np.uint32(0xFFFFFFFF)


def _fmix32(x: np.ndarray) -> np.ndarray:
    """murmur3 32-bit finalizer, vectorized (public-domain constants)."""
    x = x.astype(np.uint32, copy=True)
    x ^= x >> np.uint32(16)
    x *= np.uint32(0x85EBCA6B)
    x ^= x >> np.uint32(13)
    x *= np.uint32(0xC2B2AE35)
    x ^= x >> np.uint32(16)
    return x


def char_shingle_hashes(words: list[str], k: int) -> np.ndarray:
    """Engine mode: rolling polynomial hash of k-char sliding windows over
    the space-joined token stream (shorter texts collapse to one
    whole-text shingle). Returns the SORTED UNIQUE hash array (uint64
    values < 2^32).

    window_i = fmix32(sum_{j<k} byte[i+j] * B^j mod 2^32) — computed for
    every window at once from one modular prefix sum (the diff
    prefix[i+k] - prefix[i] equals B^i * window_i, undone with the
    precomputed inverse powers of the odd constant B). Fully vectorized:
    ~100x faster per doc than a per-window zlib.crc32 loop at web page
    sizes, with identical dedup semantics (exact hash-set equality is all
    downstream consumers use)."""
    if not words:
        return np.empty(0, dtype=np.uint64)
    enc = " ".join(words).encode()
    b = np.frombuffer(enc, dtype=np.uint8).astype(np.uint32)
    n = b.size
    if n <= k:
        k = n
    pw = np.full(n, np.uint32(_RK_B))
    pw[0] = 1
    np.cumprod(pw, out=pw)                      # B^i  (wraps mod 2^32)
    ipw = np.full(n, np.uint32(_RK_BINV))
    ipw[0] = 1
    np.cumprod(ipw, out=ipw)                    # B^-i (wraps mod 2^32)
    prefix = np.cumsum(b * pw, dtype=np.uint32)  # sum b[j]*B^j, wraps
    if n == k:
        wins = prefix[-1:].copy()
    else:
        wins = (prefix[k - 1:] - np.concatenate(
            (np.zeros(1, dtype=np.uint32), prefix[:n - k]))) * ipw[:n - k + 1]
    return np.unique(_fmix32(wins)).astype(np.uint64)


def minhash_signature(shingles: np.ndarray, A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Vectorized MinHash: ((A ⊗ S + B) mod p).min(axis=shingles).

    uint64 arithmetic is exact here: max(a)*max(s) + max(b)
    = (2^32-1)^2 + (2^32-1) < 2^64, so no wraparound — results match the
    reference's arbitrary-precision Python ints bit-for-bit.
    Returns int64 values in [0, p).

    Shape note: computed per permutation with in-place ops on ONE reused
    buffer instead of one (k x n) matrix expression. The matrix form
    materializes several k*n*8-byte temporaries, which spills engine-mode
    char-shingled documents (10-100x more shingles than parity) out of
    cache and makes the stage memory-bound — the chunked loop keeps the
    working set at one shingle row (~L2-resident) and measures ~1.6x
    faster at web-page sizes. (A division-free Mersenne-style reduction
    and a float64-reciprocal quotient were both benchmarked SLOWER than
    the hardware `%` here — extra passes cost more than the divide.)
    """
    s = shingles.astype(np.uint64, copy=False)
    k = A.size
    out = np.empty(k, dtype=np.int64)
    buf = np.empty(s.size, dtype=np.uint64)
    for i in range(k):
        np.multiply(s, A[i], out=buf)
        buf += B[i]
        buf %= _P
        out[i] = int(buf.min())
    return out


def minhash_signatures_batched(arrs: list[np.ndarray], A: np.ndarray,
                               B: np.ndarray,
                               max_chunk_elems: int = 4_000_000,
                               ) -> list[np.ndarray]:
    """Batched minhash_signature over many documents: identical
    (A*s + B) mod p uint64 arithmetic, with the per-document min taken by
    ONE segmented np.minimum.reduceat per permutation — k numpy calls per
    CHUNK of documents instead of k per document (the per-doc loop was
    the dominant p1 cost at bench scale: ~100 tiny numpy ops per row).
    Bit-identical to minhash_signature (tested). All input arrays must be
    non-empty (empty docs yield no signature upstream). Chunked so the
    working buffers stay bounded for wide engine-mode shingle sets."""
    out: list[np.ndarray] = []
    k = A.size
    n = len(arrs)
    i = 0
    while i < n:
        j, total = i, 0
        while j < n and (j == i or total + arrs[j].size <= max_chunk_elems):
            total += arrs[j].size
            j += 1
        chunk = arrs[i:j]
        lens = np.fromiter((a.size for a in chunk), np.int64,
                           count=len(chunk))
        starts = np.zeros(len(chunk), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        s = (np.concatenate(chunk) if len(chunk) > 1
             else chunk[0]).astype(np.uint64, copy=False)
        sig = np.empty((len(chunk), k), dtype=np.int64)
        buf = np.empty(s.size, dtype=np.uint64)
        for t in range(k):
            np.multiply(s, A[t], out=buf)
            buf += B[t]
            buf %= _P
            sig[:, t] = np.minimum.reduceat(buf, starts)
        out.extend(sig)
        i = j
    return out


def simhash64(shingle_hashes_arr: np.ndarray) -> int:
    """64-bit SimHash over the document's shingle hash set: each 32-bit
    shingle hash is expanded to 64 bits with the splitmix64 finalizer
    (fully vectorized — no per-shingle Python), then the classic bit-wise
    sign sum, msb-first. Returned as signed int64 (Spark BIGINT)."""
    if shingle_hashes_arr is None or len(shingle_hashes_arr) == 0:
        return 0
    x = np.asarray(shingle_hashes_arr, dtype=np.uint64).copy()
    # splitmix64 finalizer (public-domain mixing constants)
    x += np.uint64(0x9E3779B97F4A7C15)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    bits = np.unpackbits(
        x.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1)
    # sign sum = 2*(count of ones) - n, without materializing an int32
    # copy of the full (n, 64) bit matrix
    votes = 2 * bits.sum(axis=0, dtype=np.int64) - np.int64(len(x))
    out = 0
    for v in votes:
        out = (out << 1) | (1 if v > 0 else 0)
    return int(np.uint64(out).astype(np.int64))


def simhash64_batched(arrs: list[np.ndarray],
                      max_chunk_elems: int = 4_000_000) -> list[int]:
    """Batched simhash64: same splitmix64 expansion and msb-first bit-vote
    packing, with the per-document vote sums taken by 64 segmented
    np.add.reduceat calls per CHUNK of documents instead of ~10 numpy
    calls per document. Bit-identical to simhash64 (tested). All input
    arrays must be non-empty."""
    out: list[int] = []
    n = len(arrs)
    weights = np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64)
    i = 0
    while i < n:
        j, total = i, 0
        while j < n and (j == i or total + arrs[j].size <= max_chunk_elems):
            total += arrs[j].size
            j += 1
        chunk = arrs[i:j]
        lens = np.fromiter((a.size for a in chunk), np.int64,
                           count=len(chunk))
        starts = np.zeros(len(chunk), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        x = (np.concatenate(chunk).astype(np.uint64, copy=False)
             if len(chunk) > 1            # concatenate already copied
             else chunk[0].astype(np.uint64, copy=True))
        # splitmix64 finalizer (public-domain mixing constants), as in
        # simhash64 but over the concatenated chunk
        x += np.uint64(0x9E3779B97F4A7C15)
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
        ones = np.empty((len(chunk), 64), dtype=np.int64)
        for b in range(64):
            bit = ((x >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            ones[:, 63 - b] = np.add.reduceat(bit, starts)
        votes = 2 * ones - lens[:, None]
        vals = ((votes > 0).astype(np.uint64) * weights).sum(
            axis=1, dtype=np.uint64)
        out.extend(int(v) for v in vals.view(np.int64))
        i = j
    return out


def compute_text_signature(text: str | None, A: np.ndarray, B: np.ndarray,
                           cfg: DedupConfig) -> np.ndarray | None:
    """tokenize -> shingle -> minhash; None for empty/blank text
    (parity: hash_detector.py:105-123)."""
    words = tokenize(text)
    if not words:
        return None
    arr = _shingle_array(words, cfg)
    if arr.size == 0:
        return None
    return minhash_signature(arr, A, B)


def _shingle_array(words: list[str], cfg: DedupConfig) -> np.ndarray:
    """Shingle hash array for one doc under cfg: engine char mode already
    returns a uint64 ndarray; parity word mode returns a set (crc32
    semantics pinned to the reference) converted here."""
    if cfg.char_shingles:
        return char_shingle_hashes(words, cfg.char_shingle_size)
    sh = shingle_hashes(words, cfg.shingle_size)
    return np.fromiter(sh, dtype=np.uint64, count=len(sh))


# --- Spark stage ---------------------------------------------------------------

def signatures_table(corpus, cfg: DedupConfig, text_col: str = "text",
                     key_col: str = "url", keep_shingles: bool | None = None,
                     extract_html_col: str | None = None,
                     emit_text: bool = False):
    """corpus -> signatures(url, norm_url, norm_redirect, minhash, simhash,
    shingles, n_tokens) — ONE Arrow pass for normalization + tokenize +
    shingle + MinHash + SimHash. Folding norm_url into this mapInPandas
    stage keeps the corpus hot path at exactly one Python stage: standalone
    UDF stages each pay python-worker acquisition per task, which measurably
    stalls wide plans (chained ArrowEval tasks block at ~0% CPU waiting on
    worker spawn).

    Rows whose text yields no signature (empty/blank) are emitted with null
    minhash so callers can count/inspect them; norm keys are still present
    (the reference scores URL-exact matches without a signature,
    app/hash_detector.py:263-266). Filter `minhash IS NOT NULL` before
    banding.

    Shingle arrays are 10-100x wider than everything else combined and only
    exact-Jaccard (engine) mode reads them downstream, so they are emitted
    only when keep_shingles (default: cfg.scoring == "jaccard") — parity
    pipelines write and shuffle a 10x slimmer table.

    With extract_html_col set, HTML-to-text extraction happens INSIDE this
    same pass (one materialization for extract+normalize+sign instead of
    two stage round-trips); emit_text additionally writes the extracted
    text column, which columnar projection serves as the `extracted` table.
    """
    from dedup.extract import extract_text
    from dedup.normalize import (description_block_key, is_valid_field,
                                 normalize_url, title_block_keys)

    if keep_shingles is None:
        keep_shingles = cfg.scoring == "jaccard"
    A, B = load_coeffs(cfg.num_hashes, cfg.seed)
    has_redirect = "redirect_url" in corpus.columns
    # Metadata blocking keys (reference candidate search by title /
    # normalized title / description prefix, app/wlo_client.py:265-311) are
    # emitted only when the corpus actually carries those columns, so
    # text-only corpora keep the slim schema. A document whose text yields
    # no signature falls back to the reference's metadata signature
    # (title + " " + description over the VALID fields — T6,
    # app/hash_detector.py:105-123 via main.py's by-metadata path), so
    # metadata-only records can still be cosine-scored.
    has_title = "title" in corpus.columns
    has_desc = "description" in corpus.columns

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_rows = len(pdf)
            redirects = (pdf["redirect_url"] if has_redirect
                         else pd.Series([None] * n_rows))
            titles = (pdf["title"] if has_title
                      else pd.Series([None] * n_rows))
            descs = (pdf["description"] if has_desc
                     else pd.Series([None] * n_rows))
            if extract_html_col is not None:
                texts = pdf[extract_html_col].map(extract_text)
            else:
                texts = pdf[text_col]
            out_texts = []
            urls, norms, norm_redirs = [], [], []
            sigs, simhashes, shingles_out, ntoks = [], [], [], []
            title_keys_out, desc_keys_out = [], []
            # r6: shingle arrays are gathered per batch and MinHash/SimHash
            # run once over the whole batch (segmented reductions in the
            # batched helpers) — the former per-document calls paid ~100
            # tiny numpy ops per row, which dominated this stage
            pend_idx: list[int] = []
            pend_arrs: list[np.ndarray] = []
            for url, text, redir, title, desc in zip(
                    pdf[key_col], texts, redirects, titles, descs):
                if emit_text:
                    out_texts.append(text)
                urls.append(url)
                norms.append(normalize_url(url))
                norm_redirs.append(normalize_url(redir) if redir else None)
                if has_title or has_desc:
                    title_keys_out.append(title_block_keys(title) or None)
                    desc_keys_out.append(description_block_key(desc))
                words = tokenize(text)
                if not words and (has_title or has_desc):
                    # T6 metadata fallback: sign title + " " + description
                    parts = [v for v in (title, desc) if is_valid_field(v)]
                    words = tokenize(" ".join(parts))
                ntoks.append(len(words))
                sigs.append(None)
                simhashes.append(None)
                shingles_out.append(None)
                if words:
                    pend_idx.append(len(sigs) - 1)
                    pend_arrs.append(_shingle_array(words, cfg))
            if pend_arrs:
                for pos, sg in zip(pend_idx,
                                   minhash_signatures_batched(
                                       pend_arrs, A, B)):
                    sigs[pos] = sg
                for pos, sh in zip(pend_idx, simhash64_batched(pend_arrs)):
                    simhashes[pos] = sh
                if keep_shingles:
                    for pos, arr in zip(pend_idx, pend_arrs):
                        # sorted unsigned, stored as the int32 bit pattern
                        shingles_out[pos] = (
                            np.sort(arr).astype(np.uint32).view(np.int32))
            out = {
                "url": urls,
                "norm_url": norms,
                "norm_redirect": norm_redirs,
                "minhash": sigs,
                "simhash": pd.array(simhashes, dtype="Int64"),
                "shingles": shingles_out,
                "n_tokens": pd.array(ntoks, dtype="int32"),
            }
            if has_title or has_desc:
                out["title_keys"] = title_keys_out
                out["desc_key"] = desc_keys_out
            if emit_text:
                out["text"] = out_texts
            yield pd.DataFrame(out)

    cols = [key_col,
            extract_html_col if extract_html_col is not None else text_col]
    if has_redirect:
        cols.append("redirect_url")
    if has_title:
        cols.append("title")
    if has_desc:
        cols.append("description")
    schema = SIGNATURE_SCHEMA
    if has_title or has_desc:
        schema += ", title_keys array<string>, desc_key string"
    if emit_text:
        schema += ", text string"
    sigs = corpus.select(*cols).mapInPandas(compute, schema=schema)
    if keep_shingles:
        return sigs
    return sigs.withMetadata("shingles", {SHINGLES_DROPPED: True})
