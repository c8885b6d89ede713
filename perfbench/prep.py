"""Seeded, cached input preparation and oracle expectations.

Everything here runs before any timed window. The inputs a workload hands
to the engine hold only what a crawler would deliver (url, warc_ts, html,
lang; plus `text` for streaming drops, whose ingest API takes text). The
ground truth (`truth_cluster`, the generator's text) stays in this module's
expected-output files.

Expected outputs come from the independent single-node oracle in
`dedup.local_oracle` (local_signatures -> local_candidate_pairs ->
local_verify -> union_find_clusters, and local_dedupe_one), run on the text
the generator rendered into each page, never on the engine's extraction.

Cache layout (under `<checkout>/.perfbench/cache/`): one directory per key,
where the key hashes the workload's generator parameters, the seed and the
sources of `dedup/` and of this file. Two code versions therefore never
share an input, an expected output or a streaming template workdir.
"""

from __future__ import annotations

import hashlib
import json
import random
import shutil
import zlib
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# inputs are written with pyarrow, not Spark: prep must not warm the JVM
_PQ_OPTS = {"coerce_timestamps": "us", "allow_truncated_timestamps": True}
# how many cache entries survive a prep (oldest are pruned)
KEEP_CACHE_ENTRIES = 12


def code_hash(root: Path) -> str:
    h = hashlib.sha256()
    files = [p for p in (root / "dedup").rglob("*")
             if p.is_file() and "__pycache__" not in p.parts]
    for p in sorted(files) + [Path(__file__)]:
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def cache_dir(root: Path, params: dict) -> Path:
    key = hashlib.sha256(json.dumps(params, sort_keys=True).encode())
    return root / ".perfbench" / "cache" / key.hexdigest()[:20]


def _prune(cache_root: Path, keep: Path) -> None:
    entries = sorted((p for p in cache_root.iterdir() if p.is_dir()),
                     key=lambda p: p.stat().st_mtime)
    for p in entries[:-KEEP_CACHE_ENTRIES]:
        if p != keep and not (p / "template").exists():
            shutil.rmtree(p, ignore_errors=True)


def _cached(root: Path, params: dict, build) -> tuple[Path, bool]:
    """Run build(tmpdir) once per params; returns (dir, was_cached)."""
    d = cache_dir(root, {**params, "code": code_hash(root)})
    if (d / "DONE").exists():
        d.touch()
        return d, True
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "DONE").write_text(json.dumps(params, sort_keys=True))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    _prune(d.parent, d)
    return d, False


# --- oracle ---------------------------------------------------------------

def page_text(text: str, html: bytes) -> str:
    """The text a correct extractor must return for a generated page: the
    generator's paragraphs, stripped, blank ones dropped, preceded by the
    cookie-notice paragraph on the pages that carry it."""
    from dedup.synth import HOT_BOILERPLATE
    lines = [ln.strip() for ln in text.split("\n")]
    body = [ln for ln in lines if ln]
    if f"<p>{HOT_BOILERPLATE}</p>".encode() in html:
        body.insert(0, HOT_BOILERPLATE)
    return "\n".join(body)


def oracle_signatures(rows: list[tuple[str, str]]):
    """local_signatures over (url, text) rows, in this process: a process
    pool would leave multiprocessing's resource tracker running after the
    benchmark exits, and a few thousand docs take only seconds here."""
    from dedup.config import PARITY_CONFIG
    from dedup.local_oracle import local_signatures
    return local_signatures(rows, PARITY_CONFIG)


def oracle_clusters(sigs, urls) -> list[tuple[str, str]]:
    from dedup.config import PARITY_CONFIG
    from dedup.local_oracle import (local_candidate_pairs, local_verify,
                                    union_find_clusters)
    verified = local_verify(local_candidate_pairs(sigs, PARITY_CONFIG), sigs,
                            PARITY_CONFIG)
    return union_find_clusters(urls, [(a, b) for a, b, *_, keep in verified
                                      if keep])


def _write(path: Path, pdf: pd.DataFrame) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   **_PQ_OPTS)


def _write_parts(path: Path, pdf: pd.DataFrame, parts: int = 8) -> None:
    """A corpus directory of `parts` files split by url hash, the shape
    dedup.synth.write_corpus gives a corpus."""
    path.mkdir()
    shard = pdf["url"].map(lambda u: zlib.crc32(u.encode()) % parts)
    for i in range(parts):
        _write(path / f"part-{i:05d}.parquet", pdf[shard == i])


# --- batch workloads ---------------------------------------------------------

def prep_synth(root: Path, seed: int, n_docs: int, token_scale: float,
               hot_frac: float, warm_docs: int) -> tuple[Path, dict]:
    """corpus/ (engine input), warm.parquet (set-up slice, disjoint
    urls), expected.parquet (url, text, cluster_id)."""
    params = {"kind": "synth", "seed": seed, "n_docs": n_docs,
              "token_scale": token_scale, "hot_frac": hot_frac,
              "warm_docs": warm_docs}

    def build(d: Path) -> None:
        from dedup.synth import corpus_pdf
        pdf = corpus_pdf(n_docs, seed, hot_frac, token_scale=token_scale)
        _write_parts(d / "corpus", pdf[["url", "warc_ts", "html", "lang"]])
        warm = corpus_pdf(warm_docs, seed + 7_919, hot_frac,
                          token_scale=token_scale)
        warm["url"] = "warm." + warm["url"]
        _write(d / "warm.parquet", warm[["url", "warc_ts", "html", "lang"]])
        texts = [page_text(t, h) for t, h in zip(pdf["text"], pdf["html"])]
        sigs = oracle_signatures(list(zip(pdf["url"], texts)))
        clusters = dict(oracle_clusters(sigs, list(pdf["url"])))
        _write(d / "expected.parquet", pd.DataFrame({
            "url": pdf["url"], "text": texts,
            "cluster_id": [clusters[u] for u in pdf["url"]]}))

    d, cached = _cached(root, params, build)
    return d, {"n_docs": n_docs, "cached": cached}


# --- streaming workload ------------------------------------------------------

def _drop_docs(seed: int, base: pd.DataFrame, n_fresh: int,
               n_copies: int) -> pd.DataFrame:
    """A crawl drop: fresh documents on drop-private hosts plus edited
    copies of base documents under new urls (they must join base
    clusters through the incremental fold)."""
    from dedup.synth import _edit_tokens, corpus_pdf, render_html
    fresh = corpus_pdf(n_fresh, 1_000_003 + seed, 0.0)
    fresh["url"] = fresh["url"].str.replace(
        ".example.", f".drop{seed}.example.", regex=False)
    rng = random.Random(seed)
    with_text = base[base["text"].str.split().str.len() >= 40]
    picks = rng.sample(range(len(with_text)), n_copies)
    rows = []
    for k, i in enumerate(picks):
        src = with_text.iloc[i]
        text = _edit_tokens(rng, src["text"], rng.uniform(0.0, 0.04))
        rows.append({"url": f"https://drop{seed}.example.com/copy/{k}",
                     "warc_ts": src["warc_ts"] + pd.Timedelta(days=30),
                     "html": render_html(text, "copy"), "text": text,
                     "lang": src["lang"]})
    return pd.concat([fresh.drop(columns=["truth_cluster"]),
                      pd.DataFrame(rows)], ignore_index=True)


def prep_drop(root: Path, seed: int, n_base: int, n_fresh: int,
              n_copies: int) -> tuple[Path, dict]:
    """base.parquet (shared by every seed of one code version), drop.parquet,
    expected.parquet (url, cluster_id over base ∪ drop) and lookups.json
    (url -> local_dedupe_one rows). The lookups are the drop's copies of
    base documents, in a seeded order: every lookup finds candidates, so
    the latency mix does not shift from seed to seed."""
    from dedup.synth import corpus_pdf
    # the streaming template ingested from the base records absolute paths
    base_params = {"kind": "drop_base", "n_base": n_base,
                   "checkout": str(root.resolve())}

    def build_base(d: Path) -> None:
        base = corpus_pdf(n_base, 20_261_017, 0.0)
        _write(d / "base.parquet",
               base[["url", "warc_ts", "html", "text", "lang"]])

    base_dir, _ = _cached(root, base_params, build_base)
    params = {"kind": "drop", "seed": seed, "n_base": n_base,
              "n_fresh": n_fresh, "n_copies": n_copies}

    def build(d: Path) -> None:
        from dedup.config import PARITY_CONFIG
        from dedup.local_oracle import local_dedupe_one
        base = pd.read_parquet(base_dir / "base.parquet")
        drop = _drop_docs(seed, base, n_fresh, n_copies)
        clash = set(drop["url"]) & set(base["url"])
        if clash:
            raise ValueError(f"drop urls collide with the base: {clash}")
        _write(d / "drop.parquet", drop)
        both = pd.concat([base, drop], ignore_index=True)
        sigs = oracle_signatures(list(zip(both["url"], both["text"])))
        clusters = oracle_clusters(sigs, list(both["url"]))
        _write(d / "expected.parquet",
               pd.DataFrame(clusters, columns=["url", "cluster_id"]))
        urls = random.Random(seed).sample(list(drop["url"][n_fresh:]),
                                          n_copies)
        (d / "lookups.json").write_text(json.dumps(
            [[u, [list(r) for r in local_dedupe_one(sigs, u, PARITY_CONFIG)]]
             for u in urls]))

    d, cached = _cached(root, params, build)
    return d, {"base_dir": base_dir, "cached": cached,
               "n_docs": n_fresh + n_copies}

