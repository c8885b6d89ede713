"""Per-query detection kernel — DataFrame reimplementation of the
reference's `find_duplicates` (app/hash_detector.py:167-318, operator T9).

Given one source document's metadata and a DataFrame of candidate nodes
(the reference's remote-search results, modeled as rows with the raw
edu-sharing property map), produce the same duplicates list and per-field
max-similarity stats. This is the `dedupe_one` query mode (SURVEY §3.4):
the source row is a broadcast scalar; candidates are the distributed side.

Decomposition (SURVEY §2.1 T9a-T9h):
  T9a  source text assembly from valid fields         (:189-207)
  T9b  candidate field extraction w/ key precedence   (:223-247)
  T9c  URL-exact short-circuit, threshold bypass      (:249-266, :295-297)
  T9d  candidate signature + cosine scoring           (:268-284)
  T9e  per-field max similarity (pre-dedup, 4 dp)     (:286-288, :307-309)
  T9f  first-occurrence dedup across fields           (:211-214, :290-293)
  T9g  threshold filter                               (:295-305)
  T9h  stable desc sort                               (:311-312)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType

from dedup.coeffs import load_coeffs
from dedup.config import DedupConfig, minhash_prefilter_min_equal
from dedup.local_oracle import xxh64_band_key
from dedup.lsh import band_keys, key_rank_col, match_source_from_rank
from dedup.normalize import (description_block_key, is_valid_field,
                             normalize_url, title_block_keys)
from dedup.signature import (SHINGLES_DROPPED, _shingle_array,
                             compute_text_signature, tokenize)
from dedup.verify import (MIXED_SHINGLES_ERROR, _cosines_from_matrices,
                          _list_array_matrix, batch_jaccards,
                          cosine_similarity)

# candidate DataFrame contract: one row per (search_field, candidate) in
# request order. field_priority = index of the field in the request's
# search_fields list; candidate_seq = position within that field's result
# list. Together they encode the Python dict/list insertion order the
# reference's seen-id dedup depends on (T9f).
CANDIDATE_COLUMNS = ("search_field", "field_priority", "candidate_seq",
                     "node_id", "properties")

# key precedence for candidate field extraction (hash_detector.py:229-247)
_TITLE_KEYS = ("cclom:title", "cm:name")
_DESC_KEYS = ("cclom:general_description",)
_URL_KEYS = ("ccm:wwwurl", "cclom:location")


@dataclass
class SourceMetadata:
    title: str | None = None
    description: str | None = None
    url: str | None = None
    redirect_url: str | None = None


def _require_shingles(signatures: DataFrame) -> None:
    """scoring='jaccard' needs real shingle arrays: a schema check only, so
    building a lookup launches no job. A table signed with keep_shingles
    off says so in the shingles field's metadata (SHINGLES_DROPPED); a
    table that mixes in null-shingle rows without saying so raises on the
    first such row at scoring time (_source_score_udf)."""
    if ("shingles" not in signatures.columns
            or signatures.schema["shingles"].metadata.get(SHINGLES_DROPPED)):
        raise ValueError(
            "scoring='jaccard' needs a signatures table with shingle "
            "arrays (build it under an engine config / keep_shingles=True)")


def _precedence_extract(props_col, keys: tuple[str, ...]):
    """First-present-KEY extraction: a present key with a null/empty value
    STOPS the chain (the reference `break`s on key presence, not on value
    validity — hash_detector.py:229-232). F.get returns NULL out-of-bounds
    (ANSI-safe, unlike element_at)."""
    expr = F.lit(None).cast("string")
    for key in reversed(keys):
        expr = F.when(F.map_contains_key(props_col, F.lit(key)),
                      F.get(props_col.getItem(key), 0)).otherwise(expr)
    return expr


def find_duplicates(source: SourceMetadata, candidates: DataFrame,
                    cfg: DedupConfig | None = None,
                    threshold: float | None = None,
                    ) -> tuple[DataFrame, DataFrame]:
    """-> (duplicates, field_max) DataFrames.

    duplicates: node_id, title, description, url, similarity_score,
                match_source — sorted by similarity desc (ties broken by
                arrival order: the reference's sort is stable, T9h).
    field_max:  search_field, max_similarity (rounded 4 dp; one row per
                field that had candidates, T9e).
    """
    cfg = cfg or DedupConfig()
    # reference quirk, replicated deliberately: `threshold or default`
    # (app/hash_detector.py:187) treats 0.0 as "unset" and silently uses the
    # default 0.9 — so does this kernel.
    threshold = threshold or cfg.threshold
    spark = candidates.sparkSession

    # --- T9a: source text from valid fields only (driver-side scalars)
    has_title = is_valid_field(source.title)
    has_description = is_valid_field(source.description)
    parts = []
    if has_title:
        parts.append(source.title)
    if has_description:
        parts.append(source.description)
    A, B = load_coeffs(cfg.num_hashes, cfg.seed)
    source_sig = compute_text_signature(" ".join(parts), A, B, cfg)
    if source_sig is None:
        empty_dups = spark.createDataFrame(
            [], "node_id string, title string, description string, "
                "url string, similarity_score double, match_source string")
        empty_max = spark.createDataFrame(
            [], "search_field string, max_similarity double")
        return empty_dups, empty_max

    src_norm_url = normalize_url(source.url)
    src_norm_redirect = (normalize_url(source.redirect_url)
                         if source.redirect_url else None)
    src_sig_f64 = source_sig.astype(np.float64)

    # --- T9b: candidate field extraction with key precedence
    c = (candidates
         .where(F.col("node_id").isNotNull() & (F.col("node_id") != ""))
         .withColumn("title", _precedence_extract(F.col("properties"), _TITLE_KEYS))
         .withColumn("description", _precedence_extract(F.col("properties"), _DESC_KEYS))
         .withColumn("url", _precedence_extract(F.col("properties"), _URL_KEYS)))

    # --- T9c: URL-exact match (vs source url AND redirect_url)
    @F.pandas_udf("boolean")
    def url_match_udf(urls: pd.Series) -> pd.Series:
        def match(u):
            n = normalize_url(u)
            if not n:
                return False
            return bool((src_norm_url and n == src_norm_url)
                        or (src_norm_redirect and n == src_norm_redirect))
        return urls.map(match)

    # --- T9d: candidate text from the SAME field subset as the source,
    # then cosine vs the broadcast source signature. A candidate field
    # contributes only if source has it AND the candidate value is truthy
    # (reference `if has_title and title:` — hash_detector.py:271-274).
    @F.pandas_udf(DoubleType())
    def score_udf(titles: pd.Series, descriptions: pd.Series) -> pd.Series:
        out = []
        for t, d in zip(titles, descriptions):
            parts = []
            if has_title and t:
                parts.append(t)
            if has_description and d:
                parts.append(d)
            sig = compute_text_signature(" ".join(parts), A, B, cfg)
            if sig is None:
                out.append(None)  # reference skips this candidate (:280-281)
            else:
                out.append(cosine_similarity(src_sig_f64,
                                             sig.astype(np.float64)))
        return pd.Series(out, dtype="float64")

    scored = (
        c.withColumn("url_match", url_match_udf(F.col("url")))
        .withColumn(
            "similarity",
            F.when(F.col("url_match"), F.lit(1.0))
            .otherwise(score_udf(F.col("title"), F.col("description"))))
        .withColumn(
            "match_source",
            F.when(F.col("url_match"), F.lit("url_exact"))
            .otherwise(F.col("search_field")))
    )

    # --- T9e: per-field max BEFORE dedup; sig-None rows excluded; fields
    # that returned candidates but produced no score report 0.0
    field_max = (
        candidates.groupBy("search_field", "field_priority")
        .agg(F.count(F.lit(1)).alias("_n"))
        .join(
            scored.groupBy("search_field")
            .agg(F.max("similarity").alias("_max")),
            "search_field", "left")
        .select(
            "search_field",
            F.round(F.coalesce(F.col("_max"), F.lit(0.0)), 4)
            .alias("max_similarity"),
            "field_priority")
        .orderBy("field_priority")
        .drop("field_priority")
    )

    # --- T9f/T9g/T9h: first-occurrence dedup, threshold, stable sort
    w = Window.partitionBy("node_id").orderBy("field_priority", "candidate_seq")
    duplicates = (
        scored.where(F.col("similarity").isNotNull())
        .withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") == 1)
        .where(F.col("url_match") | (F.col("similarity") >= F.lit(threshold)))
        .select(
            "node_id", "title", "description", "url",
            F.round(F.col("similarity"), 4).alias("similarity_score"),
            "match_source", "field_priority", "candidate_seq")
        .orderBy(F.desc("similarity_score"), F.asc("field_priority"),
                 F.asc("candidate_seq"))
        .drop("field_priority", "candidate_seq")
    )
    return duplicates, field_max


_LOOKUP_SCHEMA = "node_url string, similarity double, match_source string"


def _source_score_udf(src: np.ndarray, use_jaccard: bool):
    """Arrow UDF (vectors, signed) -> each candidate's score against the
    driver-held source vector `src`, through the same batched kernels as
    verify_pairs: reference cosine over minhash vectors, or exact Jaccard
    over shingle sets. Rows without a vector score NULL; a signed row
    without one means a mixed signatures table and raises."""
    def _score(vecs, signed):
        has = np.asarray(vecs.is_valid())
        if (np.asarray(signed) & ~has).any():
            raise ValueError(MIXED_SHINGLES_ERROR.format(""))
        out = np.full(len(vecs), np.nan)
        cand = vecs.drop_null()
        n = len(cand)
        if n and use_jaccard:
            # one source copy per candidate: the prefilter passes only
            # near-duplicates, so this stays within ~2x the batch's input
            rep = pa.LargeListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int64) * src.size),
                pa.array(np.tile(src, n)))
            out[has] = batch_jaccards(cand, rep)
        elif n:
            out[has] = _cosines_from_matrices(
                np.broadcast_to(src, (n, src.size)), _list_array_matrix(cand))
        return pa.array(out, from_pandas=True)  # NaN -> NULL

    # real type objects: `from __future__ import annotations` would
    # stringify inline hints, which arrow_udf's inference rejects
    _score.__annotations__ = {
        "vecs": pa.Array, "signed": pa.Array, "return": pa.Array}
    return F.arrow_udf(_score, "double").asNondeterministic()


def _lookup_rank(cfg: DedupConfig, src_bands: list[int],
                 url_keys: list[str], title_keys: list[str],
                 desc_key: str | None):
    """Best key rank of one signatures row against the source's keys, read
    off the row's own columns: 0 norm_url or norm_redirect is a source url
    key, 1 a band key (lsh.band_keys) is a source band key, 2 a title key
    is a source title key, 3 desc_key is the source description key; NULL
    when no key is shared. The ranks are lsh.key_rank_col's."""
    ranked = []
    if url_keys:
        ranked.append((0, F.col("norm_url").isin(url_keys)
                       | F.col("norm_redirect").isin(url_keys)))
    if src_bands:
        ranked.append((1, F.exists(band_keys(cfg),
                                   lambda k: k.isin(src_bands))))
    if title_keys:
        ranked.append((2, F.exists("title_keys",
                                   lambda t: t.isin(title_keys))))
    if desc_key is not None:
        ranked.append((3, F.col("desc_key") == desc_key))
    rank = F.lit(None).cast("int")
    for r, shared in reversed(ranked):
        rank = F.when(shared, F.lit(r)).otherwise(rank)
    return rank


def _score_lookup(signatures: DataFrame, cfg: DedupConfig,
                  key_index: DataFrame | None, scoring: str | None,
                  src_sig, src_shingles, url_keys: list[str],
                  title_keys: list[str], desc_key: str | None,
                  exclude: str | None = None) -> DataFrame:
    """Shared tail of dedupe_one and dedupe_metadata, the engine twin of
    local_oracle._score_candidates: candidates share any blocking key with
    the source (band keys derived here from src_sig, plus the url and
    metadata keys) and carry their best key rank. url_exact short-circuits
    to 1.0; the rest are scored against the driver-held source vectors —
    cosine >= cfg.threshold, or with scoring="jaccard" exact Jaccard >=
    cfg.jaccard_threshold — rounded to 4 dp, in (-sim, url) order.

    Without `key_index` the candidates are one projection over
    `signatures`: each row's rank comes from its own key columns
    (`_lookup_rank`), so the plan has no per-key rows, no aggregate and no
    join, and reads the signatures once. With `key_index` the index rows
    are filtered by the source's keys, reduced to each url's min rank and
    joined back to `signatures`, because the index carries no vectors;
    that is the only reason the two candidate plans differ. Both assume
    one signatures row per url (latest_signatures, the pipeline's
    signatures stage). With a repeated url the no-index plan ranks and
    scores each row on its own keys, so a row that shares no key with the
    source is no candidate, while the key_index plan gives every row of
    the url the url's best rank.

    The result is tiny, so one partition sorted within itself gives the
    total order: no range-partition sample job, and the score UDF runs
    once."""
    use_jaccard = scoring == "jaccard"
    src_bands: list[int] = []
    if src_sig is not None:
        r = cfg.lsh_rows
        src_bands = [xxh64_band_key(i, src_sig[i * r:(i + 1) * r])
                     for i in range(cfg.lsh_bands)]
    if not (src_bands or url_keys or title_keys or desc_key is not None):
        return signatures.sparkSession.createDataFrame([], _LOOKUP_SCHEMA)

    sig_cols = ["url", "minhash"] + (["shingles"] if use_jaccard else [])
    if key_index is None:
        cands = signatures.select(
            *sig_cols, _lookup_rank(cfg, src_bands, url_keys, title_keys,
                                    desc_key).alias("_rank"))
        cands = cands.where(F.col("_rank").isNotNull())
        if exclude is not None:
            cands = cands.where(F.col("url") != exclude)
    else:
        txt_keys = [f"t:{k}" for k in title_keys] + (
            [f"d:{desc_key}"] if desc_key is not None else [])
        keys = key_index.where(F.col("gk_band").isin(src_bands)
                               | F.col("gk_url").isin(url_keys)
                               | F.col("gk_txt").isin(txt_keys))
        if exclude is not None:
            keys = keys.where(F.col("url") != exclude)
        cands = (keys.groupBy("url").agg(F.min(key_rank_col()).alias("_rank"))
                 .join(signatures.select(*sig_cols), "url"))
    vec = "shingles" if use_jaccard else "minhash"
    rank0 = F.col("_rank") == 0

    score = F.lit(None).cast("double")  # no source signature: url_exact only
    if src_sig is not None:
        src = np.asarray(src_sig, dtype=np.float64)
        if use_jaccard:
            if src_shingles is None:
                raise ValueError(
                    MIXED_SHINGLES_ERROR.format(" (the source)"))
            src = np.asarray(src_shingles, dtype=np.int64) & 0xFFFFFFFF
            # MinHash-estimate prefilter against the source signature —
            # the same native equal-component cut verify_pairs applies, so
            # most candidates never send their shingles to Python. NULL-
            # shingle rows bypass the cut so they always reach the scorer's
            # mixed-table ValueError instead of being dropped silently.
            src_arr = F.array(*[F.lit(int(x)) for x in src_sig])
            est = F.size(F.filter(F.zip_with("minhash", src_arr,
                                             lambda x, y: x == y),
                                  lambda v: v))
            cands = cands.where(
                rank0 | F.col("shingles").isNull()
                | (est >= F.lit(minhash_prefilter_min_equal(cfg))))
        score = _source_score_udf(src, use_jaccard)(
            vec, F.col("minhash").isNotNull())

    threshold = cfg.jaccard_threshold if use_jaccard else cfg.threshold
    scored = cands.select(
        F.col("url").alias("node_url"),
        F.when(rank0, F.lit(1.0)).otherwise(score).alias("similarity"),
        match_source_from_rank(F.col("_rank")).alias("match_source"))
    return (scored
            .where(F.col("similarity").isNotNull())
            .where((F.col("match_source") == "url_exact")
                   | (F.col("similarity") >= F.lit(threshold)))
            .select("node_url", F.round("similarity", 4).alias("similarity"),
                    "match_source")
            .repartition(1)
            .sortWithinPartitions(F.desc("similarity"), F.asc("node_url")))


def dedupe_metadata(signatures: DataFrame, source: SourceMetadata,
                    cfg: DedupConfig | None = None,
                    key_index: DataFrame | None = None,
                    scoring: str | None = None) -> DataFrame:
    """Ad-hoc by-metadata query at corpus scale — the reference's
    `/detect/hash/by-metadata` (app/main.py:534-613): the source document is
    NOT in the corpus; its signature and blocking keys are computed
    driver-side from the given title/description/url (T9a semantics:
    valid fields only), candidates are the rows that share a band, url,
    title or description key with it, as in `dedupe_one`, and scoring is
    the reference cosine against the source signature (`_score_lookup`).

    Returns (node_url, similarity, match_source) like `dedupe_one`.

    `scoring` mirrors dedupe_one: None/"cosine" (default) keeps the
    reference cosine decision at cfg.threshold; "jaccard" scores candidates
    by exact Jaccard of their shingle arrays against the source's shingle
    set (computed driver-side) at cfg.jaccard_threshold — the similarity
    column then carries the Jaccard. A threshold of 0.0 keeps every scored
    candidate; only the parity kernel find_duplicates replicates the
    reference's `threshold or default` quirk (app/hash_detector.py:187)."""
    cfg = cfg or DedupConfig()
    use_jaccard = scoring == "jaccard"
    if use_jaccard:
        _require_shingles(signatures)
    parts = [v for v in (source.title, source.description)
             if is_valid_field(v)]
    text = " ".join(parts)
    A, B = load_coeffs(cfg.num_hashes, cfg.seed)
    src_sig = compute_text_signature(text, A, B, cfg)
    url_keys = sorted({n for n in (normalize_url(source.url),
                                   normalize_url(source.redirect_url)
                                   if source.redirect_url else None) if n})
    # metadata blocking keys (reference title / description-prefix
    # candidate searches, app/wlo_client.py:265-311) — only useful when the
    # corpus signatures carry the matching key columns
    title_keys: list[str] = []
    desc_key = None
    if "title_keys" in signatures.columns:
        title_keys = title_block_keys(source.title)
        desc_key = description_block_key(source.description)
    # same shingling as signatures_table (signature._shingle_array) so the
    # driver-side source set can't drift from the stored arrays
    src_shingles = (np.sort(_shingle_array(tokenize(text), cfg))
                    if use_jaccard and src_sig is not None else None)
    return _score_lookup(signatures, cfg, key_index, scoring, src_sig,
                         src_shingles, url_keys, title_keys, desc_key)


def build_candidate_stats(search_info: DataFrame,
                          field_max: DataFrame) -> DataFrame:
    """M3 stats assembly (reference app/main.py:178-204): per-field search
    stats with search_value truncated to 80 chars and normalized_value to
    50, left-joined with the kernel's per-field max similarity (T9e).

    search_info columns: search_field, search_value, normalized_value,
    candidates_found. Output adds max_similarity (null when the field
    produced no scored candidates — the reference omits the key).

    Truncation is the reference's display form exactly: values LONGER than
    the limit become the first `limit` chars + '...' (main.py:185,192);
    values at or under the limit pass through unchanged."""
    def _trunc(col: str, limit: int):
        c = F.col(col)
        return (F.when(F.length(c) > limit,
                       F.concat(F.substring(c, 1, limit), F.lit("...")))
                .otherwise(c).alias(col))

    truncated = search_info.select(
        "search_field",
        _trunc("search_value", 80),
        _trunc("normalized_value", 50),
        F.col("candidates_found").cast("int").alias("candidates_found"))
    return truncated.join(
        field_max.select("search_field", "max_similarity"),
        "search_field", "left")


def dedupe_one(signatures: DataFrame, url: str,
               cfg: DedupConfig | None = None,
               key_index: DataFrame | None = None,
               scoring: str | None = None) -> DataFrame:
    """Per-key corpus query — the reference's `/detect/hash/by-node`
    (app/main.py:499-531) against the corpus signatures table: point-lookup
    the source row, restrict candidates to documents sharing any LSH band,
    normalized-URL, title or description key with it (this key match
    replaces the reference's remote candidate search, SURVEY §3.4), score
    with the reference cosine kernel, and exclude the source itself
    (app/wlo_client.py:377-381 semantics).

    Returns (node_url, similarity, match_source) for candidates that are
    url_exact or score >= threshold, similarity rounded to 4 dp like the
    reference boundary (app/hash_detector.py:303).

    Scale shape: the source row is collected once; one scan of the
    signatures ranks every row against the source's ~b+2 keys from the
    row's own columns (no per-key rows, aggregate or join) and its vectors
    score the candidates (`_score_lookup`). Pass `key_index` (the
    persisted inverted key table built by
    DedupPipeline.run(build_key_index=True), sorted by key so the IN-list
    filter prunes parquet row groups) to read only the candidates'
    signatures rows, joined back by url, instead of scanning them all.

    `scoring` picks the keep semantics: None/"cosine" (default) is the
    reference cosine decision regardless of cfg.scoring, so the two
    per-document CLI modes stay consistent under --engine-mode;
    "jaccard" opts into engine exact-Jaccard keep semantics (requires a
    signatures table that kept the shingle arrays) and then the returned
    `similarity` column carries the exact Jaccard, rounded to 4 dp.
    """
    cfg = cfg or DedupConfig()
    use_jaccard = scoring == "jaccard"
    if use_jaccard:
        _require_shingles(signatures)
    # the shingle array (the widest column by far) is collected only when
    # it is scored
    has_meta = "title_keys" in signatures.columns
    src_cols = ["minhash", "norm_url", "norm_redirect"]
    src_cols += ["title_keys", "desc_key"] if has_meta else []
    src_cols += ["shingles"] if use_jaccard else []
    src_rows = (signatures.where(F.col("url") == url)
                .select(*src_cols).collect())
    if not src_rows:
        return signatures.sparkSession.createDataFrame([], _LOOKUP_SCHEMA)
    src = src_rows[0]
    url_keys = sorted({n for n in (src["norm_url"], src["norm_redirect"])
                       if n is not None})
    title_keys = (src["title_keys"] or []) if has_meta else []
    desc_key = src["desc_key"] if has_meta else None
    return _score_lookup(signatures, cfg, key_index, scoring, src["minhash"],
                         src["shingles"] if use_jaccard else None,
                         url_keys, title_keys, desc_key, exclude=url)


def candidates_df_from_pools(spark, pools: dict[str, list[dict]]) -> DataFrame:
    """Build the candidate DataFrame from the reference's candidate-pool
    shape (Dict[search_field, List[node-dict]], app/wlo_client.py:243) —
    used by parity tests and the compat API."""
    rows = []
    for prio, (field, nodes) in enumerate(pools.items()):
        for seq, node in enumerate(nodes):
            ref = node.get("ref") or {}
            props_in = node.get("properties") or {}
            props = {
                k: [str(x) for x in v] if isinstance(v, list) else [str(v)]
                for k, v in props_in.items()
            }
            rows.append((field, prio, seq, ref.get("id"), props))
    return spark.createDataFrame(
        rows,
        "search_field string, field_priority int, candidate_seq long, "
        "node_id string, properties map<string, array<string>>")
