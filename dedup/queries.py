"""Driver-contract queries: one entry per implemented operator
(SURVEY §2 + §2.6 + training-pipeline extras), each over the driver-provided
tables at a given sf dir, with a DuckDB-equivalent ANSI-SQL oracle where the
semantics are SQL-expressible (SURVEY §5.6).

Determinism rules for oracle comparison (driver hashes values):
- prefer integer outputs (counts) over float ratios;
- aggregate doubles through decimal(18,6) so summation order can't skew;
- where floats are unavoidable (cosine), order by the float but emit it
  rounded, computed with the same fold order on both sides.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dedup.cluster import assign_clusters
from dedup.config import ENGINE_CONFIG, PARITY_CONFIG
from dedup.lsh import candidate_pairs
from dedup.normalize import normalize_url_udf, normalize_title_udf
from dedup.signature import signatures_table
from dedup.verify import verify_pairs


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


import contextlib

# canonical zero-norm-guarded row normalizer (one definition, shared with
# the single-node oracle so the policy cannot drift)
from dedup.ann_index import unit_rows as _unit_rows


# Streaming/pipeline driver queries run at a corpus SUBSET (doc_id below
# this bound, mirrors included) — they exercise checkpointed state
# machinery whose cost is dominated by per-micro-batch overhead, not data
# volume, and the driver's correctness budget is shared across 55+
# queries. The subset keeps every planted mirror family (doc_id < 50) so
# cross-drop duplicate pairs still exist. Fixtures are generated at the
# same bound (tools/gen_oracle_fixtures.py).
STREAM_QUERY_DOC_BOUND = 120


@contextlib.contextmanager
def _few_shuffle_partitions(spark: SparkSession, n: int = 8):
    """Temporarily lower spark.sql.shuffle.partitions: the stateful
    streaming queries pay per-partition state-store file overhead every
    micro-batch, which at a few hundred driver-check rows is pure waste at
    the session default (32+). Restored on exit so the driver session is
    untouched."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def docs_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> corpus shape: synthesized deterministic url + text.
    doc_id < 50 additionally appears as a planted mirror copy (exact dup)."""
    d = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://www."), "source", F.lit(".example.com/docs/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "text", "lang", "doc_id")
    mirrors = (d.where("doc_id < 50")
               .withColumn("url", F.concat(F.lit("https://mirror.net/copy/"),
                                           F.col("doc_id").cast("string"))))
    return d.unionByName(mirrors)


# --- tokenization / text stats -------------------------------------------------

_TOKENS = "filter(split(lower(text), '\\\\s+'), x -> length(x) > 1)"


def q_token_count(spark, sf_dir):
    """T1 tokenize: reference tokenization (lowercase, ws-split, len>1)."""
    return _docs(spark, sf_dir).select(
        "doc_id", F.expr(f"size({_TOKENS})").cast("bigint").alias("n_tokens"))


def q_text_quality(spark, sf_dir):
    """Quality-scoring counters (training-pipeline extra): char/token/punct/
    digit/stopword counts as integers (ratio-free determinism)."""
    stop = "('the','a','of','and','to','in','is','it','for','on')"
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.expr(f"size({_TOKENS})").cast("bigint").alias("n_tokens"),
        F.expr("length(text) - length(regexp_replace(text, '[.,;:!?]', ''))")
        .cast("bigint").alias("n_punct"),
        F.expr("length(text) - length(regexp_replace(text, '[0-9]', ''))")
        .cast("bigint").alias("n_digits"),
        F.expr(f"size(filter(split(lower(text), '\\\\s+'), x -> x in {stop}))")
        .cast("bigint").alias("n_stopwords"),
    )


_LANG_STOPS = {
    "en": ("the", "and", "of", "to", "is", "was", "for", "with"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "est", "dans", "pour"),
    "es": ("el", "la", "los", "es", "por", "con", "para", "una"),
}


def q_lang_stopword_scores(spark, sf_dir):
    """Language-ID heuristic (training-pipeline extra): per-language stopword
    hit counts + argmax (ties broken by language-code order)."""
    df = _docs(spark, sf_dir)
    cols = [F.col("doc_id")]
    for lang, words in _LANG_STOPS.items():
        lst = "(" + ",".join(f"'{w}'" for w in words) + ")"
        cols.append(
            F.expr(f"size(filter(split(lower(text), '\\\\s+'), x -> x in {lst}))")
            .cast("bigint").alias(f"hits_{lang}"))
    df = df.select(*cols)
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in _LANG_STOPS])
    pred = F.lit("und")
    for lang in reversed(list(_LANG_STOPS)):  # earlier langs win ties
        pred = F.when((best > 0) & (F.col(f"hits_{lang}") == best),
                      F.lit(lang)).otherwise(pred)
    return df.withColumn("pred_lang", pred)


def _lang_oracle_sql() -> str:
    hit_cols, names = [], []
    for lang, words in _LANG_STOPS.items():
        lst = "(" + ",".join(f"'{w}'" for w in words) + ")"
        hit_cols.append(
            f"CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), "
            f"x -> x in {lst})) AS BIGINT) AS hits_{lang}")
        names.append(f"hits_{lang}")
    best = f"greatest({', '.join(names)})"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lg} = {best} THEN '{lg}'" for lg in _LANG_STOPS
    ) + " ELSE 'und' END"
    return (f"WITH h AS (SELECT doc_id, {', '.join(hit_cols)} FROM documents) "
            f"SELECT doc_id, {', '.join(names)}, {case} AS pred_lang FROM h")


def q_quality_filter(spark, sf_dir):
    """Composable quality gate — the training-pipeline FILTER stage: every
    document gets keep/drop plus the FIRST failing rule (too_short <20
    tokens, too_long >90, no_stopwords), all native CASE over integer
    counters so the decision is exactly reproducible in SQL. Real DuckDB
    oracle."""
    stop = "('the','a','of','and','to','in','is','it','for','on')"
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(f"size({_TOKENS})").cast("bigint").alias("n_tokens"),
        F.expr(f"size(filter(split(lower(text), '\\\\s+'), x -> x in {stop}))")
        .cast("bigint").alias("n_stop"))
    reason = (F.when(F.col("n_tokens") < 20, F.lit("too_short"))
              .when(F.col("n_tokens") > 90, F.lit("too_long"))
              .when(F.col("n_stop") == 0, F.lit("no_stopwords"))
              .otherwise(F.lit(None).cast("string")))
    return d.select("doc_id", "n_tokens", "n_stop",
                    reason.isNull().alias("keep"),
                    reason.alias("drop_reason"))


def q_top_terms(spark, sf_dir):
    """Corpus vocabulary top-k (training-pipeline token statistics):
    explode tokens -> global counts -> top 25, ties broken by term. The
    groupBy benefits from partial (map-side) aggregation, so the shuffle
    carries one row per distinct term per partition, not one per token."""
    toks = _docs(spark, sf_dir).select(
        F.explode(F.expr(_TOKENS)).alias("term"))
    return (toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("term")).limit(25))


DECON_NGRAM = 8          # n-gram width for test-set decontamination
DECON_EVAL_MAX = 50      # doc_id < 50 plays the held-out evaluation set


def q_decontaminate(spark, sf_dir):
    """Test-set decontamination (training-pipeline extra): flag every
    training document (doc_id >= 50) that shares ANY 8-token n-gram with
    the held-out evaluation subset (doc_id < 50) — the C4/GPT-3-style
    n-gram overlap rule. Grams are distinct per doc; the eval gram set is
    broadcast (at real scale it is the small side by construction: eval
    benchmarks are tiny next to a training corpus). Real DuckDB oracle."""
    n = DECON_NGRAM
    toks = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKENS).alias("t"))
    grams = toks.select("doc_id", F.explode(F.expr(
        f"CASE WHEN size(t) >= {n} THEN transform(sequence(0, size(t) - {n}),"
        f" i -> concat_ws(' ', slice(t, i + 1, {n}))) "
        "ELSE array() END")).alias("gram")).distinct()
    contam = (grams.where(F.col("doc_id") < DECON_EVAL_MAX)
              .select("gram").distinct())
    hits = (grams.where(F.col("doc_id") >= DECON_EVAL_MAX)
            .join(F.broadcast(contam), "gram")
            .groupBy("doc_id")
            .agg(F.countDistinct("gram").alias("_n")))
    train = (_docs(spark, sf_dir).where(F.col("doc_id") >= DECON_EVAL_MAX)
             .select("doc_id"))
    return (train.join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("_n", F.lit(0)).cast("bigint")
                    .alias("n_hit_grams"),
                    (F.coalesce("_n", F.lit(0)) > 0).alias("contaminated"))
            .orderBy("doc_id"))


def q_repetition_filter(spark, sf_dir):
    """Gopher-style within-document repetition gate (training-pipeline
    extra): the single most frequent word bigram's share of all bigram
    occurrences; documents above 10% are dropped. Pure integer counters +
    an integer comparison (top * 10 <= total), so the decision is exactly
    reproducible in SQL — no float thresholds in the hash. Real DuckDB
    oracle."""
    toks = _docs(spark, sf_dir).select("doc_id", F.expr(_TOKENS).alias("t"))
    bigr = toks.select("doc_id", F.explode(F.expr(
        "CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2), "
        "i -> concat_ws(' ', slice(t, i + 1, 2))) ELSE array() END"
    )).alias("g"))
    counts = bigr.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("n"))
    agg = (counts.groupBy("doc_id")
           .agg(F.sum("n").alias("_tot"), F.max("n").alias("_top")))
    return (_docs(spark, sf_dir).select("doc_id").join(agg, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("_tot", F.lit(0)).cast("bigint")
                    .alias("n_bigrams"),
                    F.coalesce("_top", F.lit(0)).cast("bigint")
                    .alias("top_bigram_n"),
                    (F.coalesce("_top", F.lit(0)) * 10
                     <= F.coalesce("_tot", F.lit(0))).alias("keep"))
            .orderBy("doc_id"))


LINE_TOKENS = 10  # fixed token window standing in for newline-split lines


def q_line_dedup(spark, sf_dir):
    """C4/RefinedWeb-style GLOBAL line-level dedup (training-pipeline
    extra): segment every document into consecutive LINE_TOKENS-token
    lines (the synthetic corpus has no newlines; the segmentation is the
    deterministic stand-in), keep only each distinct line's FIRST global
    occurrence ordered by (doc_id, line_no), and emit per document the
    line count, how many of its lines were dropped as repeats of an
    earlier line, and the md5 of the text reassembled from its kept lines.

    Scale shape (restructured r6, bit-identical output — see
    OPTIMIZATION_r06.md): first-occurrence is ONE groupBy(line_hash).min(
    struct(doc_id, line_no, line)) — map-side combine absorbs
    boilerplate-hot lines (millions of identical cookie banners partially
    aggregate per partition), where a row_number() window would funnel
    every occurrence of a hot line into one partition. (doc_id, line_no)
    is globally unique, so carrying the line string as the struct's third
    field changes no min and lets each distinct line's winner keep its
    text WITHOUT the former join-back of every line occurrence onto the
    first-occurrence table (that join shuffled the line payload twice and
    re-ran the scan+explode a second time). Per-doc totals come from a
    cheap token-count-only scan (no explode), so the doc-level
    aggregation only ever sees the KEPT lines; the final doc_id-level
    join touches two doc-cardinality sides and AQE broadcasts it. Oracle
    groups by the line string itself — equal output absent 2^-64 hash
    collisions, exactly as before."""
    lines = (_docs(spark, sf_dir)
             .select("doc_id", F.expr(_TOKENS).alias("t"))
             .select("doc_id", F.posexplode(F.expr(
                 # empty docs emit no lines (sequence(0,-1) would DESCEND)
                 f"CASE WHEN size(t) = 0 THEN array() ELSE "
                 f"transform(sequence(0, CAST(ceil(size(t) / {LINE_TOKENS}.0)"
                 f" AS INT) - 1), i -> concat_ws(' ', slice(t, "
                 f"i * {LINE_TOKENS} + 1, {LINE_TOKENS}))) END")))
             .withColumnsRenamed({"pos": "line_no", "col": "line"}))
    kept = (lines.groupBy(F.xxhash64("line").alias("_h"))
            .agg(F.min(F.struct("doc_id", "line_no", "line"))
                 .alias("_first"))
            .select("_first.doc_id", "_first.line_no", "_first.line"))
    kept_per_doc = (kept.groupBy("doc_id")
                    .agg(F.count(F.lit(1)).alias("_n_kept"),
                         F.md5(F.concat_ws(" ", F.expr(
                             "transform(array_sort(collect_list("
                             "struct(line_no, line))), s -> s.line)")))
                         .alias("_kept_md5")))
    totals = (_docs(spark, sf_dir)
              .select("doc_id", F.expr(f"size({_TOKENS})").alias("_nt"))
              .where("_nt > 0")
              # coalesce only to pin the non-nullable type the former
              # count(1) aggregate declared (_nt > 0 rows are never null)
              .select("doc_id",
                      F.coalesce(
                          F.expr(f"CAST(ceil(_nt / {LINE_TOKENS}.0)"
                                 " AS BIGINT)"),
                          F.lit(0).cast("bigint")).alias("n_lines")))
    return (totals.join(kept_per_doc, "doc_id", "left")
            .select("doc_id", "n_lines",
                    # nullif(-1) only to pin the nullable type the former
                    # sum() aggregate declared (the count is never -1)
                    F.nullif(F.col("n_lines")
                             - F.coalesce("_n_kept", F.lit(0)),
                             F.lit(-1).cast("bigint"))
                    .alias("n_dup_lines"),
                    # a doc whose every line repeats an earlier doc keeps
                    # nothing: md5 of the empty reassembly, as before
                    F.coalesce("_kept_md5", F.md5(F.lit("")))
                    .alias("clean_md5"))
            .orderBy("doc_id"))


def q_domain_stats(spark, sf_dir):
    """CCNet-style per-domain corpus statistics (training-pipeline extra):
    web pipelines budget, sample, and gate by registered domain, so the
    engine reports per-domain doc counts, size totals, a short-doc count
    (the quality_filter min-length rule), and the exact-duplicate doc
    count within the domain — all integers, exactly reproducible in SQL.
    The synthetic corpus has no url column; the domain is derived from
    `source` with the same deterministic construction q_url_normalize
    uses.

    The synthetic docs are all distinct at sf<=0.01, so (the pii_redact
    precedent) a deterministic boilerplate page replaces every third
    document IDENTICALLY on both sides — the within-domain dup counter is
    exercised, not vacuously zero.

    Scale shape (r6 single-pass restructure, identical output — see
    OPTIMIZATION_r06.md): ONE scan feeds one (domain, md5) aggregation
    whose group rows already carry the per-group doc count and
    char/token/short partial sums, and a second map-side-combined
    roll-up to domain cardinality computes every output column —
    including the within-domain exact-dup count — so the former second
    scan, third exchange, and domain-level join are gone. Both
    aggregations combine map-side, so a boilerplate-hot domain partially
    aggregates per partition instead of funneling into one reducer (the
    same reasoning as line_dedup's hash-groupBy), and only the 16-byte
    digest ever rides a shuffle, never the text."""
    d = (_docs(spark, sf_dir)
         .select("doc_id", "source",
                 F.when(F.col("doc_id") % 3 == 0,
                        F.concat(F.lit("shared boilerplate page for "),
                                 F.col("source")))
                 .otherwise(F.col("text")).alias("text"))
         .select(
             F.concat(F.lit("www."), "source", F.lit(".example.com"))
             .alias("domain"),
             F.length("text").cast("bigint").alias("n_chars"),
             F.expr(f"size({_TOKENS})").cast("bigint").alias("n_tokens"),
             F.md5("text").alias("text_md5")))
    g = d.groupBy("domain", "text_md5").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("n_chars").alias("g_chars"),
        F.sum("n_tokens").alias("g_tokens"),
        F.sum(F.when(F.col("n_tokens") < 20, 1).otherwise(0))
        .alias("g_short"))
    return (g.groupBy("domain").agg(
        # coalesce pins the non-nullable type the former count(1) had
        F.coalesce(F.sum("c"), F.lit(0).cast("bigint")).alias("n_docs"),
        F.sum("g_chars").alias("sum_chars"),
        F.sum("g_tokens").alias("sum_tokens"),
        F.sum("g_short").cast("bigint").alias("n_short"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("bigint").alias("n_exact_dup_docs"))
        .orderBy("domain"))


def _domain_stats_oracle_sql() -> str:
    # deferred: _DUCK_TOKENS is defined beside the oracle dict below
    return f"""
WITH raw AS (
  SELECT source,
         CASE WHEN doc_id % 3 = 0
              THEN 'shared boilerplate page for ' || source
              ELSE text END AS text
  FROM documents),
d AS (
  SELECT 'www.' || source || '.example.com' AS domain,
         CAST(len(text) AS BIGINT) AS n_chars,
         CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens,
         md5(text) AS text_md5
  FROM raw),
per AS (
  SELECT domain, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         CAST(sum(CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_short
  FROM d GROUP BY domain),
dup AS (
  SELECT domain,
         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
           AS n_exact_dup_docs
  FROM (SELECT domain, text_md5, count(*) AS c FROM d GROUP BY 1, 2)
  GROUP BY domain)
SELECT per.domain, n_docs, sum_chars, sum_tokens, n_short, n_exact_dup_docs
FROM per JOIN dup USING (domain) ORDER BY per.domain
"""


def q_sample_split(spark, sf_dir):
    """Reproducible split carving + stratified downsampling
    (training-pipeline extra): every web-scale corpus needs a
    deterministic eval holdout (for decontamination and loss eval) and
    per-domain sampling rates (domain budgeting a la CCNet/FineWeb).
    Both decisions hash the DOCUMENT KEY, never a row number or RNG, so
    they are stable under repartitioning, retries, and re-runs, and any
    engine (here: DuckDB) reproduces them byte-for-byte.

    Mechanics: two independent md5 streams with distinct salts —
    `split:<doc_id>` assigns ~5% of docs to the eval split (first 4 hex
    chars < '0ccd' = 3277/65536), `samp:<doc_id>` downsamples TRAIN docs
    of even-numbered domains to ~50% (< '8000'); eval rows are never
    downsampled (a sampled holdout would silently shrink the
    decontamination gram set). Hex-prefix STRING comparison is the
    cross-engine portability trick: no hex->int parsing, identical
    collation both sides.

    Scale shape: pure JVM expressions (md5/substr/comparison) inside
    whole-stage codegen, one map-side-combined groupBy((domain, split));
    output rows = 2 x n_domains. At 100 TB the same plan is a single
    scan + partial agg — no window, no join, no UDF, no skew (md5 is
    uniform by construction)."""
    d = (_docs(spark, sf_dir)
         .select(
             "doc_id",
             F.concat(F.lit("www."), "source", F.lit(".example.com"))
             .alias("domain"),
             (F.substring(F.col("source"), 4, 10).cast("int") % 2 == 0)
             .alias("even_domain"),
             F.substring(F.md5(F.concat(F.lit("split:"),
                                        F.col("doc_id").cast("string"))),
                         1, 4).alias("split_key"),
             F.substring(F.md5(F.concat(F.lit("samp:"),
                                        F.col("doc_id").cast("string"))),
                         1, 4).alias("samp_key"))
         .withColumn("split", F.when(F.col("split_key") < "0ccd",
                                     F.lit("eval")).otherwise(F.lit("train")))
         .withColumn("kept", (F.col("split") == "eval")
                     | ~F.col("even_domain")
                     | (F.col("samp_key") < "8000")))
    return (d.groupBy("domain", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
                 F.sum(F.when(F.col("kept"), F.col("doc_id")).otherwise(0))
                 .cast("bigint").alias("kept_doc_id_sum"))
            .orderBy("domain", "split"))


_SAMPLE_SPLIT_SQL = """
WITH d AS (
  SELECT doc_id,
         'www.' || source || '.example.com' AS domain,
         (CAST(substr(source, 4, 10) AS INTEGER) % 2 = 0) AS even_domain,
         substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) AS split_key,
         substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 4) AS samp_key
  FROM documents),
s AS (
  SELECT domain, doc_id,
         CASE WHEN split_key < '0ccd' THEN 'eval' ELSE 'train' END AS split,
         (split_key < '0ccd') OR NOT even_domain OR (samp_key < '8000')
           AS kept
  FROM d)
SELECT domain, split, count(*) AS n_docs,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN kept THEN doc_id ELSE 0 END) AS BIGINT)
         AS kept_doc_id_sum
FROM s GROUP BY domain, split ORDER BY domain, split
"""


_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"


def q_pii_redact(spark, sf_dir):
    """PII scrubbing (training-pipeline extra): regex redaction of email
    and phone-shaped spans with per-doc redaction counts and an md5 of the
    cleaned text (proves byte-identical redaction cross-engine). The
    synthetic documents carry no PII, so a deterministic contact line
    keyed by doc_id is appended first — the SAME construction in the SQL
    oracle — and the redaction is the operator under test. All native
    regexp functions (whole-stage codegen); real DuckDB oracle."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@mail"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com or +1-555-"),
            F.lpad((F.col("doc_id") * 37 % 10000).cast("string"), 4, "0"),
            F.lit(" now")).alias("dirty"))
    clean = F.regexp_replace(
        F.regexp_replace("dirty", _PII_EMAIL, "<EMAIL>"),
        _PII_PHONE, "<PHONE>")
    # F.regexp_extract_all with a lit() pattern, NOT F.expr string
    # interpolation — Spark SQL literals process backslash escapes, which
    # would silently turn \. into . inside the pattern
    return (d.select(
        "doc_id",
        F.size(F.regexp_extract_all("dirty", F.lit(_PII_EMAIL), F.lit(0)))
        .cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all("dirty", F.lit(_PII_PHONE), F.lit(0)))
        .cast("bigint").alias("n_phones"),
        F.md5(clean).alias("clean_md5"))
        .orderBy("doc_id"))


# --- normalization --------------------------------------------------------------

def q_url_normalize(spark, sf_dir):
    """N1 normalize_url over deterministic synthesized urls (non-YouTube
    path; YouTube parity is pytest-gated)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("HTTPS://WWW."), "source", F.lit(".Example.com/Docs/"),
                 F.col("doc_id").cast("string"),
                 F.lit("/?utm_source=x&ref=y")).alias("raw_url"))
    return d.select("doc_id", normalize_url_udf("raw_url").alias("norm_url"))


def youtube_raw_urls(doc_id: int) -> list[str]:
    """The 14 deterministic YouTube URL families used by
    q_url_normalize_youtube — one per reference branch family
    (/root/reference/app/models.py:105-203): watch?v, youtu.be, embed
    (scheme/case-noise), shorts on m.youtube.com, /v/, /live/, playlist,
    channel, @handle, /c/, /user/, the non-video fallback, the youtu.be
    branch-order trap (a youtu.be link with an embed-looking path must take
    the youtu.be branch, yield a non-11-char id and fall through to the
    path fallback), and watch-without-v. MUST stay in lockstep with the
    native construction inside q_url_normalize_youtube (pinned by a pytest
    equality test)."""
    vid = "v" + str(doc_id).zfill(10)
    return [
        f"https://www.youtube.com/watch?v={vid}&t=10s",
        f"https://youtu.be/{vid}?si=track",
        f"HTTP://YouTube.com/embed/{vid}?rel=0",
        f"https://m.youtube.com/shorts/{vid}",
        f"https://www.youtube.com/v/{vid}",
        f"https://www.youtube.com/live/{vid}?feature=share",
        f"https://www.youtube.com/playlist?list=PL{doc_id}abc",
        f"https://www.youtube.com/channel/UC{doc_id}-q/videos",
        f"https://www.youtube.com/@Handle{doc_id}/featured",
        f"https://www.youtube.com/c/Channel{doc_id}",
        f"https://www.youtube.com/user/user{doc_id}/",
        "https://www.youtube.com/feed/trending/",
        f"https://youtu.be/embed/{vid}",
        f"https://www.youtube.com/watch?app=desktop&t={doc_id}",
    ]


def q_url_normalize_youtube(spark, sf_dir):
    """N2 YouTube canonicalization over every reference branch family
    (models.py:105-203), constructed natively per doc_id and normalized by
    the same UDF the corpus pipeline uses. Oracle: a VALUES fixture frozen
    from a LIVE IMPORT of the reference's own normalize_url
    (tools/gen_oracle_fixtures.py), so this row checks true reference
    parity, not shared-function plumbing."""
    doc = F.col("doc_id").cast("string")
    vid = F.concat(F.lit("v"), F.lpad(doc, 10, "0"))
    fams = F.array(
        F.concat(F.lit("https://www.youtube.com/watch?v="), vid,
                 F.lit("&t=10s")),
        F.concat(F.lit("https://youtu.be/"), vid, F.lit("?si=track")),
        F.concat(F.lit("HTTP://YouTube.com/embed/"), vid, F.lit("?rel=0")),
        F.concat(F.lit("https://m.youtube.com/shorts/"), vid),
        F.concat(F.lit("https://www.youtube.com/v/"), vid),
        F.concat(F.lit("https://www.youtube.com/live/"), vid,
                 F.lit("?feature=share")),
        F.concat(F.lit("https://www.youtube.com/playlist?list=PL"), doc,
                 F.lit("abc")),
        F.concat(F.lit("https://www.youtube.com/channel/UC"), doc,
                 F.lit("-q/videos")),
        F.concat(F.lit("https://www.youtube.com/@Handle"), doc,
                 F.lit("/featured")),
        F.concat(F.lit("https://www.youtube.com/c/Channel"), doc),
        F.concat(F.lit("https://www.youtube.com/user/user"), doc,
                 F.lit("/")),
        F.lit("https://www.youtube.com/feed/trending/"),
        F.concat(F.lit("https://youtu.be/embed/"), vid),
        F.concat(F.lit("https://www.youtube.com/watch?app=desktop&t="), doc),
    )
    d = (_docs(spark, sf_dir).where("doc_id < 150")
         .select("doc_id", F.posexplode(fams).alias("fam", "raw_url")))
    return d.select("doc_id", F.col("fam").cast("bigint").alias("fam"),
                    "raw_url", normalize_url_udf("raw_url").alias("norm_url"))


def q_title_normalize(spark, sf_dir):
    """N3 normalize_title: publisher-suffix strip over constructed titles."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.trim(F.substring("text", 1, 40)),
                 F.lit(" - Wikipedia")).alias("title"))
    return d.select("doc_id", normalize_title_udf("title").alias("norm_title"))


def q_field_validity(spark, sf_dir):
    """T8/S5 validity predicates as a single-row summary."""
    from dedup.normalize import valid_field_col, valid_search_value_col
    d = _docs(spark, sf_dir)
    return d.agg(
        F.sum(valid_field_col("text").cast("bigint")).alias("n_valid_field"),
        F.sum(valid_search_value_col("text").cast("bigint"))
        .alias("n_valid_search"),
        F.count(F.lit(1)).alias("n_total"),
    )


# --- dedup ----------------------------------------------------------------------

def q_exact_dup_groups(spark, sf_dir):
    """Exact dedup via hash-groupBy over corpus with planted mirrors."""
    c = docs_as_corpus(spark, sf_dir)
    return (c.groupBy(F.md5(F.encode("text", "utf-8")).alias("text_hash"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("url").alias("first_url"))
            .where("n_docs > 1"))


def q_exact_dedup_keep_first(spark, sf_dir):
    """First-occurrence dedup (T9f analog): keep min url per text group."""
    c = docs_as_corpus(spark, sf_dir)
    w = Window.partitionBy(F.md5(F.encode("text", "utf-8"))).orderBy("url")
    return (c.withColumn("rn", F.row_number().over(w))
            .where("rn = 1").select("url", "doc_id").orderBy("url")
            .select(F.count(F.lit(1)).alias("n_kept"),
                    F.sum("doc_id").alias("sum_doc_id")))


def q_exact_clusters(spark, sf_dir):
    """Connected components over exact-duplicate edges: engine CC vs the
    SQL truth min(doc_id) per text group (strong CC oracle)."""
    # mirrors share doc_id with their original: give them distinct vertex
    # ids; zero-padding makes string-min == numeric-min
    c = docs_as_corpus(spark, sf_dir).select(
        F.lpad(
            F.when(F.col("url").startswith("https://mirror.net/"),
                   F.col("doc_id") + 100000).otherwise(F.col("doc_id"))
            .cast("string"), 12, "0").alias("vid"),
        "text")
    groups = c.groupBy("text").agg(F.collect_list("vid").alias("vids"))
    edges = (groups.where(F.size("vids") > 1)
             .select(F.array_min("vids").alias("a"),
                     F.explode("vids").alias("b"))
             .where("a != b"))
    assign = assign_clusters(c.select(F.col("vid").alias("url")), edges)
    return assign.select(
        F.col("url").cast("bigint").alias("row_key"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"))


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Word-3-gram Jaccard (T2 semantics + engine exact-Jaccard verify) for
    doc pairs among doc_id < 40, as integer intersection/union sizes."""
    d = _docs(spark, sf_dir).where("doc_id < 40")
    # r6: tokenize once per row — the former single expression re-split
    # the text inside the per-window lambda (once per gram index, since
    # common-subexpression elimination does not reach into lambda bodies)
    grams = (d.select("doc_id", F.expr(_TOKENS).alias("tk"))
             .select(
                 "doc_id",
                 F.expr(
                     "array_distinct(transform(sequence(1, "
                     "greatest(size(tk) - 2, 1)),"
                     " i -> concat_ws(' ', slice(tk, i, 3))))")
                 .alias("grams")))
    a = grams.select(F.col("doc_id").alias("a"), F.col("grams").alias("ga"))
    b = grams.select(F.col("doc_id").alias("b"), F.col("grams").alias("gb"))
    pairs = (a.join(b, F.col("a") < F.col("b"))
             .select("a", "b",
                     F.size(F.array_intersect("ga", "gb")).cast("bigint")
                     .alias("n_intersect"),
                     F.size(F.array_union("ga", "gb")).cast("bigint")
                     .alias("n_union"))
             .where("n_intersect > 0"))
    return pairs


# --- signature / LSH / cluster pipeline (rows-only checks) ----------------------

def q_minhash_signatures(spark, sf_dir):
    """T3/T5: parity MinHash signatures. Oracle: VALUES fixture frozen from
    the independent single-node implementation (dedup/local_oracle.py via
    tools/gen_oracle_fixtures.py)."""
    c = docs_as_corpus(spark, sf_dir)
    s = signatures_table(c, PARITY_CONFIG)
    return s.select("url",
                    F.size("minhash").cast("bigint").alias("sig_len"),
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    F.get("minhash", 0).alias("sig0"),
                    "simhash")


def q_lsh_candidate_pairs(spark, sf_dir):
    """LSH banding + url-exact candidate generation (rows-only)."""
    c = docs_as_corpus(spark, sf_dir)
    s = signatures_table(c, PARITY_CONFIG)
    return candidate_pairs(s, PARITY_CONFIG).orderBy("a", "b")


def docs_as_metadata_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> corpus WITH metadata columns, plus planted metadata-only
    duplicates that share NO text with their originals:

    - A rows (all docs): text + synthesized title/description.
    - B rows (doc_id < 40): EMPTY text, title = A.title + ' - Wikipedia'
      — findable only via the normalized-title blocking key (the round-2
      coverage hole: a metadata-sparse record whose minhash can't collide).
    - C rows (40 <= doc_id < 60): EMPTY text, no title, description sharing
      A's first-100-chars prefix — findable only via the description key.
    """
    # every word-3-shingle of the synthetic title/description contains a
    # per-doc token (d{id}a/b/c), so planted rows share NO shingles across
    # doc_ids or with any document text: the metadata blocking key is
    # provably the ONLY candidate path for B and C rows
    doc = F.col("doc_id").cast("string")
    title = F.concat(F.lit("Topic d"), doc, F.lit("a curriculum d"), doc,
                     F.lit("b unit"))
    desc = F.concat(F.lit("Catalog d"), doc, F.lit("a entry d"), doc,
                    F.lit("b annotation d"), doc, F.lit("c body"))
    a = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://site-a.example.org/"), doc).alias("url"),
        "text", title.alias("title"), desc.alias("description"), "doc_id")
    b = (_docs(spark, sf_dir).where("doc_id < 40").select(
        F.concat(F.lit("https://site-b.example.org/"), doc).alias("url"),
        F.lit("").alias("text"),
        F.concat(title, F.lit(" - Wikipedia")).alias("title"),
        F.lit(None).cast("string").alias("description"),
        "doc_id"))
    c = (_docs(spark, sf_dir).where("doc_id >= 40 AND doc_id < 60").select(
        F.concat(F.lit("https://site-c.example.org/"), doc).alias("url"),
        F.lit("").alias("text"),
        F.lit(None).cast("string").alias("title"),
        desc.alias("description"),
        "doc_id"))
    return a.unionByName(b).unionByName(c)


def q_metadata_block_pairs(spark, sf_dir):
    """S6 metadata blocking keys (reference title / normalized-title /
    description-prefix candidate searches, app/wlo_client.py:265-311) as
    corpus-self candidate generation: planted metadata-only duplicates with
    EMPTY text must surface as 'title' / 'description' pairs — no minhash
    collision path exists for them. Oracle: VALUES fixture from the
    independent single-node engine."""
    sigs = signatures_table(docs_as_metadata_corpus(spark, sf_dir),
                            PARITY_CONFIG)
    return (candidate_pairs(sigs, PARITY_CONFIG)
            .orderBy("a", "b"))


def _parity_assignment(spark, sf_dir):
    """Shared parity chain (signatures -> LSH+url pairs -> verify -> CC)
    over the planted-mirror corpus; returns (signatures, assignment)."""
    c = docs_as_corpus(spark, sf_dir)
    s = signatures_table(c, PARITY_CONFIG)
    pairs = candidate_pairs(s, PARITY_CONFIG)
    verified = verify_pairs(pairs, s, PARITY_CONFIG)
    return s, assign_clusters(c.select("url"),
                              verified.where("keep").select("a", "b"))


def q_dup_clusters(spark, sf_dir):
    """Full dedup pipeline over the planted-mirror corpus (rows-only)."""
    return _parity_assignment(spark, sf_dir)[1]


def q_cluster_representatives(spark, sf_dir):
    """Canonical-document selection over near-dup clusters
    (training-pipeline extra, FineWeb/CCNet-style): after clustering, a
    pipeline keeps ONE representative per duplicate cluster — here the
    member with the most tokens (richest extraction wins), ties broken by
    lexicographically smallest url so the choice is total-ordered and
    replayable. Output: every non-singleton cluster with its
    representative, the representative's token count, and the member /
    dropped counts.

    Scale shape: the argmax rides a single map-side-combined
    `min(struct(-n_tokens, url))` aggregate — no window function, so a
    boilerplate mega-cluster partially aggregates per partition instead
    of sorting all members in one task (same skew reasoning as
    line_dedup). The assignment->signature join is key-to-key on url;
    at 100 TB both sides would be bucketed by url, making it
    shuffle-free. Oracle: VALUES fixture from the single-node replica
    (union-find + the same (-n_tokens, url) ordering)."""
    s, assign = _parity_assignment(spark, sf_dir)
    scored = assign.join(
        s.select("url", F.coalesce("n_tokens", F.lit(0)).alias("nt")), "url")
    return (scored.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.min(F.struct((-F.col("nt")).alias("neg_tokens"),
                                F.col("url").alias("u"))).alias("best"))
            .where("cnt >= 2")
            .select("cluster_id",
                    F.col("best.u").alias("rep_url"),
                    (-F.col("best.neg_tokens")).cast("bigint")
                    .alias("rep_n_tokens"),
                    F.col("cnt").cast("bigint").alias("n_members"),
                    (F.col("cnt") - 1).cast("bigint").alias("n_dropped"))
            .orderBy("cluster_id"))


def q_simhash_hamming(spark, sf_dir):
    """SimHash fingerprints + Hamming distance to the first doc by url
    order. Oracle: VALUES fixture from the single-node implementation."""
    c = docs_as_corpus(spark, sf_dir).where(~F.col("url").startswith(
        "https://mirror.net/"))
    s = signatures_table(c, PARITY_CONFIG).where("simhash is not null")
    ref_hash = s.orderBy("url").select("simhash").limit(1)
    return (s.crossJoin(F.broadcast(ref_hash.withColumnRenamed(
        "simhash", "ref_simhash")))
        .select("url", "simhash",
                F.bit_count(F.col("simhash").bitwiseXOR(F.col("ref_simhash")))
                .cast("bigint").alias("hamming")))


# --- embeddings ------------------------------------------------------------------

def _knn_fold(vs: pd.Series, Q: np.ndarray) -> pd.DataFrame:
    """Dots of each embedding with every query row of Q, plus its own norm,
    folded left to right like the SQL aggregate (bit-equal). A NULL
    embedding gets NULL dots and norm, so its cosines are NULL, as the SQL
    fold gave; an empty batch gives an empty frame."""
    valid = vs.notna().to_numpy()
    M = (np.stack(vs[valid].to_numpy()) if valid.any()
         else np.empty((0, Q.shape[1]))).astype(np.float64, copy=False)
    dots = np.zeros((M.shape[0], Q.shape[0]), dtype=np.float64)
    nsq = np.zeros(M.shape[0], dtype=np.float64)
    for j in range(Q.shape[1]):   # left fold, bit-equal to aggregate()
        col = M[:, j]
        dots += col[:, None] * Q[None, :, j]
        nsq += col * col
    nv = np.full(len(vs), np.nan)
    nv[valid] = np.sqrt(nsq)
    rows, null_dots = iter(dots), [None] * Q.shape[0]
    return pd.DataFrame({"dots": [next(rows) if ok else null_dots
                                  for ok in valid], "nv": nv})


def q_embedding_knn(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 5
    (ANN baseline). Sequential-fold dot product in double precision.

    r6 shape (bit-identical scores — OPTIMIZATION_r06.md): the old
    crossJoin replicated every corpus vector per query and evaluated the
    fold as an INTERPRETED higher-order aggregate per pair (guide §4.1:
    prefer vectorized batches over per-row expression trees). Now the
    <=5 query vectors (bounded by construction, the repo's centroid-
    collect precedent) ride the UDF closure and ONE Arrow pass over the
    embeddings computes all query dots + the row's own norm with a
    vectorized column loop whose add order is exactly the SQL
    aggregate's left fold — products then left-to-right IEEE adds, so
    every double is bit-identical to the old expression (pinned by
    tests/test_round6.py). Each vector crosses the Python boundary once
    instead of once per query, and the division stays in SQL so
    try_divide null semantics are untouched."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q_rows = e.where("vec_id < 5").orderBy("vec_id").collect()
    if not q_rows:
        return (e.select("vec_id",
                         F.lit(None).cast("bigint").alias("qid"),
                         F.lit(None).cast("bigint").alias("rank"),
                         F.lit(None).cast("double").alias("cos_sim"))
                .select("qid", "vec_id", "rank", "cos_sim").limit(0))
    import math
    Q = np.array([r["v"] for r in q_rows], dtype=np.float64)
    qids = [int(r["vec_id"]) for r in q_rows]
    qnorms = []
    for r in q_rows:
        acc = 0.0
        for x in r["v"]:          # same left fold as the SQL aggregate
            acc += x * x
        qnorms.append(math.sqrt(acc))

    @F.pandas_udf("struct<dots: array<double>, nv: double>")
    def knn_scores(vs: pd.Series) -> pd.DataFrame:
        return _knn_fold(vs, Q)

    qid_lit = F.array(*[F.lit(q).cast("bigint") for q in qids])
    qn_lit = F.array(*[F.lit(x) for x in qnorms])
    scored = (e.select("vec_id", knn_scores("v").alias("s"))
              .select("vec_id", F.col("s.nv").alias("nv"),
                      F.posexplode("s.dots").alias("qi", "dot"))
              # nullif(null) never fires; it only pins the nullable type
              # the old crossJoin column declared
              .select(F.nullif(F.element_at(qid_lit, F.col("qi") + 1),
                               F.lit(None).cast("bigint")).alias("qid"),
                      "vec_id",
                      F.try_divide(
                          F.col("dot"),
                          F.element_at(qn_lit, F.col("qi") + 1)
                          * F.col("nv")).alias("cos"))
              .where(F.col("qid") != F.col("vec_id")))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where("rank <= 5")
            .select("qid", "vec_id", F.col("rank").cast("bigint").alias("rank"),
                    F.round("cos", 6).alias("cos_sim")))


# Multi-table random-hyperplane LSH parameters (ANN scale path). b tables of
# r bits each: a near pair only needs ALL r bits equal in ONE of the b tables,
# so recall grows with b while r keeps buckets small (2^r codes per table).
ANN_LSH_TABLES = 8
ANN_LSH_BITS = 12
ANN_LSH_SEED = 42
ANN_COS_MIN = 0.2
ANN_BUCKET_CAP = 256


def ann_hyperplanes(dim: int = 64) -> np.ndarray:
    """Deterministic (tables*bits, dim) hyperplane matrix — shared by the
    Spark path and the single-node oracle."""
    rng = np.random.RandomState(ANN_LSH_SEED)
    return rng.randn(ANN_LSH_TABLES * ANN_LSH_BITS, dim)


def ann_bucket_codes(M: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n, dim) float64 -> (n, tables) int64 bucket codes. One matmul for all
    tables; bit i of table t = sign of plane t*r+i."""
    bits = (M @ planes.T) > 0  # (n, tables*bits)
    codes = np.zeros((M.shape[0], ANN_LSH_TABLES), dtype=np.int64)
    for t in range(ANN_LSH_TABLES):
        for i in range(ANN_LSH_BITS):
            codes[:, t] = (codes[:, t] << 1) | bits[:, t * ANN_LSH_BITS + i]
    return codes


def ann_lsh_pairs(e: DataFrame, cos_min: float = ANN_COS_MIN,
                  dim: int = 64) -> DataFrame:
    """Scale-path ANN core over e(vec_id BIGINT, v ARRAY<DOUBLE>):
    multi-table random-hyperplane LSH (b tables x r bits)
    -> skew-aware grouped pair emission (dedup/lsh.pairs_within_groups: all
    pairs for buckets <= cap, star edges above — never a bucket self-join)
    -> exact cosine rerank on the surviving slim pair set. At 100x data the
    emitted-pair count stays O(sum min(bucket, cap)^2 / bucket) per table
    instead of the O(n^2/2^r) a single-code self-join degrades to."""
    from dedup.lsh import pairs_within_groups
    planes = ann_hyperplanes(dim)

    @F.pandas_udf("array<long>")
    def codes_udf(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.to_numpy()).astype(np.float64, copy=False)
        codes = ann_bucket_codes(M, planes)
        return pd.Series(list(codes))

    # slim (member, table_id, code) rows ride the shuffle — vectors stay home
    buckets = (e.select(F.col("vec_id").cast("string").alias("url"),
                        F.posexplode(codes_udf("v"))
                        .alias("table_id", "code")))
    raw = (pairs_within_groups(buckets, ["table_id", "code"], ANN_BUCKET_CAP)
           .select(F.col("a").cast("bigint").alias("_x"),
                   F.col("b").cast("bigint").alias("_y")))
    # pairs_within_groups canonicalizes in STRING order ('10' < '2');
    # re-canonicalize numerically before dedup
    pairs = (raw.select(F.least("_x", "_y").alias("a"),
                        F.greatest("_x", "_y").alias("b"))
             .dropDuplicates(["a", "b"]))
    # exact rerank: join vectors back by key, native fold cosine
    va = e.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    vb = e.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    dot = F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y), "
                 "cast(0.0 as double), (acc, x) -> acc + x)")
    norm = ("sqrt(aggregate(transform({0}, x -> x * x), cast(0.0 as double), "
            "(acc, x) -> acc + x))")
    cos = F.try_divide(dot, F.expr(norm.format("va")) * F.expr(norm.format("vb")))
    return (pairs.join(va, "a").join(vb, "b")
            .select("a", "b", F.round(cos, 6).alias("cos_sim"))
            .where(f"cos_sim > {cos_min}")
            .orderBy("a", "b"))


def q_embedding_knn_lsh(spark, sf_dir):
    """ANN scale path over the embeddings table (see ann_lsh_pairs).
    Oracle: VALUES fixture from the single-node implementation."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return ann_lsh_pairs(e)


def q_cache_key(spark, sf_dir):
    """M4 detection-cache key: md5 of the canonical JSON of
    (title, description, url, threshold) — reused as the engine's
    idempotency key (reference app/main.py:207-225)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.trim(F.substring("text", 1, 30)).alias("title"),
        F.trim(F.substring("text", 31, 60)).alias("description"),
        F.concat(F.lit("https://x.org/"), F.col("doc_id").cast("string"))
        .alias("url"))
    # canonical json.dumps(..., sort_keys=True) layout: keys in order
    # description < threshold < title < url; threshold constant -> inlined
    canonical = F.concat(
        F.lit('{"description": "'), F.col("description"),
        F.lit('", "threshold": 0.9, "title": "'), F.col("title"),
        F.lit('", "url": "'), F.col("url"), F.lit('"}'))
    return d.select("doc_id",
                    F.md5(F.encode(canonical, "utf-8")).alias("cache_key"))


def q_kernel_detect(spark, sf_dir):
    """T9 per-query kernel over a synthetic candidate pool built from the
    documents table (rows-only: cosine kernel not SQL-expressible)."""
    from dedup.kernel import SourceMetadata, find_duplicates
    d = _docs(spark, sf_dir).where("doc_id < 60").orderBy("doc_id").collect()
    source_text = d[0]["text"]
    pools = {"title": [
        {"ref": {"id": f"n{r['doc_id']}"},
         "properties": {"cclom:title": [r["text"]]}}
        for r in d
    ]}
    from dedup.kernel import candidates_df_from_pools
    cands = candidates_df_from_pools(spark, pools)
    dups, _ = find_duplicates(
        SourceMetadata(title=source_text), cands, threshold=0.8)
    return dups.select("node_id", "similarity_score", "match_source")


def q_doc_fingerprints(spark, sf_dir):
    """Winnowed rolling-hash document fingerprints (training-pipeline
    fingerprinting primitive; rows-only)."""
    from dedup.substring import substring_fingerprints
    c = docs_as_corpus(spark, sf_dir).where("doc_id < 100")
    fps = substring_fingerprints(c, PARITY_CONFIG)
    return (fps.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("fp").alias("min_fp")).orderBy("url"))


def q_url_variants(spark, sf_dir):
    """N4 url search-variant fan-out (compat operator) over deterministic
    constructed urls — one row per (doc_id, variant)."""
    from dedup.normalize import url_variants_udf
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("https://www."), "source", F.lit(".example.com/docs/"),
                 F.col("doc_id").cast("string")).alias("raw"))
    return (d.select("doc_id", F.explode(F.array_distinct(
        url_variants_udf("raw"))).alias("variant")))


def q_substring_pairs(spark, sf_dir):
    """Winnowing exact-substring dup pass over the planted-mirror corpus
    (rows-only: non-SQL-expressible)."""
    from dedup.substring import substring_pairs
    c = docs_as_corpus(spark, sf_dir)
    return (substring_pairs(c, PARITY_CONFIG)
            .select("a", "b", F.col("substr_len").cast("bigint")
                    .alias("substr_len"), "match_source")
            .orderBy("a", "b"))


def q_media_features(spark, sf_dir):
    """Multimodal feature extraction over the deterministic synthetic media
    table (rows-only; codecs stubbed, Spark plumbing real)."""
    from dedup.multimodal import media_features, synth_media
    return media_features(synth_media(spark, 60)).select(
        "url", "media_type", F.col("byte_len").cast("bigint").alias("byte_len"),
        "sha256", "fingerprint")


def q_media_dup_pairs(spark, sf_dir):
    """Media dedup edges: sha256-exact + fingerprint-Hamming near dups
    (rows-only)."""
    from dedup.multimodal import media_dup_pairs, media_features, synth_media
    feats = media_features(synth_media(spark, 60))
    return media_dup_pairs(feats).orderBy("a", "b")


def q_extract_roundtrip(spark, sf_dir):
    """§2.6 HTML->text extraction under the driver's oracle: wrap each
    document's text in an HTML page IN-QUERY (nav/footer boilerplate +
    entity escaping), run the extraction UDF over the BINARY html, and
    return the recovered text. Oracle: SELECT doc_id, text — byte-identical
    recovery is the north-star invariant (SURVEY §5.4)."""
    from dedup.extract import extract_text_udf
    esc = F.col("text")
    for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(raw), F.lit(ent))
    html = F.concat(
        F.lit("<html><head><title>t</title><style>p{}</style></head>"
              "<body><nav><a href=\"/\">MENU</a></nav><article><p>"),
        esc,
        F.lit("</p></article><footer>FOOTER &copy; 2026</footer>"
              "</body></html>"))
    d = _docs(spark, sf_dir).select(
        "doc_id", F.encode(html, "utf-8").alias("html"))
    return d.select("doc_id", extract_text_udf("html").alias("extracted"))


def q_lsh_planted_recall(spark, sf_dir):
    """LSH recall gate with a REAL SQL oracle: every identical-text pair in
    the planted-mirror corpus must appear among the LSH candidates
    (identical text -> identical signature -> all b bands collide). The
    query inner-joins the candidate set with the ground truth; a recall
    miss drops a row and fails the driver's row/hash compare."""
    c = docs_as_corpus(spark, sf_dir)
    s = signatures_table(c, PARITY_CONFIG)
    pairs = candidate_pairs(s, PARITY_CONFIG).select("a", "b")
    left = c.select(F.col("url").alias("a"), F.col("text").alias("_t"))
    right = c.select(F.col("url").alias("b"), F.col("text").alias("_t"))
    gt = (left.join(right, "_t").where(F.col("a") < F.col("b"))
          .select("a", "b"))
    return gt.join(pairs, ["a", "b"]).orderBy("a", "b")


def q_metadata_enrich(spark, sf_dir):
    """M6 metadata enrichment (reference app/main.py:251-386): fill ONLY the
    missing title/description of sparse records from a complete reference
    table, url-match preferred over exact-lowercase-title match,
    placeholders counting as missing. Deterministic sparse construction:
    doc_id%3==0 -> placeholder title, doc_id%2==0 -> null description,
    doc_id%5==0 -> null url."""
    from dedup.enrich import enrich_from_reference
    base = _docs(spark, sf_dir).select(
        "doc_id",
        F.trim(F.substring("text", 1, 30)).alias("title"),
        F.trim(F.substring("text", 31, 60)).alias("description"),
        F.concat(F.lit("https://www."), "source",
                 F.lit(".example.com/docs/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "source")
    reference_table = base.select("title", "description", "url")
    sparse = base.where("doc_id < 200").select(
        F.col("doc_id").cast("bigint").alias("record_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("string"))
        .otherwise(F.col("title")).alias("title"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("description")).alias("description"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("HTTPS://WWW."), "source",
                            F.lit(".Example.com/Docs/"),
                            F.col("doc_id").cast("string"))).alias("url"))
    return enrich_from_reference(sparse, reference_table)


def q_dedupe_one_url(spark, sf_dir):
    """M8 per-key query (`/detect/hash/by-node` analog): duplicates of ONE
    url against the corpus signatures table via band-key semi-join,
    excluding self. Oracle: VALUES fixture from the single-node kernel."""
    from dedup.kernel import dedupe_one
    c = docs_as_corpus(spark, sf_dir)
    s = signatures_table(c, PARITY_CONFIG)
    return dedupe_one(s, "https://mirror.net/copy/7", PARITY_CONFIG)


def q_dedupe_by_metadata(spark, sf_dir):
    """M9 ad-hoc by-metadata query (`/detect/hash/by-metadata` analog):
    a source document NOT in the corpus (title = text of doc 3), scored
    against the corpus signatures via the same key semi-join. Expected:
    doc 3 AND its planted mirror at cosine 1.0. Oracle: VALUES fixture
    from the single-node kernel."""
    from dedup.kernel import SourceMetadata, dedupe_metadata
    c = docs_as_corpus(spark, sf_dir)
    s = signatures_table(c, PARITY_CONFIG)
    title = (_docs(spark, sf_dir).where("doc_id = 3")
             .select("text").first()["text"])
    return dedupe_metadata(s, SourceMetadata(title=title), PARITY_CONFIG)


def q_token_count_bpe(spark, sf_dir):
    """BPE-style regex pre-tokenizer count (training-pipeline extra): runs
    of letters, single digits, and single non-alnum marks — the shape a
    byte-pair encoder's pre-tokenizer produces, vs T1's whitespace count."""
    pat = "[a-z]+|[0-9]|[^a-z0-9 ]"
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(lower(text), '{pat}', 0))")
        .cast("bigint").alias("n_bpe_tokens"))


# --- events (generic operator coverage: agg / window / top-k) --------------------

def q_events_sessions(spark, sf_dir):
    """Sessionization (window lag + gap threshold): per user, a new session
    starts after a > 30 min silence. Ties on ts give gap 0 either way, so
    the session count is deterministic."""
    e = _events(spark, sf_dir).select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    marked = (e.withColumn("prev_ts", F.lag("ts").over(w))
              .withColumn(
                  "new_session",
                  F.when(F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
                         > 1_800_000_000, F.lit(1)).otherwise(F.lit(0))))
    return (marked.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum("new_session") + F.lit(1)).cast("bigint")
                 .alias("n_sessions")))


def q_region_revenue(spark, sf_dir):
    """Broadcast-dim join chain (orders -> customer -> nation -> region):
    revenue per region. Dims are broadcast explicitly — the join shape a
    100-TB fact table needs (no shuffle of orders beyond the final agg)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    joined = (o.join(c.select("c_custkey", "c_nationkey"),
                     o.o_custkey == c.c_custkey)
              .join(F.broadcast(n.select("n_nationkey", "n_regionkey")),
                    F.col("c_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")))
    return (joined.groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                         .cast("double"), 2).alias("revenue")))


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary over lineitem (multi-aggregate hash
    agg with a pushed-down date filter): exact decimal arithmetic so the
    sums are summation-order-independent, rounded once at the boundary."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_shipdate") <= F.lit("2000-09-02"))
    dec = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum(dec("l_quantity")).cast("double"), 2)
                 .alias("sum_qty"),
                 F.round(F.sum(dec("l_extendedprice")).cast("double"), 2)
                 .alias("sum_base_price"),
                 F.round(F.sum((dec("l_extendedprice")
                                * (F.lit(1).cast("decimal(18,6)")
                                   - dec("l_discount")))).cast("double"), 2)
                 .alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


IVF_MAX_CENTROIDS = 4096


def ivf_centroid_mod(n: int, max_centroids: int = IVF_MAX_CENTROIDS) -> int:
    """Deterministic sampling stride that keeps the centroid count BOUNDED:
    k = n / mod <= max_centroids for any n, so the coarse-quantizer index is
    a fixed-size artifact no matter how big the vector table grows (a
    trained IVF index has a fixed k; this is the training-free stand-in).
    Total assignment cost is O(n * k * d) = O(n * max_centroids * d) —
    linear in n, unlike the k = n/16 variant whose total cost was
    quadratic."""
    return max(16, -(-n // max_centroids))  # ceil div


def q_embedding_knn_ivf(spark, sf_dir):
    """IVF-style ANN (coarse quantizer + cell-local exact search): the
    scale path a trained-centroid index takes. Centroids are a
    deterministic BOUNDED subset of the vectors (vec_id % mod == 0 with
    mod = ivf_centroid_mod(n), so k <= 4096 for any n — a stand-in for
    kmeans training, which is a preprocessing job, not a query). The
    centroid matrix is shipped via sparkContext.broadcast (torrent
    distribution, one copy per executor) instead of riding inside every
    serialized task closure; every vector is assigned to its nprobe=2
    nearest cells (one matmul per Arrow batch against the broadcast
    matrix); pairs emit within cells via the skew-aware grouped expansion
    and rerank exactly. Same non-degenerate shape as the LSH variant:
    vectors never ride the shuffle, no cell self-join. The only driver
    collect is the centroid set itself, bounded at <= 4096 rows."""
    from dedup.ann_index import ivf_pairs
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    mod = ivf_centroid_mod(e.count())
    cent_rows = (e.where(F.col("vec_id") % mod == 0)
                 .orderBy("vec_id").collect())
    C = np.stack([np.asarray(r["v"]) for r in cent_rows])  # (k<=4096, dim)
    # assignment/pair/rerank shared with the trained variant — one copy of
    # the IVF semantics to keep in sync (round-5 review cleanup)
    return ivf_pairs(e, C, ANN_COS_MIN, ANN_BUCKET_CAP)


def q_embedding_knn_ivf_trained(spark, sf_dir):
    """IVF ANN with a TRAINED coarse quantizer: deterministic seeded
    kmeans over a bounded hash-ordered sample (dedup/ann_index.py — the
    preprocessing job the sampling quantizer of q_embedding_knn_ivf stands
    in for), then the same non-degenerate assignment/pair/rerank shape.
    Oracle: VALUES fixture from the single-node replica running the
    identical pure training function on the identical sample."""
    from dedup.ann_index import ivf_k_for, ivf_pairs, sample_vectors, train_kmeans
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    C = train_kmeans(sample_vectors(e), ivf_k_for(e.count()))
    return ivf_pairs(e, C, ANN_COS_MIN, ANN_BUCKET_CAP)


def q_events_agg(spark, sf_dir):
    """Hash aggregation with exact decimal sums (M2/T9e analog)."""
    return (_events(spark, sf_dir)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.round(F.sum(F.col("value").cast("decimal(18,6)"))
                         .cast("double"), 2).alias("total_value")))


def q_events_user_rank(spark, sf_dir):
    """Window function: top-3 users per event_type by event count (T9f/T9h
    analog: rank + deterministic tie-breaks)."""
    counts = (_events(spark, sf_dir).groupBy("event_type", "user_id")
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("user_id"))
    return (counts.withColumn("rnk", F.row_number().over(w))
            .where("rnk <= 3")
            .select("event_type", "user_id",
                    F.col("n").cast("bigint").alias("n"),
                    F.col("rnk").cast("bigint").alias("rnk")))


def q_events_hourly_topk(spark, sf_dir):
    """Time bucketing + top-k (sort/limit operator coverage)."""
    return (_events(spark, sf_dir)
            .groupBy(F.date_trunc("hour", "ts").alias("hour"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .orderBy(F.desc("n_events"), F.asc("hour"))
            .limit(10))


# --- round-3 coverage queries ----------------------------------------------------

def q_permutation_coeffs(spark, sf_dir):
    """T4 permutation coefficients (reference app/hash_detector.py:26-40:
    seed-42 `random.sample` over `list(set(...))` ordering) as a
    driver-checkable table. Oracle: VALUES fixture frozen from a LIVE
    import of the reference detector — true bit parity, not shared code."""
    from dedup.coeffs import load_coeffs
    A, B = load_coeffs(PARITY_CONFIG.num_hashes, PARITY_CONFIG.seed)
    rows = [(i, int(a), int(b)) for i, (a, b) in enumerate(zip(A, B))]
    return (spark.createDataFrame(rows, "i bigint, a bigint, b bigint")
            .orderBy("i"))


def q_minhash_signatures_engine(spark, sf_dir):
    """Engine-mode signatures: 128 permutations + k-char shingling (§2.6
    north-star config — the two switches that were pytest-only). Same
    summary shape as `minhash_signatures`; oracle: VALUES fixture from the
    independent single-node engine at ENGINE_CONFIG."""
    c = docs_as_corpus(spark, sf_dir)
    s = signatures_table(c, ENGINE_CONFIG)
    return s.select("url",
                    F.size("minhash").cast("bigint").alias("sig_len"),
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    F.get("minhash", 0).alias("sig0"),
                    "simhash")


def q_candidate_stats(spark, sf_dir):
    """M3 stats assembly + T9e per-field max similarity: run the detection
    kernel over the kernel_detect pool, then assemble per-field search
    stats exactly as the reference response layer does (app/main.py:178-204
    — display truncation with '...', per-field highest similarity joined
    in, absent for fields that produced no scored candidates). Oracle:
    VALUES fixture from the REFERENCE's own find_duplicates +
    build_candidate_stats run on identical inputs."""
    from dedup.kernel import (SourceMetadata, build_candidate_stats,
                              candidates_df_from_pools, find_duplicates)
    from dedup.normalize import normalize_title
    d = _docs(spark, sf_dir).where("doc_id < 60").orderBy("doc_id").collect()
    source_text = d[0]["text"]
    pools = {"title": [
        {"ref": {"id": f"n{r['doc_id']}"},
         "properties": {"cclom:title": [r["text"]]}}
        for r in d
    ]}
    cands = candidates_df_from_pools(spark, pools)
    _, field_max = find_duplicates(
        SourceMetadata(title=source_text), cands, threshold=0.8)
    # the ' - Wikipedia' suffix makes normalize_title return the stripped
    # (long) base title, exercising the 50-char '...' truncation branch
    search_info = spark.createDataFrame(
        [("title", source_text,
          normalize_title(source_text + " - Wikipedia"), len(d)),
         ("url", "https://example.org/unmatched", None, 0)],
        "search_field string, search_value string, "
        "normalized_value string, candidates_found int")
    return (build_candidate_stats(search_info, field_max)
            .orderBy("search_field"))


def q_dup_clusters_engine(spark, sf_dir):
    """FULL engine-mode pipeline as a driver row — the north-star config
    end-to-end: 128-permutation MinHash over k-char shingles, 32x4 LSH
    banding, SimHash Hamming prefilter on candidate pairs, exact-Jaccard
    verification (scoring='jaccard'), connected-components clusters.
    Oracle: VALUES fixture from the single-node engine running the same
    stages (tools/gen_oracle_fixtures.py engine_clusters_expected)."""
    c = docs_as_corpus(spark, sf_dir)
    s = signatures_table(c, ENGINE_CONFIG)
    pairs = candidate_pairs(s, ENGINE_CONFIG, use_simhash_prefilter=True)
    verified = verify_pairs(pairs, s, ENGINE_CONFIG)
    return assign_clusters(c.select("url"),
                           verified.where("keep").select("a", "b"))


def q_config_clamp(spark, sf_dir):
    """M5 candidate-cap clamp (reference app/main.py:228-248): None -> the
    configured limit, otherwise min(requested, limit). Real SQL oracle
    (CASE expression over the same VALUES)."""
    from dedup.config import get_effective_max_candidates
    reqs = [None, 0, 1, 5, 39, 40, 41, 100, 10000]
    rows = [(i, r, get_effective_max_candidates(r))
            for i, r in enumerate(reqs)]
    return (spark.createDataFrame(rows,
                                  "i bigint, requested int, effective int")
            .orderBy("i"))


def q_clusters_incremental(spark, sf_dir):
    """Incremental clustering equivalence (merge_assignments): cluster the
    planted-mirror corpus from HALF the verified edges, then merge the
    other half as a later drop — the final assignment must equal the batch
    dup_clusters result exactly (same fixture rows), proving the
    star-compression merge preserves full-graph connectivity and the
    component-minimum cluster ids."""
    from dedup.cluster import merge_assignments
    c = docs_as_corpus(spark, sf_dir)
    s = signatures_table(c, PARITY_CONFIG)
    # both splits read the verified edges; localCheckpoint materializes the
    # expensive verify DAG once instead of once per split-consumer
    verified = (verify_pairs(candidate_pairs(s, PARITY_CONFIG), s,
                             PARITY_CONFIG)
                .where("keep").select("a", "b").localCheckpoint())
    first = verified.where(F.xxhash64("a", "b") % 2 == 0)
    later = verified.where(F.xxhash64("a", "b") % 2 != 0)
    base = assign_clusters(c.select("url"), first)
    return merge_assignments(base, later)


def q_stream_windowed_counts(spark, sf_dir):
    """Watermarked tumbling-window ingest counts (streaming.
    stream_windowed_counts, §2.6) as a driver row: two ordered availableNow
    drops through one checkpoint — drop 1 carries two full hours of data
    plus a 12:00 row that advances the watermark to 11:30; drop 2 carries a
    LATE 9:40 row (behind the watermark — must be dropped by the engine)
    and a 12:30 row (keeps the 12:00 window open). Final append-mode output
    = exactly the two finalized windows, late row excluded. Deterministic,
    so the oracle is inline VALUES SQL."""
    import datetime as dt
    import glob
    import os
    import shutil
    import tempfile

    from dedup.streaming import stream_windowed_counts

    def ts(h, m=0):
        return dt.datetime(2026, 1, 1, h, m)

    base = tempfile.mkdtemp(prefix="winq_")
    try:
        src, ckpt, out = f"{base}/src", f"{base}/ckpt", f"{base}/out"
        os.makedirs(src)
        schema = "url string, warc_ts timestamp, lang string"
        drops = [
            [(f"u{i}", ts(9, 5 * i), "en") for i in range(4)]
            + [("v0", ts(10, 10), "de"), ("w0", ts(12, 0), "en")],
            [("late", ts(9, 40), "en"), ("x0", ts(12, 30), "en")],
        ]
        with _few_shuffle_partitions(spark):
            for drop_no, rows in enumerate(drops):
                tmp = f"{base}/tmp{drop_no}"
                (spark.createDataFrame(rows, schema)
                 .coalesce(1).write.parquet(tmp))
                part = glob.glob(f"{tmp}/part-*.parquet")[0]
                shutil.copy(part, f"{src}/drop{drop_no}.parquet")
                q = (stream_windowed_counts(
                    spark.readStream.schema(schema).parquet(src),
                    watermark="30 minutes", window="1 hour")
                    .writeStream.format("parquet")
                    .option("path", out).option("checkpointLocation", ckpt)
                    .outputMode("append").trigger(availableNow=True).start())
                q.awaitTermination()
        return (spark.read.parquet(out)
                .select(F.date_format("win_start", "yyyy-MM-dd HH:mm:ss")
                        .alias("win_start"),
                        F.date_format("win_end", "yyyy-MM-dd HH:mm:ss")
                        .alias("win_end"),
                        "lang", "n_docs")
                .orderBy("win_start", "lang").localCheckpoint())
    finally:
        # localCheckpoint materialized the result, so the dir (tempdirs
        # leak across failed driver sweeps otherwise) can go either way
        shutil.rmtree(base, ignore_errors=True)


def q_stream_pairs(spark, sf_dir):
    """Stateful streaming candidate pairs (applyInPandasWithState, §2.6)
    across TWO ordered availableNow drops sharing one checkpoint: even
    doc_ids land first, odd doc_ids arrive in a second drop, so cross-drop
    pairs exist only if bucket state really persists between runs. Output
    is the DISTINCT (a, b, match_source) set. Oracle: VALUES fixture from
    a single-node replica of the per-bucket state machine processing the
    same two drops in the same order."""
    import glob
    import os
    import shutil
    import tempfile

    from dedup.streaming import run_stream_candidate_pairs

    c = (docs_as_corpus(spark, sf_dir)
         .where(f"doc_id < {STREAM_QUERY_DOC_BOUND}")
         .select("url", "text", "doc_id"))
    base = tempfile.mkdtemp(prefix="streamq_")
    try:
        src, ckpt, out = f"{base}/src", f"{base}/ckpt", f"{base}/out"
        os.makedirs(src)
        schema = "url string, text string"
        with _few_shuffle_partitions(spark):
            for drop_no, pred in enumerate(("doc_id % 2 = 0",
                                            "doc_id % 2 = 1")):
                # land the drop as ONE flat file in the watched dir (the
                # file source lists files, not subdirectories)
                tmp = f"{base}/tmp{drop_no}"
                (c.where(pred).select("url", "text").coalesce(1)
                 .write.parquet(tmp))
                part = glob.glob(f"{tmp}/part-*.parquet")[0]
                shutil.copy(part, f"{src}/drop{drop_no}.parquet")
                q = run_stream_candidate_pairs(spark, src, ckpt, out,
                                               PARITY_CONFIG, schema=schema)
                q.awaitTermination()
        return (spark.read.parquet(out)
                .select("a", "b", "match_source").distinct()
                .orderBy("a", "b", "match_source").localCheckpoint())
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_stream_state_evict(spark, sf_dir):
    """Streaming state-ROW compaction end-to-end as a driver row
    (streaming.evict_expired_pair_state): drop A (even doc_ids) through
    the stateful pair stream, evict EVERY bucket row (ttl=0, verified
    empty via the state data source), then drop B (odd doc_ids) through
    the same checkpoint. Because the state store was compacted between
    drops, drop B pairs only within itself — the output must equal the
    union of the two drops run through FRESH single-node replicas (state
    reset models the eviction), with NO cross-drop pairs."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from dedup.streaming import (evict_expired_pair_state, read_pair_state,
                                 run_stream_candidate_pairs)

    c = (docs_as_corpus(spark, sf_dir)
         .where(f"doc_id < {STREAM_QUERY_DOC_BOUND}")
         .select("url", "text", "doc_id"))
    base = tempfile.mkdtemp(prefix="evictq_")
    try:
        src, ckpt, out = f"{base}/src", f"{base}/ckpt", f"{base}/out"
        os.makedirs(src)
        schema = "url string, text string"
        with _few_shuffle_partitions(spark):
            for drop_no, pred in enumerate(("doc_id % 2 = 0",
                                            "doc_id % 2 = 1")):
                tmp = f"{base}/tmp{drop_no}"
                (c.where(pred).select("url", "text").coalesce(1)
                 .write.parquet(tmp))
                part = glob.glob(f"{tmp}/part-*.parquet")[0]
                shutil.copy(part, f"{src}/drop{drop_no}.parquet")
                q = run_stream_candidate_pairs(spark, src, ckpt, out,
                                               PARITY_CONFIG, schema=schema)
                q.awaitTermination()
                if drop_no == 0:
                    # last_seen_ms strictly behind evict time
                    time.sleep(0.05)
                    evict_expired_pair_state(spark, src, ckpt,
                                             state_ttl_ms=0, output_dir=out)
                    assert read_pair_state(spark, ckpt).count() == 0
        return (spark.read.parquet(out)
                .select("a", "b", "match_source").distinct()
                .orderBy("a", "b", "match_source").localCheckpoint())
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_ingest_two_drops(spark, sf_dir):
    """Incremental ingest composition (streaming.ingest_drop — the
    engine's continuous-crawl flagship) as a driver row: two ordered
    availableNow drops (even doc_ids, then odd doc_ids) through ONE
    workdir — per drop: signatures append, stateful cross-drop candidate
    pairs, verify against the accumulated signatures table,
    merge_assignments fold, singleton top-up. The final assignment must
    equal the batch pipeline's clustering of the union corpus EXACTLY
    (equivalence also pytest-asserted in
    tests/test_round3_queries.py::test_ingest_drop_incremental_equals_batch),
    so the oracle fixture is the single-node engine's dup_clusters rows."""
    import glob
    import os
    import shutil
    import tempfile

    from dedup.streaming import ingest_drop

    c = (docs_as_corpus(spark, sf_dir)
         .where(f"doc_id < {STREAM_QUERY_DOC_BOUND}")
         .select("url", "text", "doc_id"))
    base = tempfile.mkdtemp(prefix="ingestq_")
    try:
        src, wd = f"{base}/src", f"{base}/wd"
        os.makedirs(src)
        result = None
        with _few_shuffle_partitions(spark):
            for drop_no, pred in enumerate(("doc_id % 2 = 0",
                                            "doc_id % 2 = 1")):
                tmp = f"{base}/tmp{drop_no}"
                (c.where(pred).select("url", "text").coalesce(1)
                 .write.parquet(tmp))
                part = glob.glob(f"{tmp}/part-*.parquet")[0]
                shutil.copy(part, f"{src}/drop{drop_no}.parquet")
                result = ingest_drop(spark, src, wd, PARITY_CONFIG,
                                     schema="url string, text string")
            return result.orderBy("url").localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_pipeline_resume(spark, sf_dir):
    """M7 + M10 + §2.6 checkpoint/lineage/resume as a driver row: run the
    checkpointed pipeline three times in a fresh workdir — run 0 computes
    every stage, run 1 skips all of them off the lineage manifests, then
    `invalidate()` (the reference's /admin/cache/clear analog,
    app/main.py:620-668) drops every checkpoint so run 2 recomputes from
    scratch. Deterministic, so the oracle is real inline-VALUES SQL."""
    import tempfile

    from dedup.pipeline import DedupPipeline

    # the output (stage name + skipped flag per run) is corpus-independent,
    # so the resume contract is exercised on a small subset
    c = docs_as_corpus(spark, sf_dir).where("doc_id < 30")
    import shutil
    wd = tempfile.mkdtemp(prefix="plq_")
    try:
        rows = []
        with _few_shuffle_partitions(spark):
            for run_no in (0, 1, 2):
                p = DedupPipeline(spark, wd, PARITY_CONFIG)
                if run_no == 2:
                    p.invalidate()
                p.run(c)
                rows += [(run_no, si.name, si.skipped)
                         for si in p.stage_infos]
        return (spark.createDataFrame(
            rows, "run_no int, stage string, skipped boolean")
            .orderBy("run_no", "stage"))
    finally:
        shutil.rmtree(wd, ignore_errors=True)


# SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
# cluster the embedding space coarsely, then within each cell greedily keep
# the lowest-id member of every cosine-ball and drop the rest.
SEM_DEDUP_T = 0.7
SEM_CELL_CAP = 4096


def q_semantic_dedup(spark, sf_dir):
    """Semantic dedup over the embeddings table: assign every vector to its
    nearest bounded-centroid cell (same training-free coarse quantizer as
    the IVF query, broadcast matrix, one matmul per Arrow batch), then
    within each cell run the greedy keep/drop sweep in vec_id order: a
    vector is DROPPED if its cosine to an already-kept vector in the cell
    is >= SEM_DEDUP_T (rounded 6dp on both sides), recording that keeper as
    its representative. Cells beyond SEM_CELL_CAP members process only the
    first cap (documented recall trade, same cap discipline as the pair
    queries). Oracle: VALUES fixture from the single-node replica.

    Input: the embeddings table plus PLANTED exact clones (vec_id < 50
    re-appear as vec_id + 100000 with identical vectors — the embedding
    analog of the corpus's mirror documents), so the sweep provably drops
    the clones and records their originals as representatives.

    Scale shape: vectors ride ONE shuffle (into their cell — the minimum
    any within-cell comparison needs), cells are capped, the only
    driver-side artifact is the <=4096-row centroid matrix, and the greedy
    sweep is O(cap * kept) BLAS per cell."""
    base = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    e = base.unionByName(
        base.where("vec_id < 50")
        .select((F.col("vec_id") + 100000).alias("vec_id"), "v"))
    df, _acc = semantic_dedup_frame(spark, e, SEM_DEDUP_T, SEM_CELL_CAP)
    return df


def semantic_dedup_frame(spark, e: DataFrame, t: float, cell_cap: int):
    """SemDeDup over (vec_id, v) rows; returns (result_df, capped_acc).

    `capped_acc` is a Spark accumulator counting cells whose membership
    exceeded `cell_cap` (their tail rows pass through keep=true/rep=-1) —
    the 'no silent caps' observability counter. It is populated once the
    result materializes; callers that persist results should log/record
    `capped_acc.value` beside them. Accumulator semantics apply: updates
    from a transformation are AT-LEAST-ONCE (task retries or a second
    materialization re-add), so treat the value as an upper bound that is
    exact on a clean single materialization — read it after ONE action,
    not as a long-lived counter."""
    mod = ivf_centroid_mod(e.count())
    cent_rows = (e.where(F.col("vec_id") % mod == 0)
                 .orderBy("vec_id").collect())
    C = np.stack([np.asarray(r["v"]) for r in cent_rows])
    Cn_bc = spark.sparkContext.broadcast(_unit_rows(C))
    capped_acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("int")
    def cell_udf(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.to_numpy()).astype(np.float64, copy=False)
        Mn = _unit_rows(M)
        sims = Mn @ Cn_bc.value.T
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > cell_cap:
            capped_acc.add(1)
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        head = pdf.iloc[:cell_cap]
        M = np.stack(head["v"].to_numpy()).astype(np.float64, copy=False)
        Mn = _unit_rows(M)
        kept_idx: list[int] = []
        rep = np.full(len(pdf), -1, dtype=np.int64)
        keep = np.ones(len(pdf), dtype=bool)
        for i in range(len(head)):
            if kept_idx:
                sims = np.round(Mn[kept_idx] @ Mn[i], 6)
                j = int(np.argmax(sims))
                if sims[j] >= t:
                    keep[i] = False
                    rep[i] = head["vec_id"].iloc[kept_idx[j]]
                    continue
            kept_idx.append(i)
        return pd.DataFrame({"vec_id": pdf["vec_id"],
                             "cell": pdf["cell"],
                             "keep": keep,
                             "rep_id": rep})

    cells = e.withColumn("cell", cell_udf("v"))
    out = (cells.groupBy("cell")
           .applyInPandas(sweep, "vec_id bigint, cell int, keep boolean, "
                                 "rep_id bigint")
           .orderBy("vec_id"))
    return out, capped_acc


# --- registry --------------------------------------------------------------------

# Registry order = driver check order. The driver's correctness budget can
# run out before the tail (r03 checked 49, r04/r05 checked 50 of 55/60).
# ROTATION RULE: queries whose latest green driver row is OLDEST go FIRST,
# so no query's driver signature is ever more than one round stale. For
# r06 that is the 10 entries the r05 budget did not reach (last signed in
# CORRECTNESS_r04.json), led by dup_clusters_engine (it exercises the
# verify/lsh code refactored in r05); the r05-signed block follows in its
# previous order.
QUERIES = {
    "dup_clusters_engine": q_dup_clusters_engine,
    "embedding_knn_ivf_trained": q_embedding_knn_ivf_trained,
    "events_agg": q_events_agg,
    "events_user_rank": q_events_user_rank,
    "events_hourly_topk": q_events_hourly_topk,
    "permutation_coeffs": q_permutation_coeffs,
    "minhash_signatures_engine": q_minhash_signatures_engine,
    "candidate_stats": q_candidate_stats,
    "config_clamp": q_config_clamp,
    "clusters_incremental": q_clusters_incremental,
    # r6-changed code paths whose r5 row would otherwise fall off the
    # 50-row budget: both exercise the restructured pairs_within_groups
    # (planted hot buckets / IVF cells), so they must be re-signed this
    # round; two untouched-code r5-green queries (cache_key,
    # url_variants) moved to the tail in exchange
    "lsh_planted_recall": q_lsh_planted_recall,
    "embedding_knn_ivf": q_embedding_knn_ivf,
    "sample_split": q_sample_split,
    "cluster_representatives": q_cluster_representatives,
    "domain_stats": q_domain_stats,
    "stream_state_evict": q_stream_state_evict,
    "ingest_two_drops": q_ingest_two_drops,
    "stream_windowed_counts": q_stream_windowed_counts,
    "stream_pairs": q_stream_pairs,
    "pipeline_resume": q_pipeline_resume,
    "semantic_dedup": q_semantic_dedup,
    "token_count": q_token_count,
    "text_quality": q_text_quality,
    "quality_filter": q_quality_filter,
    "top_terms": q_top_terms,
    "decontaminate": q_decontaminate,
    "repetition_filter": q_repetition_filter,
    "pii_redact": q_pii_redact,
    "line_dedup": q_line_dedup,
    "lang_stopword_scores": q_lang_stopword_scores,
    "url_normalize": q_url_normalize,
    "url_normalize_youtube": q_url_normalize_youtube,
    "title_normalize": q_title_normalize,
    "field_validity": q_field_validity,
    "exact_dup_groups": q_exact_dup_groups,
    "exact_dedup_keep_first": q_exact_dedup_keep_first,
    "exact_clusters": q_exact_clusters,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_signatures": q_minhash_signatures,
    "lsh_candidate_pairs": q_lsh_candidate_pairs,
    "metadata_block_pairs": q_metadata_block_pairs,
    "dup_clusters": q_dup_clusters,
    "simhash_hamming": q_simhash_hamming,
    "kernel_detect": q_kernel_detect,
    "doc_fingerprints": q_doc_fingerprints,
    "substring_pairs": q_substring_pairs,
    "media_features": q_media_features,
    "media_dup_pairs": q_media_dup_pairs,
    "embedding_knn": q_embedding_knn,
    "embedding_knn_lsh": q_embedding_knn_lsh,
    "extract_roundtrip": q_extract_roundtrip,
    "metadata_enrich": q_metadata_enrich,
    "dedupe_one_url": q_dedupe_one_url,
    "dedupe_by_metadata": q_dedupe_by_metadata,
    "token_count_bpe": q_token_count_bpe,
    "events_sessions": q_events_sessions,
    "region_revenue": q_region_revenue,
    "pricing_summary": q_pricing_summary,
    "cache_key": q_cache_key,
    "url_variants": q_url_variants,
}

# --- fixture oracles --------------------------------------------------------------
# Non-SQL-expressible queries (hash pipeline: signatures, LSH candidates,
# clusters, winnowing fingerprints, ANN buckets) get VALUES-fixture oracles:
# expected rows frozen at sf0.01 by an INDEPENDENT single-node implementation
# (dedup/local_oracle.py; generator: tools/gen_oracle_fixtures.py). The
# driver's DuckDB side then checks the distributed plans reproduce them
# exactly. Inputs are deterministic (seeded synth + pinned config), so the
# expected outputs are constants.

import json as _json
from pathlib import Path as _Path

_FIXTURE_PATH = _Path(__file__).parent / "fixtures" / "oracle_sf001.json"


def _sql_lit(v, typ: str) -> str:
    if v is None:
        return "NULL"
    if typ == "VARCHAR":
        return "'" + str(v).replace("'", "''") + "'"
    if typ == "DOUBLE":
        return repr(float(v))
    return str(int(v))


def fixture_oracle_sql() -> dict[str, str]:
    """name -> VALUES-based oracle SQL for every frozen fixture query."""
    if not _FIXTURE_PATH.exists():
        return {}
    fixtures = _json.loads(_FIXTURE_PATH.read_text())
    out = {}
    for name, data in fixtures.items():
        cols = data["columns"]
        rows = data["rows"]
        names = ", ".join(n for n, _ in cols)
        casts = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
        if not rows:
            out[name] = (f"SELECT {casts} FROM (VALUES ("
                         + ", ".join("NULL" for _ in cols) + f")) AS t({names}) WHERE 1=0")
            continue
        vals = ", ".join(
            "(" + ", ".join(_sql_lit(v, t) for v, (_, t) in zip(row, cols)) + ")"
            for row in rows)
        out[name] = (
            "SELECT " + casts + " FROM (VALUES " + vals + ") AS t(" + names + ")")
    return out


_DUCK_TOKENS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 1)"

# normalize_url for non-YouTube urls as a DuckDB expression (same regexp
# chain the url_normalize oracle uses): lower, strip scheme/www./query,
# rstrip '/'
_DUCK_NORM = ("rtrim(regexp_replace(regexp_replace(regexp_replace("
              "lower({u}), '^https?://', ''), '^www\\.', ''), "
              "'\\?.*$', ''), '/')")

_CORPUS_CTE = (
    "WITH corpus AS ("
    "SELECT 'https://www.' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)"
    " AS url, text, lang, doc_id FROM documents "
    "UNION ALL "
    "SELECT 'https://mirror.net/copy/' || CAST(doc_id AS VARCHAR) AS url, "
    "text, lang, doc_id FROM documents WHERE doc_id < 50)"
)

ORACLE_SQL = {
    "token_count": (
        f"SELECT doc_id, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens "
        "FROM documents"),
    "text_quality": (
        "SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars, "
        f"CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens, "
        "CAST(len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct, "
        "CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits, "
        "CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), "
        "x -> x in ('the','a','of','and','to','in','is','it','for','on'))) AS BIGINT) "
        "AS n_stopwords FROM documents"),
    "lang_stopword_scores": _lang_oracle_sql(),
    "url_normalize": (
        "SELECT doc_id, "
        "rtrim(regexp_replace(regexp_replace(regexp_replace(lower("
        "'HTTPS://WWW.' || source || '.Example.com/Docs/' || CAST(doc_id AS VARCHAR) || '/?utm_source=x&ref=y'"
        "), '^https?://', ''), '^www\\.', ''), '\\?.*$', ''), '/') AS norm_url "
        "FROM documents"),
    "title_normalize": (
        "SELECT doc_id, regexp_replace("
        "trim(substr(text, 1, 40)) || ' - Wikipedia', "
        "'\\s*[-–—|:]\\s*(?:Wikipedia|Klexikon|Wikibooks|Wikiversity|planet-schule"
        "|Planet Schule|Lehrer-Online|Lernhelfer|sofatutor|learningapps|serlo)[^\\n]{0,200}$', "
        "'', 'i') AS norm_title FROM documents"),
    "field_validity": (
        "SELECT CAST(sum(CASE WHEN text IS NOT NULL AND len(trim(text)) > 0 "
        "AND lower(trim(text)) != 'string' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_field, "
        "CAST(sum(CASE WHEN text IS NOT NULL AND len(trim(text)) >= 3 "
        "AND lower(trim(text)) NOT IN ('string','n/a','unknown','') THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_valid_search, count(*) AS n_total FROM documents"),
    "exact_dup_groups": (
        _CORPUS_CTE +
        " SELECT md5(text) AS text_hash, count(*) AS n_docs, min(url) AS first_url "
        "FROM corpus GROUP BY 1 HAVING count(*) > 1"),
    "exact_dedup_keep_first": (
        _CORPUS_CTE +
        ", ranked AS (SELECT url, doc_id, row_number() OVER "
        "(PARTITION BY md5(text) ORDER BY url) AS rn FROM corpus) "
        "SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_doc_id "
        "FROM ranked WHERE rn = 1"),
    "exact_clusters": (
        _CORPUS_CTE +
        ", keyed AS (SELECT CASE WHEN url LIKE 'https://mirror.net/%' "
        "THEN doc_id + 100000 ELSE doc_id END AS row_key, text FROM corpus) "
        "SELECT row_key, min(row_key) OVER (PARTITION BY text) AS cluster_id "
        "FROM keyed"),
    "ngram_jaccard_pairs": (
        "WITH toks AS (SELECT doc_id, "
        f"CASE WHEN len({_DUCK_TOKENS}) < 3 THEN 1 ELSE len({_DUCK_TOKENS}) - 2 END AS n3, "
        f"{_DUCK_TOKENS} AS ts FROM documents WHERE doc_id < 40), "
        "grams AS (SELECT DISTINCT doc_id, "
        "array_to_string(ts[i:i+2], ' ') AS g "
        "FROM toks, unnest(generate_series(1, n3)) AS t(i)), "
        "inter AS (SELECT g1.doc_id AS a, g2.doc_id AS b, "
        "count(*) AS n_intersect FROM grams g1 JOIN grams g2 "
        "ON g1.g = g2.g AND g1.doc_id < g2.doc_id GROUP BY 1, 2), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1) "
        "SELECT i.a, i.b, i.n_intersect, "
        "sa.n + sb.n - i.n_intersect AS n_union "
        "FROM inter i JOIN sizes sa ON sa.doc_id = i.a "
        "JOIN sizes sb ON sb.doc_id = i.b WHERE i.n_intersect > 0"),
    "cache_key": (
        "SELECT doc_id, md5('{\"description\": \"' || "
        "trim(substr(text, 31, 60)) || '\", \"threshold\": 0.9, \"title\": \"' || "
        "trim(substr(text, 1, 30)) || '\", \"url\": \"https://x.org/' || "
        "CAST(doc_id AS VARCHAR) || '\"}') AS cache_key FROM documents"),
    "url_variants": (
        "WITH base AS (SELECT doc_id, source || '.example.com/docs/' || "
        "CAST(doc_id AS VARCHAR) AS hp FROM documents) "
        "SELECT doc_id, v AS variant FROM base, UNNEST(["
        "'https://' || hp, 'https://' || hp || '/', "
        "'https://www.' || hp, 'https://www.' || hp || '/', "
        "'http://' || hp, 'http://' || hp || '/', "
        "'http://www.' || hp, 'http://www.' || hp || '/', hp]) AS t(v)"),
    "embedding_knn": (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5), "
        "scored AS (SELECT q.qid, e.vec_id, "
        "list_dot_product(q.qv, e.v) / "
        "(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos "
        "FROM q CROSS JOIN e WHERE q.qid != e.vec_id), "
        "ranked AS (SELECT qid, vec_id, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank FROM scored) "
        "SELECT qid, vec_id, rank, round(cos, 6) AS cos_sim "
        "FROM ranked WHERE rank <= 5"),
    "events_agg": (
        "SELECT event_type, count(*) AS n_events, "
        "count(DISTINCT user_id) AS n_users, "
        "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value "
        "FROM events GROUP BY 1"),
    "events_user_rank": (
        "WITH c AS (SELECT event_type, user_id, count(*) AS n FROM events "
        "GROUP BY 1, 2), r AS (SELECT event_type, user_id, n, row_number() "
        "OVER (PARTITION BY event_type ORDER BY n DESC, user_id ASC) AS rnk "
        "FROM c) SELECT event_type, user_id, n, rnk FROM r WHERE rnk <= 3"),
    "events_hourly_topk": (
        "SELECT date_trunc('hour', ts) AS hour, count(*) AS n_events "
        "FROM events GROUP BY 1 ORDER BY n_events DESC, hour ASC LIMIT 10"),
    "extract_roundtrip": (
        # the synthetic documents' text is single-line and pre-trimmed, so
        # the extractor's line-strip/empty-drop normalization is the identity
        # and byte-identical recovery means: extracted == text
        "SELECT doc_id, text AS extracted FROM documents"),
    "lsh_planted_recall": (
        _CORPUS_CTE +
        " SELECT c1.url AS a, c2.url AS b FROM corpus c1 JOIN corpus c2 "
        "ON c1.text = c2.text AND c1.url < c2.url"),
    "token_count_bpe": (
        "SELECT doc_id, CAST(len(regexp_extract_all(lower(text), "
        "'[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens "
        "FROM documents"),
    "events_sessions": (
        "WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events), "
        "m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER "
        "(PARTITION BY user_id ORDER BY t) > 1800000000 THEN 1 ELSE 0 END "
        "AS new_session FROM e) "
        "SELECT user_id, count(*) AS n_events, "
        "CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions "
        "FROM m GROUP BY user_id"),
    "pricing_summary": (
        "SELECT l_returnflag, l_linestatus, "
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) "
        "AS sum_qty, "
        "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) "
        "AS sum_base_price, "
        "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * "
        "(CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) "
        "AS DOUBLE), 2) AS sum_disc_price, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02' "
        "GROUP BY l_returnflag, l_linestatus"),
    "region_revenue": (
        "SELECT r_name, count(*) AS n_orders, "
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) "
        "AS revenue "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY r_name"),
    "metadata_enrich": (
        "WITH base AS (SELECT doc_id, trim(substr(text, 1, 30)) AS r_title, "
        "trim(substr(text, 31, 60)) AS r_desc, "
        "'https://www.' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) AS r_url, "
        "source FROM documents), "
        "ref AS (SELECT r_title, r_desc, "
        + _DUCK_NORM.format(u="r_url") + " AS r_norm, "
        "lower(trim(r_title)) AS r_tkey FROM base), "
        "sparse AS (SELECT CAST(doc_id AS BIGINT) AS record_id, "
        "CASE WHEN doc_id % 3 = 0 THEN 'string' ELSE r_title END AS title, "
        "CASE WHEN doc_id % 2 = 0 THEN NULL ELSE r_desc END AS description, "
        "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE "
        "'HTTPS://WWW.' || source || '.Example.com/Docs/' || CAST(doc_id AS VARCHAR) "
        "END AS url FROM base WHERE doc_id < 200), "
        "s AS (SELECT *, " + _DUCK_NORM.format(u="url") + " AS norm_url, "
        "lower(trim(title)) AS tkey, "
        "(title IS NOT NULL AND len(trim(title)) > 0 AND "
        "lower(trim(title)) != 'string') AS has_t, "
        "(description IS NOT NULL AND len(trim(description)) > 0 AND "
        "lower(trim(description)) != 'string') AS has_d FROM sparse), "
        "um AS (SELECT record_id, u_title, u_desc FROM ("
        "SELECT s.record_id, ref.r_title AS u_title, ref.r_desc AS u_desc, "
        "row_number() OVER (PARTITION BY s.record_id "
        "ORDER BY (ref.r_title IS NULL), (ref.r_desc IS NULL), "
        "ref.r_title, ref.r_desc) AS rn "
        "FROM s JOIN ref ON s.norm_url = ref.r_norm "
        "WHERE NOT (s.has_t AND s.has_d)) WHERE rn = 1), "
        "tm AS (SELECT record_id, t_title, t_desc FROM ("
        "SELECT s.record_id, ref.r_title AS t_title, ref.r_desc AS t_desc, "
        "row_number() OVER (PARTITION BY s.record_id "
        "ORDER BY (ref.r_title IS NULL), (ref.r_desc IS NULL), "
        "ref.r_title, ref.r_desc) AS rn "
        "FROM s JOIN ref ON s.tkey = ref.r_tkey "
        "WHERE NOT (s.has_t AND s.has_d) AND s.has_t) WHERE rn = 1) "
        "SELECT s.record_id, "
        "CASE WHEN s.has_t THEN s.title "
        "ELSE coalesce(um.u_title, tm.t_title, s.title) END AS title, "
        "CASE WHEN s.has_d THEN s.description "
        "ELSE coalesce(um.u_desc, tm.t_desc, s.description) END AS description, "
        "s.url, "
        "CASE WHEN s.has_t AND s.has_d THEN NULL "
        "WHEN ((NOT s.has_t AND um.u_title IS NOT NULL) OR "
        "(NOT s.has_d AND um.u_desc IS NOT NULL)) AND "
        "((NOT s.has_t AND um.u_title IS NULL AND tm.t_title IS NOT NULL) "
        "OR (NOT s.has_d AND um.u_desc IS NULL AND tm.t_desc IS NOT NULL)) "
        "THEN 'url+title' "
        "WHEN (NOT s.has_t AND um.u_title IS NOT NULL) OR "
        "(NOT s.has_d AND um.u_desc IS NOT NULL) THEN 'url' "
        "WHEN (NOT s.has_t AND um.u_title IS NULL AND "
        "tm.t_title IS NOT NULL) OR (NOT s.has_d AND um.u_desc IS NULL AND "
        "tm.t_desc IS NOT NULL) THEN 'title' "
        "ELSE NULL END AS enrichment_source "
        "FROM s LEFT JOIN um USING (record_id) LEFT JOIN tm USING (record_id)"),
    "quality_filter": (
        "WITH c AS (SELECT doc_id, "
        f"CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens, "
        "CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), "
        "x -> x in ('the','a','of','and','to','in','is','it','for','on'))) "
        "AS BIGINT) AS n_stop FROM documents) "
        "SELECT doc_id, n_tokens, n_stop, "
        "(CASE WHEN n_tokens < 20 THEN 'too_short' "
        "WHEN n_tokens > 90 THEN 'too_long' "
        "WHEN n_stop = 0 THEN 'no_stopwords' END) IS NULL AS keep, "
        "CASE WHEN n_tokens < 20 THEN 'too_short' "
        "WHEN n_tokens > 90 THEN 'too_long' "
        "WHEN n_stop = 0 THEN 'no_stopwords' END AS drop_reason "
        "FROM c"),
    "top_terms": (
        f"WITH t AS (SELECT unnest({_DUCK_TOKENS}) AS term FROM documents) "
        "SELECT term, count(*) AS n FROM t GROUP BY term "
        "ORDER BY n DESC, term ASC LIMIT 25"),
    "decontaminate": (
        f"WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents), "
        "g AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+7], ' ') AS "
        "gram FROM t, UNNEST(range(1, len(tk) - 6)) AS u(i) "
        "WHERE len(tk) >= 8), "
        "contam AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50), "
        "h AS (SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n "
        "FROM g JOIN contam USING (gram) WHERE g.doc_id >= 50 GROUP BY 1) "
        "SELECT d.doc_id, COALESCE(h.n, 0) AS n_hit_grams, "
        "COALESCE(h.n, 0) > 0 AS contaminated "
        "FROM documents d LEFT JOIN h USING (doc_id) "
        "WHERE d.doc_id >= 50 ORDER BY doc_id"),
    "pii_redact": (
        "WITH d AS (SELECT doc_id, text || ' contact user' || doc_id || "
        "'@mail' || (doc_id % 7) || '.example.com or +1-555-' || "
        "lpad(CAST(doc_id * 37 % 10000 AS VARCHAR), 4, '0') || ' now' "
        "AS dirty FROM documents) "
        "SELECT doc_id, "
        f"CAST(len(regexp_extract_all(dirty, '{_PII_EMAIL}')) AS BIGINT) "
        "AS n_emails, "
        f"CAST(len(regexp_extract_all(dirty, '{_PII_PHONE}')) AS BIGINT) "
        "AS n_phones, "
        f"md5(regexp_replace(regexp_replace(dirty, '{_PII_EMAIL}', "
        f"'<EMAIL>', 'g'), '{_PII_PHONE}', '<PHONE>', 'g')) AS clean_md5 "
        "FROM d ORDER BY doc_id"),
    "repetition_filter": (
        f"WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents), "
        "b AS (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS g "
        "FROM t, UNNEST(range(1, len(tk))) AS u(i) WHERE len(tk) >= 2), "
        "c AS (SELECT doc_id, g, count(*) AS n FROM b GROUP BY 1, 2), "
        "a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams, "
        "CAST(max(n) AS BIGINT) AS top_bigram_n FROM c GROUP BY 1) "
        "SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams, "
        "COALESCE(a.top_bigram_n, 0) AS top_bigram_n, "
        "COALESCE(a.top_bigram_n, 0) * 10 <= COALESCE(a.n_bigrams, 0) AS keep "
        "FROM documents d LEFT JOIN a USING (doc_id) ORDER BY doc_id"),
    # M5 clamp: same VALUES the Spark query enumerates, CASE as the rule
    "config_clamp": (
        "SELECT CAST(i AS BIGINT) AS i, CAST(requested AS INTEGER) AS requested, "
        "CAST(CASE WHEN requested IS NULL THEN 40 "
        "WHEN requested < 40 THEN requested ELSE 40 END AS INTEGER) AS effective "
        "FROM (VALUES (0, NULL), (1, 0), (2, 1), (3, 5), (4, 39), (5, 40), "
        "(6, 41), (7, 100), (8, 10000)) AS t(i, requested) ORDER BY i"),
    # checkpoint/resume contract: run 0 computes all four stages, run 1
    # skips all four off the lineage manifests, invalidate() (M10) forces
    # run 2 to recompute all four
    "pipeline_resume": (
        "SELECT CAST(run_no AS INTEGER) AS run_no, stage, "
        "CAST(skipped AS BOOLEAN) AS skipped FROM (VALUES "
        "(0, 'signatures', false), (0, 'pairs', false), "
        "(0, 'verified', false), (0, 'clusters', false), "
        "(1, 'signatures', true), (1, 'pairs', true), "
        "(1, 'verified', true), (1, 'clusters', true), "
        "(2, 'signatures', false), (2, 'pairs', false), "
        "(2, 'verified', false), (2, 'clusters', false)) "
        "AS t(run_no, stage, skipped) ORDER BY run_no, stage"),
    "domain_stats": _domain_stats_oracle_sql(),
    "sample_split": _SAMPLE_SPLIT_SQL,
    # C4-style global line dedup: first occurrence by (doc_id, line_no);
    # the oracle groups by the line STRING (the engine groups by its
    # xxhash64 — equal absent 2^-64 collisions)
    "line_dedup": (
        f"WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents), "
        "l AS (SELECT doc_id, i - 1 AS line_no, "
        f"array_to_string(tk[(i-1)*{LINE_TOKENS}+1 : i*{LINE_TOKENS}], ' ')"
        " AS line "
        f"FROM t, UNNEST(range(1, CAST(ceil(len(tk) / {LINE_TOKENS}.0) "
        "AS INT) + 1)) AS u(i)), "
        "m AS (SELECT doc_id, line_no, line, "
        "row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) = 1 "
        "AS keep FROM l) "
        "SELECT doc_id, count(*) AS n_lines, "
        "CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) "
        "AS n_dup_lines, "
        "md5(coalesce(string_agg(CASE WHEN keep THEN line END, ' ' "
        "ORDER BY line_no), '')) AS clean_md5 "
        "FROM m GROUP BY doc_id ORDER BY doc_id"),
    # watermarked windowed agg (stream_windowed_counts): deterministic
    # two-drop scenario — only the 9:00 and 10:00 windows finalize; the
    # late 9:40 row and the open 12:00 window never appear
    "stream_windowed_counts": (
        "SELECT win_start, win_end, lang, CAST(n_docs AS BIGINT) AS n_docs "
        "FROM (VALUES "
        "('2026-01-01 09:00:00', '2026-01-01 10:00:00', 'en', 4), "
        "('2026-01-01 10:00:00', '2026-01-01 11:00:00', 'de', 1)) "
        "AS t(win_start, win_end, lang, n_docs) ORDER BY win_start, lang"),
}

# VALUES-fixture oracles for the non-SQL-expressible queries (see
# fixture_oracle_sql docstring); regenerate with tools/gen_oracle_fixtures.py
ORACLE_SQL.update(fixture_oracle_sql())
