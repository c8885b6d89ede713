"""Metadata blocking keys (S6 full coverage): title / normalized-title /
description-prefix candidate generation (reference app/wlo_client.py:265-311)
and the T6 metadata-signature fallback for text-less records."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from dedup.config import PARITY_CONFIG
from dedup.kernel import SourceMetadata, dedupe_metadata, dedupe_one
from dedup.lsh import candidate_pairs, unified_group_keys
from dedup.normalize import description_block_key, title_block_keys
from dedup.signature import signatures_table

SF_DIR = "/root/testdata/sf0.001"

# (url, text, title, description, redirect_url) — structured so each planted
# pair has exactly one intended candidate path:
# - a/1 vs b/1: normalized-title key only (b/1 is text-less; its T6 fallback
#   signature comes from its title, unrelated to a/1's body text)
# - c/3 vs c/4: description-prefix key only (c/3 is text-backed, c/4's
#   fallback signature comes from the description)
# - d/5 vs d/6: IDENTICAL text-less descriptions -> identical fallback
#   signatures -> the band keys collide too, and provenance priority labels
#   the pair 'lsh' (the signature path outranks metadata keys)
_ROWS = [
    ("https://a.example.org/1", "alpha beta gamma delta epsilon zeta "
     "eta theta iota kappa", "Shared d1a Lesson d1b Title", None, None),
    ("https://b.example.org/1", "",
     "Shared d1a Lesson d1b Title - Wikipedia", None, None),
    ("https://b.example.org/2", "", "Other d2a Lesson d2b Title", None, None),
    ("https://c.example.org/3", "omega psi chi phi upsilon tau sigma rho "
     "pi omicron", None, "Catalog d3a entry d3b annotation d3c body", None),
    ("https://c.example.org/4", "", None,
     "Catalog d3a entry d3b annotation d3c body", None),
    ("https://d.example.org/5", "", None,
     "Journal d5a article d5b abstract d5c body", None),
    ("https://d.example.org/6", "", None,
     "Journal d5a article d5b abstract d5c body", None),
]


@pytest.fixture(scope="module")
def meta_corpus(spark):
    df = spark.createDataFrame(
        _ROWS, "url string, text string, title string, description string, "
               "redirect_url string")
    return signatures_table(df, PARITY_CONFIG)


def test_title_block_keys_pure():
    assert title_block_keys(None) == []
    assert title_block_keys("ab") == []          # < 3 chars
    assert title_block_keys("unknown") == []     # placeholder
    assert title_block_keys("Plain Title") == ["plain title"]
    got = title_block_keys("Plain Title - Wikipedia")
    assert got == ["plain title - wikipedia", "plain title"]


def test_description_block_key_pure():
    assert description_block_key(None) is None
    assert description_block_key("n/a") is None
    long = "x" * 250
    assert description_block_key(long) == "x" * 100
    assert description_block_key("Short Desc") == "short desc"


def test_unified_keys_exactly_one_non_null(spark, meta_corpus):
    keys = unified_group_keys(meta_corpus, PARITY_CONFIG)
    bad = keys.where(
        (F.col("gk_band").isNotNull().cast("int")
         + F.col("gk_url").isNotNull().cast("int")
         + F.col("gk_txt").isNotNull().cast("int")) != 1).count()
    assert bad == 0
    kinds = {r["k"] for r in keys.select(
        F.substring("gk_txt", 1, 2).alias("k")).distinct().collect()}
    assert "t:" in kinds and "d:" in kinds


def test_metadata_sparse_records_found_with_right_provenance(spark,
                                                             meta_corpus):
    pairs = {(r["a"], r["b"]): r["match_source"]
             for r in candidate_pairs(meta_corpus, PARITY_CONFIG).collect()}
    assert pairs[("https://a.example.org/1",
                  "https://b.example.org/1")] == "title"
    assert pairs[("https://c.example.org/3",
                  "https://c.example.org/4")] == "description"
    # identical fallback signatures: the signature path outranks metadata
    assert pairs[("https://d.example.org/5",
                  "https://d.example.org/6")] == "lsh"
    assert not any("b.example.org/2" in a or "b.example.org/2" in b
                   for a, b in pairs)


def test_dedupe_one_scores_metadata_fallback_signature(spark, meta_corpus):
    # b/1's fallback signature (title text) is unrelated to a/1's body
    # text: the title-key candidate is generated but correctly NOT kept ...
    got = dedupe_one(meta_corpus, "https://b.example.org/1", PARITY_CONFIG)
    assert got.where("node_url = 'https://a.example.org/1'").count() == 0
    # ... while identical-description twins score cosine 1.0 and keep
    got = dedupe_one(meta_corpus, "https://d.example.org/5", PARITY_CONFIG)
    rows = [(r["node_url"], r["similarity"], r["match_source"])
            for r in got.collect()]
    assert rows == [("https://d.example.org/6", 1.0, "lsh")]


def test_dedupe_metadata_uses_title_and_redirect_keys(spark, meta_corpus):
    src = SourceMetadata(title="Shared d1a Lesson d1b Title - Wikipedia")
    got = dedupe_metadata(meta_corpus, src,
                          replace(PARITY_CONFIG, threshold=0.0))
    by_url = {r["node_url"]: r["match_source"] for r in got.collect()}
    # the normalized-title key reaches BOTH the text-backed doc and its
    # metadata-sparse twin; an explicit threshold=0.0 means "keep all"
    assert "https://a.example.org/1" in by_url
    assert "https://b.example.org/1" in by_url
    # redirect_url resolves to a url_exact match
    src = SourceMetadata(title="zzz unrelated zzz",
                         redirect_url="https://a.example.org/1/")
    got = dedupe_metadata(meta_corpus, src, PARITY_CONFIG)
    by_url = {r["node_url"]: r["match_source"] for r in got.collect()}
    assert by_url["https://a.example.org/1"] == "url_exact"


def test_dedupe_metadata_matches_local_oracle_with_redirect(spark,
                                                            meta_corpus):
    from dedup.local_oracle import local_dedupe_metadata, local_signatures

    oracle_rows = [(u, t, r, ti, d) for u, t, ti, d, r in _ROWS]
    sigs = local_signatures(oracle_rows, PARITY_CONFIG)
    want = local_dedupe_metadata(
        sigs, "Shared d1a Lesson d1b Title", None, None, PARITY_CONFIG,
        redirect_url="https://c.example.org/3/")
    src = SourceMetadata(title="Shared d1a Lesson d1b Title",
                         redirect_url="https://c.example.org/3/")
    got = [(r["node_url"], r["similarity"], r["match_source"])
           for r in dedupe_metadata(meta_corpus, src,
                                    PARITY_CONFIG).collect()]
    assert got == [tuple(t) for t in want]
    assert any(s == "url_exact" for _, _, s in got)


def test_planted_metadata_recall_sf0001(spark):
    """Driver-query shape at sf0.001: EVERY planted metadata-only twin is
    recovered with the right provenance."""
    from dedup.queries import q_metadata_block_pairs

    pairs = {(r["a"], r["b"]): r["match_source"]
             for r in q_metadata_block_pairs(spark, SF_DIR).collect()}
    n_title = sum(1 for (a, b), s in pairs.items()
                  if s == "title" and "site-b" in b)
    n_desc = sum(1 for (a, b), s in pairs.items()
                 if s == "description" and "site-c" in b)
    assert n_title == 40
    assert n_desc == 20
