"""Per-document lookups (kernel.dedupe_one / dedupe_metadata): the
no-index plan, the key_index plan and local_oracle's lookups return the
same rows; the no-index plan is one projection over the signatures (no
Generate, join, aggregate or range partitioning); what a repeated url
does; jaccard scoring; and the pipeline's key_index stage."""

from __future__ import annotations

from dataclasses import replace

import pytest

from dedup import local_oracle as lo
from dedup.config import PARITY_CONFIG
from dedup.kernel import SourceMetadata, dedupe_metadata, dedupe_one
from dedup.lsh import unified_group_keys
from dedup.queries import docs_as_corpus
from dedup.signature import signatures_table
from harness_oracle import SF_DIR as SF_0_01
from test_metadata_blocking import _ROWS, meta_corpus  # noqa: F401

SF = "/root/testdata/sf0.001"
# threshold 0.0 keeps every scored candidate, so the comparisons see the
# whole candidate set and each candidate's rank
KEEP_ALL = replace(PARITY_CONFIG, threshold=0.0)

# (url, text, title, description, redirect_url): the metadata rows plus a
# row that redirects to d/5 (found only through its norm_redirect) and a
# row whose text is the lookup source's title + description (found only
# through band keys)
_SOURCE = SourceMetadata(title="Shared d1a Lesson d1b Title",
                         description="Catalog d3a entry d3b annotation "
                                     "d3c body",
                         redirect_url="https://d.example.org/5/")
_LOOKUP_ROWS = _ROWS + [
    ("https://e.example.org/7", "lorem ipsum dolor sit amet consectetur "
     "adipiscing elit sed do", None, None, "https://d.example.org/5"),
    ("https://f.example.org/8", f"{_SOURCE.title} {_SOURCE.description}",
     None, None, None),
]
_SCHEMA = ("url string, text string, title string, description string, "
           "redirect_url string")


def _oracle_sigs(rows):
    return lo.local_signatures([(u, t, r, ti, d) for u, t, ti, d, r in rows],
                               KEEP_ALL)


def _sign(spark, rows):
    return signatures_table(spark.createDataFrame(rows, _SCHEMA),
                            KEEP_ALL).localCheckpoint()


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _oracle_metadata(sigs, src: SourceMetadata):
    return lo.local_dedupe_metadata(sigs, src.title, src.description,
                                    src.url, KEEP_ALL,
                                    redirect_url=src.redirect_url)


@pytest.fixture(scope="module")
def lookup_corpus(spark):
    return _sign(spark, _LOOKUP_ROWS)


def _check_every_url(sigs, oracle_sigs, urls):
    """Both lookup plans equal local_dedupe_one for each url; returns how
    many urls had any result."""
    keys = unified_group_keys(sigs, KEEP_ALL).localCheckpoint()
    nonempty = 0
    for url in urls:
        want = lo.local_dedupe_one(oracle_sigs, url, KEEP_ALL)
        assert _rows(dedupe_one(sigs, url, KEEP_ALL)) == want, url
        assert _rows(dedupe_one(sigs, url, KEEP_ALL,
                                key_index=keys)) == want, url
        nonempty += bool(want)
    return nonempty


def test_lookups_equal_key_index_and_oracle(spark, meta_corpus,
                                            lookup_corpus):
    """For every url of the metadata corpora and 30 urls of sf0.01, the
    no-index lookup, the key_index lookup and local_dedupe_one return the
    same rows in the same order; so do the dedupe_metadata forms for a
    source with a redirect url, a title and a description."""
    for sigs, rows in ((meta_corpus, _ROWS), (lookup_corpus, _LOOKUP_ROWS)):
        n = _check_every_url(sigs, _oracle_sigs(rows),
                             [r[0] for r in rows])
        assert n >= 5
    corpus = docs_as_corpus(spark, SF_0_01)
    sigs = signatures_table(corpus, KEEP_ALL).localCheckpoint()
    oracle_sigs = lo.local_signatures(
        [tuple(r) for r in corpus.select("url", "text").collect()], KEEP_ALL)
    urls = sorted(s.url for s in oracle_sigs)
    urls = urls[::len(urls) // 29][:29] + ["https://mirror.net/copy/7"]
    assert _check_every_url(sigs, oracle_sigs, urls) >= 10

    keys = unified_group_keys(lookup_corpus, KEEP_ALL).localCheckpoint()
    want = _oracle_metadata(_oracle_sigs(_LOOKUP_ROWS), _SOURCE)
    assert _rows(dedupe_metadata(lookup_corpus, _SOURCE, KEEP_ALL)) == want
    assert _rows(dedupe_metadata(lookup_corpus, _SOURCE, KEEP_ALL,
                                 key_index=keys)) == want
    assert {s for _, _, s in want} == {"url_exact", "lsh", "title",
                                      "description"}


def test_no_index_lookup_plan_is_one_projection(spark, lookup_corpus):
    """The executed no-index plan ranks the signatures rows in one
    projection: no Generate, no join, no aggregate, no range-partition
    sample, one ArrowEvalPython; and its rows are the oracle's."""
    df = dedupe_metadata(lookup_corpus, _SOURCE, KEEP_ALL)
    got = _rows(df)
    plan = (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])  # AQE's final plan
    for op in ("Generate", "Join", "Aggregate", "RangePartitioning"):
        assert op not in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert got == _oracle_metadata(_oracle_sigs(_LOOKUP_ROWS), _SOURCE)
    assert len(got) >= 7


def test_repeated_url_rows_are_ranked_on_their_own_keys(spark):
    """Lookups assume one signatures row per url. When a url repeats, the
    no-index plan ranks each row on its own keys, so a second a/1 row that
    shares no key with the source is no candidate; the key_index plan
    gives every row of a/1 the url's best rank (title) and scores both."""
    extra = ("https://a.example.org/1", "quartz vellum saffron obelisk "
             "tundra marimba zephyr lantern gossamer fjord", None, None,
             None)
    sigs = _sign(spark, _LOOKUP_ROWS + [extra])
    assert sigs.where(f"url = '{extra[0]}'").count() == 2
    want = _oracle_metadata(_oracle_sigs(_LOOKUP_ROWS), _SOURCE)
    assert _rows(dedupe_metadata(sigs, _SOURCE, KEEP_ALL)) == want

    keys = unified_group_keys(sigs, KEEP_ALL).localCheckpoint()
    indexed = _rows(dedupe_metadata(sigs, _SOURCE, KEEP_ALL,
                                    key_index=keys))
    assert len(indexed) == len(want) + 1
    added = set(indexed) - set(want)
    assert [(u, s) for u, _, s in added] == [(extra[0], "title")]


def test_dedupe_one_jaccard_scoring(spark):
    from dedup.config import ENGINE_CONFIG
    from dedup.kernel import dedupe_one
    from dedup.queries import docs_as_corpus
    from dedup.signature import signatures_table

    sigs = signatures_table(docs_as_corpus(spark, SF), ENGINE_CONFIG)
    url = "https://mirror.net/copy/7"
    cos = {r["node_url"]: r["similarity"]
           for r in dedupe_one(sigs, url, ENGINE_CONFIG).collect()}
    jac = {r["node_url"]: r["similarity"]
           for r in dedupe_one(sigs, url, ENGINE_CONFIG,
                               scoring="jaccard").collect()}
    # the mirrored original is an exact text dup: found by both scorings,
    # jaccard exactly 1.0
    assert any(v == 1.0 for v in jac.values())
    assert jac and cos
    # jaccard keep set is a subset of cosine's here (0.8 exact Jaccard is
    # far stricter than 0.9 cosine on positive minhash vectors)
    assert set(jac) <= set(cos)


def test_dedupe_metadata_jaccard_scoring(spark):
    from dedup.config import ENGINE_CONFIG
    from dedup.kernel import SourceMetadata, dedupe_metadata
    from dedup.queries import docs_as_corpus
    from dedup.signature import signatures_table

    c = docs_as_corpus(spark, SF)
    text = c.where("url like '%/docs/3'").first()["text"]
    sigs = signatures_table(c, ENGINE_CONFIG)
    got = dedupe_metadata(sigs, SourceMetadata(title=text), ENGINE_CONFIG,
                          scoring="jaccard").collect()
    assert got and all(r["similarity"] >= 0.8 for r in got)

    # a parity signatures table has no shingles -> loud error, not wrong answers
    from dedup.config import PARITY_CONFIG
    slim = signatures_table(c, PARITY_CONFIG)
    with pytest.raises(ValueError, match="shingle"):
        dedupe_metadata(slim, SourceMetadata(title=text), PARITY_CONFIG,
                        scoring="jaccard")
    with pytest.raises(ValueError, match="shingle"):
        from dedup.kernel import dedupe_one
        dedupe_one(slim, "https://mirror.net/copy/7", PARITY_CONFIG,
                   scoring="jaccard")



def test_key_index_stage_and_point_queries(spark, tmp_path):
    """DedupPipeline(build_key_index=True) persists the inverted key table;
    dedupe_one / dedupe_metadata through it return the same rows as the
    on-the-fly key derivation, and resume skips the extra stage."""
    from dedup.config import PARITY_CONFIG
    from dedup.kernel import SourceMetadata, dedupe_metadata, dedupe_one
    from dedup.pipeline import DedupPipeline
    from dedup.queries import docs_as_corpus

    corpus = docs_as_corpus(spark, SF)
    wd = str(tmp_path / "wd")
    p = DedupPipeline(spark, wd, PARITY_CONFIG)
    tables = p.run(corpus, build_key_index=True)
    assert "keys" in tables
    assert [s.name for s in p.stage_infos] == [
        "signatures", "keys", "pairs", "verified", "clusters"]

    sigs = tables["signatures"]
    keys = tables["keys"]
    url = "https://mirror.net/copy/7"
    direct = {tuple(r) for r in dedupe_one(sigs, url, PARITY_CONFIG).collect()}
    indexed = {tuple(r) for r in dedupe_one(
        sigs, url, PARITY_CONFIG, key_index=keys).collect()}
    assert direct == indexed and direct

    doc_text = corpus.where("doc_id = 3").limit(1).collect()[0]["text"]
    src = SourceMetadata(title=doc_text)
    direct_m = {tuple(r) for r in dedupe_metadata(
        sigs, src, PARITY_CONFIG).collect()}
    indexed_m = {tuple(r) for r in dedupe_metadata(
        sigs, src, PARITY_CONFIG, key_index=keys).collect()}
    assert direct_m == indexed_m and direct_m

    # resume skips the keys stage too; invalidate clears its manifest
    p2 = DedupPipeline(spark, wd, PARITY_CONFIG)
    p2.run(corpus, build_key_index=True)
    assert all(s.skipped for s in p2.stage_infos)
    p2.invalidate()
    p3 = DedupPipeline(spark, wd, PARITY_CONFIG)
    p3.run(corpus, build_key_index=True)
    assert not any(s.skipped for s in p3.stage_infos)
