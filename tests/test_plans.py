"""Physical-plan discipline tests: the properties that make the engine
viable at 100 TB are plan shapes, not outputs — filters reach the parquet
scan, projections prune columns, small sides broadcast (the p2 pair
emission's plan shape is tested in tests/test_lsh.py). These assert on
.explain-style plan strings so a regression in plan shape fails loudly even
when results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedup.config import PARITY_CONFIG

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sigs(spark):
    from dedup.queries import docs_as_corpus
    from dedup.signature import signatures_table
    return signatures_table(docs_as_corpus(spark, SF), PARITY_CONFIG)


def test_point_lookup_pushes_filter_to_scan(spark):
    df = (spark.read.parquet(f"{SF}/documents.parquet")
          .where(F.col("doc_id") == 7).select("doc_id", "text"))
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(doc_id,7)" in plan.replace(" ", "").replace("\n", "") \
        or "EqualTo(doc_id,7)" in plan


def test_projection_prunes_scan_columns(spark):
    from dedup.queries import q_token_count
    plan = _plan(q_token_count(spark, SF))
    # ReadSchema must not include lang/source/n_chars
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "lang" not in read_schema[0] and "source" not in read_schema[0]


def test_verify_joins_arrays_back_by_key_not_through_banding(spark, sigs):
    # the banding/pair shuffle must not carry the wide arrays: the pair
    # table entering verify has only (a, b, match_source)
    from dedup.lsh import candidate_pairs
    pairs = candidate_pairs(sigs, PARITY_CONFIG)
    assert set(pairs.columns) == {"a", "b", "match_source"}


def test_region_revenue_broadcasts_dims(spark):
    from dedup.queries import q_region_revenue
    plan = _plan(q_region_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_exact_dup_groups_is_single_aggregation(spark):
    from dedup.queries import q_exact_dup_groups
    plan = _plan(q_exact_dup_groups(spark, SF))
    assert "CartesianProduct" not in plan and "Join" not in plan


def test_semantic_dedup_is_one_shuffle_no_join(spark):
    # cell assignment is a projection (broadcast-variable matmul, no join);
    # the sweep is ONE groupBy-cell shuffle into applyInPandas — any Join
    # or cartesian in this plan means vectors are being re-joined
    from dedup.queries import q_semantic_dedup
    plan = _plan(q_semantic_dedup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_key_index_lookup_prunes_with_in_filters(spark, sigs, tmp_path):
    # the persisted inverted key table must serve a point query through
    # pushed IN-filters on the key columns, not a full rescan + re-derive
    from dedup.lsh import unified_group_keys
    path = str(tmp_path / "keys")
    (unified_group_keys(sigs, PARITY_CONFIG)
     .repartitionByRange(4, "gk_band", "gk_url", "gk_txt")
     .sortWithinPartitions("gk_band", "gk_url", "gk_txt")
     .write.parquet(path))
    keys = spark.read.parquet(path)
    probe = keys.where(F.col("gk_band").isin([1, 2, 3])
                       | F.col("gk_url").isin(["x"]))
    plan = _plan(probe)
    assert "PushedFilters" in plan and "In(gk_band" in plan.replace("\n", "")
