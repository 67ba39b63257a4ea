"""queries/kernels.py: the shared top-k kernel, and the plan-audit rule
that keeps every literal-bound rank filter limited before the shuffle."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.kernels import topk
from tools.plan_audit import unlimited_rank_filters

# (g, score, id): group 1 ties on score at the top-2 boundary, group 2
# has fewer rows than k, group 3 has a single row.
ROWS = [
    (1, 9, 4), (1, 9, 2), (1, 9, 3), (1, 5, 1), (1, 1, 5),
    (2, 7, 6), (2, 3, 7),
    (3, 4, 8),
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, "g int, score int, id int").repartition(3)


def _executed_plan(frame) -> str:
    frame.collect()
    return frame._jdf.queryExecution().executedPlan().toString()


def test_ties_break_on_trailing_order_key(df):
    out = topk(df, ["g"], [F.desc("score"), "id"], 2)
    want = [(1, 9, 2), (1, 9, 3), (2, 3, 7), (2, 7, 6), (3, 4, 8)]
    assert sorted(map(tuple, out.collect())) == want
    assert sorted(map(tuple, out.collect())) == want


def test_k_larger_than_group_keeps_the_group(df):
    out = topk(df, ["g"], [F.desc("score"), "id"], 10)
    assert sorted(map(tuple, out.collect())) == sorted(ROWS)


def test_rank_column_kept_only_when_named(df):
    assert topk(df, ["g"], ["id"], 1).columns == ["g", "score", "id"]
    ranked = topk(df, [], [F.desc("score"), "id"], 3, rank="pos")
    assert ranked.columns == ["g", "score", "id", "pos"]
    assert [tuple(r) for r in ranked.orderBy("pos").collect()] == [
        (1, 9, 2, 1), (1, 9, 3, 2), (1, 9, 4, 3),
    ]


@pytest.mark.parametrize("k", [0, 1000, 2.0, True])
def test_k_must_be_a_literal_spark_can_limit(df, k):
    with pytest.raises(ValueError):
        topk(df, ["g"], ["id"], k)


def test_partitioned_topk_plans_a_group_limit(df):
    plan = _executed_plan(topk(df, ["g"], [F.desc("score"), "id"], 2))
    assert "WindowGroupLimit" in plan
    assert "SinglePartition" not in plan
    assert unlimited_rank_filters(plan) == []


def test_global_topk_plans_take_ordered(df):
    plan = _executed_plan(topk(df, [], [F.desc("score"), "id"], 2))
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan
    assert unlimited_rank_filters(plan) == []


def test_rule_flags_a_narrowing_cast_on_the_rank(df):
    w = W.partitionBy("g").orderBy(F.desc("score"), "id")
    ranked = df.withColumn("rn", F.row_number().over(w).cast("short"))
    plan = _executed_plan(ranked.filter(F.col("rn") <= 2))
    assert "WindowGroupLimit" not in plan
    assert len(unlimited_rank_filters(plan)) == 1


def test_rule_passes_a_no_op_cast_spark_removes(df):
    # row_number() is already an int: the optimizer drops the cast and
    # still limits the window, so the rule has nothing to flag.
    w = W.partitionBy("g").orderBy(F.desc("score"), "id")
    ranked = df.withColumn("rn", F.row_number().over(w).cast("int"))
    plan = _executed_plan(ranked.filter(F.col("rn") <= 2))
    assert "WindowGroupLimit" in plan
    assert unlimited_rank_filters(plan) == []


@pytest.mark.parametrize("by", [["g"], []])
def test_rule_flags_a_count_beside_the_rank(df, by):
    ranked = df.select(
        "*",
        F.row_number().over(W.partitionBy(*by).orderBy("id")).alias("rn"),
        F.count("*").over(W.partitionBy(*by)).alias("n"),
    )
    plan = _executed_plan(ranked.filter(F.col("rn") == 1))
    assert "WindowGroupLimit" not in plan
    assert "TakeOrderedAndProject" not in plan
    assert len(unlimited_rank_filters(plan)) == 1


def test_kmv_sketch_plans_a_group_limit(spark, sf_dir):
    """``agg_kmv_distinct_sketch`` keeps K hashes per group before the
    shuffle: its distinct count comes from a groupBy, not from a count
    window beside the rank."""
    from caliper_poc_data_etl_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["agg_kmv_distinct_sketch"].spark(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert unlimited_rank_filters(plan) == []
