"""queries/kernels.py: the shared top-k kernel, the plan-audit rule
that keeps every literal-bound rank filter limited before the shuffle,
and the hashing and LSH kernels against Python replicas."""

from __future__ import annotations

import hashlib
import itertools
import random

import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.kernels import (
    bucket_pairs,
    flip_probes,
    md5_int,
    sign_bits,
    topk,
    word_trigrams,
)
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


# --- LSH and hashing kernels -------------------------------------------------


@pytest.mark.parametrize("n", [8, 13, 15])
def test_md5_int_is_the_hex_prefix_as_an_integer(spark, n):
    words = ["", "a", "héllo wörld", "3:user-42", "x" * 200]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {r.s: r.h for r in df.select("s", md5_int("s", n).alias("h")).collect()}
    assert got == {w: int(hashlib.md5(w.encode()).hexdigest()[:n], 16) for w in words}


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def test_sign_bits_is_the_bit_or_of_its_conditions(spark):
    rnd = random.Random(7)
    rows = [
        [False] * 64,
        [True] * 64,
        [i == 63 for i in range(64)],
        [i == 0 for i in range(64)],
    ] + [[rnd.random() < 0.5 for _ in range(64)] for _ in range(4)]
    df = spark.createDataFrame([(i, f) for i, f in enumerate(rows)], "id int, f array<boolean>")
    packed = sign_bits([f"f[{i}]" for i in range(64)])
    got = dict(map(tuple, df.select("id", packed.alias("v")).collect()))
    want = {}
    for i, flags in enumerate(rows):
        v = 0
        for b, on in enumerate(flags):
            if on:
                v |= 1 << b
        want[i] = _signed64(v)
    assert got == want
    assert got[2] == -(1 << 63)


def test_flip_probes_are_the_bucket_and_its_one_bit_flips(spark):
    n = 8
    buckets = [0, 5, 255, 170]
    df = spark.createDataFrame([(b,) for b in buckets], "bucket bigint")
    for r in df.select("bucket", flip_probes("bucket", n).alias("p")).collect():
        assert len(r.p) == n + 1
        assert r.p[0] == r.bucket
        assert sorted(bin(p ^ r.bucket).count("1") for p in r.p) == [0] + [1] * n
        assert len(set(r.p)) == n + 1


def test_bucket_pairs_are_the_in_bucket_combinations(spark):
    rows = [
        (1, 3), (1, 1), (1, 2), (1, 2),  # a repeated member counts once
        (2, 5),                          # a one-member bucket pairs nothing
        (3, 2), (3, 1),                  # (1, 2) again: listed once
        (4, 9), (4, 7), (4, 8), (4, 6),
    ]
    df = spark.createDataFrame(rows, "k int, m int")
    got = [tuple(r) for r in bucket_pairs(df, ["k"], "m").collect()]
    members = {}
    for k, m in rows:
        members.setdefault(k, set()).add(m)
    want = {p for ms in members.values() for p in itertools.combinations(sorted(ms), 2)}
    assert sorted(got) == sorted(want)
    assert len(got) == len(want)


def test_word_trigrams_match_a_python_replica(spark):
    texts = ["a b c", "the cat sat on the mat", "x y x y x y", "one two three four"]
    toks = [t.split(" ") for t in texts]
    df = spark.createDataFrame([(i, tk) for i, tk in enumerate(toks)], "id int, toks array<string>")
    got = {r.id: r.g for r in df.select("id", word_trigrams("toks").alias("g")).collect()}
    assert got == {
        i: [" ".join(tk[j : j + 3]) for j in range(len(tk) - 2)] for i, tk in enumerate(toks)
    }
