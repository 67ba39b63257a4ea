"""Format round-trips and bucketed co-located joins."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.sinks import write_bucketed, write_file
from caliper_poc_data_etl_spark.sources import read_orc, read_text


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


@pytest.mark.parametrize("fmt", ["json", "csv", "orc", "parquet"])
def test_format_roundtrip(spark, orders, tmp_path, fmt):
    target = str(tmp_path / fmt)
    opts = {"header": "true"} if fmt == "csv" else {}
    write_file(orders, target, fmt=fmt, options=opts)
    back = spark.read.format(fmt)
    if fmt in ("json", "csv"):  # text formats need the schema back
        back = back.schema(orders.schema).option("header", "true")
    got = back.load(target)
    assert _rows(got.select(*orders.columns)) == _rows(orders)


def test_partitioned_write_prunes(spark, orders, tmp_path):
    target = str(tmp_path / "bystatus")
    write_file(orders, target, fmt="parquet", partition_by=["o_orderstatus"])
    got = spark.read.parquet(target).filter(F.col("o_orderstatus") == "F")
    plan = got._jdf.queryExecution().executedPlan().toString()
    # Partition pruning: only the o_orderstatus=F directory is scanned.
    assert got.count() == orders.filter("o_orderstatus = 'F'").count()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderstatus" in m.group(1)


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(
        orders, "b_orders", buckets=4, bucket_cols=["o_orderkey"],
        sort_cols=["o_orderkey"], path=str(tmp_path / "b_orders"),
    )
    write_bucketed(
        lineitem, "b_lineitem", buckets=4, bucket_cols=["l_orderkey"],
        sort_cols=["l_orderkey"], path=str(tmp_path / "b_lineitem"),
    )
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_orders").join(
                spark.table("b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            joined.write.format("noop").mode("overwrite").save()
            plan = joined._jdf.queryExecution().executedPlan().toString()
            n_exchange = len(re.findall(r"\bExchange\b", plan))
            # Both sides bucketed on the join key with equal bucket
            # counts: the sort-merge join reads buckets directly —
            # zero shuffles.
            assert n_exchange == 0, plan
            expected = orders.join(
                lineitem, F.col("o_orderkey") == F.col("l_orderkey")
            ).count()
            assert joined.count() == expected
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_read_text_lines_and_whole(spark, tmp_path):
    p = tmp_path / "t.txt"
    p.write_text("line1\nline2\nline3\n")
    lines = read_text(spark, str(p))
    assert lines.count() == 3
    whole = read_text(spark, str(p), whole_text=True)
    assert whole.count() == 1
    assert whole.first()["value"] == "line1\nline2\nline3\n"


def test_read_orc_alias(spark, orders, tmp_path):
    target = str(tmp_path / "orc2")
    orders.write.mode("overwrite").orc(target)
    assert _rows(read_orc(spark, target).select(*orders.columns)) == _rows(orders)


def test_compact_files_merges_small_files(spark, orders, tmp_path):
    from caliper_poc_data_etl_spark.sinks import compact_files

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    # Simulate a file-count explosion: 64 tiny files.
    orders.repartition(64).write.mode("overwrite").parquet(src)
    n_src = len(list((tmp_path / "fragmented").glob("part-*.parquet")))
    assert n_src >= 64
    compact_files(spark, src, dst)
    n_dst = len(list((tmp_path / "compacted").glob("part-*.parquet")))
    assert 1 <= n_dst < n_src / 4
    # Zero loss, identical data.
    assert _rows(spark.read.parquet(dst)) == _rows(orders)


def test_sf_table_sees_rewritten_file_schema(spark, tmp_path):
    """The parquet schema cache must not serve a stale schema after the
    table file is rewritten in place with an added column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from caliper_poc_data_etl_spark.sources import sf_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert sf_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), path)
    got = sf_table(spark, str(tmp_path), "t")
    assert got.columns == ["k", "v"]
    assert _rows(got) == [(1, "a"), (2, "b")]
