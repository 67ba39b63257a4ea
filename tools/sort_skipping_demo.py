"""Sort-order data-skipping demo — the third optimizer story next to
tools/bucketed_q3_demo.py (shuffle elimination) and
tools/skew_join_demo.py (AQE skew splitting): LAYOUT as an index.

Parquet keeps per-row-group min/max statistics; the reader skips any
row group whose [min, max] cannot satisfy the pushed-down predicate.
Whether it CAN skip is decided at WRITE time:

- layout: randomly ordered data gives every row group a near-full
  value range (nothing skips); range-sorting the write clusters each
  predicate value into few row groups (almost everything skips).
  Same bytes, same query, ~15x fewer rows decoded — what
  Delta/Iceberg Z-ORDER or a date-partitioned layout buys at 100 TB.
- type: Spark's DEFAULT parquet timestamp encoding defeats pruning
  entirely — INT96 carries no usable stats, and INT64
  TIMESTAMP_MICROS written with isAdjustedToUTC=false is skipped by
  Spark's pushdown for timezone-correctness. Sort all you want: a
  timestamp predicate still decodes every row (measured below). The
  fix is a DATE (or explicitly UTC-adjusted) sort/filter column.

- dimensionality: a single-column sort prunes ONLY its own column —
  a price predicate on the day-sorted layout decodes everything. The
  Z-ORDER layout (Morton interleave of day x price via the graded
  fn_zorder_key primitive) prunes BOTH dimensions: ~28x fewer rows
  decoded on the non-sort dimension, while still pruning the date
  (coarser than the pure sort — the classic Z-order trade-off,
  measured side by side).

- curve choice: the HILBERT layout (the graded fn_hilbert_key
  primitive, same two dimensions) is measured against Z-order on the
  same probes. Hilbert has no jump discontinuities (consecutive curve
  positions are adjacent cells — pinned in tests/test_round11_ops),
  so its row groups cover tighter rectangles on AVERAGE — measured:
  1.75x fewer rows decoded than Z-order on the date probe, 0.89x
  (slightly more) on the price probe, ~1.6x fewer summed across both.
  Per-dimension winners vary with how ranges align to curve recursion
  boundaries; the aggregate favors Hilbert, matching the locality
  metric pinned in pytest.

The demo tiles orders K x (default 30 -> 4.5M rows), writes four
layouts, probes date/timestamp/price ranges against each, and prints
the SCAN's own numOutputRows metric = rows actually decoded after
row-group pruning.

Usage: python tools/sort_skipping_demo.py        # K=30
       SPARK_GRAFT_SCALE_K=10 python tools/sort_skipping_demo.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

BASE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K = int(os.environ.get("SPARK_GRAFT_SCALE_K", "30"))
N_FILES = 32


def _probe(df, label: str):
    best = None
    matched = 0
    for _ in range(3):
        t0 = time.perf_counter()
        matched = 0
        # drain THIS df's own QueryExecution so the scan node's
        # metrics accumulate on the plan inspected below
        for _row in df.toLocalIterator():
            matched += 1
        wall = time.perf_counter() - t0
        best = wall if best is None else min(best, wall)
    leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    metrics = {}
    it = leaf.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    decoded = metrics.get("numOutputRows", -1) // 3  # 3 probe runs
    print(
        f"{label}: best {best:.3f}s  matched={matched}  "
        f"rows_decoded_by_scan={decoded}"
    )
    return best, matched, decoded


def main() -> int:
    from caliper_poc_data_etl_spark.session import get_spark

    spark = get_spark("sort-skipping-demo")
    spark.range(1).count()
    out = tempfile.mkdtemp(prefix="sort_skip_")

    src = spark.read.parquet(f"{BASE_SF_DIR}/orders.parquet").withColumn(
        "o_orderday", F.col("o_orderdate").cast("date")
    )
    stride = src.agg(F.max("o_orderkey")).first()[0] + 1
    tiled = None
    for i in range(K):
        t = src.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * stride))
        tiled = t if tiled is None else tiled.unionByName(t)
    n = tiled.count()
    print(f"# tiled orders: {n} rows ({K}x), {N_FILES} files per layout")

    shuffled = f"{out}/shuffled"
    by_day = f"{out}/sorted_by_day"
    by_z = f"{out}/zordered"
    tiled.repartition(N_FILES).write.mode("overwrite").parquet(shuffled)
    (
        tiled.repartitionByRange(N_FILES, "o_orderday")
        .sortWithinPartitions("o_orderday")
        .write.mode("overwrite")
        .parquet(by_day)
    )
    # Z-order layout: Morton-interleave (day, price) — the
    # fn_zorder_key primitive — so row groups stay narrow in BOTH
    # dimensions; the zkey is dropped after the write sort.
    from caliper_poc_data_etl_spark.queries.scalars import (
        ZORDER_BITS,
        _z_expr,
        _z_spark,
    )

    zin = tiled.withColumn(
        "x", F.datediff("o_orderday", F.lit("1992-01-01")).cast("long")
    ).withColumn(
        "y",
        (F.floor(F.col("o_totalprice") / 16)).cast("long")
        % (1 << ZORDER_BITS),
    )
    (
        zin.withColumn("zkey", F.expr(_z_expr(_z_spark)))
        .repartitionByRange(N_FILES, "zkey")
        .sortWithinPartitions("zkey")
        .drop("x", "y", "zkey")
        .write.mode("overwrite")
        .parquet(by_z)
    )

    # Hilbert layout: same (day, price) dimensions through the graded
    # fn_hilbert_key stages (16 chained div/mod projections); the hkey
    # is dropped after the write sort, exactly like the zkey.
    from caliper_poc_data_etl_spark.queries.scalars import (
        HILBERT_BITS,
        _hilbert_stage_exprs,
    )

    by_h = f"{out}/hilbert"
    payload = [c for c in tiled.columns]
    hin = tiled.selectExpr(
        "*",
        f"CAST(datediff(o_orderday, DATE '1992-01-01') AS BIGINT) "
        f"% {1 << HILBERT_BITS} AS cx",
        f"CAST(FLOOR(o_totalprice / 16) AS BIGINT) "
        f"% {1 << HILBERT_BITS} AS cy",
        "CAST(0 AS BIGINT) AS hd",
    )
    for lvl in range(HILBERT_BITS):
        s = 1 << (HILBERT_BITS - 1 - lvl)
        hin = hin.selectExpr(*payload, *_hilbert_stage_exprs(s, "div"))
    (
        hin.repartitionByRange(N_FILES, "hd")
        .sortWithinPartitions("hd")
        .drop("cx", "cy", "hd")
        .write.mode("overwrite")
        .parquet(by_h)
    )

    lo, hi = "1995-06-01", "1995-07-01"
    day_pred = lambda df: df.select("o_orderday", "o_totalprice").filter(  # noqa: E731
        (F.col("o_orderday") >= F.lit(lo).cast("date"))
        & (F.col("o_orderday") < F.lit(hi).cast("date"))
    )
    ts_pred = lambda df: df.select("o_orderdate", "o_totalprice").filter(  # noqa: E731
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    )

    t_a, m_a, d_a = _probe(
        day_pred(spark.read.parquet(shuffled)),
        "A shuffled layout, DATE predicate (stats span everything)",
    )
    t_b, m_b, d_b = _probe(
        day_pred(spark.read.parquet(by_day)),
        "B day-sorted layout, DATE predicate (row groups prune)",
    )
    t_c, m_c, d_c = _probe(
        ts_pred(spark.read.parquet(by_day)),
        "C day-sorted layout, TIMESTAMP predicate (INT96: no stats)",
    )
    assert m_a == m_b == m_c, "all layouts must return identical results"

    # Z-order: a PRICE predicate — the non-leading dimension, where a
    # single-column day sort prunes nothing but the Morton layout does
    price_pred = lambda df: df.select("o_totalprice").filter(  # noqa: E731
        (F.col("o_totalprice") >= 100000) & (F.col("o_totalprice") < 110000)
    )
    t_d, m_d, d_d = _probe(
        price_pred(spark.read.parquet(by_day)),
        "D day-sorted layout, PRICE predicate (non-sort dim: no pruning)",
    )
    t_e, m_e, d_e = _probe(
        price_pred(spark.read.parquet(by_z)),
        "E Z-ORDERED layout, PRICE predicate (Morton prunes both dims)",
    )
    t_f, m_f, d_f = _probe(
        day_pred(spark.read.parquet(by_z)),
        "F Z-ORDERED layout, DATE predicate (still prunes, coarser)",
    )
    t_g, m_g, d_g = _probe(
        price_pred(spark.read.parquet(by_h)),
        "G HILBERT layout, PRICE predicate",
    )
    t_h, m_h, d_h = _probe(
        day_pred(spark.read.parquet(by_h)),
        "H HILBERT layout, DATE predicate",
    )
    assert m_d == m_e == m_g and m_b == m_f == m_h
    print(
        f"# B vs A: {d_a / max(d_b, 1):.1f}x fewer rows decoded from "
        f"SORT alone (wall {t_a:.3f}s -> {t_b:.3f}s)"
    )
    print(
        f"# C vs B: the SAME sorted bytes decode {d_c / max(d_b, 1):.1f}x "
        f"more rows when the predicate targets the INT96 timestamp — "
        f"sort keys must be DATE or UTC-adjusted micros to prune"
    )
    print(
        f"# E vs D: Z-ORDER decodes {d_d / max(d_e, 1):.1f}x fewer rows "
        f"than the single-column sort on the NON-sort dimension "
        f"({d_d} -> {d_e}); and still prunes the date dimension "
        f"(F: {d_f} vs B's {d_b}) — one layout serves both predicates"
    )
    print(
        f"# G/H vs E/F: HILBERT decodes {d_g} rows on price (Z-order "
        f"{d_e}, ratio {d_e / max(d_g, 1):.2f}x) and {d_h} on date "
        f"(Z-order {d_f}, ratio {d_f / max(d_h, 1):.2f}x) — the "
        f"jump-free curve's tighter row-group rectangles measured on "
        f"the same probes"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
