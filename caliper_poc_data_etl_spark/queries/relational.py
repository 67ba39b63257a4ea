"""Relational operator closure: filters, joins, aggregates, set ops.

SURVEY.md §2B rows "Projection/Filter/Join/Agg/Set ops/Sort". Each
query is a native-Column plan (no UDFs); Catalyst handles pushdown,
join selection and AQE. Oracle twins are ANSI SQL for DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.kernels import md5_int, topk
from caliper_poc_data_etl_spark.queries.registry import query, t

# --------------------------------------------------------------------- scans


@query(
    "scan_project",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS net_price
    FROM lineitem
    """,
)
def scan_project(spark, sf_dir):
    """Projection + arithmetic; column pruning reaches the parquet scan.

    Money math in DECIMAL: double rounding differs across engines at
    half-boundaries (Spark rounds the shortest decimal repr, others
    the binary value) — 2-dp prices × 2-dp discounts hit .xx5 cases
    constantly. Decimal arithmetic is exact and order-independent.
    """
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        F.round(dec("l_extendedprice") * (1 - dec("l_discount")), 2)
        .cast("double")
        .alias("net_price"),
    )


@query(
    "filter_predicates",
    oracle="""
    SELECT p_partkey, p_name, p_type, p_size, p_retailprice
    FROM part
    WHERE p_size IN (5, 10, 15)
      AND p_retailprice BETWEEN 500 AND 1500
      AND p_name LIKE '%a%'
      AND regexp_matches(p_type, '^(STANDARD|SMALL)')
    """,
)
def filter_predicates(spark, sf_dir):
    """IN / BETWEEN / LIKE / regexp predicates, pushed to the scan."""
    p = t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").isin(5, 10, 15)
        & F.col("p_retailprice").between(500, 1500)
        & F.col("p_name").like("%a%")
        & F.col("p_type").rlike("^(STANDARD|SMALL)")
    ).select("p_partkey", "p_name", "p_type", "p_size", "p_retailprice")


@query(
    "filter_null_semantics",
    oracle="""
    SELECT o_orderkey, o_orderstatus
    FROM orders
    WHERE o_orderstatus IS NOT NULL AND NOT (o_orderstatus = 'O')
    """,
)
def filter_null_semantics(spark, sf_dir):
    """Three-valued logic: NOT(x='O') excludes NULLs in both engines."""
    o = t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isNotNull() & ~(F.col("o_orderstatus") == "O")
    ).select("o_orderkey", "o_orderstatus")


# --------------------------------------------------------------------- joins


@query(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_name, c.c_mktsegment, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner(spark, sf_dir):
    """Equi inner join; Catalyst picks broadcast vs sort-merge (AQE)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_custkey", "c_name", "c_mktsegment", "o_totalprice"
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, ROUND(o.o_totalprice, 2) AS price
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey % 10 = 0
    """,
)
def join_right_outer(spark, sf_dir):
    """Right outer join preserving the customer side (NULL orders for
    order-less customers)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    o = t(spark, sf_dir, "orders")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "c_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )


@query(
    "join_full_outer",
    oracle="""
    WITH cs AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
                FROM customer GROUP BY 1),
         ss AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
                FROM supplier GROUP BY 1)
    SELECT COALESCE(cs.nationkey, ss.nationkey) AS nationkey,
           COALESCE(cs.n_cust, 0) AS n_cust,
           COALESCE(ss.n_supp, 0) AS n_supp
    FROM cs FULL OUTER JOIN ss ON cs.nationkey = ss.nationkey
    """,
)
def join_full_outer(spark, sf_dir):
    """Full outer join: per-nation customer vs supplier counts, keeping
    nations present on either side only. Pre-aggregating both sides
    before the join keeps the shuffled rows to one per key."""
    cs = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    ss = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        cs.join(ss, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS total_spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_outer(spark, sf_dir):
    """Left outer join preserving customers with zero orders."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 2).alias(
                "total_spend"
            ),
        )
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_semi(spark, sf_dir):
    """Left-semi join = EXISTS; no row multiplication."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark, sf_dir):
    """Left-anti join = NOT EXISTS (customers who never ordered)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_broadcast_dims",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation, COUNT(*) AS n_suppliers,
           ROUND(SUM(s.s_acctbal), 2) AS total_bal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_broadcast_dims(spark, sf_dir):
    """Star-schema dims joined with explicit broadcast (no shuffle of
    the fact side for the join — the 100 TB-correct shape)."""
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "join_range_predicate",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_partkey, p.p_size
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
               AND l.l_quantity BETWEEN p.p_size - 2 AND p.p_size + 2
    """,
)
def join_range_predicate(spark, sf_dir):
    """Equi key + range band condition (range-predicate join)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return li.join(
        p,
        (li.l_partkey == p.p_partkey)
        & li.l_quantity.between(p.p_size - 2, p.p_size + 2),
    ).select("l_orderkey", "l_linenumber", "p_partkey", "p_size")


@query(
    "join_theta",
    oracle="""
    SELECT a.n_nationkey AS nation_a, b.n_nationkey AS nation_b
    FROM nation a JOIN nation b
      ON a.n_nationkey < b.n_nationkey AND a.n_regionkey = b.n_regionkey
    """,
)
def join_theta(spark, sf_dir):
    """Pure inequality self-join (BNLJ on the non-equi part)."""
    a = t(spark, sf_dir, "nation").alias("a")
    b = t(spark, sf_dir, "nation").alias("b")
    return a.join(
        b,
        (F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        & (F.col("a.n_regionkey") == F.col("b.n_regionkey")),
    ).select(
        F.col("a.n_nationkey").alias("nation_a"),
        F.col("b.n_nationkey").alias("nation_b"),
    )


@query(
    "join_asof",
    oracle="""
    WITH purchases AS (SELECT * FROM events WHERE event_type = 'purchase'),
         clicks    AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT p.event_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS prior_click_ts
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def join_asof(spark, sf_dir):
    """As-of join: each purchase matched to the user's nearest prior
    click. Spark lacks a native ASOF; the scalable composition is a
    single sort within user partitions + a last-non-null running
    window over the unioned stream (one shuffle, no quadratic join).

    Why not ``DataFrame._joinAsOf`` (the merge_asof backend): Spark
    rewrites AsOfJoin into an equi-join on the partition key plus a
    ``min_by`` aggregate, which materializes every (purchase, prior
    click) pair per user before aggregating — quadratic in a hot
    user's activity. The window form shuffles each row once, ever.
    Only the 4 consumed columns are projected BEFORE the exchange, so
    wide event payloads never enter the shuffle.
    """
    e = t(spark, sf_dir, "events")
    stream = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "ts", "event_type"
    )
    # Order clicks before purchases on equal ts (ASOF uses <=).
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_type", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        stream.withColumn(
            "prior_click_ts_raw",
            F.last(
                F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
            ).over(w),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", fmt).alias("purchase_ts"),
            F.date_format("prior_click_ts_raw", fmt).alias("prior_click_ts"),
        )
    )


# ---------------------------------------------------------------- aggregates


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 2) AS avg_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: multi-aggregate hash agg with partial (map-side)
    aggregation for free; the headline bench query."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_top_revenue",
    oracle="""
    SELECT l.l_orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-k.

    Join strategy is picked deliberately (guide §3.1): broadcast the
    side the selective c_mktsegment filter made small (BUILDING
    customers ⋈ orders — keys only), probe the LINEITEM fact table
    unshuffled. Left to its size estimates the planner built the hash
    relation from lineitem itself (BuildRight over the fact table —
    measured 1.27 → 0.93 s at sf0.1, and an anti-scale shape: the
    broadcast side grows with the fact table instead of the filtered
    dimension)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    co = F.broadcast(
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey).select(
            "o_orderkey", "o_orderdate"
        )
    )
    return (
        li.join(co, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        # DECIMAL money math: the double sum hit a .xx5 rounding tie
        # at sf0.1 (summation order differs across engines); the
        # decimal product is exact, so the sum and round are too.
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_revenue",
    oracle="""
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_revenue(spark, sf_dir):
    """TPC-H Q5 analog: revenue from orders where customer and
    supplier share a nation, by nation.

    Plan posture: the fact chain (orders⋈lineitem) shuffles on its
    keys; nation/region (and at real scale supplier) are broadcast so
    the 5-way join adds no extra fact shuffles; the date filter pushes
    into the orders scan."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            # Decimal accumulation: double SUM order differs between
            # engines/partitionings and can flip a .xx5 rounding case;
            # exact decimal sums are identical everywhere.
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct(spark, sf_dir):
    """COUNT(DISTINCT) — expand+two-phase agg under the hood."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`). The 100 TB substitute is `approx_percentile`
    (t-digest, one pass) — same call shape, tested separately."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 4).alias("p50_qty"),
        F.round(F.percentile("l_quantity", 0.9), 4).alias("p90_qty"),
        F.round(F.percentile("l_extendedprice", 0.25), 4).alias("p25_price"),
    )


@query(
    "agg_corr_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
           ROUND(stddev_samp(l_quantity), 4) AS qty_stddev,
           ROUND(var_samp(l_quantity), 4) AS qty_var
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_stats(spark, sf_dir):
    """Statistical aggregates: correlation, covariance, stddev,
    variance — single-pass co-moment aggregation."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
    )


@query("agg_approx_distinct", oracle=None)  # HLL estimate is engine-specific
def agg_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) — the 100 TB substitute
    for exact COUNT(DISTINCT): one pass, fixed-size sketch, no expand.
    Rows-only for the driver; tests assert ≤5% relative error vs the
    exact count (default rsd 0.05)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        )
    )


@query(
    "agg_stats",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price,
           ROUND(AVG(o_totalprice), 2) AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_stats(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT l_orderkey,
           string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber)
             AS linenumbers,
           COUNT(*) AS n_lines
    FROM lineitem GROUP BY l_orderkey
    """,
)
def agg_collect_sorted(spark, sf_dir):
    """collect_list with deterministic order (S14 generalized): sort
    the collected array, then join — Spark gives no intra-group order."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("l_linenumber")),
                    lambda x: x.cast("string"),
                ),
            ).alias("linenumbers"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))
    )


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           ROUND(SUM(o_totalprice), 2) AS total, COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"), F.count("*").alias("n"))
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """GROUPING SETS via the SQL surface (same Catalyst plan)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# ------------------------------------------------------------------- set ops


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark, sf_dir):
    """Pivot (long→wide): order counts per status column. Pinning the
    pivot values keeps the plan one-pass — an unpinned pivot first runs
    a distinct-values job, which is a full extra scan at 100 TB."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("f_cnt"),
            F.coalesce("O", F.lit(0)).alias("o_cnt"),
            F.coalesce("P", F.lit(0)).alias("p_cnt"),
        )
    )


@query(
    "unpivot_measures",
    oracle="""
    SELECT o_orderkey, measure, FLOOR(value * 100 + 0.5) / 100 AS value
    FROM (
      SELECT o_orderkey,
             UNPIVOT_ROW.measure, UNPIVOT_ROW.value
      FROM orders,
           LATERAL (VALUES ('totalprice', o_totalprice),
                           ('price_k', o_totalprice / 1000.0))
             AS UNPIVOT_ROW(measure, value)
    )
    WHERE o_orderkey % 100 = 0
    """,
)
def unpivot_measures(spark, sf_dir):
    """Unpivot/melt (wide→long): each order row becomes one row per
    measure — a narrow transformation (no shuffle)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return (
        o.select(
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            (F.col("o_totalprice") / 1000.0).alias("price_k"),
        )
        .unpivot("o_orderkey", ["totalprice", "price_k"], "measure", "value_raw")
        # floor-rounding, not ROUND: price_k = totalprice/1000 lands
        # exactly on .xx5 and Spark rounds the SHORTEST decimal repr
        # of the double (77.195 -> 77.2) while DuckDB rounds the
        # binary value (77.19499... -> 77.19); floor(x*100+0.5) is the
        # same IEEE chain on both sides.
        .select(
            "o_orderkey",
            "measure",
            (F.floor(F.col("value_raw") * 100 + F.lit(0.5)) / 100).alias("value"),
        )
    )


@query(
    "setop_union_all",
    oracle="""
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """,
)
def setop_union_all(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
    )
    return c.unionByName(s)


@query(
    "setop_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_intersect(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "setop_except",
    oracle="""
    SELECT n_nationkey AS nationkey FROM nation
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_except(spark, sf_dir):
    """Set EXCEPT: distinct left minus right. ``subtract`` after a
    ``distinct`` gives true set-difference semantics — the earlier
    ``exceptAll().distinct()`` kept a value whenever the left side had
    MORE duplicates than the right (bag difference), which only
    coincided with set EXCEPT here because n_nationkey is unique."""
    n = t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return n.distinct().subtract(s.distinct())


@query(
    "distinct_rows",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
)
def distinct_rows(spark, sf_dir):
    return t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()


# ---------------------------------------------------------------- sort/top-k


@query(
    "sort_topk_global",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def sort_topk_global(spark, sf_dir):
    """Global top-k: Catalyst plans TakeOrderedAndProject — no full sort."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "limit_rows",
    oracle="""
    SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 50
    """,
)
def limit_rows(spark, sf_dir):
    """LIMIT pushdown (S7 generalized) — made deterministic via sort."""
    return t(spark, sf_dir, "orders").select("o_orderkey").orderBy("o_orderkey").limit(50)


@query(
    "join_null_safe",
    oracle="""
    WITH keyed AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS k
      FROM orders
    ), dim AS (
      SELECT DISTINCT o_orderstatus AS k FROM orders
      UNION ALL SELECT NULL
    )
    SELECT d.k AS join_key, COUNT(*) AS n_rows
    FROM keyed l JOIN dim d ON l.k IS NOT DISTINCT FROM d.k
    GROUP BY d.k
    """,
)
def join_null_safe(spark, sf_dir):
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping out — the semantics dedup and
    CDC merges rely on when the business key is nullable. Spark plans
    ``eqNullSafe`` as a hash join (the null bucket is just another
    key), so the scale shape is identical to a plain equi-join."""
    o = t(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("k"),
    )
    dim = (
        o.select(F.col("o_orderstatus").alias("k"))
        .distinct()
        .unionAll(spark.range(1).select(F.lit(None).cast("string").alias("k")))
        .withColumnRenamed("k", "dk")
    )
    return (
        keyed.join(F.broadcast(dim), keyed.k.eqNullSafe(dim.dk))
        .groupBy(F.col("dk").alias("join_key"))
        .agg(F.count("*").alias("n_rows"))
    )


@query(
    "agg_heavy_hitter_per_user",
    oracle="""
    SELECT user_id, event_type AS top_event_type, cnt FROM (
      SELECT user_id, event_type, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY COUNT(*) DESC, event_type) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
)
def agg_heavy_hitter_per_user(spark, sf_dir):
    """Deterministic per-group mode (most frequent event_type per
    user): count + window-rank with an explicit (count DESC, value)
    tiebreak instead of ``mode()``, whose tie choice is
    engine-arbitrary. Two shuffles, both keyed on user_id, and the
    window input is already the aggregated (user, type) table — tiny
    relative to the raw events."""
    e = t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    return topk(counts, ["user_id"], [F.desc("cnt"), "event_type"], 1).select(
        "user_id", F.col("event_type").alias("top_event_type"), "cnt"
    )


_PROFILE_COLS = [
    # (name, spark min/max projection needs a cast that stringifies the
    #  same in both engines — DECIMAL for doubles, date_format for ts)
    ("o_orderstatus", "CAST(MIN(o_orderstatus) AS VARCHAR)", "CAST(MAX(o_orderstatus) AS VARCHAR)"),
    ("o_orderpriority", "CAST(MIN(o_orderpriority) AS VARCHAR)", "CAST(MAX(o_orderpriority) AS VARCHAR)"),
    ("o_custkey", "CAST(MIN(o_custkey) AS VARCHAR)", "CAST(MAX(o_custkey) AS VARCHAR)"),
    ("o_totalprice", "CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)",
     "CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)"),
    ("o_orderdate", "strftime(MIN(o_orderdate), '%Y-%m-%d')", "strftime(MAX(o_orderdate), '%Y-%m-%d')"),
]


@query(
    "profile_orders_columns",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           {mn} AS min_s, {mx} AS max_s
    FROM orders"""
        for c, mn, mx in _PROFILE_COLS
    ),
)
def profile_orders_columns(spark, sf_dir):
    """Single-pass column profiling (null count / distinct / min / max
    per column, long format) — the data-quality summary every ingest
    job runs first. Spark computes ALL columns' statistics in ONE
    aggregation over one scan (the oracle's UNION-ALL-of-aggregates is
    the naive N-scan formulation), then pivots to long form with
    ``inline`` — constant-size output, no second pass.

    Scale note: N exact countDistincts in one agg trigger Catalyst's
    Expand rewrite (N+1× the shuffled rows — the price of exact
    multi-distinct in one pass; measured 2.5 s at sf0.1 vs ~0.3 s for
    the sibling aggregates). At 100 TB swap in
    ``approx_count_distinct``: the Expand disappears and the profile
    becomes a single map-side-partial aggregate."""
    o = t(spark, sf_dir, "orders")

    def _minmax(c):
        if c == "o_totalprice":
            col = F.col(c).cast("decimal(18,2)")
            return F.min(col).cast("string"), F.max(col).cast("string")
        if c == "o_orderdate":
            return (
                F.date_format(F.min(c), "yyyy-MM-dd"),
                F.date_format(F.max(c), "yyyy-MM-dd"),
            )
        return F.min(c).cast("string"), F.max(c).cast("string")

    aggs = []
    for c, _, _ in _PROFILE_COLS:
        mn, mx = _minmax(c)
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            mn.alias(f"{c}__min"),
            mx.alias(f"{c}__max"),
        ]
    one = o.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_s"),
                F.col(f"{c}__max").alias("max_s"),
            )
            for c, _, _ in _PROFILE_COLS
        ]
    )
    return one.select(F.inline(rows))


# ------------------------------------------------------- SQL-text surface


@query(
    "sql_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    """,
)
def sql_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 (shipping-priority shape) run as SQL TEXT through
    ``spark.sql`` — the join-bearing proof of the SQL surface (SURVEY
    §3.5) beyond the single grouping-sets entry: a 3-way join + filter
    + aggregate authored as ANSI SQL compiles through the same
    Catalyst path as the DataFrame twin (``q3_top_revenue``), with
    identical pushdown/broadcast planning. Views are registered
    per-call with private names so the entry works on any session."""
    for name in ("customer", "orders", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(f"_sqlq3_{name}")
    return spark.sql(
        """
        SELECT l.l_orderkey,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
                    AS DOUBLE) AS revenue,
               date_format(o.o_orderdate, 'yyyy-MM-dd') AS orderdate,
               o.o_orderpriority AS orderpriority
        FROM _sqlq3_customer c
        JOIN _sqlq3_orders o ON c.c_custkey = o.o_custkey
        JOIN _sqlq3_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < DATE '1995-03-15'
          AND l.l_shipdate > DATE '1995-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        """
    )


@query(
    "sql_exists_scalar_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_name, ROUND(c.c_acctbal, 2) AS acctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
      AND EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
    """,
)
def sql_exists_scalar_subquery(spark, sf_dir):
    """Correlated EXISTS + uncorrelated scalar subquery as SQL TEXT —
    the subquery surface of the SQL front-end. Catalyst rewrites the
    EXISTS to a left-semi join and the scalar subquery to a broadcast
    1-row aggregate (the same shapes the DataFrame API queries build
    explicitly), so this also pins that the declarative form gets the
    scale-correct plan."""
    for name in ("customer", "orders"):
        t(spark, sf_dir, name).createOrReplaceTempView(f"_sqlex_{name}")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, ROUND(c.c_acctbal, 2) AS acctbal
        FROM _sqlex_customer c
        WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM _sqlex_customer)
          AND EXISTS (SELECT 1 FROM _sqlex_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
        """
    )


@query(
    "agg_filtered_pack",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                      FILTER (WHERE l_linestatus = 'F'), 2) AS DOUBLE)
             AS rev_finished,
           ROUND(AVG(l_quantity) FILTER (WHERE l_tax > 0.03), 4) AS avg_qty_taxed,
           COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity >= 30)
             AS n_bulk_suppliers
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_filtered_pack(spark, sf_dir):
    """Conditional aggregation (SQL FILTER clause) four ways:
    count_if, filtered DECIMAL sum, filtered avg, filtered distinct
    count — all in ONE hash aggregate pass over the fact table (the
    naive formulation is four scans). Spark expresses FILTER as
    when()-guarded inputs; every variant keeps map-side partial
    aggregation."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.round(
            F.sum(
                F.when(
                    F.col("l_linestatus") == "F",
                    F.col("l_extendedprice").cast("decimal(18,2)"),
                )
            ),
            2,
        )
        .cast("double")
        .alias("rev_finished"),
        F.round(
            F.avg(F.when(F.col("l_tax") > 0.03, F.col("l_quantity"))), 4
        ).alias("avg_qty_taxed"),
        F.count_distinct(
            F.when(F.col("l_quantity") >= 30, F.col("l_suppkey"))
        ).alias("n_bulk_suppliers"),
    )


# ------------------------------------------------ TPC-H analog closure
# q1/q3/q5 analogs live above; these six close out the TPC-H shapes the
# driver tables support (no partsupp table → q2/q9/q11/q16/q20 family
# is out of scope; shipdate stands in for commit/receipt dates).


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 analog: pure filtered aggregate — every predicate
    reaches the parquet scan (PushedFilters), the agg is a map-side
    partial + 1-row exchange. DECIMAL money math (house convention)."""
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(dec("l_extendedprice") * dec("l_discount")), 2)
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-07-01' AND o.o_orderdate < DATE '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 analog: priority counts of orders with a late shipment
    (≥60 days after order date; shipdate stands in for the missing
    commit/receipt dates). The EXISTS is a left-semi join — lineitem
    never multiplies the order rows, and the date predicate rides the
    join condition."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate >= F.date_add(o.o_orderdate, 60)
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, ship_year,
           CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS ship_year,
             CAST(l.l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
          OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
        AND l.l_shipdate >= DATE '1996-01-01'
        AND l.l_shipdate < DATE '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, ship_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 analog: bilateral trade volume between two nations by
    ship year. Five joins: the two nation dims broadcast (pushing
    their name filters to partition the supplier/customer sides
    early); lineitem↔orders is the only big shuffle pair."""
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    s = t(spark, sf_dir, "supplier")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    ns = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
            (dec("l_extendedprice") * (1 - dec("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(F.round(F.sum("volume"), 2).cast("double").alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1996-10-01' AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 analog: top-20 customers by returned-item revenue in
    a quarter. Global top-k after the aggregate plans as
    TakeOrderedAndProject (no full sort); c_custkey breaks revenue
    ties deterministically."""
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))), 2
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(ROUND(
             100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                      THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                           * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                      ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE),
             4) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= DATE '1996-09-01' AND l.l_shipdate < DATE '1996-10-01'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 analog: promo revenue share for one month. Part is
    the broadcast side; both sums accumulate in DECIMAL (exact) and
    only the final ratio drops to double."""
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01")
    )
    p = t(spark, sf_dir, "part")
    vol = dec("l_extendedprice") * (1 - dec("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), vol).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(vol).cast("double"),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_volume_customer",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o.o_totalprice, 2) AS totalprice,
           big.sum_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 analog: customers behind the largest-volume orders
    (HAVING sum(qty) > threshold). The heavy groupBy runs FIRST and
    its survivors (a tiny keyset) drive semi-sized joins into orders
    and customer — never the other way around."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def join_bucketed_colocated(spark, sf_dir):
    """Join through BUCKETED tables: both sides are written
    ``bucketBy(8, orderkey)`` + ``sortBy`` and re-read from the
    catalog, so the sort-merge join consumes buckets directly — the
    write-once-shuffle-never co-location play for repeated joins on
    one key (zero Exchange nodes, pinned by
    tests/test_formats_and_bucketing.py::test_bucketed_join_has_no_shuffle).
    The graded check here proves the full bucketed write → catalog
    read → join path is value-exact vs the plain join oracle on a
    vanilla session.

    Staging discipline: the bucketed copies land at a STABLE
    per-session path (keyed by applicationId) and are overwritten in
    place on re-invocation — a fresh mkdtemp per call would leak a
    full orders+lineitem copy every run, and unsuffixed catalog names
    would race across concurrent sessions sharing a metastore."""
    import tempfile

    from caliper_poc_data_etl_spark.sinks import write_bucketed

    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    app = spark.sparkContext.applicationId.replace("-", "_")
    base = f"{tempfile.gettempdir()}/graft_bucketed_{app}"
    tbl_orders = f"graft_b_orders_{app}"
    tbl_lineitem = f"graft_b_lineitem_{app}"
    write_bucketed(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        tbl_orders,
        buckets=8,
        bucket_cols=["o_orderkey"],
        sort_cols=["o_orderkey"],
        path=f"{base}/orders",
    )
    write_bucketed(
        t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        tbl_lineitem,
        buckets=8,
        bucket_cols=["l_orderkey"],
        sort_cols=["l_orderkey"],
        path=f"{base}/lineitem",
    )
    o = spark.table(tbl_orders)
    li = spark.table(tbl_lineitem)
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


_REGR_X0_US = 1704067200000000  # 2024-01-01T00:00:00Z in epoch microseconds


@query(
    "agg_regr_slope",
    oracle=f"""
    WITH m AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(xd) AS sx, SUM(yd) AS sy,
             SUM(xd * xd) AS sxx, SUM(xd * yd) AS sxy, SUM(yd * yd) AS syy
      FROM (
        SELECT user_id,
               -- DECIMAL(19): DuckDB stores p<=18 in int64, and the
               -- xd*xd product overflows int64; 19 forces int128.
               CAST(epoch_us(ts) - {_REGR_X0_US} AS DECIMAL(19,0)) AS xd,
               CAST(value AS DECIMAL(18,6)) AS yd
        FROM events
      )
      GROUP BY user_id
      HAVING COUNT(*) >= 2
    ), d AS (
      SELECT user_id, n, CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd,
             CAST(syy AS DOUBLE) AS syyd
      FROM m
    ), k AS (
      SELECT user_id, n, nd, sxd, syd,
             (nd * sxyd - sxd * syd) AS num,
             (nd * sxxd - sxd * sxd) AS denx,
             (nd * syyd - syd * syd) AS deny
      FROM d
    )
    SELECT user_id, n,
           FLOOR(((num / denx) * 1e6) * 1e6 + 0.5) / 1e6 AS slope,
           FLOOR(((syd - (num / denx) * sxd) / nd) * 1e4 + 0.5) / 1e4
             AS intercept,
           FLOOR((num * num / (denx * deny)) * 1e6 + 0.5) / 1e6 AS r2
    FROM k
    """,
)
def agg_regr_slope(spark, sf_dir):
    """Per-user linear trend: least-squares slope/intercept/R² of
    event value over time — one hash aggregation with map-side
    partials, the scalable substitute for fitting per-key models
    driver-side.

    Cross-engine determinism: the regression MOMENTS (Σx, Σy, Σx²,
    Σxy, Σy²) accumulate in exact DECIMAL — x as integer microseconds
    centered at 2024-01-01T00:00Z (so x² fits DECIMAL(38,0)), y
    quantized to DECIMAL(18,6). Built-in regr_* aggregates sum
    doubles, which is accumulation-order-dependent and can flip the
    rounded output between engines/partitionings. Slope is per
    SECOND; intercept is the fitted value at 2024-01-01T00:00Z (the
    centering origin), not at epoch 0. The final arithmetic runs in
    IEEE doubles derived from the exact sums, written identically on
    both sides, with floor-based half-up rounding."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros("ts") - F.lit(_REGR_X0_US))
        .cast("decimal(18,0)")
        .alias("xd"),
        F.col("value").cast("decimal(18,6)").alias("yd"),
    )
    m = (
        e.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("xd").alias("sx"),
            F.sum("yd").alias("sy"),
            F.sum(F.col("xd") * F.col("xd")).alias("sxx"),
            F.sum(F.col("xd") * F.col("yd")).alias("sxy"),
            F.sum(F.col("yd") * F.col("yd")).alias("syy"),
        )
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    sxyd = F.col("sxy").cast("double")
    syyd = F.col("syy").cast("double")
    num = nd * sxyd - sxd * syd
    denx = nd * sxxd - sxd * sxd
    deny = nd * syyd - syd * syd
    slope = (num / denx) * 1e6  # per-µs slope → per-second
    intercept = (syd - (num / denx) * sxd) / nd
    r2 = num * num / (denx * deny)
    return m.select(
        "user_id",
        "n",
        (F.floor(slope * 1e6 + F.lit(0.5)) / 1e6).alias("slope"),
        (F.floor(intercept * 1e4 + F.lit(0.5)) / 1e4).alias("intercept"),
        (F.floor(r2 * 1e6 + F.lit(0.5)) / 1e6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# TPC-H analogs q8/q13/q15/q17/q19/q22 adapted to the
# testdata's slim schemas (no l_shipmode/l_commitdate/p_container/
# c_phone/o_comment — predicates substitute available columns; the
# JOIN/AGG SHAPE of each query is preserved, which is what the analog
# exercises). With these, every TPC-H query not requiring partsupp
# (q2/q9/q11/q16/q20) has an analog.
# ---------------------------------------------------------------------------


@query(
    "q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'STANDARD'
        AND o.o_orderdate >= DATE '1996-01-01'
        AND o.o_orderdate < DATE '1998-01-01'
    )
    SELECT o_year,
           FLOOR((COALESCE(CAST(SUM(CASE WHEN supp_nation = 'NATION_7'
                                         THEN volume END) AS DOUBLE), 0.0)
                  / CAST(SUM(volume) AS DOUBLE)) * 1e6 + 0.5) / 1e6
             AS mkt_share
    FROM vol GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 analog (national market share): NATION_7 suppliers'
    revenue share among AMERICA-region customers for STANDARD parts,
    by order year. Seven-table star: part/region/nation filters cut
    the fact stream early (broadcast dims), then one hash agg on year
    with the share as a conditional-over-total ratio of exact DECIMAL
    sums (numerator NULL-skips non-matching rows; both engines divide
    the same exact sums in doubles — order-independent)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    dec = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    vol = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            (dec("l_extendedprice") * (1 - dec("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    g = vol.groupBy("o_year").agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_7", F.col("volume"))).alias(
            "num"
        ),
        F.sum("volume").alias("den"),
    )
    share = F.coalesce(F.col("num").cast("double"), F.lit(0.0)) / F.col(
        "den"
    ).cast("double")
    return g.select(
        "o_year", (F.floor(share * 1e6 + F.lit(0.5)) / 1e6).alias("mkt_share")
    )


@query(
    "q13_customer_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 analog (customer order-count distribution): LEFT join
    keeps zero-order customers (the filter lives in the JOIN CONDITION
    — a WHERE would silently turn the outer join inner, the classic
    Q13 trap), count per customer, then histogram the counts. Two hash
    aggs; the second runs over one row per customer."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    ), mx AS (SELECT MAX(total_rev) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name,
           CAST(ROUND(r.total_rev, 2) AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.l_suppkey
    JOIN mx ON r.total_rev = mx.m
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 analog (top supplier by quarterly revenue): per-
    supplier DECIMAL revenue over one quarter, then an equality join
    against the broadcast 1-row MAX — exact decimal equality, so ties
    all surface (the Q15 view semantics). No window, no second scan:
    the max derives from the same aggregate frame."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    dec = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    rev = li.groupBy("l_suppkey").agg(
        F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("m"))
    s = t(spark, sf_dir, "supplier")
    return (
        s.join(rev, s.s_suppkey == rev.l_suppkey)
        .join(F.broadcast(mx), F.col("total_rev") == F.col("m"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_rev", 2).cast("double").alias("total_revenue"),
        )
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH lim AS (
      SELECT l_partkey, 0.2 * AVG(l_quantity) AS qlim
      FROM lineitem GROUP BY l_partkey
    )
    SELECT FLOOR((CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                       AS DOUBLE) / 7.0) * 100 + 0.5) / 100 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN lim a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#12' AND p.p_type = 'SMALL'
      AND l.l_quantity < a.qlim
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 analog (small-quantity-order revenue): lineitems of
    one brand's SMALL parts whose quantity is below 20% of that part's
    average. The per-part threshold is a self-aggregation joined back
    on partkey — co-partitioned with the probe side, so the join
    reuses the aggregation's hash partitioning. AVG(l_quantity) is
    deterministic cross-engine because quantities are integer-valued
    doubles (exact sums at any accumulation order); revenue sums in
    DECIMAL."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#12") & (F.col("p_type") == "SMALL")
    )
    lim = li.groupBy(F.col("l_partkey").alias("lim_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qlim")
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(lim, li.l_partkey == F.col("lim_partkey"))
        .filter(F.col("l_quantity") < F.col("qlim"))
    )
    total = j.agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("s")
    )
    return total.select(
        (F.floor((F.col("s").cast("double") / 7.0) * 100 + F.lit(0.5)) / 100).alias(
            "avg_yearly"
        )
    )


@query(
    "q19_discounted_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 analog (disjunctive predicate revenue): three OR'd
    brand/size/quantity conjunctions across the join. Catalyst
    extracts the part-only disjunction (brand+size) below the join
    via constraint propagation, so the broadcast build side prunes
    before probing — the classic test that disjunctions don't defeat
    pushdown. Revenue in DECIMAL."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    dec = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))), 2)
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q22_global_sales_opportunity",
    oracle="""
    WITH pool AS (
      SELECT c_custkey, c_nationkey,
             CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      FROM customer
      WHERE c_nationkey IN (1, 3, 5, 7, 9) AND c_acctbal > 0.0
    ), thr AS (
      SELECT CAST(SUM(bal) AS DOUBLE) / COUNT(*) AS avg_bal FROM pool
    ), sel AS (
      SELECT p.c_custkey, p.c_nationkey, p.bal
      FROM pool p, thr
      WHERE CAST(p.bal AS DOUBLE) > thr.avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = p.c_custkey
                          AND o.o_orderdate >= DATE '2000-01-01')
    )
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(ROUND(SUM(bal), 2) AS DOUBLE) AS totacctbal
    FROM sel GROUP BY c_nationkey
    """,
)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 analog (dormant high-balance customers): in a nation
    subset, customers with above-average positive balance and no
    orders SINCE 2000 (classic Q22 tests no-orders-ever, but this
    corpus gives every customer an order — the recent-window variant
    keeps the anti join doing real work). The average is a broadcast
    1-row scalar derived from an exact DECIMAL sum (order-
    independent); the dormancy test is a LEFT ANTI join (never a
    NOT IN — null-safe and shuffle-partitionable)."""
    pool = (
        t(spark, sf_dir, "customer")
        .filter(
            F.col("c_nationkey").isin(1, 3, 5, 7, 9) & (F.col("c_acctbal") > 0.0)
        )
        .select(
            "c_custkey",
            "c_nationkey",
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
        )
    )
    thr = pool.agg(
        (F.sum("bal").cast("double") / F.count("*")).alias("avg_bal")
    )
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    sel = (
        pool.crossJoin(F.broadcast(thr))
        .filter(F.col("bal").cast("double") > F.col("avg_bal"))
        .join(o, pool.c_custkey == o.o_custkey, "left_anti")
    )
    return sel.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        F.round(F.sum("bal"), 2).cast("double").alias("totacctbal"),
    )


@query(
    "agg_grouping_id_rollup",
    oracle="""
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_grouping_id_rollup(spark, sf_dir):
    """ROLLUP with explicit GROUPING() level identification — the
    missing piece next to agg_rollup: consumers of a rollup cube need
    to tell a real NULL key from a subtotal row, and grouping bits are
    the standard discriminator. COALESCE placeholders keep the graded
    output NULL-free (level is carried by gid)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            (
                F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
            ).cast("long").alias("gid"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "gid",
            "n",
        )
    )


@query(
    "setop_all_variants",
    oracle="""
    SELECT 'intersect_all' AS op, o_orderstatus, o_orderpriority FROM (
      SELECT o_orderstatus, o_orderpriority FROM orders
      WHERE o_orderkey % 2 = 0
      INTERSECT ALL
      SELECT o_orderstatus, o_orderpriority FROM orders
      WHERE o_orderkey % 3 = 0
    )
    UNION ALL
    SELECT 'except_all' AS op, o_orderstatus, o_orderpriority FROM (
      SELECT o_orderstatus, o_orderpriority FROM orders
      WHERE o_orderkey % 2 = 0
      EXCEPT ALL
      SELECT o_orderstatus, o_orderpriority FROM orders
      WHERE o_orderkey % 3 = 0
    )
    """,
)
def setop_all_variants(spark, sf_dir):
    """Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL) —
    multiplicity-preserving variants completing the set-op family
    (plain INTERSECT/EXCEPT are already covered). Spark plans both as
    aggregate count-min arithmetic over a single shuffle per side, not
    a join per duplicate — the same way the SQL standard defines the
    bag semantics."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderstatus", "o_orderpriority"
    )
    b = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderstatus", "o_orderpriority"
    )
    inter = a.intersectAll(b).select(
        F.lit("intersect_all").alias("op"), "o_orderstatus", "o_orderpriority"
    )
    exc = a.exceptAll(b).select(
        F.lit("except_all").alias("op"), "o_orderstatus", "o_orderpriority"
    )
    return inter.unionByName(exc)


@query(
    "join_asof_tolerance",
    oracle="""
    WITH stream AS (
      SELECT event_id, user_id, ts, event_type FROM events
      WHERE event_type IN ('click', 'purchase')
    ), matched AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN ts END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY ts, event_type, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prior_click_ts
      FROM stream
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           CASE WHEN prior_click_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(prior_click_ts) <= 3600000000
                THEN strftime(prior_click_ts, '%Y-%m-%d %H:%M:%S.%f')
           END AS prior_click_ts,
           (prior_click_ts IS NOT NULL
            AND epoch_us(ts) - epoch_us(prior_click_ts) <= 3600000000)
             AS within_tolerance
    FROM matched WHERE event_type = 'purchase'
    """,
)
def join_asof_tolerance(spark, sf_dir):
    """As-of join WITH TOLERANCE (the pandas ``merge_asof(...,
    tolerance=...)`` contract): each purchase matches the user's
    nearest prior click ONLY if it happened within the last hour —
    stale matches are rejected, not silently joined. Attribution
    windows, sensor alignment, and trade/quote matching all need the
    bound; without it an as-of join happily pairs a purchase with a
    click from last month.

    Same single-shuffle window formulation as ``join_asof``
    (relational.py::join_asof — one user-partitioned sort, running
    IGNORE NULLS last; never the quadratic per-pair form); the
    tolerance is one integer timestamp comparison applied AFTER the
    window, so the plan cost is identical to the unbounded form."""
    e = t(spark, sf_dir, "events")
    stream = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_type", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    within = F.col("prior_click_ts_raw").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("prior_click_ts_raw")
        <= 3_600_000_000
    )
    return (
        stream.withColumn(
            "prior_click_ts_raw",
            F.last(
                F.when(F.col("event_type") == "click", F.col("ts")),
                ignorenulls=True,
            ).over(w),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", fmt).alias("purchase_ts"),
            F.when(
                within, F.date_format("prior_click_ts_raw", fmt)
            ).alias("prior_click_ts"),
            within.alias("within_tolerance"),
        )
    )


@query(
    "join_point_in_time_scd2",
    oracle="""
    WITH stream AS (
      SELECT event_id, user_id, ts, event_type,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value / 25) AS BIGINT) END AS tier_raw
      FROM events WHERE event_type IN ('click', 'purchase')
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           last_value(tier_raw IGNORE NULLS)
             OVER (PARTITION BY user_id
                   ORDER BY ts, event_type, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS tier_at_click
    FROM stream QUALIFY event_type = 'click'
    """,
)
def join_point_in_time_scd2(spark, sf_dir):
    """Point-in-time dimension join: each click is enriched with the
    user's tier AS OF the click instant, where the tier history is an
    SCD2-style versioned attribute (every purchase opens a new version
    valid until the next purchase; tier = value/25 bucket). The
    data-warehouse temporal join — "which version of the dimension row
    was current when this fact happened" — and the consumer of the
    interval tables ``scd2_event_intervals`` builds.

    Plan: NOT an interval range-join (which re-pairs every fact with
    every candidate version before filtering). The version stream and
    the fact stream UNION into one per-user timeline and a running
    IGNORE NULLS last() carries the current version forward — one
    shuffle on user_id, linear in facts+versions, the same
    engineering as ``join_asof``. Clicks before any purchase surface
    NULL (no version yet), exactly like a fact predating its
    dimension row."""
    e = t(spark, sf_dir, "events")
    stream = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") / 25).cast("long"),
        ).alias("tier_raw"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_type", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        stream.withColumn(
            "tier_at_click", F.last("tier_raw", ignorenulls=True).over(w)
        )
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", fmt).alias("click_ts"),
            "tier_at_click",
        )
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH stream AS (
      SELECT event_id, user_id, ts, event_type FROM events
      WHERE event_type IN ('click', 'purchase')
    ), anchored AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN ts END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY ts, event_type, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prior_ts,
             first_value(CASE WHEN event_type = 'click' THEN ts END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY ts, event_type, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_ts
      FROM stream
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           strftime(CASE
             WHEN prior_ts IS NULL THEN next_ts
             WHEN next_ts IS NULL THEN prior_ts
             WHEN epoch_us(ts) - epoch_us(prior_ts)
                  <= epoch_us(next_ts) - epoch_us(ts) THEN prior_ts
             ELSE next_ts
           END, '%Y-%m-%d %H:%M:%S.%f') AS nearest_click_ts,
           (prior_ts IS NOT NULL AND (next_ts IS NULL
             OR epoch_us(ts) - epoch_us(prior_ts)
                <= epoch_us(next_ts) - epoch_us(ts))) AS matched_backward
    FROM anchored WHERE event_type = 'purchase'
    """,
)
def join_asof_nearest(spark, sf_dir):
    """As-of join, direction='nearest' (the third pandas merge_asof
    mode): each purchase matches its temporally CLOSEST click — before
    or after — with ties to the earlier one. Completes the as-of
    family (backward ``join_asof``, bounded ``join_asof_tolerance``,
    nearest here); 'nearest' is the alignment rule for sensor fusion
    and quote matching where causality doesn't privilege the past.

    Same single-shuffle engineering as its siblings: one
    user-partitioned sort feeds BOTH anchors (running IGNORE NULLS
    last for the prior click, reversed-frame first for the next), and
    the nearest pick is one integer timestamp comparison — never the
    quadratic candidate-pair form. Purchases at exactly equal
    distance choose the backward anchor (documented, deterministic)."""
    e = t(spark, sf_dir, "events")
    stream = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "ts", "event_type"
    )
    back = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_type", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_type", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    anchored = stream.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(click_ts, ignorenulls=True).over(back).alias("prior_ts"),
        F.first(click_ts, ignorenulls=True).over(fwd).alias("next_ts"),
    )
    d_prior = F.unix_micros("ts") - F.unix_micros("prior_ts")
    d_next = F.unix_micros("next_ts") - F.unix_micros("ts")
    backward = F.col("prior_ts").isNotNull() & (
        F.col("next_ts").isNull() | (d_prior <= d_next)
    )
    nearest = (
        F.when(F.col("prior_ts").isNull(), F.col("next_ts"))
        .when(F.col("next_ts").isNull(), F.col("prior_ts"))
        .when(d_prior <= d_next, F.col("prior_ts"))
        .otherwise(F.col("next_ts"))
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return anchored.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("purchase_ts"),
        F.date_format(nearest, fmt).alias("nearest_click_ts"),
        backward.alias("matched_backward"),
    )


@query(
    "agg_bool_pack",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderstatus = 'F') AS any_finished,
           bool_and(o_custkey IS NOT NULL) AS all_have_cust,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bool_pack(spark, sf_dir):
    """Boolean aggregates (every/any): data-quality assertions as
    single-pass algebraic aggregates — the cheap way to validate an
    invariant over 100 TB without a second filtered count."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.bool_and(F.col("o_custkey").isNotNull()).alias("all_have_cust"),
        F.count("*").alias("n"),
    )


@query(
    "agg_string_agg_ordered",
    oracle="""
    SELECT o_custkey,
           string_agg(o_orderstatus, ',' ORDER BY o_orderkey) AS status_seq,
           COUNT(*) AS n
    FROM orders
    WHERE o_custkey % 50 = 0
    GROUP BY o_custkey
    """,
)
def agg_string_agg_ordered(spark, sf_dir):
    """Ordered string aggregation (LISTAGG/string_agg): the
    order-sensitive concat built from collect_list of (key, value)
    structs + array_sort — deterministic across partitions because the
    sort happens AFTER collection on the struct key, the same
    technique as ``agg_collect_sorted``."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    pair = F.struct(F.col("o_orderkey"), F.col("o_orderstatus"))
    seq = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.collect_list(pair)), lambda p: p["o_orderstatus"]
        ),
    )
    return o.groupBy("o_custkey").agg(
        seq.alias("status_seq"), F.count("*").alias("n")
    )


@query(
    "join_shuffle_hash_hint",
    oracle="""
    SELECT n.n_name AS nation, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_shuffle_hash_hint(spark, sf_dir):
    """Join-strategy hint surface: the same star join as
    ``join_broadcast_dims`` but forced through SHUFFLE_HASH — the
    escape hatch when the small side exceeds the broadcast threshold
    but still fits an executor's hash map (skips the sort-merge sort
    on the big side). Results must be strategy-invariant; that is
    exactly what the oracle row proves."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation").hint("shuffle_hash")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_bal"),
        )
    )


@query(
    "agg_moments_pack",
    oracle="""
    WITH sums AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5)
                  AS DECIMAL(38,0))) AS DOUBLE) / 1e6 AS s1,
             CAST(SUM(CAST(FLOOR(value * value * 1e6 + 0.5)
                  AS DECIMAL(38,0))) AS DOUBLE) / 1e6 AS s2,
             CAST(SUM(CAST(FLOOR(value * value * value * 1e6 + 0.5)
                  AS DECIMAL(38,0))) AS DOUBLE) / 1e6 AS s3,
             CAST(SUM(CAST(FLOOR(value * value * value * value * 1e6 + 0.5)
                  AS DECIMAL(38,0))) AS DOUBLE) / 1e6 AS s4
      FROM events GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           FLOOR(s1 / n * 1e6 + 0.5) / 1e6 AS mean,
           FLOOR(sqrt(s2 / n - (s1 / n) * (s1 / n)) * 1e6 + 0.5) / 1e6
             AS std_pop,
           FLOOR((s3 / n - 3 * (s1 / n) * (s2 / n)
                  + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / pow(sqrt(s2 / n - (s1 / n) * (s1 / n)), 3)
                 * 1e6 + 0.5) / 1e6 AS skew_pop,
           FLOOR(((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / ((s2 / n - (s1 / n) * (s1 / n))
                    * (s2 / n - (s1 / n) * (s1 / n))) - 3)
                 * 1e6 + 0.5) / 1e6 AS kurt_excess
    FROM sums
    """,
)
def agg_moments_pack(spark, sf_dir):
    """Higher statistical moments per group — mean, population std,
    skewness, excess kurtosis — computed from raw POWER SUMS (Σx, Σx²,
    Σx³, Σx⁴), the single-pass algebraic form that distributes with
    map-side partials. The engines' built-in skewness/kurtosis
    disagree on bias correction (Spark emits population g₁/g₂, DuckDB
    sample-corrected G₁/g₂-style), so the pack derives the moments
    explicitly — which is also the only shape that lets the
    accumulation run in exact DECIMAL: each per-row power is
    floor-quantized to integer MICRO-UNITS (floor(x·1e6 + 0.5) — the
    repo's floor-rounding convention; ROUND on doubles diverges on
    shortest-repr ties, the unpivot_measures class) before an exact
    DECIMAL(38,0) sum, so no summation-order or tie divergence
    survives; the closing moment algebra is one identical IEEE
    expression chain per side. Micro-unit bound: v⁴·1e6 must stay
    below 2⁶³ (v < ~55 000) — holds for this domain's value range."""
    e = t(spark, sf_dir, "events")
    v = F.col("value")

    def psum(expr):
        return (
            F.sum(
                F.floor(expr * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
            ).cast("double")
            / F.lit(1e6)
        )

    sums = e.groupBy("event_type").agg(
        F.count("*").alias("n_raw"),
        psum(v).alias("s1"),
        psum(v * v).alias("s2"),
        psum(v * v * v).alias("s3"),
        psum(v * v * v * v).alias("s4"),
    )
    n = F.col("n_raw").cast("double")
    m = F.col("s1") / n
    m2 = F.col("s2") / n - m * m
    m3 = F.col("s3") / n - 3 * m * (F.col("s2") / n) + 2 * m * m * m
    m4 = (
        F.col("s4") / n
        - 4 * m * (F.col("s3") / n)
        + 6 * m * m * (F.col("s2") / n)
        - 3 * m * m * m * m
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return sums.select(
        "event_type",
        F.col("n_raw").cast("long").alias("n"),
        r6(m).alias("mean"),
        r6(F.sqrt(m2)).alias("std_pop"),
        r6(m3 / F.pow(F.sqrt(m2), 3)).alias("skew_pop"),
        r6(m4 / (m2 * m2) - 3).alias("kurt_excess"),
    )


@query(
    "agg_gini_concentration",
    oracle="""
    WITH totals AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT segment, x,
             ROW_NUMBER() OVER (PARTITION BY segment
                                ORDER BY x, o_custkey) AS i,
             COUNT(*) OVER (PARTITION BY segment) AS n,
             SUM(x) OVER (PARTITION BY segment) AS sx
      FROM totals
    )
    SELECT segment, CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(ROUND(MAX(sx), 2) AS DOUBLE) AS total_value,
           ROUND(CAST(SUM((2 * i - n - 1) * x) AS DOUBLE)
                 / CAST(MAX(n) * MAX(sx) AS DOUBLE), 6) AS gini
    FROM ranked GROUP BY segment
    """,
)
def agg_gini_concentration(spark, sf_dir):
    """Revenue-concentration Gini coefficient per market segment: how
    unequally order value distributes across customers (0 = uniform,
    →1 = one whale). Computed with the exact sorted-rank identity
    G = Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx) — one window rank + one aggregation,
    no pairwise |xᵢ−xⱼ| cross product (the textbook definition is
    O(n²); the rank identity is the distributed form).

    Everything left of the final division is exact: per-customer
    totals accumulate in DECIMAL, ranks and counts are integers, and
    the (2i−n−1)·x products sum in decimal — the single double
    division at the end is engine-identical."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    totals = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x"))
    )
    wseg = W.partitionBy("segment")
    ranked = totals.select(
        "segment",
        "x",
        F.row_number().over(wseg.orderBy("x", "o_custkey")).alias("i"),
        F.count("*").over(wseg).alias("n"),
        F.sum("x").over(wseg).alias("sx"),
    )
    return ranked.groupBy("segment").agg(
        F.max("n").cast("long").alias("n_customers"),
        F.round(F.max("sx"), 2).cast("double").alias("total_value"),
        F.round(
            F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("x")).cast("double")
            / (F.max("n") * F.max("sx")).cast("double"),
            6,
        ).alias("gini"),
    )


@query(
    "agg_percentile_disc_pack",
    oracle="""
    SELECT event_type,
           ROUND(quantile_disc(value, 0.25), 2) AS p25_disc,
           ROUND(quantile_disc(value, 0.5), 2) AS p50_disc,
           ROUND(quantile_disc(value, 0.9), 2) AS p90_disc,
           ROUND(quantile_cont(value, 0.5), 4) AS p50_cont,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def agg_percentile_disc_pack(spark, sf_dir):
    """DISCRETE vs CONTINUOUS percentile semantics, declared side by
    side: percentile_disc returns an ACTUAL data value (the smallest
    value at-or-above the rank — exact across engines by
    construction, no interpolation to diverge), percentile_cont
    interpolates between the two straddling values (one IEEE
    midpoint). The distinction matters downstream: disc for
    categorical-ish thresholds (a real latency that occurred), cont
    for smooth fences. Both engines implement the ANSI WITHIN GROUP
    semantics; the pack pins that they agree on every group."""
    e = t(spark, sf_dir, "events")
    e.createOrReplaceTempView("_pctl_events")
    return spark.sql(
        """
        SELECT event_type,
               ROUND(percentile_disc(0.25) WITHIN GROUP (ORDER BY value), 2)
                 AS p25_disc,
               ROUND(percentile_disc(0.5) WITHIN GROUP (ORDER BY value), 2)
                 AS p50_disc,
               ROUND(percentile_disc(0.9) WITHIN GROUP (ORDER BY value), 2)
                 AS p90_disc,
               ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4)
                 AS p50_cont,
               COUNT(*) AS n
        FROM _pctl_events GROUP BY event_type
        """
    )


@query(
    "agg_incremental_merge",
    oracle="""
    WITH partials AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS s,
             COUNT(*) AS c,
             MIN(value) AS lo, MAX(value) AS hi
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(ROUND(SUM(s), 2) AS DOUBLE) AS total,
           FLOOR(CAST(SUM(s) AS DOUBLE) / SUM(c) * 1e4 + 0.5) / 1e4 AS mean,
           ROUND(MIN(lo), 2) AS min_value,
           ROUND(MAX(hi), 2) AS max_value,
           CAST(COUNT(*) AS BIGINT) AS n_partials
    FROM partials GROUP BY event_type
    """,
)
def agg_incremental_merge(spark, sf_dir):
    """Incremental re-aggregation: per-day PARTIAL aggregates (the
    materialized state an incremental pipeline persists per ingested
    partition) merged into corpus totals WITHOUT rescanning raw rows —
    sum-of-sums, sum-of-counts, min-of-mins, and mean recomputed as
    merged-sum/merged-count (NEVER avg-of-avgs, the classic
    non-algebraic merge bug; the pytest twin pins that the wrong
    formula actually differs on this data). This declares Spark's own
    partial-aggregation algebra as user-visible surface: what the
    engine does inside every Exchange, a pipeline can do across DAYS,
    folding one new partition into yesterday's state in O(partials)
    instead of O(history)."""
    e = t(spark, sf_dir, "events")
    partials = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.sum(F.round("value", 2).cast("decimal(18,2)")).alias("s"),
        F.count("*").alias("c"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )
    return partials.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.round(F.sum("s"), 2).cast("double").alias("total"),
        # DECIMAL/COUNT division scale rules differ across engines
        # (the ts_resample_linear_interp class): double-cast the exact
        # sum first, then floor-round the identical IEEE quotient.
        (
            F.floor(
                F.sum("s").cast("double") / F.sum("c") * F.lit(1e4)
                + F.lit(0.5)
            )
            / F.lit(1e4)
        ).alias("mean"),
        F.round(F.min("lo"), 2).alias("min_value"),
        F.round(F.max("hi"), 2).alias("max_value"),
        F.count("*").cast("long").alias("n_partials"),
    )


# ---------------------------------------------------------------------------
# Bucketed-layout TPC-H Q3
# ---------------------------------------------------------------------------


_Q3_BUCKET_STAGED: dict[str, str] = {}


def _stage_q3_buckets(spark, sf_dir, base, tbl_orders, tbl_lineitem):
    from caliper_poc_data_etl_spark.sinks import write_bucketed

    write_bucketed(
        t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        ),
        tbl_orders,
        buckets=8,
        bucket_cols=["o_orderkey"],
        sort_cols=["o_orderkey"],
        path=f"{base}/orders",
    )
    write_bucketed(
        t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        tbl_lineitem,
        buckets=8,
        bucket_cols=["l_orderkey"],
        sort_cols=["l_orderkey"],
        path=f"{base}/lineitem",
    )


@query(
    "q3_bucketed_top_revenue",
    oracle="""
    SELECT l.l_orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_bucketed_top_revenue(spark, sf_dir):
    """TPC-H Q3 on the PRE-BUCKETED physical layout — the K=100
    soak's only linear-cost query (71 s at ~sf10) re-run the way a
    100 TB deployment would lay it out: orders and lineitem bucketed
    on the order key at write time, so the fact⋈fact join consumes
    buckets with NO Exchange on either side, and the downstream
    groupBy(l_orderkey, o_orderdate) reuses the same partitioning
    (HashPartitioning(l_orderkey) satisfies the agg's clustered
    distribution). Customer is the broadcast dimension. Exactly one
    shuffle remains in the whole plan: the final top-10 ordering.
    Same oracle as q3_top_revenue — the layout must not change a
    single output value.

    Staging discipline follows join_bucketed_colocated
    (relational.py:1394): stable per-session path + catalog names
    keyed by applicationId. Re-invocations at the SAME sf_dir reuse
    the staged layout (the bucketing shuffle is paid once and
    amortized — exactly the 100 TB claim, and what bench trials 2+
    measure); a different sf_dir restages."""
    import tempfile

    from caliper_poc_data_etl_spark.sinks import write_bucketed

    app = spark.sparkContext.applicationId.replace("-", "_")
    base = f"{tempfile.gettempdir()}/graft_q3bkt_{app}"
    tbl_orders = f"graft_q3_orders_{app}"
    tbl_lineitem = f"graft_q3_lineitem_{app}"
    if _Q3_BUCKET_STAGED.get(app) != sf_dir:
        _stage_q3_buckets(spark, sf_dir, base, tbl_orders, tbl_lineitem)
        _Q3_BUCKET_STAGED[app] = sf_dir
    c = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = spark.table(tbl_orders).join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    )
    li = spark.table(tbl_lineitem)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 analog + scalable COUNT DISTINCT formulation
# ---------------------------------------------------------------------------

Q21_LATE_DAYS = 80


@query(
    "q21_sole_late_supplier",
    oracle=f"""
    WITH late AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_sole_late_supplier(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier order (late = shipped > {Q21_LATE_DAYS} days after
    the order date — shipdate stands in for the missing
    commit/receipt dates, the q4 convention). The signature plan
    feature is the correlated EXISTS + NOT EXISTS pair against the
    SAME fact table: Spark plans them as a left-semi and a left-anti
    self-join on the order key — no row multiplication anywhere, both
    sides shuffle once on l_orderkey, and the supplier dimension
    broadcasts. Top-20 is deterministic (s_name unique)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), Q21_LATE_DAYS))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    l1 = late
    l2 = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    sole_late = (
        l1.join(
            l2,
            (l1.l_orderkey == l2.k2) & (l1.l_suppkey != l2.s2),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == l3.k3) & (F.col("l_suppkey") != l3.s3),
            "left_anti",
        )
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "agg_two_level_count_distinct",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             COUNT(DISTINCT user_id) AS daily_users
      FROM events GROUP BY 1, 2
    ), exact AS (
      SELECT event_type, COUNT(*) AS n_users
      FROM (SELECT DISTINCT event_type, user_id FROM events)
      GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(e.n_users AS BIGINT) AS n_users_exact,
           CAST(SUM(d.daily_users) AS BIGINT) AS sum_daily_distinct
    FROM exact e JOIN daily d USING (event_type)
    GROUP BY e.event_type, e.n_users
    """,
)
def agg_two_level_count_distinct(spark, sf_dir):
    """The scalable COUNT(DISTINCT) formulation, declared as surface:
    a single-shot count-distinct over a skewed key concentrates every
    group's value set on one reducer, while the TWO-LEVEL form —
    dedupe on (group, value) first (partial-aggregatable, map-side
    combinable), then count — distributes freely; it's what Spark's
    own distinct-aggregate rewrite does internally. The output also
    carries sum-of-daily-distincts next to the exact count to pin the
    classic non-algebraic-merge bug: distinct counts DON'T add across
    partitions (a user active on 2 days counts twice in the sum) —
    the same lesson agg_incremental_merge teaches for averages.
    sum_daily_distinct ≥ n_users_exact, equality iff no user repeats
    across days; the pytest twin asserts the inequality is strict on
    this corpus."""
    e = t(spark, sf_dir, "events")
    exact = (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_users_exact"))
    )
    daily = (
        e.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.countDistinct("user_id").alias("daily_users"))
        .groupBy("event_type")
        .agg(F.sum("daily_users").cast("long").alias("sum_daily_distinct"))
    )
    return exact.join(daily, "event_type").select(
        "event_type", "n_users_exact", "sum_daily_distinct"
    )


# ---------------------------------------------------------------------------
# KMV (K-minimum-values) distinct-count sketch
# ---------------------------------------------------------------------------

KMV_K = 32
_KMV_SPACE = 1 << 40  # 40-bit hash space: (K-1)*2^40 fits in int64


@query(
    "agg_kmv_distinct_sketch",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10))::BIGINT
               AS hv
      FROM events
    ), ranked AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS nd
      FROM h
    )
    SELECT event_type,
           CAST(nd AS BIGINT) AS n_exact,
           CAST(hv AS BIGINT) AS kth_hash,
           CAST(CASE WHEN nd <= {KMV_K} THEN nd
                ELSE ({KMV_K - 1} * {_KMV_SPACE}) // hv END AS BIGINT)
             AS est_distinct
    FROM ranked
    WHERE rn = CASE WHEN nd < {KMV_K} THEN nd ELSE {KMV_K} END
    """,
)
def agg_kmv_distinct_sketch(spark, sf_dir):
    """K-minimum-values distinct-count sketch (Bar-Yossef et al.):
    keep the K smallest hash values per group; the Kth smallest
    estimates distinct count as (K-1)/kth_normalized. Unlike
    HyperLogLog (``agg_approx_distinct``, engine-specific and
    rows-only), KMV is engine-portable: both sides hash through the
    same md5 prefix and apply the same integer estimator, so the
    sketch itself is hash-graded — AND the exact distinct count rides
    alongside so the estimate's error is visible in the output.

    Integer-exact estimator: hashes live in a 40-bit space so
    (K-1)*2^40 fits int64 and the estimate is one integer floor
    division — no floating point. Scale shape: the dedupe is a
    map-side-combining groupBy on (group, hash); the sketch is a
    per-group ``topk`` that keeps K hashes per group in each partition
    before the shuffle, and the exact distinct count is a second
    groupBy over the deduped hashes — the exact count is what keeps
    the oracle twin bit-exact while demonstrating the estimator
    math."""
    e = t(spark, sf_dir, "events")
    hv = md5_int(F.col("user_id").cast("string"), 10)
    h = e.select("event_type", hv.alias("hv")).distinct()
    # The sketch: each group's K smallest hashes, kept per partition
    # before the shuffle. Its largest hash is the K-th (the nd-th when
    # nd < K); nd comes from a groupBy, not a window beside the rank.
    kth = (
        topk(h, ["event_type"], ["hv"], KMV_K)
        .groupBy("event_type")
        .agg(F.max("hv").alias("kth_hash"))
    )
    nd = h.groupBy("event_type").agg(F.count("*").alias("nd"))
    est = F.when(F.col("nd") <= KMV_K, F.col("nd")).otherwise(
        F.expr(f"({KMV_K - 1} * CAST({_KMV_SPACE} AS BIGINT)) div kth_hash")
    )
    return kth.join(nd, "event_type").select(
        "event_type",
        F.col("nd").cast("long").alias("n_exact"),
        F.col("kth_hash").cast("long").alias("kth_hash"),
        est.cast("long").alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# KMV sketch set algebra (union / intersection estimation)
# ---------------------------------------------------------------------------

KMV_A = "purchase"
KMV_B = "click"


@query(
    "agg_kmv_set_ops",
    oracle=f"""
    WITH ha AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10))::BIGINT
               AS hv
      FROM events WHERE event_type = '{KMV_A}'
    ), hb AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10))::BIGINT
               AS hv
      FROM events WHERE event_type = '{KMV_B}'
    ), hu AS (
      SELECT DISTINCT hv FROM (SELECT hv FROM ha UNION SELECT hv FROM hb)
    ), uni AS (
      SELECT hv, rn, nd FROM (
        SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn,
               COUNT(*) OVER () AS nd
        FROM hu)
      WHERE rn <= {KMV_K}
    ), kth AS (
      SELECT hv AS kth_hash, nd FROM uni
      WHERE rn = CASE WHEN nd < {KMV_K} THEN nd ELSE {KMV_K} END
    ), est AS (
      SELECT CASE WHEN nd <= {KMV_K} THEN nd
             ELSE ({KMV_K - 1} * {_KMV_SPACE}) // kth_hash END AS est_union,
             CASE WHEN nd < {KMV_K} THEN nd ELSE {KMV_K} END AS k_used
      FROM kth
    ), matches AS (
      SELECT COUNT(*) AS m FROM uni
      WHERE hv IN (SELECT hv FROM ha) AND hv IN (SELECT hv FROM hb)
    ), exact AS (
      SELECT (SELECT COUNT(*) FROM hu) AS exact_union,
             (SELECT COUNT(*) FROM ha WHERE hv IN (SELECT hv FROM hb))
               AS exact_inter
    )
    SELECT CAST(est.est_union AS BIGINT) AS est_union,
           CAST(exact.exact_union AS BIGINT) AS exact_union,
           CAST((matches.m * est.est_union) // est.k_used AS BIGINT)
             AS est_inter,
           CAST(exact.exact_inter AS BIGINT) AS exact_inter,
           CAST(matches.m AS BIGINT) AS n_matches
    FROM est, matches, exact
    """,
)
def agg_kmv_set_ops(spark, sf_dir):
    """KMV sketch set algebra — the reason KMV beats HyperLogLog for
    pipeline work: two groups' sketches merge into a union sketch (K
    smallest of the merged hash sets), and the fraction of the union
    sketch present in BOTH sides estimates the intersection
    (est_inter = matches·est_union/K, Beyer et al.) — the
    audience-overlap / cross-source-dedup estimator. Exact union and
    intersection ride alongside so the estimator's error is visible;
    everything is md5 + integer arithmetic, so both engines produce
    the identical sketch bit for bit.

    Scale shape: per-side dedupe is a map-side-combining distinct on
    hashes; the union sketch ranks only distinct hashes and keeps K
    rows; membership checks are semi-joins of a K-row frame against
    the deduped sides. At 100 TB each side's sketch would be a K-row
    partial aggregate (never materializing the distinct set); the
    estimator math is unchanged."""
    e = t(spark, sf_dir, "events")
    hv = md5_int(F.col("user_id").cast("string"), 10)
    ha = e.filter(F.col("event_type") == KMV_A).select(hv.alias("hv")).distinct()
    hb = e.filter(F.col("event_type") == KMV_B).select(hv.alias("hv")).distinct()
    hu = ha.unionByName(hb).distinct()
    # The union sketch: the K smallest hashes, kept per partition before
    # the merge. Its largest hash is the K-th (or the nd-th when nd < K),
    # and its size is k_used; an empty union has no K-th hash.
    uni = topk(hu, [], ["hv"], KMV_K)
    kth = uni.agg(
        F.max("hv").alias("kth_hash"), F.count("*").alias("k_used")
    ).filter(F.col("k_used") > 0)
    matches = (
        uni.join(ha, "hv", "left_semi")
        .join(hb, "hv", "left_semi")
        .agg(F.count("*").alias("m"))
    )
    exact = (
        hu.agg(F.count("*").alias("exact_union"))
        .crossJoin(
            F.broadcast(
                ha.join(hb, "hv", "left_semi").agg(
                    F.count("*").alias("exact_inter")
                )
            )
        )
    )
    nd = F.col("exact_union")
    est = kth.crossJoin(F.broadcast(exact)).select(
        F.when(nd <= KMV_K, nd)
        .otherwise(F.expr(f"({KMV_K - 1} * CAST({_KMV_SPACE} AS BIGINT)) div kth_hash"))
        .alias("est_union"),
        "k_used",
        "exact_union",
        "exact_inter",
    )
    return (
        est.crossJoin(F.broadcast(matches))
        .select(
            F.col("est_union").cast("long").alias("est_union"),
            F.col("exact_union").cast("long").alias("exact_union"),
            F.expr("(m * est_union) div k_used").cast("long").alias("est_inter"),
            F.col("exact_inter").cast("long").alias("exact_inter"),
            F.col("m").cast("long").alias("n_matches"),
        )
    )


# ---------------------------------------------------------------------------
# Interval join via time-bucket equi-join (the scalable range-join plan)
# ---------------------------------------------------------------------------

_IVB_GAP_MIN = 30          # session gap (minutes), matches window_sessionize
_IVB_BUCKET_SEC = 3600     # 1-hour buckets


@query(
    "join_interval_bucketed",
    oracle=f"""
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts - LAG(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id))
                       / 1000000.0 > {_IVB_GAP_MIN * 60}
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), sess AS (
      SELECT user_id,
             SUM(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id,
             ts
      FROM marks
    ), intervals AS (
      SELECT user_id, sess_id,
             MIN(epoch_us(ts) // 1000000) AS t0,
             MAX(epoch_us(ts) // 1000000) AS t1
      FROM sess GROUP BY user_id, sess_id
    ), errors AS (
      SELECT event_id AS err_id, epoch_us(ts) // 1000000 AS te
      FROM events WHERE event_type = 'error'
    ), hits AS (
      SELECT i.user_id, i.sess_id, e.err_id
      FROM intervals i JOIN errors e
        ON e.te >= i.t0 AND e.te <= i.t1
    )
    SELECT i.user_id, CAST(i.sess_id AS BIGINT) AS sess_id,
           CAST(i.t1 - i.t0 AS BIGINT) AS dur_sec,
           CAST(COUNT(h.err_id) AS BIGINT) AS n_errors_during
    FROM intervals i LEFT JOIN hits h
      ON h.user_id = i.user_id AND h.sess_id = i.sess_id
    GROUP BY i.user_id, i.sess_id, i.t1 - i.t0
    """,
)
def join_interval_bucketed(spark, sf_dir):
    """Point-in-interval join at scale: for every user session
    (30-min-gap islands), count the GLOBAL error events that fell
    inside it — the ops-correlation query ("which sessions overlapped
    an incident?"). The naive plan is a theta join (range predicate →
    broadcast-NLJ or cartesian); this operator uses the production
    rewrite: EXPLODE each interval into the hour buckets it covers,
    equi-join points on bucket, then re-filter the exact bounds —
    turning an unbounded range join into a hash join whose fan-out is
    interval_length/bucket. The oracle states the naive theta-join
    semantics; the engine runs the bucketed plan — same rows, scalable
    shape.

    One sessionize pass (two windows), one generated-sequence explode,
    one equi-shuffle on bucket, one re-aggregation to intervals. No
    nested loops anywhere in the plan."""
    e = t(spark, sf_dir, "events")
    wuser = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wuser))
    ) / 1e6
    marks = e.select(
        "user_id",
        "ts",
        F.when(
            gap_sec.isNull() | (gap_sec > _IVB_GAP_MIN * 60), 1
        ).otherwise(0).alias("new_sess"),
    )
    wrun = (
        W.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    sess = marks.select(
        "user_id", F.sum("new_sess").over(wrun).alias("sess_id"), "ts"
    )
    intervals = sess.groupBy("user_id", "sess_id").agg(
        F.min(F.unix_timestamp("ts")).alias("t0"),
        F.max(F.unix_timestamp("ts")).alias("t1"),
    )
    b0 = F.floor(F.col("t0") / _IVB_BUCKET_SEC)
    b1 = F.floor(F.col("t1") / _IVB_BUCKET_SEC)
    ib = intervals.select(
        "user_id",
        "sess_id",
        "t0",
        "t1",
        F.explode(F.sequence(b0, b1)).alias("bucket"),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.unix_timestamp("ts").alias("te"),
    )
    eb = errors.select(
        "err_id", "te", F.floor(F.col("te") / _IVB_BUCKET_SEC).alias("bucket")
    )
    hits = (
        ib.join(eb, "bucket")
        .filter((F.col("te") >= F.col("t0")) & (F.col("te") <= F.col("t1")))
        # an error can match an interval in exactly one bucket (its
        # own), so no dedupe is needed — the bucket column is dropped
        .select("user_id", "sess_id", "err_id")
    )
    return (
        intervals.join(hits, ["user_id", "sess_id"], "left")
        .groupBy(
            "user_id",
            F.col("sess_id").cast("long").alias("sess_id"),
            (F.col("t1") - F.col("t0")).cast("long").alias("dur_sec"),
        )
        .agg(F.count("err_id").cast("long").alias("n_errors_during"))
    )


# ---------------------------------------------------------------------------
# Exact weighted median (cumulative-weight selection)
# ---------------------------------------------------------------------------


@query(
    "agg_weighted_median",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_centi,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ), cum AS (
      SELECT l_returnflag, price_centi, w,
             SUM(w) OVER (PARTITION BY l_returnflag
                          ORDER BY price_centi, w
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM q
    ), picked AS (
      SELECT l_returnflag, price_centi, tw,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY cw) AS rn
      FROM cum WHERE 2 * cw >= tw
    )
    SELECT l_returnflag,
           price_centi AS wmedian_centi,
           CAST(tw AS BIGINT) AS total_weight
    FROM picked WHERE rn = 1
    """,
)
def agg_weighted_median(spark, sf_dir):
    """Exact weighted median (lower): per group, order values and pick
    the first whose running weight reaches half the total — the
    robust central-tendency statistic when rows carry different mass
    (price weighted by quantity = "the price at which half the UNITS
    trade", not half the line items). Plain percentile functions can't
    express this; the cumulative-weight window formulation is the
    standard distributed algorithm.

    Integer-exact: prices floor-quantize to centi-units, weights are
    integer, and the half test is the cross-multiplied 2·cw ≥ tw — no
    division.

    Plan — partial-aggregate BEFORE the sort: rows collapse to
    per-(group, price) weight sums with map-side combine, and the
    cumulative window runs over the distinct-price frame, not the
    data (with only a handful of groups, a per-row window would
    single-thread each group's full sort — the distributed-rank
    lesson from ``ml_auc_rank_eval`` applied here)."""
    li = t(spark, sf_dir, "lineitem")
    per_price = (
        li.select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("price_centi"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        .groupBy("l_returnflag", "price_centi")
        .agg(F.sum("w").alias("w"))
    )
    wcum = (
        W.partitionBy("l_returnflag")
        .orderBy("price_centi")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wall = W.partitionBy("l_returnflag")
    cum = per_price.select(
        "l_returnflag",
        "price_centi",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wall).alias("tw"),
    )
    return topk(
        cum.filter(2 * F.col("cw") >= F.col("tw")), ["l_returnflag"], ["cw"], 1
    ).select(
        "l_returnflag",
        F.col("price_centi").alias("wmedian_centi"),
        F.col("tw").cast("long").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# Log2 (HdrHistogram-style) histogram
# ---------------------------------------------------------------------------


@query(
    "agg_log2_histogram",
    oracle="""
    WITH q AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi
      FROM orders WHERE o_totalprice > 0
    )
    SELECT CAST(length(bin(centi)) - 1 AS INT) AS bucket_log2,
           CAST(1 << (length(bin(centi)) - 1) AS BIGINT) AS bucket_lo_centi,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(centi) AS BIGINT) AS min_centi,
           CAST(MAX(centi) AS BIGINT) AS max_centi
    FROM q GROUP BY 1, 2
    """,
)
def agg_log2_histogram(spark, sf_dir):
    """Log-scaled (power-of-two-bucket) histogram — how latency and
    money distributions are actually profiled at scale (HdrHistogram,
    Prometheus exponential buckets): equal-width buckets
    (``hist_order_totals``) waste resolution on heavy tails; log2
    buckets give constant relative error with a handful of rows.
    The bucket index is floor(log2(v)) computed EXACTLY as the binary
    string length minus one (bin() is identical in both engines) — no
    floating log anywhere, so no boundary-value divergence at exact
    powers of two.

    One partial-aggregated groupBy on a derived key; scan-bound at
    any scale, output bounded at 64 rows."""
    o = t(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    q = o.filter(F.col("o_totalprice") > 0).select(centi.alias("centi"))
    blog = (F.length(F.bin("centi")) - 1).cast("int")
    return q.groupBy(
        blog.alias("bucket_log2"),
        F.expr(
            "cast(shiftleft(cast(1 as bigint), length(bin(centi)) - 1) as bigint)"
        ).alias("bucket_lo_centi"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.min("centi").cast("long").alias("min_centi"),
        F.max("centi").cast("long").alias("max_centi"),
    )


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4)
# ---------------------------------------------------------------------------


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 10
    """,
)
def sql_pipe_syntax(spark, sf_dir):
    """Spark 4's SQL pipe syntax (`|>`) — the linear query dialect
    (FROM … |> WHERE … |> AGGREGATE … |> WHERE) that reads in dataflow
    order instead of SQL's inside-out nesting; declared as a sql-text
    entry like ``sql_q3_shipping_priority`` so the SURFACE is graded:
    the oracle states the classic SELECT…GROUP BY…HAVING equivalent
    and the hash match proves the two dialects produce the identical
    plan semantics. Pipe operators compile to the same Catalyst
    logical plan — zero runtime cost for the readability."""
    from caliper_poc_data_etl_spark.sources import sf_table

    sf_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe_r6")
    return spark.sql(
        """
        FROM orders_pipe_r6
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE COUNT(*) AS n_orders,
                     ROUND(SUM(o_totalprice), 2) AS total
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        |> SELECT o_orderpriority, CAST(n_orders AS BIGINT) AS n_orders, total
        """
    )


# ---------------------------------------------------------------------------
# Correlated LATERAL top-k join
# ---------------------------------------------------------------------------

LATERAL_K = 3


@query(
    "join_lateral_topk",
    oracle=f"""
    SELECT c.c_custkey, o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT {LATERAL_K}
    ) o
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def join_lateral_topk(spark, sf_dir):
    """Correlated LATERAL subquery join (SQL:1999 LATERAL, Spark
    SPARK-34382): for each BUILDING-segment customer, the top-3 orders
    by price — the "top-k related rows per driving row" shape that
    pre-LATERAL SQL needed window functions for. Both engines state
    the IDENTICAL lateral syntax; the hash match proves Spark's
    decorrelation (Catalyst rewrites the correlated limit into a
    ranked join — no per-row re-execution) agrees with DuckDB's
    dependent-join execution. Deterministic: price ties break on
    o_orderkey. Scale shape: Catalyst decorrelates to a
    window-over-join, so the plan is one shuffle on o_custkey, not
    |customer| probe queries."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat_r7")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat_r7")
    return spark.sql(
        f"""
        SELECT c.c_custkey, o.o_orderkey,
               CAST(o.o_totalprice AS DOUBLE) AS totalprice
        FROM customer_lat_r7 c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders_lat_r7 o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT {LATERAL_K}
        ) o
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: join + conditional priority aggregation + date window
# ---------------------------------------------------------------------------


@query(
    "q12_late_line_priority",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
)
def q12_late_line_priority(spark, sf_dir):
    """TPC-H Q12 shape (shipping modes and order priority) adapted to
    the driver's slimmed lineitem: the synthetic tables carry no
    l_shipmode/l_commitdate/l_receiptdate (the same documented
    adaptation as q3/q4), so the "late shipment" predicate becomes
    shipdate ≥ orderdate + 60 days and l_linestatus stands in for the
    mode dimension. The graded semantics are Q12's: fact-to-fact
    equi-join, a join-crossing date predicate, a calendar window, and
    the two-way conditional priority rollup. Scale shape: filters push
    into the lineitem scan; one shuffle on l_orderkey; the conditional
    SUMs partial-aggregate map-side to |l_linestatus| rows."""
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# argmin/argmax aggregate pack (deterministic composite ordering)
# ---------------------------------------------------------------------------

# min_by/arg_min tie-break nondeterministically in BOTH engines, so the
# ordering key embeds the tiebreak: centi-price and orderkey padded into
# one lexicographically-ordered string.
_ARGKEY_SQL = (
    "lpad(CAST(CAST(o_totalprice * 100 AS BIGINT) AS STRING), 14, '0') || "
    "lpad(CAST(o_orderkey AS STRING), 12, '0')"
)


@query(
    "agg_argminmax_pack",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             {_ARGKEY_SQL.replace("AS STRING", "AS VARCHAR")} AS k
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(arg_min(o_orderkey, k) AS BIGINT) AS cheapest_order,
           CAST(arg_max(o_orderkey, k) AS BIGINT) AS priciest_order,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM keyed GROUP BY o_orderpriority
    """,
)
def agg_argminmax_pack(spark, sf_dir):
    """min_by / max_by (SQL:2023 ANY_VALUE-family "arg" aggregates):
    which ORDER is cheapest / priciest per priority class — the
    argmin/argmax shape that pre-min_by SQL needed a window + filter
    for, here one partial-aggregating pass. Both engines tie-break
    arbitrarily on equal ordering values, so the declared ordering
    key is a composite STRING embedding (centi-price, orderkey) —
    lexicographic on the padded concatenation ≡ ordering on the pair,
    making the winner deterministic and hash-gradeable. Scale shape:
    min_by partial-aggregates map-side like MIN (carry the current
    best (key, value) pair per group) — no window, no sort, no
    shuffle beyond the group-by."""
    o = t(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.expr(_ARGKEY_SQL).alias("k"),
    )
    return keyed.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("min_by(o_orderkey, k)").cast("long").alias("cheapest_order"),
        F.expr("max_by(o_orderkey, k)").cast("long").alias("priciest_order"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Mergeable binned quantile estimate (log2 buckets + threshold crossing)
# ---------------------------------------------------------------------------


@query(
    "agg_quantile_binned",
    oracle="""
    WITH q AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi
      FROM orders WHERE o_totalprice > 0
    ),
    bins AS (
      SELECT CAST(length(bin(centi)) - 1 AS INT) AS bucket_log2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM q GROUP BY 1
    ),
    cum AS (
      SELECT bucket_log2, n,
             SUM(n) OVER (ORDER BY bucket_log2) AS cum_n,
             SUM(n) OVER () AS total_n
      FROM bins
    )
    SELECT bucket_log2, n, CAST(cum_n AS BIGINT) AS cum_n,
           (cum_n - n) * 2 < total_n AND cum_n * 2 >= total_n AS is_p50,
           (cum_n - n) * 10 < total_n * 9 AND cum_n * 10 >= total_n * 9
             AS is_p90,
           (cum_n - n) * 100 < total_n * 99 AND cum_n * 100 >= total_n * 99
             AS is_p99
    FROM cum
    """,
)
def agg_quantile_binned(spark, sf_dir):
    """Mergeable binned quantile sketch — the histogram-based
    quantile estimator (HdrHistogram / Prometheus native-histogram
    architecture): exact power-of-two bucket counts (the
    ``agg_log2_histogram`` primitive), cumulative totals, and the
    bucket where each target quantile's rank falls, flagged by exact
    integer cross-multiplication (rank·q tests — no division, no
    interpolation float). Unlike percentile_disc over raw rows
    (``agg_percentiles``), the bucket counts MERGE associatively —
    per-partition, per-day, per-shard sketches add element-wise, the
    property that makes this the 100 TB quantile plan; accuracy is
    one bucket width (factor 2 here, any base generalizes). All
    integer; the flags pin the p50/p90/p99 crossing buckets."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    bins = (
        o.select(centi.alias("centi"))
        .select(
            (F.length(F.bin(F.col("centi"))) - 1).cast("int").alias("bucket_log2")
        )
        .groupBy("bucket_log2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wcum = W.partitionBy().orderBy("bucket_log2")
    wall = W.partitionBy()
    cum = bins.select(
        "bucket_log2",
        "n",
        F.sum("n").over(wcum).alias("cum_n"),
        F.sum("n").over(wall).alias("total_n"),
    )

    def crossing(mul: int, num: int):
        return (
            ((F.col("cum_n") - F.col("n")) * mul < F.col("total_n") * num)
            & (F.col("cum_n") * mul >= F.col("total_n") * num)
        )

    return cum.select(
        "bucket_log2",
        "n",
        F.col("cum_n").cast("long").alias("cum_n"),
        crossing(2, 1).alias("is_p50"),
        crossing(10, 9).alias("is_p90"),
        crossing(100, 99).alias("is_p99"),
    )


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier
# ---------------------------------------------------------------------------


@query(
    "agg_skyline_pareto",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             MIN(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS best_centi
      FROM orders GROUP BY 1
    ),
    flagged AS (
      SELECT day, best_centi,
             MIN(best_centi) OVER (ORDER BY day DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS later_min
      FROM daily
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           best_centi
    FROM flagged
    WHERE later_min IS NULL OR best_centi < later_min
    """,
)
def agg_skyline_pareto(spark, sf_dir):
    """Skyline (Pareto frontier) operator — Börzsönyi et al. ICDE'01:
    the days that are not DOMINATED on (recency ↑, best price ↓): a
    day survives iff no later day achieved an equal-or-lower minimum
    price. The naive skyline is an O(n²) self-anti-join; the declared
    plan is the scalable two-stage form — reduce the fact table to
    the per-day partial (one partial-aggregating groupBy, the only
    data-sized shuffle), then a single running-min window over the
    CALENDAR-bounded daily frame answers dominance in one pass
    (sorted-skyline for 2 dimensions). The unpartitioned window is
    bounded by construction: |days|, not |orders|. All integer
    centi-units."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.min(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("best_centi")
    )
    # bounded-by-construction: one row per calendar day post-agg
    wspec = (
        W.partitionBy()
        .orderBy(F.col("day").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = daily.select(
        "day", "best_centi", F.min("best_centi").over(wspec).alias("later_min")
    )
    return flagged.filter(
        F.col("later_min").isNull() | (F.col("best_centi") < F.col("later_min"))
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "best_centi"
    )


# ---------------------------------------------------------------------------
# Deterministic mode / exact median pack
# ---------------------------------------------------------------------------


@query(
    "agg_mode_pack",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    m AS (
      SELECT l_returnflag, qty, n,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, qty) AS rn
      FROM counts
    ),
    med AS (
      SELECT l_returnflag,
             MEDIAN(CAST(l_quantity AS BIGINT)) AS median_qty
      FROM lineitem GROUP BY 1
    )
    SELECT m.l_returnflag, m.qty AS mode_qty,
           CAST(m.n AS BIGINT) AS mode_n,
           CAST(med.median_qty AS DOUBLE) AS median_qty
    FROM m JOIN med USING (l_returnflag)
    WHERE m.rn = 1
    """,
)
def agg_mode_pack(spark, sf_dir):
    """Deterministic mode + exact median per group. Spark's built-in
    ``F.mode`` and DuckDB's ``mode()`` both leave TIES unspecified, so
    the mode is stated explicitly on both engines as count-then-argmax
    with a value tiebreak (lowest quantity wins) — the only portable
    formulation. The median is each engine's exact interpolating
    median (quantile_cont 0.5); over integer quantities the midpoint
    is at worst x.5, exact in IEEE, so no rounding is needed. Plan:
    one partial-aggregating groupBy to (flag, qty) counts — 150 rows —
    then a bounded per-flag window; the median is a second aggregate
    over the same scan. Mode-of-few-values via pre-aggregated counts
    is the 100 TB shape (never sort raw rows for a mode)."""
    li = t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    counts = li.groupBy("l_returnflag", qty.alias("qty")).agg(
        F.count(F.lit(1)).alias("n")
    )
    mode = topk(counts, ["l_returnflag"], [F.desc("n"), "qty"], 1).select(
        "l_returnflag",
        F.col("qty").alias("mode_qty"),
        F.col("n").cast("long").alias("mode_n"),
    )
    med = li.groupBy("l_returnflag").agg(
        F.median(qty).cast("double").alias("median_qty")
    )
    return mode.join(F.broadcast(med), "l_returnflag")


# ---------------------------------------------------------------------------
# Point-in-time (feature store) multi-feature join
# ---------------------------------------------------------------------------


@query(
    "join_pit_feature_store",
    oracle="""
    WITH purchases AS (SELECT * FROM events WHERE event_type = 'purchase'),
         clicks AS (
           SELECT user_id, ts,
                  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
           FROM events WHERE event_type = 'click'
         ),
         views AS (
           SELECT user_id, ts,
                  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
           FROM events WHERE event_type = 'view'
         )
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS obs_ts,
           COALESCE(c.v, -1) AS last_click_centi,
           COALESCE(v.v, -1) AS last_view_centi
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts
    ASOF LEFT JOIN views v ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
)
def join_pit_feature_store(spark, sf_dir):
    """Point-in-time correct multi-feature join — the feature-store
    backbone (Feast/Tecton materialization): for each observation
    (purchase), the latest value of EACH feature stream (last click
    value, last view value) as of the observation time, with no
    future leakage. The oracle states it as two native DuckDB ASOF
    joins; the engine computes BOTH features in ONE user-partitioned
    window pass over the unioned stream — the ``join_asof`` plan
    generalized: N feature columns cost one shuffle total, not one
    as-of join (and one shuffle) per feature table. Feature rows
    order before observations on equal ts via an explicit tag
    (lexical event_type order would put 'view' after 'purchase').
    Values are centi-quantized to integers; never-seen features
    surface as -1. (user_id, event_type, ts) is unique in the
    fixture, so tie values are well-defined."""
    e = t(spark, sf_dir, "events")
    stream = e.filter(
        F.col("event_type").isin("click", "view", "purchase")
    ).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("obs"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "obs", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    last_of = lambda typ: F.last(  # noqa: E731
        F.when(F.col("event_type") == typ, F.col("v")), ignorenulls=True
    ).over(w)
    return (
        stream.withColumn("lc", last_of("click"))
        .withColumn("lv", last_of("view"))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("obs_ts"),
            F.coalesce("lc", F.lit(-1)).alias("last_click_centi"),
            F.coalesce("lv", F.lit(-1)).alias("last_view_centi"),
        )
    )


# ---------------------------------------------------------------------------
# Interval-overlap join (bucketed, not the naive theta join)
# ---------------------------------------------------------------------------


@query(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE)
               + INTERVAL ((o_orderkey % 7) + 1) DAY AS e
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
    )
    SELECT a.o_orderkey AS a_key, b.o_orderkey AS b_key,
           CAST(date_diff('day',
                greatest(a.s, b.s), least(a.e, b.e)) AS BIGINT)
             AS overlap_days
    FROM iv a JOIN iv b
      ON a.o_custkey % 2 = 0 AND b.o_custkey % 2 = 1
     AND a.s < b.e AND b.s < a.e
    """,
)
def join_interval_overlap(spark, sf_dir):
    """Interval-overlap join — find all (A, B) interval pairs that
    intersect, with exact overlap length (the genomics/BEDtools and
    booking-collision shape; ``join_interval_bucketed`` is its
    point-in-interval little sibling). Intervals are half-open order
    windows [orderdate, orderdate + 1..7 days); the oracle states the
    naive theta join (a.s < b.e AND b.s < a.e). The engine's plan is
    the bucketed rewrite: each interval explodes to its covered DAY
    buckets (≤ 7, bounded by the max interval length), pairs meet in
    an equi-join on the bucket, the exact predicate re-filters, and
    multi-bucket duplicates are eliminated by the CANONICAL-BUCKET
    rule instead of a distinct: a pair is emitted only in the bucket
    equal to the overlap's first day, ``day == greatest(a_s, b_s)``
    — a day both intervals cover whenever the overlap is non-empty,
    so every qualifying pair appears EXACTLY once and the 2.4M-row
    dedup shuffle disappears (measured 3.7 s → 0.7 s at sf0.1 against
    the earlier distinct form).
    Σ per-bucket products, never |A|×|B|. At 100 TB bucket
    granularity is tuned to the median interval length exactly like
    the 1-hour buckets of ``join_interval_bucketed``; long intervals
    explode to more buckets, never to a cross product."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    iv = o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.col("o_orderkey") % 7 + 1).cast("int"),
        ).alias("e"),
    )
    buckets = iv.select(
        "o_orderkey",
        "o_custkey",
        "s",
        "e",
        F.explode(
            F.sequence(F.lit(0), F.datediff("e", "s") - 1)
        ).alias("off"),
    ).select(
        "o_orderkey",
        "o_custkey",
        "s",
        "e",
        F.date_add("s", F.col("off").cast("int")).alias("day"),
    )
    a = (
        buckets.filter(F.col("o_custkey") % 2 == 0)
        .select(
            F.col("o_orderkey").alias("a_key"),
            F.col("s").alias("a_s"),
            F.col("e").alias("a_e"),
            "day",
        )
    )
    b = (
        buckets.filter(F.col("o_custkey") % 2 == 1)
        .select(
            F.col("o_orderkey").alias("b_key"),
            F.col("s").alias("b_s"),
            F.col("e").alias("b_e"),
            "day",
        )
    )
    return (
        a.join(b, "day")
        .filter((F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e")))
        .filter(F.col("day") == F.greatest("a_s", "b_s"))
        .select(
            "a_key",
            "b_key",
            F.datediff(
                F.least("a_e", "b_e"), F.greatest("a_s", "b_s")
            ).cast("long").alias("overlap_days"),
        )
    )


# ---------------------------------------------------------------------------
# Forward as-of join (next-event lookup)
# ---------------------------------------------------------------------------


@query(
    "join_asof_forward",
    oracle="""
    WITH purchases AS (SELECT * FROM events WHERE event_type = 'purchase'),
         views AS (SELECT * FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS next_view_ts
    FROM purchases p
    ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts <= v.ts
    """,
)
def join_asof_forward(spark, sf_dir):
    """FORWARD as-of join — each purchase matched to the user's
    nearest FOLLOWING view (post-purchase behavior: the re-engagement
    / remarketing-window lookup), completing the as-of family
    (``join_asof`` backward, ``_tolerance``, ``_nearest``). The
    oracle states DuckDB's native forward ASOF (p.ts <= v.ts picks
    the smallest following v.ts); the engine runs the same
    single-shuffle windowed-union plan as the backward form with the
    frame REVERSED: first-non-null over (current row →
    UNBOUNDED FOLLOWING) within the user partition, purchases
    ordering BEFORE views on equal ts so an exactly-simultaneous view
    matches (ASOF's <= semantics). One shuffle total, never the
    quadratic per-user pair materialization of the native
    ``_joinAsOf`` rewrite."""
    e = t(spark, sf_dir, "events")
    stream = e.filter(F.col("event_type").isin("view", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("tag"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        stream.withColumn(
            "next_view_raw",
            F.first(
                F.when(F.col("event_type") == "view", F.col("ts")),
                ignorenulls=True,
            ).over(w),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", fmt).alias("purchase_ts"),
            F.date_format("next_view_raw", fmt).alias("next_view_ts"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog (md5-parity)
# ---------------------------------------------------------------------------

HLL_M = 64  # 2^6 buckets
HLL_BUCKET_BITS = 6
HLL_W_BITS = 52 - HLL_BUCKET_BITS  # 46-bit remainder, rho in 1..47
# alpha_64 = 0.7213 / (1 + 1.079/64) = 0.709 (Flajolet et al. 2007),
# carried as the integer milli literal — no float enters the estimate.
HLL_ALPHA_MILLI = 709
# Overflow guard on the scaled inverse (unreachable below ~2^31
# distinct, but ANSI Spark would THROW on the expression-level
# overflow a pathological register state could produce; both engines
# clamp identically).
HLL_R_CAP = 3_000_000_000


# Linear-counting correction table (Flajolet et al. 2007 small-range
# branch): when the raw estimate is <= 2.5m and some registers are
# still zero, the better estimator is m * ln(m / V) with V = number of
# zero registers. V has only m possible values, so the ln is
# precomputed HERE at import (math.log at build time, the PHASH_COS
# trick) and embedded as integer-milli literals in both engines — no
# runtime transcendental.
def _hll_lc_table() -> list[int]:
    import math

    return [
        int(math.floor(math.log(HLL_M / v) * 1000 + 0.5))
        for v in range(1, HLL_M + 1)
    ]


HLL_LC_MILLI = _hll_lc_table()
HLL_LC_CUTOFF_MILLI = 2500 * HLL_M  # raw estimate <= 2.5m (in milli)
_HLL_LC_SQL = "[" + ", ".join(str(v) for v in HLL_LC_MILLI) + "]"


def _hll_clamped_inverse_col(zs):
    """The CLAMPED scaled inverse r = min(2^48·1000 div zs, R_CAP) as a
    Column from a BIGINT ``zs`` Column; the caller
    (:func:`_hll_est_from_zs`) derives raw_milli from it — INTEGRAL
    division only (`div`): the numerators (2^47*1000 ~ 1.4e17 and
    alpha*m^2*r up to ~8.7e15) exceed 2^53, so a double `/` would
    round the operands BEFORE dividing and could disagree with the
    oracle's exact `//` at quotient-boundary values — the silent
    cross-engine parity class this registry bans. Operands are
    nonnegative, so Spark's truncating `div` equals DuckDB's flooring
    `//`."""
    num = (1 << (HLL_W_BITS + 1)) * 1000
    r = F.least(
        F.expr(f"{num}L div zs_for_div"),
        F.lit(HLL_R_CAP).cast("long"),
    )
    return r


def _hll_est_from_zs(df, zs_col="zs", hit_col="n_buckets_hit"):
    """Append ``hll_est_milli`` to ``df`` from BIGINT register-sum and
    bucket-hit columns, sharing the alpha / linear-counting literals.
    All quotients use integral `div` (see
    :func:`_hll_clamped_inverse_col`)."""
    df = df.withColumn("zs_for_div", F.col(zs_col).cast("long"))
    r = _hll_clamped_inverse_col(F.col("zs_for_div"))
    df = df.withColumn("r_for_div", r)
    raw_milli = F.expr(f"({HLL_ALPHA_MILLI * HLL_M * HLL_M}L * r_for_div) div 1000")
    v_zero = (F.lit(HLL_M) - F.col(hit_col)).cast("int")
    lc_table = F.array(*[F.lit(v).cast("long") for v in HLL_LC_MILLI])
    est = F.when(
        (v_zero > 0) & (raw_milli <= HLL_LC_CUTOFF_MILLI),
        F.lit(HLL_M).cast("long") * F.element_at(lc_table, v_zero),
    ).otherwise(raw_milli)
    return df.withColumn("hll_est_milli", est.cast("long")).drop(
        "zs_for_div", "r_for_div"
    )


@query(
    "agg_hll_md5_parity",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
               AS h52
      FROM du
    ),
    b AS (
      SELECT event_type, h52 % {HLL_M} AS bucket, h52 // {HLL_M} AS w
      FROM h
    ),
    regs AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
                      ELSE {HLL_W_BITS + 1} - length(bin(w)) END) AS m_j,
             COUNT(*) AS nb
      FROM b GROUP BY 1, 2
    ),
    z AS (
      SELECT event_type,
             SUM(nb) AS n_exact,
             SUM(1::BIGINT << CAST({HLL_W_BITS + 1} - m_j AS INT))
               + ({HLL_M} - COUNT(*)) * (1::BIGINT << {HLL_W_BITS + 1}) AS zs,
             COUNT(*) AS n_buckets_hit,
             SUM(m_j * (bucket + 1)) AS register_checksum
      FROM regs GROUP BY 1
    )
    ,
    est AS (
      SELECT event_type, n_exact, n_buckets_hit, register_checksum,
             {HLL_ALPHA_MILLI} * {HLL_M} * {HLL_M}
               * LEAST(((1::BIGINT << {HLL_W_BITS + 1}) * 1000) // zs,
                       {HLL_R_CAP}) // 1000 AS raw_milli,
             {HLL_M} - n_buckets_hit AS v_zero
      FROM z
    )
    SELECT event_type,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(CASE WHEN v_zero > 0 AND raw_milli <= {HLL_LC_CUTOFF_MILLI}
                     THEN {HLL_M} * ({_HLL_LC_SQL})[CAST(v_zero AS BIGINT)]
                     ELSE raw_milli END AS BIGINT) AS hll_est_milli,
           CAST(n_buckets_hit AS BIGINT) AS n_buckets_hit,
           CAST(register_checksum AS BIGINT) AS register_checksum
    FROM est
    """,
)
def agg_hll_md5_parity(spark, sf_dir):
    """Deterministic HyperLogLog distinct-count sketch, md5-parity —
    the production distinct sketch the family lacked
    (``agg_approx_distinct`` grades rows-only because Spark's HLL++ is
    engine-internal; ``agg_kmv_distinct_sketch`` is the order-statistic
    cousin). Registers are EXACT integers on both engines: 52-bit md5
    uniform, low {HLL_BUCKET_BITS} bits pick the bucket, rho = leading
    zeros of the {HLL_W_BITS}-bit remainder + 1 via the binary-digit
    length (``length(bin(w))`` — identical builtin both engines, no
    log2 boundary risk), register = max rho. The raw estimate
    alpha*m^2/Z is carried in scaled integers: Z*2^47 fits BIGINT
    because registers cap at 47; the scaled inverse clamps at
    {HLL_R_CAP} (the documented overflow guard). The small-range
    branch is the REAL one: when raw E <= 2.5m and zero registers
    remain, linear counting m*ln(m/V) applies — and because V has only
    {HLL_M} possible values, the ln lives in an import-time integer
    table embedded in both engines (:data:`HLL_LC_MILLI`, the
    PHASH_COS trick), so the corrected estimator is still
    transcendental-free at runtime. On the fixtures: 151.5 est vs 150
    true at sf0.01, 14.5 vs 15 at sf0.001 (raw would read 142.3 and
    49.4).

    The registers are MERGEABLE (max distributes): groupBy partials
    combine map-side exactly like production HLL shards. Scale shape:
    distinct-project, then two shrinking groupBys (bucket, then
    group) — the per-group state is {HLL_M} registers regardless of
    corpus size; n_exact rides the same chain (sum of per-bucket
    counts of the distinct frame), so the sketch-vs-truth report costs
    ONE pass over the distinct frame."""
    ev = t(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    h52 = md5_int(F.col("user_id").cast("string"), 13)
    b = du.select(
        "event_type",
        (h52 % HLL_M).alias("bucket"),
        (h52 / HLL_M).cast("long").alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.bin(F.col("w")))
    )
    regs = b.groupBy("event_type", "bucket").agg(
        F.max(rho).alias("m_j"), F.count("*").alias("nb")
    )
    z = regs.groupBy("event_type").agg(
        F.sum("nb").alias("n_exact"),
        (
            F.sum(F.expr(f"shiftleft(1L, cast({HLL_W_BITS + 1} - m_j as int))"))
            + (F.lit(HLL_M) - F.count("*"))
            * F.lit(1 << (HLL_W_BITS + 1)).cast("long")
        ).alias("zs"),
        F.count("*").alias("n_buckets_hit"),
        F.sum(F.col("m_j") * (F.col("bucket") + 1)).alias("register_checksum"),
    )
    return _hll_est_from_zs(z).select(
        "event_type",
        F.col("n_exact").cast("long").alias("n_exact"),
        "hll_est_milli",
        F.col("n_buckets_hit").cast("long").alias("n_buckets_hit"),
        F.col("register_checksum").cast("long").alias("register_checksum"),
    )


# ---------------------------------------------------------------------------
# Fixed-size mergeable quantile sketch (KLL-class level sampling)
# ---------------------------------------------------------------------------

KLL_K = 256  # sketch size target: survivors bounded by ~K (expected)


@query(
    "agg_kll_quantile_sketch",
    oracle=f"""
    WITH v AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v_centi,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13))::BIGINT
               AS u52
      FROM orders
    ), params AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(CASE WHEN (COUNT(*) + {KLL_K} - 1) // {KLL_K} <= 1 THEN 0
                  ELSE length(bin((COUNT(*) + {KLL_K} - 1) // {KLL_K} - 1))
                  END AS BIGINT) AS level
      FROM v
    ), surv AS (
      SELECT x.v_centi, x.o_orderkey, p.n_rows, p.level
      FROM v x, params p
      WHERE x.u52 < (1::BIGINT << CAST(52 - p.level AS INT))
    ), ranked AS (
      SELECT v_centi, n_rows, level,
             ROW_NUMBER() OVER (ORDER BY v_centi, o_orderkey) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_surv
      FROM surv
    )
    SELECT CAST(d.decile AS BIGINT) AS decile,
           CAST(r.v_centi AS BIGINT) AS est_centi,
           CAST(r.level AS BIGINT) AS level,
           r.n_surv AS n_survivors,
           CAST(r.n_surv << r.level AS BIGINT) AS w_total,
           r.n_rows
    FROM ranked r
    JOIN range(1, 10) AS d(decile)
      ON r.rn = ((d.decile * (r.n_surv << r.level) + 9) // 10
                 + (1::BIGINT << r.level) - 1) // (1::BIGINT << r.level)
    """,
)
def agg_kll_quantile_sketch(spark, sf_dir):
    """Fixed-size MERGEABLE quantile sketch — KLL-class level sampling
    with a deterministic hash coin (the centi-grid summary of
    ``ml_quantile_drift`` is exact-rank and mergeable but bounded by
    distinct-value count, not a fixed k; this one is bounded by k at
    ANY value domain, including unbounded doubles).

    Construction (level sampling — the sampling view of a KLL
    compactor chain, Karnin, Lang & Liberty, FOCS 2016: KLL's level-l
    compactor halves its buffer with a coin, so an item survives to
    level l with probability 2^-l; here
    that survival event is made DETERMINISTIC by the engine's standard
    md5→52-bit-uniform recipe instead of a runtime coin, which is what
    lets two engines build the identical sketch and the gate hash it):

    - level = ceil(log2(ceil(n / k))) via pure integer bit arithmetic
      (length(bin(m-1)) — the HLL rho idiom, no log);
    - a row SURVIVES iff u52 < 2^(52-level), u52 = md5-derived 52-bit
      integer keyed on the row id — so expected survivors ∈ (k/2, k]
      and each survivor represents weight 2^level rows;
    - survival predicates are NESTED across levels (u52 < 2^(52-l-1)
      implies u52 < 2^(52-l)), which gives EXACT mergeability: the
      union's sketch at level L equals the re-subsample of the parts'
      sketches to L — sketch(A ∪ B) == merge(sketch(A), sketch(B)),
      pinned in pytest like the HLL shard-merge test;
    - decile estimates are integer RANK queries over the weighted
      survivor order: target_d = ceil(d·W/10), answered by the
      survivor at rank ceil(target_d / 2^level). No floating point
      anywhere past the centi quantization.

    Rank error is the uniform-sample bound O(sqrt(log(1/δ)/k)) —
    weaker per bit than full multi-level KLL (whose top-heavy
    compactor chain reaches O((1/k)·sqrt(log 1/δ))) but with the same
    fixed-k footprint, one-pass construction, exact mergeability, and
    none of KLL's sequential compaction state, which is what makes it
    expressible as a pure dataflow in BOTH engines (a faithful KLL's
    coin-by-coin compaction order cannot be twinned in SQL; that
    trade-off is the documented posture).

    Scale shape: one scan computes (value, u52); a 1-row count
    aggregate broadcasts n/level (whitelisted scalar shape); the
    survivor filter keeps ~k rows, so the rank window and the 9-row
    decile join run on a bounded frame. Shuffle: the scalar broadcast
    plus one ~k-row exchange — the corpus itself never sorts."""
    o = t(spark, sf_dir, "orders")
    v = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v_centi"),
        md5_int(F.col("o_orderkey").cast("string"), 13).alias("u52"),
    )
    m = f"(n_rows + {KLL_K - 1}) div {KLL_K}"
    params = (
        v.agg(F.count("*").cast("long").alias("n_rows"))
        .select(
            "n_rows",
            F.when(F.expr(m) <= 1, F.lit(0).cast("long"))
            .otherwise(
                F.expr(f"cast(length(bin({m} - 1)) as bigint)")
            )
            .alias("level"),
        )
    )
    surv = v.crossJoin(F.broadcast(params)).filter(
        F.col("u52") < F.expr("shiftleft(1L, cast(52 - level as int))")
    )
    w_rank = W.orderBy("v_centi", "o_orderkey")
    w_all = w_rank.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = surv.select(
        "v_centi",
        "n_rows",
        "level",
        F.row_number().over(w_rank).cast("long").alias("rn"),
        F.count("*").over(w_all).cast("long").alias("n_surv"),
    )
    deciles = spark.range(1, 10).select(F.col("id").alias("decile"))
    cond = F.col("rn") == F.expr(
        f"((decile * shiftleft(n_surv, cast(level as int)) + 9) div 10"
        f" + shiftleft(1L, cast(level as int)) - 1)"
        f" div shiftleft(1L, cast(level as int))"
    )
    return (
        ranked.join(F.broadcast(deciles), cond)
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("v_centi").cast("long").alias("est_centi"),
            F.col("level").cast("long").alias("level"),
            F.col("n_surv").alias("n_survivors"),
            F.expr(
                "cast(shiftleft(n_surv, cast(level as int)) as bigint)"
            ).alias("w_total"),
            "n_rows",
        )
    )
