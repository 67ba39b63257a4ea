"""Skew-mitigation operators as graded query entries.

The ``skew`` module (salted two-stage aggregation, replicated-dim
salted join) is pinned by pytest; these entries also put both
constructions under the driver's DuckDB oracle. The oracle is the
PLAIN formulation — salting is a physical rewrite that must be
result-identical, and that identity is exactly what the hash check
proves.

Scale rationale: AQE's skew handling splits oversized *shuffle
partitions*, but a single hot GROUP BY key still converges on one
reducer after splitting, and a broadcast-incompatible join against a
skewed probe side still funnels the hot key through one task. The
salted forms spread one hot key over S reducers at the cost of an
S-way merge (agg) or S× build replication (join) — the standard
100 TB mitigations.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.queries.registry import query, t
from caliper_poc_data_etl_spark.skew import salted_agg, salted_join


@query(
    "agg_salted_event_type",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value
    FROM events GROUP BY event_type
    """,
)
def agg_salted_event_type(spark, sf_dir):
    """Two-stage salted aggregation over a LOW-cardinality key
    (event_type: a handful of values over every event row — the exact
    shape where one reducer per key melts at 100 TB). Stage 1 groups
    on (key, salt) so each hot key spreads over 16 reducers; stage 2
    merges the decomposable partials (count/sum by SUM, min/max by
    MIN/MAX). The oracle is the plain GROUP BY: salting must be
    result-invisible."""
    e = t(spark, sf_dir, "events")
    out = salted_agg(
        e,
        "event_type",
        {
            "n": F.count("*"),
            "total_value": F.sum("value"),
            "min_value": F.min("value"),
            "max_value": F.max("value"),
        },
    )
    return out.select(
        "event_type",
        "n",
        F.round("total_value", 2).alias("total_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
    )


@query(
    "join_salted_supplier",
    oracle="""
    SELECT s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice), 2) AS total
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
)
def join_salted_supplier(spark, sf_dir):
    """Replicated-dimension salted join: supplier replicated 16×, each
    lineitem row randomly salted, equi-join on (key, salt) — a hot
    supplier's probe rows spread over 16 tasks instead of one. Row
    multiplicity is provably unchanged (each fact row matches exactly
    the one replica carrying its salt), which the plain-join oracle
    verifies by value hash."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice"
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    return (
        salted_join(li, s, "suppkey")
        .groupBy("s_name")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
        )
    )
