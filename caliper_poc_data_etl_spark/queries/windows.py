"""Window-function surface: ranking, analytic, frames, sessionization.

SURVEY.md §2B "Window" rows. All window orderings carry a unique
tiebreaker column so results are deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.kernels import _TS_FMT_DUCK, _TS_FMT_SPARK
from caliper_poc_data_etl_spark.queries.registry import query, t

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


@query(
    "window_rank_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER()  OVER w AS rn,
             RANK()        OVER w AS rnk,
             DENSE_RANK()  OVER w AS drnk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rn <= 3
    """,
)
def window_rank_topk_per_group(spark, sf_dir):
    """Top-3 orders per customer — the scalable per-group top-k
    (window + filter, no global sort)."""
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_ntile",
    oracle="""
    SELECT o_orderkey, NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
    FROM orders
    """,
)
def window_ntile(spark, sf_dir):
    """Exact global NTILE(4) without the single-partition sort.

    A bare ``ntile().over(orderBy(...))`` moves the whole table through
    ONE reducer (WindowExec warns about exactly this) — a non-starter
    at 100 TB. The distributed formulation is the classic global-rank
    construction:

    1. ``repartitionByRange`` on the sort key — each partition holds a
       contiguous key range, sorted locally (this is how Spark's own
       global ``orderBy`` lays data out);
    2. per-partition row counts → running offsets (a window over ≤ #
       partitions rows, broadcast back);
    3. global rank = partition offset + local row_number (per-partition
       window — parallel);
    4. NTILE's bucket arithmetic from (rank, N): the first ``N % n``
       buckets take ``N/n + 1`` rows, the rest ``N/n``.
    """
    n_buckets = 4
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    parts = o.repartitionByRange(32, "o_totalprice", "o_orderkey").withColumn(
        "pid", F.spark_partition_id()
    )
    sizes = parts.groupBy("pid").agg(F.count("*").alias("cnt"))
    # ≤32 rows: the "global" window here is over the partition COUNT,
    # not the data — driver-scale by construction.
    w_off = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = sizes.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    total = sizes.agg(F.sum("cnt").alias("n_total"))
    w_local = W.partitionBy("pid").orderBy("o_totalprice", "o_orderkey")
    rank = F.col("off") + F.row_number().over(w_local)
    base = F.floor(F.col("n_total") / n_buckets)
    rem = F.col("n_total") % n_buckets
    big = base + 1  # first `rem` buckets take one extra row
    quartile = F.when(
        F.col("rank") <= rem * big, F.ceil(F.col("rank") / big)
    ).otherwise(rem + F.ceil((F.col("rank") - rem * big) / base))
    return (
        parts.join(F.broadcast(offsets), "pid")
        .join(F.broadcast(total))
        .withColumn("rank", rank)
        .select("o_orderkey", quartile.cast("int").alias("quartile"))
    )


@query(
    "window_lag_lead",
    oracle=f"""
    SELECT event_id, user_id,
           strftime(ts, '{TS_FMT_DUCK}') AS ts_s,
           value,
           LAG(value)  OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           FIRST_VALUE(value) OVER w AS first_value,
           LAST_VALUE(value)  OVER w AS last_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_lag_lead(spark, sf_dir):
    """lag/lead/first/last analytic functions over per-user streams."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(w_full).alias("first_value"),
        F.last("value").over(w_full).alias("last_value"),
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS running_value
    FROM events
    """,
)
def window_running_sum(spark, sf_dir):
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 2).alias("running_value")
    )


@query(
    "window_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
                 4) AS mov_avg_4
    FROM events
    """,
)
def window_moving_avg(spark, sf_dir):
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    return t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round(F.avg("value").over(w), 4).alias("mov_avg_4")
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
                 2) AS sum_last_hour
    FROM events
    """,
)
def window_range_frame(spark, sf_dir):
    """RANGE frame over event-time seconds: all events of the trailing
    hour, regardless of row count."""
    # epoch(ts) in DuckDB returns fractional seconds; reproduce exactly:
    e = t(spark, sf_dir, "events").withColumn(
        "ts_sec",
        (F.unix_micros("ts").cast("double") / F.lit(1000000.0)),
    )
    w = W.partitionBy("user_id").orderBy("ts_sec").rangeBetween(-3600, 0)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("sum_last_hour"),
    )


@query(
    "window_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                             ORDER BY ts, event_id))
                       > 1800000000
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)
                AS BIGINT) AS session_id
    FROM flagged
    """,
)
def window_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag + running sum
    of session-start flags — the classic scalable pattern (one shuffle
    by user, no iterative logic)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = (
        F.when(
            prev_ts.isNull()
            | ((F.unix_micros("ts") - F.unix_micros(prev_ts)) > 1_800_000_000),
            1,
        )
        .otherwise(0)
    )
    return (
        t(spark, sf_dir, "events")
        .withColumn("new_session", new_session)
        .select(
            "user_id",
            "event_id",
            F.sum("new_session").over(w_run).alias("session_id"),
        )
    )


@query(
    "window_cume_dist",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(CUME_DIST()    OVER w, 6) AS cd,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_cume_dist(spark, sf_dir):
    """Distribution window functions (cume_dist / percent_rank) per
    customer — partitioned, so the window parallelizes across groups
    (no global single-reducer sort). Ordering carries the o_orderkey
    tiebreaker so both engines see one deterministic permutation."""
    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


@query(
    "window_session_stats",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                             ORDER BY ts, event_id))
                       > 1800000000
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS duration_sec,
           ROUND(SUM(value), 2) AS session_value
    FROM sessions GROUP BY user_id, session_id
    """,
)
def window_session_stats(spark, sf_dir):
    """Session-level rollup on top of gap-based sessionization
    (``window_sessionize``): events per session, wall duration, value
    sum — the composition proof that the sessionize output feeds a
    plain hash aggregate. Both passes key on user_id, so the window
    shuffle is REUSED by the groupBy (one Exchange total)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev_ts)) > 1_800_000_000),
        1,
    ).otherwise(0)
    sessions = (
        t(spark, sf_dir, "events")
        .withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(w_run))
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.floor(
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1_000_000
        ).alias("duration_sec"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


@query(
    "window_percent_rank",
    oracle="""
    SELECT event_id, event_type,
           FLOOR(percent_rank() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) * 1e6 + 0.5)
             / 1e6 AS pr,
           CAST(dense_rank() OVER (PARTITION BY event_type ORDER BY value)
                AS BIGINT) AS dr
    FROM events
    """,
)
def window_percent_rank(spark, sf_dir):
    """Relative-position ranking pack: percent_rank with a unique
    (value, event_id) tiebreak — (rank-1)/(n-1), exact integer
    arithmetic divided identically on both engines — plus dense_rank
    over value alone (ties share a rank). Two window specs over the
    SAME partition key, so Catalyst plans one Exchange feeding two
    Window operators — ordering differences don't re-shuffle."""
    e = t(spark, sf_dir, "events")
    w_pr = W.partitionBy("event_type").orderBy("value", "event_id")
    w_dr = W.partitionBy("event_type").orderBy("value")
    return e.select(
        "event_id",
        "event_type",
        (F.floor(F.percent_rank().over(w_pr) * 1e6 + F.lit(0.5)) / 1e6).alias(
            "pr"
        ),
        F.dense_rank().over(w_dr).cast("long").alias("dr"),
    )


@query(
    "window_nth_value",
    oracle="""
    SELECT event_id, user_id,
           nth_value(value, 2) OVER w AS second_value,
           first_value(event_id) OVER w AS first_event,
           last_value(event_id) OVER w AS last_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING
                 AND UNBOUNDED FOLLOWING)
    """,
)
def window_nth_value(spark, sf_dir):
    """Positional window values (nth/first/last over the FULL frame):
    every event carries its user's second-ever value and first/last
    event ids — the "attach session landmarks to every row" shape.
    The unbounded-following frame forces full-partition
    materialization per key; one shuffle on user_id, bounded by the
    largest user's history (the documented skew knob)."""
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return e.select(
        "event_id",
        "user_id",
        F.nth_value("value", 2).over(w).alias("second_value"),
        F.first("event_id").over(w).alias("first_event"),
        F.last("event_id").over(w).alias("last_event"),
    )


@query(
    "window_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT event_id, user_id, ts, event_type,
             CASE WHEN ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS is_first
      FROM events
    )
    SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           event_type,
           CAST(SUM(is_first) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_types_so_far
    FROM flagged
    """,
)
def window_running_distinct(spark, sf_dir):
    """Running COUNT(DISTINCT event_type) per user — a frame no engine
    supports natively (``COUNT(DISTINCT) OVER (... ROWS ...)`` is
    rejected by both Spark and DuckDB), re-expressed exactly with the
    first-occurrence-flag trick: rank each (user, type) by time, flag
    rank 1, and running-SUM the flag over the user's timeline. Two
    window passes over the SAME user-hash shuffle (Catalyst chains
    them without a second exchange since the partition key prefix
    matches), zero state beyond the frame."""
    e = t(spark, sf_dir, "events")
    wt = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    flagged = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.row_number().over(wt) == 1, 1).otherwise(0).alias("is_first"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "event_type",
        F.sum("is_first").over(run).cast("long").alias("n_types_so_far"),
    )


@query(
    "window_max_drawdown",
    oracle="""
    WITH flow AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(ROUND(value, 2) AS DECIMAL(18,2))
                  ELSE -CAST(ROUND(value, 2) AS DECIMAL(18,2)) END AS f
      FROM events
    ), cum AS (
      SELECT user_id, ts, event_id,
             SUM(f) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c
      FROM flow
    ), dd AS (
      SELECT user_id, c,
             MAX(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak
      FROM cum
    )
    SELECT user_id,
           CAST(MAX(peak - c) AS DOUBLE) AS max_drawdown,
           CAST(MAX(peak) AS DOUBLE) AS peak_value,
           CAST(MAX(CASE WHEN peak - c = 0 THEN c END) AS DOUBLE)
             AS last_peak_cum
    FROM dd GROUP BY user_id
    """,
)
def window_max_drawdown(spark, sf_dir):
    """Maximum drawdown of each user's cumulative SIGNED flow (credits for purchase/signup events, debits
    for the rest — raw value is non-negative, which would make every
    drawdown vacuously zero) — the largest peak-to-trough fall the
    running total ever suffers, THE risk statistic for any
    monotone-hopeful cumulative series (P&L, cumulative reward,
    storage headroom). Two stacked windows over ONE
    user-hash sort: a running sum, then a running max of that sum;
    drawdown is their difference and one aggregation takes the max.

    Every step is DECIMAL-exact — running sums, running maxes, and
    differences of 2-dp decimals need no rounding convention at all,
    so the oracle match is exact by construction (the only operator
    family where even the ORDER of accumulation is provably
    irrelevant: max and sum over decimals commute exactly)."""
    e = t(spark, sf_dir, "events")
    frame = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    v = F.round("value", 2).cast("decimal(18,2)")
    flow = F.when(
        F.col("event_type").isin("purchase", "signup"), v
    ).otherwise(-v)
    cum = e.select(
        "user_id", "ts", "event_id", F.sum(flow).over(frame).alias("c")
    )
    # second window reuses the same partitioning AND sort — no new
    # Exchange, no new Sort (both windows order by (ts, event_id))
    dd = cum.withColumn("peak", F.max("c").over(frame))
    return dd.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("c")).cast("double").alias("max_drawdown"),
        F.max("peak").cast("double").alias("peak_value"),
        F.max(F.when(F.col("peak") - F.col("c") == 0, F.col("c")))
        .cast("double")
        .alias("last_peak_cum"),
    )


@query(
    "window_locf_fill",
    oracle="""
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM events
    """,
)
def window_locf_fill(spark, sf_dir):
    """Last-observation-carried-forward (IGNORE NULLS running
    last_value): each event carries the most recent purchase value of
    its user — the standard sparse-signal fill before feature joins.
    One window, one shuffle on user_id."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    signal = F.when(F.col("event_type") == "purchase", F.col("value"))
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.last(signal, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


# ---------------------------------------------------------------------------
# Exact rolling median over a row frame
# ---------------------------------------------------------------------------

RM_FRAME = 6  # preceding rows; frame = 6 PRECEDING .. CURRENT ROW


@query(
    "window_rolling_median",
    oracle=f"""
    WITH q AS (
      SELECT user_id, event_id, ts,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vq
      FROM events
    ), fr AS (
      SELECT user_id, event_id, ts,
             list_sort(list(vq) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {RM_FRAME} PRECEDING AND CURRENT ROW)) AS lst
      FROM q
    )
    SELECT user_id, event_id,
           strftime(ts, '{_TS_FMT_DUCK}') AS ts_s,
           CAST(len(lst) AS INT) AS n_frame,
           CAST(CASE WHEN len(lst) % 2 = 1
                THEN 2 * lst[(len(lst) + 1) // 2]
                ELSE lst[len(lst) // 2] + lst[len(lst) // 2 + 1]
           END AS BIGINT) AS med2_micro
    FROM fr
    """,
)
def window_rolling_median(spark, sf_dir):
    """Exact moving median of the event value over a trailing 7-row
    frame per user — the robust-smoothing primitive (a moving average
    distorts under spikes; the median doesn't). Spark has no exact
    percentile over a moving frame, so the frame materializes as a
    collected array, sorts, and indexes — correct because the frame is
    CONSTANT-BOUNDED (7 rows), so per-row state is O(frame), not
    O(partition).

    Cross-engine exactness: values floor-quantize to integer
    micro-units first, and the even-frame median is emitted as the
    SUM of the two middle elements (med2 = 2×median) — integer
    arithmetic end to end, no .5-tie or division divergence. One
    shuffle (hash by user), per-user sort; scales across users."""
    e = t(spark, sf_dir, "events")
    vq = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-RM_FRAME, 0)
    )
    lst = F.sort_array(F.collect_list(vq).over(w))
    n = F.size(F.col("lst"))
    mid_hi = F.floor((n + 1) / 2).cast("int")
    mid_lo = F.floor(n / 2).cast("int")
    med2 = F.when(
        n % 2 == 1, 2 * F.element_at("lst", mid_hi)
    ).otherwise(
        F.element_at("lst", mid_lo) + F.element_at("lst", mid_lo + 1)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
            lst.alias("lst"),
        )
        .select(
            "user_id",
            "event_id",
            "ts_s",
            n.cast("int").alias("n_frame"),
            med2.cast("long").alias("med2_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Hampel outlier filter (rolling median ± k·MAD)
# ---------------------------------------------------------------------------

HAMPEL_T = 3  # |x - med| > 3·MAD flags


@query(
    "window_hampel_outliers",
    oracle=f"""
    WITH q AS (
      SELECT user_id, event_id, ts,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vq
      FROM events
    ), fr AS (
      SELECT user_id, event_id, ts, vq,
             list_sort(list(vq) OVER w) AS lst
      FROM q
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {RM_FRAME} PRECEDING AND CURRENT ROW)
    ), med AS (
      SELECT user_id, event_id, ts, vq, lst,
             CASE WHEN len(lst) % 2 = 1
                  THEN 2 * lst[(len(lst) + 1) // 2]
                  ELSE lst[len(lst) // 2] + lst[len(lst) // 2 + 1]
             END AS med2
      FROM fr
    ), dev AS (
      SELECT user_id, event_id, ts, vq, med2,
             list_sort(list_transform(lst, x -> abs(2 * x - med2))) AS dl
      FROM med
    )
    SELECT user_id, event_id,
           strftime(ts, '{_TS_FMT_DUCK}') AS ts_s,
           CAST(vq AS BIGINT) AS vq_micro,
           CAST(med2 AS BIGINT) AS med2_micro,
           CAST(CASE WHEN len(dl) % 2 = 1
                THEN 2 * dl[(len(dl) + 1) // 2]
                ELSE dl[len(dl) // 2] + dl[len(dl) // 2 + 1]
           END AS BIGINT) AS mad4_micro,
           2 * abs(2 * vq - med2) > {HAMPEL_T} * (
             CASE WHEN len(dl) % 2 = 1
                  THEN 2 * dl[(len(dl) + 1) // 2]
                  ELSE dl[len(dl) // 2] + dl[len(dl) // 2 + 1] END)
             AS is_outlier
    FROM dev
    """,
)
def window_hampel_outliers(spark, sf_dir):
    """Hampel outlier filter: a point is anomalous when it deviates
    from its trailing-window MEDIAN by more than {HAMPEL_T}× the
    window's MAD — the robust replacement for the z-score filter
    (``anomaly_zscore_events``), immune to the outliers polluting
    their own baseline (a spike inflates a mean+stddev gate but
    barely moves median/MAD). The de-facto standard despiker for
    sensor and metrics streams.

    Integer-exact doubling cascade: med2 = 2·median,
    d = |2x − med2| = 2|x − med|, mad4 = med2-of-d = 4·MAD, and the
    flag is the cross-multiplied 2·d > {HAMPEL_T}·mad4 — no division
    anywhere. Same constant-bounded frame argument as
    ``window_rolling_median``: per-row state is O(frame), one hash
    shuffle by user."""
    e = t(spark, sf_dir, "events")
    vq = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-RM_FRAME, 0)
    )
    lst = F.sort_array(F.collect_list(vq).over(w))
    base = e.select(
        "user_id",
        "event_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        vq.alias("vq"),
        lst.alias("lst"),
    )

    def med2_of(arr):
        n = F.size(arr)
        hi = F.floor((n + 1) / 2).cast("int")
        lo = F.floor(n / 2).cast("int")
        return F.when(n % 2 == 1, 2 * F.element_at(arr, hi)).otherwise(
            F.element_at(arr, lo) + F.element_at(arr, lo + 1)
        )

    med = base.withColumn("med2", med2_of(F.col("lst")))
    dl = F.sort_array(
        F.transform(F.col("lst"), lambda x: F.abs(2 * x - F.col("med2")))
    )
    dev = med.withColumn("mad4", med2_of(dl))
    return dev.select(
        "user_id",
        "event_id",
        "ts_s",
        F.col("vq").cast("long").alias("vq_micro"),
        F.col("med2").cast("long").alias("med2_micro"),
        F.col("mad4").cast("long").alias("mad4_micro"),
        (
            2 * F.abs(2 * F.col("vq") - F.col("med2"))
            > HAMPEL_T * F.col("mad4")
        ).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Time-interval RANGE window frame
# ---------------------------------------------------------------------------


@query(
    "window_time_range_frame",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           CAST(COUNT(*) OVER w AS BIGINT) AS cnt_1h,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) OVER w AS BIGINT)
             AS sum_centi_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def window_time_range_frame(spark, sf_dir):
    """Time-interval RANGE window frame — the rolling trailing-hour
    aggregate stated as a frame bound (RANGE BETWEEN INTERVAL 1 HOUR
    PRECEDING), not a self-join: per user, how many events and how
    much quantized value landed in the 60 minutes up to each event.
    This is the sliding-window primitive behind rate limiting and
    velocity features; unlike ROWS frames the bound is a TIME span,
    so bursty users get wide frames and quiet users narrow ones, and
    timestamp peers enter the frame together (identical peer
    semantics on both engines). Scale shape: one shuffle on user_id,
    one per-partition time sort, frames advance with a two-pointer
    scan — no self-join blowup; the value is centi-quantized before
    the frame SUM so the aggregate is BIGINT-exact."""
    t(spark, sf_dir, "events").createOrReplaceTempView("events_trf_r7")
    return spark.sql(
        """
        SELECT event_id, user_id,
               date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts_s,
               CAST(COUNT(*) OVER w AS BIGINT) AS cnt_1h,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) OVER w AS BIGINT)
                 AS sum_centi_1h
        FROM events_trf_r7
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """
    )


# ---------------------------------------------------------------------------
# Rolling OLS slope (windowed regression as exact integer sums)
# ---------------------------------------------------------------------------

SLOPE_WIN = 7
SLOPE_MICRO = 1_000_000


@query(
    "window_rolling_slope",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(ts AS DATE) AS day,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS y
      FROM events GROUP BY 1, 2, 3
    ),
    sums AS (
      SELECT event_type, day,
             COUNT(*) OVER w AS n,
             SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
             SUM(x * y) OVER w AS sxy, SUM(x * x) OVER w AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {SLOPE_WIN - 1} PRECEDING AND CURRENT ROW)
    ),
    scaled AS (
      SELECT event_type, day,
             n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS den,
             (n * sxy - sx * sy) * {SLOPE_MICRO} AS snum
      FROM sums WHERE n = {SLOPE_WIN}
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(num AS BIGINT) AS slope_num,
           CAST(den AS BIGINT) AS slope_den,
           -- exact floor division: DuckDB // truncates on negatives
           CAST((snum - ((snum % den + den) % den)) // den AS BIGINT)
             AS slope_micro
    FROM scaled
    """,
)
def window_rolling_slope(spark, sf_dir):
    """Rolling OLS slope — the trailing-7-day linear trend of each
    event type's daily total, the windowed version of the
    ``agg_regr_slope`` aggregate (monitoring dashboards run exactly
    this: slope-over-trailing-window as the trend alarm). The closed
    form (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) needs only frame SUMs, so
    the plan is one daily partial aggregation then ONE window pass
    computing four running sums together — no self-join, no per-frame
    recompute. Everything stays BIGINT (days as integer x, values
    centi-quantized); the quotient is emitted as the exact num/den
    pair plus a FLOOR-division micro-slope (floor, not truncate:
    slopes go negative and the engines' integer `div` semantics
    differ — the (s − pmod)/n identity). Short leading frames are
    excluded (n = 7), the textbook trailing-window rule."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
    ).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("y")
    ).select(
        "event_type",
        "day",
        F.datediff("day", F.lit("2024-01-01")).cast("long").alias("x"),
        "y",
    )
    # bounded-by-construction: per-type daily frame (|days| rows)
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(SLOPE_WIN - 1), 0)
    )
    sums = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    ).filter(F.col("n") == SLOPE_WIN)
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        # exact floor division (negative numerators): (s - pmod(s, n)) / n
        F.expr(
            f"(({SLOPE_MICRO} * (n * sxy - sx * sy)) "
            f"- pmod({SLOPE_MICRO} * (n * sxy - sx * sy), n * sxx - sx * sx)) "
            f"div (n * sxx - sx * sx)"
        ).cast("long").alias("slope_micro"),
    )


# ---------------------------------------------------------------------------
# Marketing touch attribution (first-touch / last-touch credits)
# ---------------------------------------------------------------------------


@query(
    "window_touch_attribution",
    oracle="""
    WITH stream AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS tag
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    touched AS (
      SELECT event_type, user_id,
             FIRST_VALUE(CASE WHEN event_type IN ('view', 'click')
                              THEN event_type END IGNORE NULLS) OVER w
               AS first_touch,
             LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS) OVER w
               AS last_touch
      FROM stream
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    p AS (SELECT * FROM touched WHERE event_type = 'purchase')
    SELECT 'first_touch' AS model,
           COALESCE(first_touch, 'none') AS channel,
           CAST(COUNT(*) AS BIGINT) AS credits
    FROM p GROUP BY 2
    UNION ALL
    SELECT 'last_touch' AS model,
           COALESCE(last_touch, 'none') AS channel,
           CAST(COUNT(*) AS BIGINT) AS credits
    FROM p GROUP BY 2
    """,
)
def window_touch_attribution(spark, sf_dir):
    """Marketing touch attribution — credit each conversion
    (purchase) to the user's FIRST and LAST preceding marketing touch
    (view/click), the two bookend models every attribution system
    ships first. Same single-pass shape as ``join_pit_feature_store``:
    both touch columns resolve in ONE user-partitioned window over
    the unioned stream (IGNORE NULLS first/last), so adding models
    costs columns, not shuffles; conversions with no prior touch
    credit the 'none' channel (the unattributable bucket every real
    report needs). Touch rows order before conversions on equal ts
    via an explicit tag. Output: credits per (model, channel) —
    two tiny aggregations over the filtered conversions."""
    e = t(spark, sf_dir, "events")
    stream = e.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("tag"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"), F.col("event_type")
    )
    p = (
        stream.withColumn(
            "first_touch", F.first(touch, ignorenulls=True).over(w)
        )
        .withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
    )
    first = p.groupBy(
        F.coalesce("first_touch", F.lit("none")).alias("channel")
    ).agg(F.count(F.lit(1)).cast("long").alias("credits")).select(
        F.lit("first_touch").alias("model"), "channel", "credits"
    )
    last = p.groupBy(
        F.coalesce("last_touch", F.lit("none")).alias("channel")
    ).agg(F.count(F.lit(1)).cast("long").alias("credits")).select(
        F.lit("last_touch").alias("model"), "channel", "credits"
    )
    return first.unionByName(last)
