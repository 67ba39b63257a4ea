"""Event-time windowing over ``events`` — batch twins of the streaming
operators (SURVEY.md §2B "Streaming" rows).

The same logical windows run as Structured Streaming in
``caliper_poc_data_etl_spark.streaming``; here they run in batch so the
DuckDB oracle can check the window semantics exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.kernels import fround, topk
from caliper_poc_data_etl_spark.queries.registry import query, t

FMT_S = "yyyy-MM-dd HH:mm:ss"
FMT_D = "%Y-%m-%d %H:%M:%S"


@query(
    "ts_tumbling_window",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{FMT_D}') AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ts_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour event-time windows per event type."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", FMT_S).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "ts_sliding_window",
    oracle=f"""
    WITH expanded AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS w0, * FROM events
    ), windows AS (
      SELECT w0 AS window_start, * FROM expanded
      UNION ALL
      SELECT w0 - INTERVAL '30 minutes' AS window_start, * FROM expanded
    )
    SELECT strftime(window_start, '{FMT_D}') AS window_start,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM windows
    GROUP BY 1
    """,
)
def ts_sliding_window(spark, sf_dir):
    """Sliding windows (1 h size, 30 min slide): each event lands in 2
    windows; Spark's window() emits them directly."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", FMT_S).alias("window_start"),
            "n",
            "total_value",
        )
    )


@query(
    "ts_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_seq
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def ts_session_window(spark, sf_dir):
    """Session windows (30-min gap) via F.session_window — the native
    batch form of the streaming session operator.

    Boundary convention: Spark session_window MERGES sessions whose
    intervals touch — an event at EXACTLY last_ts + 30 min EXTENDS the
    session (closed merge, pinned by
    tests/test_streaming.py::test_session_window_exact_boundary_convention
    against a hand-built exact-gap fixture; the sf data has no exact
    boundaries, so only the fixture exercises it). The oracle's LAG
    flag therefore uses strict ``>`` — a new session only when the gap
    EXCEEDS 30 min. Every sessionization op in the engine
    (window_sessionize, ts_user_trajectory, streaming
    sessionized_values) pins this same convention.
    """
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            "n_events",
            "session_value",
        )
    )


@query(
    "ts_first_last_by_time",
    oracle="""
    SELECT user_id,
           arg_min(value, ts) AS first_value,
           arg_max(value, ts) AS last_value,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           COUNT(*) AS n
    FROM events GROUP BY user_id
    """,
)
def ts_first_last_by_time(spark, sf_dir):
    """Time-ordered first/last per key (min_by/max_by)."""
    e = t(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return e.groupBy("user_id").agg(
        F.min_by("value", "ts").alias("first_value"),
        F.max_by("value", "ts").alias("last_value"),
        F.date_format(F.min("ts"), fmt).alias("first_ts"),
        F.date_format(F.max("ts"), fmt).alias("last_ts"),
        F.count("*").alias("n"),
    )


@query(
    "ts_rate_per_day",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
    FROM events GROUP BY 1, 2
    """,
)
def ts_rate_per_day(spark, sf_dir):
    """Daily event counts + distinct users (DAU) — the rollup shape."""
    e = t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("dau"))


@query(
    "ts_gap_fill_daily",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ), days AS (
      SELECT user_id,
             unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM span
    )
    SELECT days.user_id,
           strftime(days.day, '%Y-%m-%d') AS day,
           CAST(COALESCE(daily.n, 0) AS BIGINT) AS n
    FROM days LEFT JOIN daily USING (user_id, day)
    """,
)
def ts_gap_fill_daily(spark, sf_dir):
    """Gap-filled daily counts per user: every calendar day between a
    user's first and last event appears, missing days as 0 — the
    resample/densify step before any per-day trend or rate model.

    Scale shape: the calendar is GENERATED per user with
    ``sequence()`` + ``explode`` (rows ≈ users × span-days, built
    executor-side — never a driver-side date loop) and left-joined to
    the observed dailies; both sides hash-partition on user_id, so the
    fill is one co-partitioned shuffle, no crossJoin against a global
    calendar dimension."""
    e = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    daily = e.groupBy("user_id", "day").agg(F.count("*").alias("n"))
    days = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
        )
    )
    return days.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("n", F.lit(0)).alias("n"),
    )


@query(
    "ts_ohlc_daily",
    oracle="""
    SELECT user_id,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           ROUND(arg_min(value, ts), 4) AS open,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low,
           ROUND(arg_max(value, ts), 4) AS close,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def ts_ohlc_daily(spark, sf_dir):
    """Daily OHLC downsampling per user (open = value at first event
    of the day, close = at last): the classic time-series compaction —
    one hash aggregation, no window, no sort. ``min_by``/``max_by``
    are single-pass algebraic aggregates, so this keeps map-side
    partial aggregation even at 100 TB. (user_id, ts) is unique in
    the fixtures; at scale an event_id tiebreak would be folded into
    the ordering key."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.round(F.min_by("value", "ts"), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", "ts"), 4).alias("close"),
            F.count("*").alias("n"),
        )
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "open",
            "high",
            "low",
            "close",
            "n",
        )
    )


@query(
    "ts_month_over_month",
    oracle="""
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT month,
           CAST(rev AS DOUBLE) AS revenue,
           ROUND((CAST(rev AS DOUBLE)
                  - CAST(LAG(rev) OVER (ORDER BY month) AS DOUBLE))
                 / CAST(LAG(rev) OVER (ORDER BY month) AS DOUBLE), 6) AS mom_pct
    FROM m
    """,
)
def ts_month_over_month(spark, sf_dir):
    """Monthly revenue + month-over-month percent change — the trend
    report shape. Revenue sums in DECIMAL (exact, order-independent
    across partitions/engines); the lag window runs AFTER aggregation
    over one row per month, so the unpartitioned ORDER BY window is
    driver-scale by construction, not a single-reducer pass over the
    fact table."""
    o = t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = W.orderBy("month")
    rev = F.col("rev").cast("double")
    prev = F.lag(F.col("rev")).over(w).cast("double")
    return m.select(
        "month",
        rev.alias("revenue"),
        F.round((rev - prev) / prev, 6).alias("mom_pct"),
    )


@query(
    "dedup_events_throttle",
    oracle="""
    SELECT user_id, event_type, event_id FROM (
      SELECT user_id, event_type, event_id,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id, event_type
                                                   ORDER BY ts, event_id)) AS gap_us
      FROM events
    ) WHERE gap_us IS NULL OR gap_us > 300000000
    """,
)
def dedup_events_throttle(spark, sf_dir):
    """Time-windowed event dedup (throttle): keep an event only if the
    previous event of the same (user, type) is more than 5 minutes
    older — the batch twin of ``stream_dedup_within_watermark`` and the
    standard duplicate-burst suppressor for at-least-once event
    streams. One lag window keyed on (user_id, event_type): a single
    shuffle, no self-join.

    SEMANTICS (deliberate): the gate compares against the previous RAW
    event, not the last KEPT one — a steady sub-5-minute stream is
    suppressed INDEFINITELY after its first event (every event sees a
    recent predecessor). That is the right shape for "collapse retry
    bursts"; for rate-limiting semantics (emit at most one event per 5
    minutes while activity continues) see
    :func:`dedup_events_throttle_lastkept`, which gates on the last
    kept event and is inherently a stateful scan."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    return (
        e.withColumn("gap_us", gap)
        .filter(F.col("gap_us").isNull() | (F.col("gap_us") > 300_000_000))
        .select("user_id", "event_type", "event_id")
    )


@query(
    "dedup_events_throttle_lastkept",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS tus,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), walk AS (
      SELECT user_id, event_type, event_id, tus, rn,
             tus AS last_kept, TRUE AS kept
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.event_type, e.event_id, e.tus, e.rn,
             CASE WHEN e.tus - w.last_kept > 300000000
                  THEN e.tus ELSE w.last_kept END,
             e.tus - w.last_kept > 300000000
      FROM ev e JOIN walk w
        ON e.user_id = w.user_id AND e.event_type = w.event_type
       AND e.rn = w.rn + 1
    )
    SELECT user_id, event_type, event_id FROM walk WHERE kept
    """,
)
def dedup_events_throttle_lastkept(spark, sf_dir):
    """Rate-limit throttle gating on the last KEPT event: emit an
    event iff it is >5 minutes after the previously EMITTED event of
    its (user, type) — at most ~one event per window while activity
    continues, the conventional rate-limiter semantics (contrast
    :func:`dedup_events_throttle`, which gates on the raw predecessor
    and suppresses steady streams indefinitely).

    The kept-set is a GREEDY sequential scan — each decision depends
    on the previous decision, so no finite window/lag composition
    expresses it. This is the documented Pandas-UDF escape hatch
    (SURVEY §2B "UDF escape hatch"): ``applyInPandas`` per (user,
    type) group, Arrow-batched, linear in group size; groups are
    bounded (one user-type's events), so no skew pathology. The
    streaming twin (`streaming/stateful.py::throttled_events`) holds
    the same one-long state per key. Oracle: recursive CTE walking
    rn+1 per group — engine-exact, integer-microsecond arithmetic."""
    import pandas as pd

    e = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("tus")
    )

    def _walk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(["tus", "event_id"])
        tus_arr = pdf["tus"].to_numpy()
        # Linear boolean mask, not .isin(kept): isin re-scans the kept
        # list per row (O(n*k) per group; measured as most of this
        # entry's 18 s at sf0.1).
        mask = np.zeros(len(tus_arr), dtype=bool)
        last = None
        for i, tus in enumerate(tus_arr):
            if last is None or tus - last > 300_000_000:
                mask[i] = True
                last = tus
        out = pdf[mask]
        return out[["user_id", "event_type", "event_id"]]

    return e.groupBy("user_id", "event_type").applyInPandas(
        _walk, schema="user_id long, event_type string, event_id long"
    )


@query(
    "window_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), rn AS (
      SELECT user_id, d,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
      FROM days
    ), isl AS (
      SELECT user_id, d - CAST(rn AS INT) AS anchor, COUNT(*) AS len
      FROM rn GROUP BY user_id, d - CAST(rn AS INT)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS max_streak,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM isl GROUP BY user_id
    """,
)
def window_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: consecutive-active-day streaks per user via
    the rn-difference trick (a run of consecutive days maps to one
    shared anchor ``day - row_number``), then two hash aggs. The whole
    chain — distinct, window, both aggs — keys on user_id, so one
    shuffle's partitioning serves every stage. The canonical
    sessionize-without-timestamps pattern (billing periods, streak
    badges, SLA windows)."""
    e = t(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    isl = (
        days.withColumn("rn", F.row_number().over(w))
        .groupBy("user_id", F.date_sub(F.col("d"), F.col("rn")).alias("anchor"))
        .agg(F.count("*").alias("len"))
    )
    return isl.groupBy("user_id").agg(
        F.count("*").alias("n_streaks"),
        F.max("len").alias("max_streak"),
        F.sum("len").alias("active_days"),
    )


@query(
    "ts_retention_cohorts",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id,
             date_trunc('week', CAST(ts AS DATE)) AS wk
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(wk) AS wk0 FROM activity GROUP BY user_id
    )
    SELECT strftime(c.wk0, '%Y-%m-%d') AS cohort_week,
           CAST(FLOOR(datediff('day', c.wk0, a.wk) / 7.0) AS INT)
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS active_users
    FROM activity a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def ts_retention_cohorts(spark, sf_dir):
    """Weekly retention cohorts: each user joins the cohort of their
    first active ISO week; cell (cohort_week, offset) counts users
    still active offset weeks later — the standard retention triangle.
    activity/cohort/join/agg all key on user_id or the tiny
    (cohort, offset) space; offsets are exact multiples of 7 days so
    the division is exact integer-valued arithmetic on both engines.
    Monday-start date_trunc('week') agrees between Spark and DuckDB."""
    e = t(spark, sf_dir, "events")
    activity = e.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk")
    ).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("wk").alias("wk0"))
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            F.date_format("wk0", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff("wk", "wk0") / 7.0).cast("int").alias("week_offset"),
        )
        .agg(F.count("*").alias("active_users"))
    )


@query(
    "ts_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT prev AS from_type, event_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    """,
)
def ts_event_transitions(spark, sf_dir):
    """First-order event-transition counts (the Markov matrix of user
    behavior): lag the per-user ordered event stream, count (from, to)
    pairs. One window shuffle on user_id, then a hash agg into the
    |types|² matrix — the input to next-action models and funnel
    anomaly detection."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    )
    return (
        seq.filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )


@query(
    "ts_inter_event_gap_stats",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             CAST(epoch_us(ts) - epoch_us(
               LAG(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id)) AS DOUBLE) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           FLOOR(quantile_cont(gap_us, 0.5) / 1e6 * 1e3 + 0.5) / 1e3
             AS p50_sec,
           FLOOR(quantile_cont(gap_us, 0.9) / 1e6 * 1e3 + 0.5) / 1e3
             AS p90_sec,
           FLOOR(quantile_cont(gap_us, 0.99) / 1e6 * 1e3 + 0.5) / 1e3
             AS p99_sec
    FROM gaps WHERE gap_us IS NOT NULL GROUP BY event_type
    """,
)
def ts_inter_event_gap_stats(spark, sf_dir):
    """Inter-arrival-time quantiles per event type (p50/p90/p99 of the
    gap between consecutive same-user same-type events) — the arrival-
    process profile behind rate limiting and session-gap tuning. Gaps
    are exact integer microseconds; Spark's percentile() and DuckDB's
    quantile_cont interpolate identically on them (the
    doc_length_pctl_filter precedent)."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
        .cast("double")
        .alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    r3 = lambda c: F.floor(c / 1e6 * 1e3 + F.lit(0.5)) / 1e3  # noqa: E731
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        r3(F.expr("percentile(gap_us, 0.5)")).alias("p50_sec"),
        r3(F.expr("percentile(gap_us, 0.9)")).alias("p90_sec"),
        r3(F.expr("percentile(gap_us, 0.99)")).alias("p99_sec"),
    )


@query(
    "anomaly_mad_events",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ), mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, ROUND(d.value, 4) AS value,
           FLOOR((d.med + 3 * 1.4826 * m2.mad) * 1e4 + 0.5) / 1e4
             AS hi_fence
    FROM dev d JOIN mad m2 ON d.event_type = m2.event_type
    WHERE d.value > d.med + 3 * 1.4826 * m2.mad
       OR d.value < d.med - 3 * 1.4826 * m2.mad
    """,
)
def anomaly_mad_events(spark, sf_dir):
    """Median-absolute-deviation outliers per event type (median ±
    3·1.4826·MAD) — the third robustness tier next to z-score (moment-
    based) and IQR (quartile-based): MAD's 50% breakdown point
    survives even half the data being garbage. Two percentile passes
    (median, then median of absolute deviations) with the per-type
    fences broadcast back over the scan; exact interpolated
    percentiles match quantile_cont cross-engine."""
    e = t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    fence = 3 * 1.4826 * F.col("mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(
            (F.col("value") > F.col("med") + fence)
            | (F.col("value") < F.col("med") - fence)
        )
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            (F.floor((F.col("med") + fence) * 1e4 + F.lit(0.5)) / 1e4).alias(
                "hi_fence"
            ),
        )
    )


@query(
    "ts_resample_linear_interp",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             FLOOR(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*) * 1e4 + 0.5) / 1e4 AS v
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ), grid AS (
      SELECT span.user_id,
             unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM span
    ), joined AS (
      SELECT grid.user_id, grid.day, daily.v
      FROM grid LEFT JOIN daily USING (user_id, day)
    ), bounded AS (
      SELECT user_id, day, v,
        last_value(v IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(v IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM joined
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           (v IS NOT NULL) AS observed,
           FLOOR((CASE
             WHEN v IS NOT NULL THEN v
             ELSE pv + (nv - pv) * (day - pd) * 1.0 / (nd - pd)
           END) * 1e4 + 0.5) / 1e4 AS value_interp
    FROM bounded
    """,
)
def ts_resample_linear_interp(spark, sf_dir):
    """Daily resample with LINEAR interpolation: densify each user's
    series to a full calendar grid, then fill missing days on the
    straight line between the surrounding observations (the step up
    from LOCF, ``window_locf_fill``) — the standard irregular→regular
    conditioning pass before any fixed-step sequence model.

    Scale shape: grid generation is ``sequence()``+``explode`` per
    user (no global calendar dim, no crossJoin); the prev/next anchors
    are two ignore-nulls running windows over the SAME user-partitioned
    sort, so the whole fill costs one shuffle on user_id. Interior
    days always have both anchors (the grid is bounded by each user's
    first/last observation), so no edge NULLs survive.

    Cross-engine determinism: the daily mean accumulates in
    DECIMAL(18,4) on both sides; the interpolation itself is a single
    IEEE multiply-divide chain on identical inputs, bit-identical
    across engines."""
    e = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "value"
    )
    # The daily mean divides a DECIMAL sum by a count: decimal
    # division scale/rounding rules differ across engines (caught by
    # the sf0.1 sweep on an observed row), so cast the exact sum to
    # double FIRST and floor-round the identical IEEE quotient.
    daily = e.groupBy("user_id", "day").agg(
        (
            F.floor(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
                / F.count("*")
                * F.lit(1e4)
                + F.lit(0.5)
            )
            / F.lit(1e4)
        ).alias("v")
    )
    grid = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
        )
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    asc = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    desc = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    vday = F.when(F.col("v").isNotNull(), F.col("day"))
    b = j.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(asc).alias("pv"),
        F.last(vday, ignorenulls=True).over(asc).alias("pd"),
        F.first("v", ignorenulls=True).over(desc).alias("nv"),
        F.first(vday, ignorenulls=True).over(desc).alias("nd"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * F.datediff(
        F.col("day"), F.col("pd")
    ) / F.datediff(F.col("nd"), F.col("pd"))
    # Floor-rounding convention (anomaly_mad_events precedent): the
    # interpolated value lands EXACTLY on .xxxx5 whenever the gap
    # divides the 4-dp delta evenly (a 2-day gap ties every time), and
    # ROUND's tie rule differs across engines; floor(x·1e4 + 0.5) is
    # the same IEEE op chain on both sides.
    val = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp)
    return b.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("v").isNotNull().alias("observed"),
        (F.floor(val * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)).alias(
            "value_interp"
        ),
    )


EWMA_LOOKBACK = 32  # a=1/2 EWMA: 0.5^32 ≈ 2e-10 — earlier terms are noise


@query(
    "ts_ewma_smoothing",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rfrom_end
      FROM events
    ), kept AS (
      SELECT user_id, value, rfrom_end,
             COUNT(*) OVER (PARTITION BY user_id) AS m
      FROM ordered WHERE rfrom_end <= {EWMA_LOOKBACK}
    ), terms AS (
      SELECT user_id, m,
        CAST(FLOOR(value * (CASE WHEN rfrom_end = m
                 THEN 1.0 / CAST(1::BIGINT << (m - 1) AS DOUBLE)
                 ELSE 1.0 / CAST(1::BIGINT << rfrom_end AS DOUBLE) END)
                 * 1e12 + 0.5)
             AS DECIMAL(38,0)) AS term
      FROM kept
    )
    SELECT user_id, CAST(MAX(m) AS BIGINT) AS n_terms,
           FLOOR(CAST(SUM(term) AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6 AS ewma
    FROM terms GROUP BY user_id
    """,
)
def ts_ewma_smoothing(spark, sf_dir):
    """Per-user exponentially-weighted moving average (α=1/2) of event
    values — the classic smoother behind rate limiting, trend
    detection, and metric dashboards. Recursive form
    ``s_i = α·x_i + (1-α)·s_{i-1}`` is re-expressed CLOSED-FORM as a
    weighted sum (weight ``0.5^k`` for the k-th most recent event,
    ``0.5^(m-1)`` for the oldest kept), so the whole thing is one hash
    aggregation — no sequential fold, no UDF, no per-user iteration.
    The lookback truncates at 32 events: with α=1/2 the
    dropped tail weighs < 2⁻³². 

    Cross-engine determinism: α=1/2 makes every weight an exact dyadic
    (computed as ``1 / (1 << k)`` — no ``pow()``, whose last-ulp
    behavior differs between libm and the JVM); each term is
    floor-quantized to integer PICO-units (floor(x·1e12 + 0.5) — the
    repo's floor convention; ROUND on doubles diverges on
    shortest-repr ties) and the sum accumulates exactly in
    DECIMAL(38,0). term·1e12 < 2.8e14 ≪ 2⁵³, so every step is
    IEEE-identical across engines."""
    e = t(spark, sf_dir, "events")
    kept = (
        topk(
            e,
            ["user_id"],
            [F.col("ts").desc(), F.col("event_id").desc()],
            EWMA_LOOKBACK,
            rank="rfrom_end",
        )
        .select("user_id", "value", "rfrom_end")
        .withColumn("m", F.count("*").over(W.partitionBy("user_id")))
    )
    kept = kept.withColumn(
        "k",
        F.when(F.col("rfrom_end") == F.col("m"), F.col("m") - 1).otherwise(
            F.col("rfrom_end")
        ),
    )
    weight = F.expr("1.0 / cast(shiftleft(cast(1 as bigint), k) as double)")
    term = F.floor(F.col("value") * weight * F.lit(1e12) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    return (
        kept.select("user_id", "m", term.alias("term"))
        .groupBy("user_id")
        .agg(
            F.max("m").cast("long").alias("n_terms"),
            (
                F.floor(
                    F.sum("term").cast("double")
                    / F.lit(1e12)
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("ewma"),
        )
    )


@query(
    "ts_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS v
      FROM events GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, day, v,
             ROW_NUMBER() OVER w AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(v) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c,
             SUM(v) OVER (PARTITION BY event_type) AS total
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), scored AS (
      SELECT event_type, day,
             ABS(CAST(n * c - i * total AS DOUBLE)) AS dev,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY ABS(CAST(n * c - i * total AS DOUBLE)) DESC, day)
               AS rk
      FROM cum
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS change_day,
           ROUND(dev, 2) AS max_abs_dev
    FROM scored WHERE rk = 1
    """,
)
def ts_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection per event type: the day where the
    cumulative daily total deviates most from the constant-rate line —
    argmax |n·C_i − i·T| (the CUSUM statistic cross-multiplied so
    everything left of the final ABS is exact integer×DECIMAL
    arithmetic; the naive form C_i − i·(T/n) would put an
    order-sensitive double inside the running scan). Level shifts in
    event volume — deploy regressions, traffic breaks, data-feed
    outages — land exactly at the argmax.

    One daily aggregation + three windows over the same
    event_type-partitioned sort; linear, single shuffle, no O(n²)
    split-scan."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round("value", 2).cast("decimal(18,2)")).alias("v"))
    wt = W.partitionBy("event_type")
    word = wt.orderBy("day")
    cum = daily.select(
        "event_type",
        "day",
        F.row_number().over(word).alias("i"),
        F.count("*").over(wt).alias("n"),
        F.sum("v")
        .over(word.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("c"),
        F.sum("v").over(wt).alias("total"),
    )
    dev = F.abs(
        (F.col("n") * F.col("c") - F.col("i") * F.col("total")).cast("double")
    )
    return topk(
        cum.withColumn("dev", dev), ["event_type"], [F.desc("dev"), "day"], 1
    ).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("change_day"),
        F.round("dev", 2).alias("max_abs_dev"),
    )


@query(
    "window_longest_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), grouped AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                        AS INT) AS grp
      FROM days
    ), streaks AS (
      SELECT user_id, COUNT(*) AS len, MIN(day) AS streak_start
      FROM grouped GROUP BY user_id, grp
    )
    SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
           strftime(MIN(streak_start) FILTER (
             WHERE len = (SELECT MAX(s2.len) FROM streaks s2
                          WHERE s2.user_id = streaks.user_id)), '%Y-%m-%d')
             AS streak_start
    FROM streaks GROUP BY user_id
    """,
)
def window_longest_streak(spark, sf_dir):
    """Longest run of CONSECUTIVE active days per user (and when it
    began) — the engagement-streak metric. Classic gaps-and-islands:
    day − row_number collapses each consecutive run to a constant
    group key, so the whole computation is two hash aggregations and
    one window over the same user-partitioned sort; earliest streak
    wins ties."""
    e = t(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    grp = F.date_sub(
        F.col("day"),
        F.row_number().over(W.partitionBy("user_id").orderBy("day")),
    )
    streaks = (
        days.withColumn("grp", grp)
        .groupBy("user_id", "grp")
        .agg(F.count("*").alias("len"), F.min("day").alias("streak_start"))
    )
    best = F.max("len").over(W.partitionBy("user_id"))
    return (
        streaks.withColumn("best", best)
        .filter(F.col("len") == F.col("best"))
        .groupBy("user_id")
        .agg(
            F.max("len").cast("long").alias("longest_streak"),
            F.date_format(F.min("streak_start"), "yyyy-MM-dd").alias(
                "streak_start"
            ),
        )
    )


@query(
    "ts_event_sequence_pattern",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_type,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3,
             LEAD(ts, 2) OVER w AS ts3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_patterns,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_match_start
    FROM seq
    WHERE event_type = 'view' AND e2 = 'click' AND e3 = 'purchase'
      AND epoch_us(ts3) - epoch_us(ts) <= 86400000000
    GROUP BY user_id
    """,
)
def ts_event_sequence_pattern(spark, sf_dir):
    """Sequence-pattern matching (the MATCH_RECOGNIZE / CEP shape):
    count, per user, the strictly CONSECUTIVE view→click→purchase
    triples completing within 24 hours — no other event may interleave
    (that's what distinguishes pattern matching from the funnel ops,
    which only need ordered existence). Expressed as a lead-chain over
    the per-user timeline: one window, three comparisons, no joins —
    the pattern automaton flattened into the frame. At 100 TB this is
    one shuffle on user_id; an n-step pattern costs n-1 leads over the
    SAME sort, not n scans."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "ts",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.lead("ts", 2).over(w).alias("ts3"),
    )
    hit = (
        (F.col("event_type") == "view")
        & (F.col("e2") == "click")
        & (F.col("e3") == "purchase")
        & (F.unix_micros("ts3") - F.unix_micros("ts") <= 86_400_000_000)
    )
    return (
        seq.filter(hit)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_patterns"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "first_match_start"
            ),
        )
    )


@query(
    "ts_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY 1
    ), trended AS (
      SELECT day, v,
             CAST(dayofweek(day) + 1 AS INT) AS dow,  -- Spark: 1=Sunday
             CASE WHEN COUNT(*) OVER w = 7 THEN
               FLOOR(CAST(SUM(CAST(ROUND(v, 2) AS DECIMAL(18,2))) OVER w
                     AS DOUBLE) / 7 * 1e4 + 0.5) / 1e4
             END AS trend
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detrended AS (
      SELECT *, FLOOR((v - trend) * 1e4 + 0.5) / 1e4 AS detr
      FROM trended WHERE trend IS NOT NULL
    ), seasonal AS (
      SELECT dow,
             FLOOR(CAST(SUM(CAST(detr AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*) * 1e4 + 0.5) / 1e4 AS s
      FROM detrended GROUP BY dow
    )
    SELECT d.day AS day_str, d.dow, ROUND(d.v, 2) AS observed,
           d.trend, se.s AS seasonal,
           FLOOR((d.detr - se.s) * 1e4 + 0.5) / 1e4 AS residual
    FROM detrended d JOIN seasonal se USING (dow)
    """,
)
def ts_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition of the daily total
    (weekly period): trend = centered 7-day moving average, seasonal =
    per-day-of-week mean of the detrended series, residual = the rest
    — observed ≡ trend + seasonal + residual by construction (pinned
    in pytest). The conditioning step behind anomaly detection on
    seasonal metrics (is Monday low, or is the METRIC low?).

    Scale shape: one daily rollup, one 7-row window, one 7-group
    aggregate, one broadcast join back — each stage bounded by days,
    not events. Determinism: every mean divides a DECIMAL-exact sum
    cast to double, floor-rounded; edge days
    without a full 7-day window are excluded (COUNT(*) OVER = 7), the
    textbook centered-MA boundary rule."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round("value", 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("v")
    )
    w = W.orderBy("day").rowsBetween(-3, 3)

    trended = daily.select(
        "day",
        "v",
        F.dayofweek("day").cast("int").alias("dow"),
        F.when(
            F.count("*").over(w) == 7,
            fround(
                F.sum(F.round("v", 2).cast("decimal(18,2)")).over(w)
                .cast("double")
                / 7
            ),
        ).alias("trend"),
    )
    detrended = trended.filter(F.col("trend").isNotNull()).withColumn(
        "detr", fround(F.col("v") - F.col("trend"))
    )
    seasonal = detrended.groupBy("dow").agg(
        fround(
            F.sum(F.col("detr").cast("decimal(18,4)")).cast("double")
            / F.count("*")
        ).alias("s")
    )
    return (
        detrended.join(F.broadcast(seasonal), "dow")
        .select(
            F.col("day").alias("day_str"),
            "dow",
            F.round("v", 2).alias("observed"),
            "trend",
            F.col("s").alias("seasonal"),
            fround(F.col("detr") - F.col("s")).alias("residual"),
        )
    )


_ACF_MAX_LAG = 7


def _acf_oracle() -> str:
    lags = []
    for k in range(1, _ACF_MAX_LAG + 1):
        lags.append(f"""
    SELECT {k} AS lag,
           FLOOR((sxy{k} - xbar * (s_head{k} + s_tail{k}) + (n - {k}) * xbar * xbar)
                 / (sxx - 2 * xbar * sx + n * xbar * xbar) * 1e4 + 0.5) / 1e4
             AS acf
    FROM m""")
    head = f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS v,
             ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) AS i
      FROM events GROUP BY 1
    ), lagged AS (
      SELECT d.i, d.v{"".join(
        f", LEAD(d.v, {k}) OVER (ORDER BY d.i) AS v{k}" for k in range(1, _ACF_MAX_LAG + 1)
      )}
      FROM daily d
    ), m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(v, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ROUND(v * v, 4) AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ROUND(v, 2) AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS xbar{"".join(
        f''',
             CAST(SUM(CAST(ROUND(v * v{k}, 4) AS DECIMAL(28,4))) AS DOUBLE)
               AS sxy{k},
             CAST(SUM(CASE WHEN v{k} IS NOT NULL
                  THEN CAST(ROUND(v, 2) AS DECIMAL(18,2)) END) AS DOUBLE)
               AS s_head{k},
             CAST(SUM(CAST(ROUND(v{k}, 2) AS DECIMAL(18,2))) AS DOUBLE)
               AS s_tail{k}''' for k in range(1, _ACF_MAX_LAG + 1)
      )}
      FROM lagged
    )"""
    return head + "\n    UNION ALL".join(lags)


@query("ts_acf_autocorrelation", oracle=_acf_oracle())
def ts_acf_autocorrelation(spark, sf_dir):
    """Autocorrelation function of the daily total at lags 1–7 — the
    diagnostic that detects weekly seasonality (a lag-7 spike) and
    persistence before any forecasting model is chosen; the companion
    readout to ``ts_seasonal_decompose``'s fixed weekly assumption.

    The centered products expand by the moment identity
    Σ(x−x̄)(y−x̄) = Σxy − x̄(Σx_head+Σx_tail) + m·x̄², so every sum is a
    DECIMAL-exact aggregate of per-row 2–4-dp-rounded terms and the
    closing algebra is one identical IEEE chain per lag — no
    order-dependent centered accumulation. One daily rollup + one
    7-lead window + one aggregation; output is 7 rows regardless of
    history length."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round("value", 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("v")
        )
    )
    w = W.orderBy("day")
    lagged = daily.select(
        "v",
        *[
            F.lead("v", k).over(w).alias(f"v{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )

    # Parsed-expression aggregates (the similarity.py recipe): one
    # py4j round-trip per column instead of ~10 per dsum Column chain.
    # Same operators after parsing (round → CAST(DECIMAL) → sum →
    # CAST(DOUBLE)), so the decimal-exact sums and the per-lag IEEE
    # closing algebra are bit-identical.
    def dsum_sql(e, prec, scale):
        return (
            f"CAST(sum(CAST(round({e}, {scale}) "
            f"AS DECIMAL({prec},{scale}))) AS DOUBLE)"
        )

    aggs = [
        F.count("*").alias("n"),
        F.expr(dsum_sql("v", 18, 2)).alias("sx"),
        F.expr(dsum_sql("v * v", 28, 4)).alias("sxx"),
    ]
    for k in range(1, _ACF_MAX_LAG + 1):
        aggs += [
            F.expr(dsum_sql(f"v * v{k}", 28, 4)).alias(f"sxy{k}"),
            F.expr(
                f"CAST(sum(CASE WHEN v{k} IS NOT NULL THEN "
                "CAST(round(v, 2) AS DECIMAL(18,2)) END) AS DOUBLE)"
            ).alias(f"s_head{k}"),
            F.expr(dsum_sql(f"v{k}", 18, 2)).alias(f"s_tail{k}"),
        ]
    m = lagged.agg(*aggs).withColumn("xbar", F.col("sx") / F.col("n"))
    rows = None
    for k in range(1, _ACF_MAX_LAG + 1):
        r = m.select(
            F.lit(k).alias("lag"),
            F.expr(
                f"floor((sxy{k} - xbar * (s_head{k} + s_tail{k}) "
                f"+ (n - {k}) * xbar * xbar) "
                f"/ (sxx - 2 * xbar * sx + n * xbar * xbar) "
                "* 1e4 + 0.5D) / 1e4"
            ).alias("acf"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows


_FC_HORIZON = 7


@query(
    "ts_seasonal_naive_forecast",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS v,
             ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) AS i
      FROM events GROUP BY 1
    ), anchor AS (
      SELECT MAX(day) AS last_day, MAX(i) AS n FROM daily
    ), drift AS (
      SELECT FLOOR((lastv - firstv) / (n - 1) * 1e4 + 0.5) / 1e4 AS d
      FROM (SELECT
              (SELECT v FROM daily WHERE i = (SELECT n FROM anchor)) AS lastv,
              (SELECT v FROM daily WHERE i = 1) AS firstv,
              (SELECT n FROM anchor) AS n)
    ), horizon AS (
      SELECT CAST(h.k AS INT) AS k,
             (SELECT last_day FROM anchor) + CAST(h.k AS INT) AS day
      FROM unnest(range(1, {_FC_HORIZON} + 1)) AS h(k)
    )
    SELECT h.k AS horizon_day,
           strftime(h.day, '%Y-%m-%d') AS forecast_date,
           FLOOR((s.v + h.k * (SELECT d FROM drift)) * 1e4 + 0.5) / 1e4
             AS forecast
    FROM horizon h
    JOIN daily s
      ON s.day = (SELECT last_day FROM anchor) + CAST(h.k AS INT) - 7
    """,
)
def ts_seasonal_naive_forecast(spark, sf_dir):
    """Seasonal-naive-with-drift forecast for the next 7 days: predict
    day t+k as the value one week before (same weekday — the seasonal
    naive that every forecasting benchmark uses as its floor) plus
    k·drift, where drift is the series' average daily change
    ((last−first)/(n−1)). A real forecast operator with zero fitted
    parameters — the baseline any learned model must beat, and the
    placeholder a pipeline ships while the real model trains.

    Scale shape: the anchor (last day, n) and drift are broadcast
    1-row aggregates; the seasonal lookup is a 7-row join against the
    daily table. Determinism: daily totals are DECIMAL-exact; drift
    and forecasts floor-round through identical IEEE chains."""
    e = t(spark, sf_dir, "events")
    w = W.orderBy("day")
    daily = (
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round("value", 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("v")
        )
        .withColumn("i", F.row_number().over(w))
    )

    anchor = daily.agg(
        F.max("day").alias("last_day"), F.max("i").alias("n")
    )
    firstlast = (
        daily.crossJoin(F.broadcast(anchor))
        .agg(
            F.max(F.when(F.col("i") == 1, F.col("v"))).alias("firstv"),
            F.max(F.when(F.col("i") == F.col("n"), F.col("v"))).alias("lastv"),
            F.max("n").alias("n"),
            F.max("last_day").alias("last_day"),
        )
        .select(
            "last_day",
            fround(
                (F.col("lastv") - F.col("firstv")) / (F.col("n") - 1)
            ).alias("d"),
        )
    )
    horizon = spark.range(1, _FC_HORIZON + 1).select(
        F.col("id").cast("int").alias("k")
    )
    hz = horizon.crossJoin(F.broadcast(firstlast)).select(
        "k",
        "d",
        F.date_add("last_day", F.col("k")).alias("day"),
        F.date_add("last_day", F.col("k") - 7).alias("season_day"),
    )
    return (
        hz.join(
            daily.select(F.col("day").alias("season_day"), "v"), "season_day"
        )
        .select(
            F.col("k").alias("horizon_day"),
            F.date_format("day", "yyyy-MM-dd").alias("forecast_date"),
            fround(F.col("v") + F.col("k") * F.col("d")).alias("forecast"),
        )
    )


@query(
    "ts_dow_hour_profile",
    oracle="""
    SELECT event_type,
           CAST(isodow(ts) - 1 AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hr,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def ts_dow_hour_profile(spark, sf_dir):
    """Day-of-week × hour activity profile (Monday=0) — the seasonality
    heatmap behind anomaly baselines and traffic models. Pure hash
    aggregation on derived keys.

    The value sum runs in DECIMAL(18,4) on both sides (the
    ts_month_over_month convention): a double SUM is accumulation-
    order-dependent across partitions/engines, and a 2-dp round of an
    order-dependent double can flip at the boundary. Decimal addition
    is exact, so the sum is order-independent."""
    e = t(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.weekday("ts").alias("dow"),
        F.hour("ts").alias("hr"),
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total_value"),
    )


@query(
    "anomaly_iqr_events",
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, ROUND(e.value, 4) AS value,
           ROUND(q.q3 + 1.5 * (q.q3 - q.q1), 4) AS hi_fence
    FROM events e JOIN q USING (event_type)
    WHERE e.value > q.q3 + 1.5 * (q.q3 - q.q1)
       OR e.value < q.q1 - 1.5 * (q.q3 - q.q1)
    """,
)
def anomaly_iqr_events(spark, sf_dir):
    """Tukey-fence (IQR) outlier detection per event type — the
    robust-statistics companion to ``anomaly_zscore_events`` (fences
    don't move when the outliers themselves inflate the variance).
    Exact interpolated percentiles match DuckDB's quantile_cont (the
    ``doc_length_pctl_filter`` precedent); per-type fences broadcast
    back over the scan."""
    e = t(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        e.join(F.broadcast(q), "event_type")
        .filter(
            (F.col("value") > F.col("q3") + 1.5 * iqr)
            | (F.col("value") < F.col("q1") - 1.5 * iqr)
        )
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(F.col("q3") + 1.5 * iqr, 4).alias("hi_fence"),
        )
    )


@query(
    "ts_cumulative_dau",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ), daily_new AS (
      SELECT d0 AS day, COUNT(*) AS new_users FROM first_seen GROUP BY d0
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM daily_new
    """,
)
def ts_cumulative_dau(spark, sf_dir):
    """Cumulative distinct users by day WITHOUT a running
    distinct-count: each user reduces to a first-seen day (one hash
    agg), days aggregate to new-user counts, and the cumulative sum
    runs over one row per DAY — the set-cardinality-over-time trick
    that replaces an O(days × users) rescan with two linear passes
    plus a driver-scale window."""
    e = t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    daily_new = first_seen.groupBy(F.col("d0").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily_new.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# LTTB time-series downsampling (parallel bucket-mean anchors)
# ---------------------------------------------------------------------------

LTTB_BUCKET = 10


@query(
    "ts_lttb_downsample",
    oracle=f"""
    WITH pts AS (
      SELECT user_id, event_id,
             epoch_us(ts) // 1000000 AS x,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y,
             (ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) - 1)
               // {LTTB_BUCKET} AS bkt
      FROM events
    ), bstats AS (
      SELECT user_id, bkt,
             SUM(x) AS sx, SUM(y) AS sy, COUNT(*) AS n,
             MAX(bkt) OVER (PARTITION BY user_id) AS max_bkt
      FROM pts GROUP BY user_id, bkt
    ), anch AS (
      SELECT user_id, bkt, max_bkt,
             LAG(sx) OVER w AS sxp, LAG(sy) OVER w AS syp,
             LAG(n) OVER w AS np,
             LEAD(sx) OVER w AS sxn, LEAD(sy) OVER w AS syn,
             LEAD(n) OVER w AS nn
      FROM bstats
      WINDOW w AS (PARTITION BY user_id ORDER BY bkt)
    ), scored AS (
      SELECT p.user_id, p.bkt, p.event_id, p.x, p.y, a.max_bkt,
             CASE WHEN a.np IS NULL OR a.nn IS NULL THEN 0
             ELSE abs((a.sxp * a.nn - a.sxn * a.np) * (p.y * a.np - a.syp)
                      - (a.sxp - p.x * a.np) * (a.syn * a.np - a.syp * a.nn))
             END AS area2
      FROM pts p JOIN anch a ON a.user_id = p.user_id AND a.bkt = p.bkt
    ), picked AS (
      SELECT user_id, bkt, event_id, x, y FROM (
        SELECT user_id, bkt, event_id, x, y,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, bkt
                 ORDER BY CASE
                   WHEN bkt = 0 THEN x
                   WHEN bkt = max_bkt THEN -x
                   ELSE -area2 END,
                 CASE WHEN bkt = 0 THEN event_id
                      WHEN bkt = max_bkt THEN -event_id
                      ELSE event_id END) AS rn
        FROM scored)
      WHERE rn = 1
    )
    SELECT user_id, CAST(bkt AS BIGINT) AS bkt, event_id,
           CAST(x AS BIGINT) AS x_epoch, y AS y_centi
    FROM picked
    """,
)
def ts_lttb_downsample(spark, sf_dir):
    """LTTB (largest-triangle-three-buckets, Steinarsson 2013)
    downsampling of each user's event series — the standard
    shape-preserving decimation for time-series storage and plotting
    (keep the point per bucket that subtends the largest triangle
    against its neighbor buckets). This is the PARALLEL variant: the
    anchors are the previous/next bucket MEAN points rather than the
    previously-selected point, which removes the sequential chain so
    every bucket scores independently — the trade documented in the
    MinMaxLTTB line of work, and the only formulation that scales
    horizontally. First/last buckets keep their first/last point
    (LTTB's endpoints rule).

    Integer-exact scoring: x = epoch seconds, y = centi-units, and the
    triangle area comparison is cleared of the two mean denominators
    by multiplying through (area2 ∝ |…| with no division) — products
    bounded by ~1e17, inside int64; ties break on event_id. Plan: one
    per-user rank, one bucket aggregate, one lag/lead window over
    buckets, one per-bucket argmax — all partitioned by user, three
    narrow shuffles total, nothing driver-side."""
    e = t(spark, sf_dir, "events")
    wuser = W.partitionBy("user_id").orderBy("ts", "event_id")
    pts = e.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
        F.floor((F.row_number().over(wuser) - 1) / LTTB_BUCKET)
        .cast("long")
        .alias("bkt"),
    )
    bstats = pts.groupBy("user_id", "bkt").agg(
        F.sum("x").alias("sx"), F.sum("y").alias("sy"), F.count("*").alias("n")
    )
    wb = W.partitionBy("user_id").orderBy("bkt")
    anch = bstats.select(
        "user_id",
        "bkt",
        F.max("bkt").over(W.partitionBy("user_id")).alias("max_bkt"),
        F.lag("sx").over(wb).alias("sxp"),
        F.lag("sy").over(wb).alias("syp"),
        F.lag("n").over(wb).alias("np"),
        F.lead("sx").over(wb).alias("sxn"),
        F.lead("sy").over(wb).alias("syn"),
        F.lead("n").over(wb).alias("nn"),
    )
    area2 = F.when(
        F.col("sxp").isNull() | F.col("sxn").isNull(), F.lit(0).cast("long")
    ).otherwise(
        F.abs(
            (F.col("sxp") * F.col("nn") - F.col("sxn") * F.col("np"))
            * (F.col("y") * F.col("np") - F.col("syp"))
            - (F.col("sxp") - F.col("x") * F.col("np"))
            * (F.col("syn") * F.col("np") - F.col("syp") * F.col("nn"))
        )
    )
    scored = pts.join(anch, ["user_id", "bkt"]).select(
        "user_id", "bkt", "event_id", "x", "y", "max_bkt", area2.alias("area2")
    )
    order_key = F.when(F.col("bkt") == 0, F.col("x")).when(
        F.col("bkt") == F.col("max_bkt"), -F.col("x")
    ).otherwise(-F.col("area2"))
    tie_key = F.when(
        F.col("bkt") == F.col("max_bkt"), -F.col("event_id")
    ).otherwise(F.col("event_id"))
    return topk(scored, ["user_id", "bkt"], [order_key, tie_key], 1).select(
        "user_id",
        F.col("bkt").cast("long").alias("bkt"),
        "event_id",
        F.col("x").cast("long").alias("x_epoch"),
        F.col("y").alias("y_centi"),
    )


# ---------------------------------------------------------------------------
# Hypertable rollup (multi-granularity time aggregation in one pass)
# ---------------------------------------------------------------------------


@query(
    "ts_hypertable_rollup",
    oracle="""
    WITH base AS (
      SELECT event_type,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
             strftime(date_trunc('month', ts), '%Y-%m-%d') AS month,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vq
      FROM events
    )
    SELECT CASE WHEN day IS NOT NULL THEN 'day'
                WHEN week IS NOT NULL THEN 'week'
                ELSE 'month' END AS grain,
           COALESCE(day, week, month) AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(vq) AS BIGINT) AS total_centi
    FROM base
    GROUP BY GROUPING SETS ((day, event_type), (week, event_type),
                            (month, event_type))
    """,
)
def ts_hypertable_rollup(spark, sf_dir):
    """Hypertable-style continuous-aggregate rollup: the same event
    stream aggregated at day, week, AND month grain in ONE pass via
    GROUPING SETS over pre-truncated time columns — what TimescaleDB
    materializes as cascading continuous aggregates and what every
    time-series warehouse keeps as its serving layer. Each output row
    carries its grain label and bucket start, so a dashboard reads one
    table at any zoom level.

    The three grains expand map-side (Spark's Expand operator) and
    partial-aggregate before the single shuffle — cheaper than three
    separate scans and exactly how a 100 TB rollup wants to run.
    Values floor-quantize to integer centi-units; buckets are
    formatted date strings, so no rounding or timezone conventions
    ride on the comparison. (day IS NOT NULL disambiguates the grain
    because a truncated date can never be NULL in the input.)"""
    e = t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM-dd").alias("month"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vq"),
    )
    grouped = base.groupingSets(
        [["day", "event_type"], ["week", "event_type"], ["month", "event_type"]],
        "day",
        "week",
        "month",
        "event_type",
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vq").cast("long").alias("total_centi"),
    )
    grain = (
        F.when(F.col("day").isNotNull(), "day")
        .when(F.col("week").isNotNull(), "week")
        .otherwise("month")
    )
    return grouped.select(
        grain.alias("grain"),
        F.coalesce("day", "week", "month").alias("bucket"),
        "event_type",
        "n",
        "total_centi",
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (per-user daily series)
# ---------------------------------------------------------------------------


@query(
    "ts_trend_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS v
      FROM events GROUP BY user_id, day
    ), pairs AS (
      SELECT a.user_id,
             CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS s
      FROM daily a JOIN daily b
        ON a.user_id = b.user_id AND b.day > a.day
    )
    SELECT user_id,
           CAST(SUM(s) AS BIGINT) AS mk_s,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CASE WHEN SUM(s) > 0 THEN 'up'
                WHEN SUM(s) < 0 THEN 'down' ELSE 'flat' END AS trend
    FROM pairs GROUP BY user_id
    """,
)
def ts_trend_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend statistic per user series: S = Σ sign(v_j −
    v_i) over all day pairs i<j — the standard non-parametric
    monotone-trend test (no distribution assumptions, robust to
    spikes), used to flag drifting metrics before fitting anything.
    Integer throughout: values quantize to centi-units, S is a sum of
    ±1/0.

    The pairwise form is quadratic in SERIES LENGTH, not in rows: the
    daily pre-aggregation bounds each user's series at ~30 points
    (one month of days), so the self-join is ≤ n·30² — the same
    bounded-by-construction argument as the rolling-median frame. The
    pre-aggregation is the single data-sized shuffle; the pair join is
    user-co-partitioned."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("v")
    )
    a = daily.select("user_id", F.col("day").alias("da"), F.col("v").alias("va"))
    b = daily.select("user_id", F.col("day").alias("db"), F.col("v").alias("vb"))
    s = (
        F.when(F.col("vb") > F.col("va"), 1)
        .when(F.col("vb") < F.col("va"), -1)
        .otherwise(0)
    )
    pairs = a.join(b, "user_id").filter(F.col("db") > F.col("da")).select(
        "user_id", s.alias("s")
    )
    mk = F.sum("s")
    return pairs.groupBy("user_id").agg(
        mk.cast("long").alias("mk_s"),
        F.count("*").cast("long").alias("n_pairs"),
        F.when(mk > 0, "up").when(mk < 0, "down").otherwise("flat").alias("trend"),
    )


# ---------------------------------------------------------------------------
# Peak detection (local maxima over the daily series)
# ---------------------------------------------------------------------------

_PEAK_MARGIN_CENTI = 500  # a peak must clear both neighbors by 5.00


@query(
    "ts_peak_detection",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS v
      FROM events GROUP BY day
    ), ctx AS (
      SELECT day, v,
             LAG(v) OVER (ORDER BY day) AS vp,
             LEAD(v) OVER (ORDER BY day) AS vn
      FROM daily
    )
    SELECT day, CAST(v AS BIGINT) AS v_centi,
           CAST(v - vp AS BIGINT) AS rise_centi,
           CAST(v - vn AS BIGINT) AS fall_centi
    FROM ctx
    WHERE vp IS NOT NULL AND vn IS NOT NULL
      AND v >= vp + {_PEAK_MARGIN_CENTI} AND v >= vn + {_PEAK_MARGIN_CENTI}
    """,
)
def ts_peak_detection(spark, sf_dir):
    """Local-maximum peak detection over the corpus daily total: a day
    is a peak when it clears BOTH neighbors by a margin — the
    spike-surfacing primitive behind alerting and seasonality-spike
    review (the margin suppresses plateau noise that a plain
    local-max test flags). Integer centi-units; emits the peak's
    prominence against each neighbor.

    The daily series is bounded-by-construction (one month of days
    after the first aggregate), so the unpartitioned lag/lead window
    is over ≤31 rows — the documented bounded-window convention
    (timeseries.py daily series); the data-sized work is the one
    partial-aggregated groupBy."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("v")
    )
    # bounded-by-construction: ≤31 daily rows after the aggregate
    wd = W.orderBy("day")
    ctx = daily.select(
        "day",
        "v",
        F.lag("v").over(wd).alias("vp"),
        F.lead("v").over(wd).alias("vn"),
    )
    return ctx.filter(
        F.col("vp").isNotNull()
        & F.col("vn").isNotNull()
        & (F.col("v") >= F.col("vp") + _PEAK_MARGIN_CENTI)
        & (F.col("v") >= F.col("vn") + _PEAK_MARGIN_CENTI)
    ).select(
        "day",
        F.col("v").cast("long").alias("v_centi"),
        (F.col("v") - F.col("vp")).cast("long").alias("rise_centi"),
        (F.col("v") - F.col("vn")).cast("long").alias("fall_centi"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive backtest with WAPE (forecast evaluation)
# ---------------------------------------------------------------------------

_BT_SEASON = 7  # seasonal lag (days)


@query(
    "ts_backtest_wape",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS v
      FROM events GROUP BY event_type, day
    ), lagged AS (
      SELECT event_type, day, v,
             LAG(v, {_BT_SEASON}) OVER (PARTITION BY event_type
                                        ORDER BY day) AS pred
      FROM daily
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(abs(v - pred)) AS BIGINT) AS wape_num_centi,
           CAST(SUM(abs(v)) AS BIGINT) AS wape_den_centi,
           CAST(MAX(abs(v - pred)) AS BIGINT) AS worst_abs_err_centi
    FROM lagged WHERE pred IS NOT NULL
    GROUP BY event_type
    """,
)
def ts_backtest_wape(spark, sf_dir):
    """Forecast backtesting: replay the seasonal-naive model
    (ŷ(d) = y(d−{_BT_SEASON})) over the observed history and score it
    with WAPE — Σ|err| / Σ|actual| — the accuracy gate that decides
    whether ``ts_seasonal_naive_forecast``'s baseline is even worth
    beating. Emitted as the exact integer ratio
    (wape_num/wape_den in centi-units) plus the worst single-day
    error; no float division in the graded output.

    Plan: one daily pre-aggregation (the data-sized shuffle), one
    per-series lag window over the bounded daily frame, one aggregate.
    Backtests of any lag-based model share this exact shape — swap
    the LAG expression for the model."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("v")
    )
    wlag = W.partitionBy("event_type").orderBy("day")
    lagged = daily.withColumn("pred", F.lag("v", _BT_SEASON).over(wlag)).filter(
        F.col("pred").isNotNull()
    )
    err = F.abs(F.col("v") - F.col("pred"))
    return lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(err).cast("long").alias("wape_num_centi"),
        F.sum(F.abs("v")).cast("long").alias("wape_den_centi"),
        F.max(err).cast("long").alias("worst_abs_err_centi"),
    )


# ---------------------------------------------------------------------------
# Cross-correlation lag scan between two event-type daily series
# ---------------------------------------------------------------------------

XCORR_MAX_LAG = 7


@query(
    "ts_xcorr_lag_scan",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             SUM(CASE WHEN event_type = 'click'
                 THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END) AS x,
             SUM(CASE WHEN event_type = 'error'
                 THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END) AS y
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(0, {XCORR_MAX_LAG + 1})) AS lag),
    pairs AS (
      SELECT l.lag, a.x, b.y
      FROM lags l
      JOIN daily a ON true
      JOIN daily b ON b.d = a.d + l.lag
    ),
    scored AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS score
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_days, score,
           score = MAX(score) OVER () AS is_best
    FROM scored
    """,
)
def ts_xcorr_lag_scan(spark, sf_dir):
    """Cross-correlation lag scan: which lag best aligns the daily
    'click' series with the daily 'error' series? For each lag
    0..7, the score is the n-scaled covariance n*Σxy − Σx·Σy of the
    lag-joined day pairs — the numerator of Pearson r multiplied
    through by n so the whole statistic stays in BIGINT (values are
    centi-quantized per event before the daily sum, so no float ever
    crosses the engine boundary). Scale shape: the daily
    pre-aggregation reduces the fact table once (partial-agg groupBy);
    the lag scan then runs over |days| × |lags| rows — bounded by the
    calendar, not the data. is_best marks the argmax lag."""
    e = t(spark, sf_dir, "events")
    qv = F.floor(F.col("value") * 100).cast("long")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "d"
        )
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", qv).otherwise(F.lit(0))).alias(
            "x"
        ),
        F.sum(F.when(F.col("event_type") == "error", qv).otherwise(F.lit(0))).alias(
            "y"
        ),
    )
    lags = spark.range(0, XCORR_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = daily.select("d", "x")
    b = daily.select(F.col("d").alias("bd"), "y")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bd") == F.col("d") + F.col("lag"))
    )
    scored = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (
            F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y"))
            - F.sum("x") * F.sum("y")
        )
        .cast("long")
        .alias("score"),
    )
    return scored.select(
        F.col("lag").cast("long").alias("lag"),
        "n_days",
        "score",
        (F.col("score") == F.max("score").over(W.partitionBy())).alias("is_best"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend slope
# ---------------------------------------------------------------------------


@query(
    "ts_theil_sen_slope",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type, b.y - a.y AS dy, b.d - a.d AS dx
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.d > a.d
    ),
    ranked AS (
      SELECT event_type, dy, dx,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY CAST(dy AS DOUBLE) / dx, dy, dx) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM pairs
    )
    SELECT event_type, CAST(cnt AS BIGINT) AS n_pairs,
           CAST(dy AS BIGINT) AS med_dy, CAST(dx AS BIGINT) AS med_dx,
           CAST(FLOOR(1000000.0 * dy / dx) AS BIGINT) AS slope_micro
    FROM ranked WHERE rn = (cnt + 1) // 2
    """,
)
def ts_theil_sen_slope(spark, sf_dir):
    """Theil-Sen robust trend estimator per event-type daily series:
    the slope is the MEDIAN of all pairwise slopes (dy/dx over day
    pairs) — up to ~29% contamination tolerance vs OLS's zero
    (``agg_regr_slope`` is the fragile baseline alongside). The
    median pair is selected by ordering on the IEEE double quotient
    (one division — bit-identical on both engines) with (dy, dx) as
    the deterministic tiebreak, and the reported slope is
    floor-quantized to integer micro-units so nothing fractional
    crosses the comparison boundary. Scale shape: the daily
    pre-aggregation bounds the pair explosion by the CALENDAR
    (31 days → ≤465 pairs per series), the same
    bounded-by-construction posture as ``ts_trend_mann_kendall`` —
    at 100 TB the pairs grow with days², not rows."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("d"),
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("y"))
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("y").alias("y1"))
    b = daily.select("event_type", F.col("d").alias("d2"), F.col("y").alias("y2"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("d2") > F.col("d1"))
        .select(
            "event_type",
            (F.col("y2") - F.col("y1")).alias("dy"),
            (F.col("d2") - F.col("d1")).alias("dx"),
        )
    )
    wspec = W.partitionBy("event_type").orderBy(
        F.col("dy").cast("double") / F.col("dx"), F.col("dy"), F.col("dx")
    )
    ranked = pairs.select(
        "event_type",
        "dy",
        "dx",
        F.row_number().over(wspec).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("cnt"),
    )
    # Integer floor division, mirroring the oracle's (cnt + 1) // 2:
    # Column `/` is true (double) division, so an even pair count would
    # match no row and silently drop the series.
    return ranked.filter(F.col("rn") == F.expr("(cnt + 1) div 2")).select(
        "event_type",
        F.col("cnt").cast("long").alias("n_pairs"),
        F.col("dy").cast("long").alias("med_dy"),
        F.col("dx").cast("long").alias("med_dx"),
        F.floor(F.lit(1000000.0) * F.col("dy") / F.col("dx"))
        .cast("long")
        .alias("slope_micro"),
    )


# ---------------------------------------------------------------------------
# Generated calendar dimension join
# ---------------------------------------------------------------------------

_CAL_START = "2024-01-01"  # a Monday: dow 0 = Monday
_CAL_END = "2024-02-04"


@query(
    "ts_calendar_dim_join",
    oracle=f"""
    WITH cal AS (
      SELECT CAST(u.d AS DATE) AS d
      FROM unnest(generate_series(DATE '{_CAL_START}', DATE '{_CAL_END}',
                                  INTERVAL 1 DAY)) AS u(d)
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events,
             SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS sum_centi
      FROM events GROUP BY 1
    )
    SELECT strftime(cal.d, '%Y-%m-%d') AS day,
           CAST(date_diff('day', DATE '{_CAL_START}', cal.d) % 7 AS INT)
             AS dow,
           date_diff('day', DATE '{_CAL_START}', cal.d) % 7 >= 5 AS is_weekend,
           CAST(COALESCE(daily.n_events, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(daily.sum_centi, 0) AS BIGINT) AS sum_centi
    FROM cal LEFT JOIN daily ON daily.d = cal.d
    """,
)
def ts_calendar_dim_join(spark, sf_dir):
    """Generated calendar dimension — the date-dim star-schema pattern
    stated without any physical dim table: a sequence-generated
    calendar (day, day-of-week, weekend flag) LEFT-joined to the daily
    fact rollup, so days with zero events appear explicitly (the
    gap-preservation property reporting needs and bare GROUP BY
    loses). Day-of-week is computed portably as days-since-a-known-
    Monday mod 7 (Spark's dayofweek() and DuckDB's dayofweek() number
    weekdays differently — integer arithmetic sidesteps the engine
    convention entirely). Scale shape: the calendar is broadcast-sized
    by construction (it grows with TIME, not data); the fact side
    reduces in one partial-aggregating groupBy before the join."""
    e = t(spark, sf_dir, "events")
    cal = spark.sql(
        f"SELECT explode(sequence(DATE '{_CAL_START}', DATE '{_CAL_END}', "
        "INTERVAL 1 DAY)) AS d"
    )
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_centi"),
    )
    dow = F.datediff(F.col("cal.d"), F.lit(_CAL_START).cast("date")) % 7
    return (
        cal.alias("cal")
        .join(daily.alias("f"), F.col("cal.d") == F.col("f.d"), "left")
        .select(
            F.date_format(F.col("cal.d"), "yyyy-MM-dd").alias("day"),
            dow.cast("int").alias("dow"),
            (dow >= 5).alias("is_weekend"),
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
            F.coalesce(F.col("sum_centi"), F.lit(0))
            .cast("long")
            .alias("sum_centi"),
        )
    )


# ---------------------------------------------------------------------------
# Event-sequence pattern detection (CEP adjacency)
# ---------------------------------------------------------------------------

PATTERN = ("view", "click", "purchase")


@query(
    "ts_event_pattern_detect",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3,
             LEAD(ts, 2) OVER w AS ts3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS t_start,
           strftime(ts3, '%Y-%m-%d %H:%M:%S.%f') AS t_end,
           CAST(epoch_us(ts3) - epoch_us(ts) AS BIGINT) AS span_us
    FROM seq
    WHERE event_type = '{PATTERN[0]}' AND t2 = '{PATTERN[1]}'
      AND t3 = '{PATTERN[2]}'
    """,
)
def ts_event_pattern_detect(spark, sf_dir):
    """Event-sequence pattern detection — the MATCH_RECOGNIZE / CEP
    shape (view → click → purchase as three CONSECUTIVE events in a
    user's stream) expressed with LEAD over the time-ordered per-user
    window: no self-joins, no state machine UDF, one shuffle on
    user_id. Strictly-adjacent semantics are the declared contract
    (intervening events break the match — the difference from
    ``funnel_conversion``'s eventually-follows semantics); ordering
    ties break on event_id so both engines walk the identical
    sequence. Emits the match span in exact integer microseconds.
    Scale: per-user windows partition the shuffle; pattern length
    extends by adding LEAD offsets, not joins."""
    e = t(spark, sf_dir, "events")
    wspec = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "ts",
        "event_type",
        F.lead("event_type", 1).over(wspec).alias("t2"),
        F.lead("event_type", 2).over(wspec).alias("t3"),
        F.lead("ts", 2).over(wspec).alias("ts3"),
    )
    m = seq.filter(
        (F.col("event_type") == PATTERN[0])
        & (F.col("t2") == PATTERN[1])
        & (F.col("t3") == PATTERN[2])
    )
    return m.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("t_start"),
        F.date_format("ts3", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("t_end"),
        (
            F.unix_micros(F.col("ts3")) - F.unix_micros(F.col("ts"))
        ).cast("long").alias("span_us"),
    )


# ---------------------------------------------------------------------------
# M4 visualization downsampling (min/max/first/last per bucket)
# ---------------------------------------------------------------------------

_M4_KEY_SQL_SPARK = (
    "lpad(CAST(unix_micros(ts) AS STRING), 20, '0') || "
    "lpad(CAST(event_id AS STRING), 12, '0')"
)
_M4_KEY_SQL_DUCK = (
    "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || "
    "lpad(CAST(event_id AS VARCHAR), 12, '0')"
)


@query(
    "ts_m4_downsample",
    oracle=f"""
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           arg_min(CAST(FLOOR(value * 100 + 0.5) AS BIGINT),
                   {_M4_KEY_SQL_DUCK}) AS first_centi,
           arg_max(CAST(FLOOR(value * 100 + 0.5) AS BIGINT),
                   {_M4_KEY_SQL_DUCK}) AS last_centi,
           MIN(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS min_centi,
           MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS max_centi
    FROM events
    GROUP BY 1, 2
    """,
)
def ts_m4_downsample(spark, sf_dir):
    """M4 downsampling (Jugel et al., VLDB'14) — the error-free line-
    chart reduction: per (series, time bucket) keep exactly the
    first, last, min, and max values, which provably preserves the
    rendered pixel line while cutting points by orders of magnitude
    (the companion to ``ts_lttb_downsample``'s perceptual variant —
    M4 is exact per bucket, LTTB is global-shape). first/last are
    argmin/argmax over a padded (epoch-micros, event_id) string key —
    the ``agg_argminmax_pack`` recipe, making ties deterministic on
    both engines. One partial-aggregating groupBy; each of the four
    extremes partial-aggregates map-side, so the shuffle carries 4
    scalars per bucket, not the raw series — at 100 TB this is the
    difference between shipping points and shipping pixels."""
    e = t(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    keyed = e.select(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("bucket"),
        v.alias("v"),
        F.expr(_M4_KEY_SQL_SPARK).alias("k"),
    )
    return keyed.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("min_by(v, k)").cast("long").alias("first_centi"),
        F.expr("max_by(v, k)").cast("long").alias("last_centi"),
        F.min("v").cast("long").alias("min_centi"),
        F.max("v").cast("long").alias("max_centi"),
    )


# ---------------------------------------------------------------------------
# Period-over-period comparison (WoW deltas on the daily series)
# ---------------------------------------------------------------------------

POP_LAG_DAYS = 7
POP_MICRO = 1_000_000


@query(
    "ts_period_over_period",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cur
      FROM orders GROUP BY 1
    ),
    joined AS (
      SELECT c.day, c.cur, p.cur AS prev
      FROM daily c LEFT JOIN daily p
        ON p.day = c.day - INTERVAL {POP_LAG_DAYS} DAY
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(cur AS BIGINT) AS cur_centi,
           CAST(prev AS BIGINT) AS prev_centi,
           CAST(cur - prev AS BIGINT) AS delta_centi,
           CASE WHEN prev IS NOT NULL THEN
             CAST(((cur - prev) * {POP_MICRO}
                   - ((((cur - prev) * {POP_MICRO}) % prev + prev) % prev))
                  // prev AS BIGINT)
           END AS pct_micro
    FROM joined
    """,
)
def ts_period_over_period(spark, sf_dir):
    """Period-over-period comparison — the week-over-week delta every
    BI dashboard leads with: each day's revenue against the SAME
    WEEKDAY one week earlier (a calendar join on day−7, NOT LAG(7
    rows): row-offset lags silently misalign across gap days). The
    relative change is an exact floor-division micro ratio — deltas
    go negative, and both engines' integer division truncates toward
    zero, so the (s − pmod)/n floor identity is stated on BOTH sides;
    days with no prior week surface NULL, never a fake zero. Plan:
    one daily partial aggregation, then a self equi-join on the
    shifted calendar key — both sides are the bounded daily frame."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cur")
    )
    prev = daily.select(
        F.date_add("day", POP_LAG_DAYS).alias("day"),
        F.col("cur").alias("prev"),
    )
    return (
        daily.join(prev, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("cur").alias("cur_centi"),
            F.col("prev").alias("prev_centi"),
            (F.col("cur") - F.col("prev")).alias("delta_centi"),
            F.when(
                F.col("prev").isNotNull(),
                F.expr(
                    f"((cur - prev) * {POP_MICRO} "
                    f"- pmod((cur - prev) * {POP_MICRO}, prev)) div prev"
                ),
            ).cast("long").alias("pct_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonally-adjusted anomaly detection (dow-adjusted median±3·MAD)
# ---------------------------------------------------------------------------

_SAA_ANCHOR = "2024-01-01"  # a Monday; dow = days-since-anchor mod 7


@query(
    "ts_anomaly_seasonal_adjusted",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             date_diff('day', DATE '{_SAA_ANCHOR}', CAST(ts AS DATE)) % 7
               AS dow,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2, 3
    ),
    seas AS (
      SELECT event_type, dow, SUM(v) // COUNT(*) AS expected
      FROM daily GROUP BY 1, 2
    ),
    adj AS (
      SELECT d.event_type, d.day, d.dow, d.v,
             seas.expected, d.v - seas.expected AS adjusted
      FROM daily d JOIN seas USING (event_type, dow)
    ),
    med AS (
      SELECT event_type,
             CAST(2 * MEDIAN(adjusted) AS BIGINT) AS med2
      FROM adj GROUP BY event_type
    ),
    dev AS (
      SELECT adj.*, med.med2,
             abs(2 * adj.adjusted - med.med2) AS dev2
      FROM adj JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             CAST(2 * MEDIAN(dev2) AS BIGINT) AS mad4
      FROM dev GROUP BY event_type
    )
    SELECT dev.event_type, strftime(dev.day, '%Y-%m-%d') AS day,
           CAST(dev.dow AS BIGINT) AS dow,
           CAST(dev.v AS BIGINT) AS daily_centi,
           CAST(dev.expected AS BIGINT) AS expected_centi,
           CAST(dev.adjusted AS BIGINT) AS adjusted_centi,
           2 * dev.dev2 > 3 * mad.mad4 AS is_anomaly
    FROM dev JOIN mad USING (event_type)
    """,
)
def ts_anomaly_seasonal_adjusted(spark, sf_dir):
    """Seasonally-ADJUSTED anomaly detection — the conditioning fix
    the raw-series detectors (``anomaly_zscore_events`` /
    ``anomaly_mad_events``) lack: first subtract each (series,
    day-of-week)'s expected level, THEN flag |adjusted − median| >
    3·MAD — so a quiet Sunday is normal and a quiet Tuesday is the
    anomaly. All integer: dow means by floor division (positive
    sums), robust stats via the DOUBLING cascade — med2 = 2·median
    and mad4 = 2·median(2·|dev|) stay integers through the exact
    interpolating median, and the flag compares 2·dev2 > 3·mad4 with
    no fraction ever materialized. dow is days-since-a-known-Monday
    mod 7 (engine dayofweek conventions differ). Plan: one daily
    partial aggregation, then every stage runs on the bounded daily
    frame with tiny broadcast joins back."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
    ).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("v")
    ).select(
        "event_type",
        "day",
        (F.datediff("day", F.lit(_SAA_ANCHOR)) % 7).cast("long").alias("dow"),
        "v",
    )
    seas = daily.groupBy("event_type", "dow").agg(
        F.expr("sum(v) div count(1)").alias("expected")
    )
    adj = daily.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        "day",
        "dow",
        "v",
        "expected",
        (F.col("v") - F.col("expected")).alias("adjusted"),
    )
    med = adj.groupBy("event_type").agg(
        (2 * F.median("adjusted")).cast("long").alias("med2")
    )
    dev = adj.join(F.broadcast(med), "event_type").select(
        "*", F.abs(2 * F.col("adjusted") - F.col("med2")).alias("dev2")
    )
    mad = dev.groupBy("event_type").agg(
        (2 * F.median("dev2")).cast("long").alias("mad4")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dow",
        F.col("v").alias("daily_centi"),
        F.col("expected").alias("expected_centi"),
        F.col("adjusted").alias("adjusted_centi"),
        (2 * F.col("dev2") > 3 * F.col("mad4")).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Allen interval relations — temporal interval algebra per user
# ---------------------------------------------------------------------------

# The 13 Allen relations, classified with one CASE tree evaluated
# identically on both engines. Order matters: equality cases first
# (equals, meets/met_by, starts/started_by, finishes/finished_by),
# then the strict containment/overlap cases.
_ALLEN_CASE = """
CASE
  WHEN a_s = b_s AND a_e = b_e THEN 'equals'
  WHEN a_e < b_s THEN 'precedes'
  WHEN b_e < a_s THEN 'preceded_by'
  WHEN a_e = b_s THEN 'meets'
  WHEN b_e = a_s THEN 'met_by'
  WHEN a_s = b_s AND a_e < b_e THEN 'starts'
  WHEN a_s = b_s AND a_e > b_e THEN 'started_by'
  WHEN a_e = b_e AND a_s > b_s THEN 'finishes'
  WHEN a_e = b_e AND a_s < b_s THEN 'finished_by'
  WHEN a_s > b_s AND a_e < b_e THEN 'during'
  WHEN a_s < b_s AND a_e > b_e THEN 'contains'
  WHEN a_s < b_s AND a_e < b_e THEN 'overlaps'
  ELSE 'overlapped_by'
END
"""


@query(
    "ts_allen_interval_relations",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_type,
             MIN(ts) AS i_start, MAX(ts) AS i_end
      FROM events GROUP BY user_id, event_type
    ),
    pairs AS (
      SELECT a.user_id, a.event_type AS et_a, b.event_type AS et_b,
             a.i_start AS a_s, a.i_end AS a_e,
             b.i_start AS b_s, b.i_end AS b_e
      FROM iv a JOIN iv b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, et_a, et_b,
           {_ALLEN_CASE} AS relation
    FROM pairs
    """,
)
def ts_allen_interval_relations(spark, sf_dir):
    """Allen's interval algebra — classify every ordered pair of
    per-(user, event_type) activity intervals into one of the 13
    Allen relations (precedes/meets/overlaps/starts/during/finishes/
    equals + inverses), the temporal-reasoning primitive behind
    temporal joins and overlap constraints. Intervals are
    [min(ts), max(ts)] per user × event_type; classification is pure
    timestamp comparison — exact on both engines. Scale shape: one
    map-side-combined group-by builds the interval table, then a
    SELF equi-join on user_id whose per-user fan-out is bounded by
    the event-type cardinality (≤ C(|types|,2) pairs per user, |types|
    = 5 here) — Σ per-user products, never |iv|²; a hot user salts
    like any skewed equi-key."""
    iv = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("i_start"), F.max("ts").alias("i_end"))
    )
    a = iv.select(
        "user_id",
        F.col("event_type").alias("et_a"),
        F.col("i_start").alias("a_s"),
        F.col("i_end").alias("a_e"),
    )
    b = iv.select(
        F.col("user_id").alias("user_id_b"),
        F.col("event_type").alias("et_b"),
        F.col("i_start").alias("b_s"),
        F.col("i_end").alias("b_e"),
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("user_id_b"))
        & (F.col("et_a") < F.col("et_b")),
    )
    return pairs.select(
        F.col("user_id").cast("long").alias("user_id"),
        "et_a",
        "et_b",
        F.expr(_ALLEN_CASE).alias("relation"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection — division-free reflected-walk form
# ---------------------------------------------------------------------------


@query(
    "ts_cusum_page_reflected",
    oracle="""
    WITH daily AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             COUNT(*) AS n_events
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT day, n_events,
             COUNT(*) OVER () * n_events - SUM(n_events) OVER () AS dev_scaled
      FROM daily
    ),
    walk AS (
      SELECT *,
             SUM(dev_scaled) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_scaled
      FROM dev
    ),
    refl AS (
      SELECT *,
             MIN(cum_scaled) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin,
             MAX(cum_scaled) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
      FROM walk
    ),
    cus AS (
      SELECT day, n_events,
             CAST(dev_scaled AS BIGINT) AS dev_scaled,
             CAST(cum_scaled AS BIGINT) AS cum_scaled,
             CAST(cum_scaled - LEAST(runmin, 0) AS BIGINT)
               AS cusum_pos_scaled,
             CAST(GREATEST(runmax, 0) - cum_scaled AS BIGINT)
               AS cusum_neg_scaled
      FROM refl
    )
    SELECT day,
           CAST(n_events AS BIGINT) AS n_events,
           dev_scaled, cum_scaled, cusum_pos_scaled, cusum_neg_scaled,
           CAST(MAX(cusum_pos_scaled) OVER () AS BIGINT)
             AS cusum_peak_scaled,
           cusum_pos_scaled = MAX(cusum_pos_scaled) OVER () AS is_pos_peak
    FROM cus
    """,
)
def ts_cusum_page_reflected(spark, sf_dir):
    """Page's one-sided CUSUM series (reset-at-zero) over the daily
    event rate — the sequential drift detector that completes this
    round's pack (``ml_ks_two_sample`` / ``ml_psi_drift`` answer "did
    the distribution move between two periods?"; this answers "WHEN
    did the level shift, and is it still elevated?"). Unlike the
    existing ``ts_cusum_changepoint`` (the single argmax of the
    unreset deviation walk), this emits the full RESET statistic
    Sᵢ = max(0, Sᵢ₋₁ + dᵢ) both sides per day — the quantity real
    monitoring alarms threshold on, because the reset forgets history
    before the shift. The textbook recursion
    Sᵢ = max(0, Sᵢ₋₁ + dᵢ) is not a window aggregate, but its Lindley
    reflection identity IS: Sᵢ = Cᵢ − min(0, min_{j≤i} Cⱼ) for the
    running sum Cᵢ (and the downward side mirrors with the running
    max) — so the whole statistic is two cumulative windows over the
    daily table, no recursion, no UDF. Entirely DIVISION-FREE exact
    integer arithmetic: deviations are mean-centered by cross-scaling
    (dev = n_days·nᵢ − Σn, so Σdev = 0 exactly) instead of dividing by
    the day count, and every output is a BIGINT in those scaled units
    — zero doubles anywhere, the strongest cross-engine exactness
    class in the registry. The reflection identity itself is pinned in
    pytest against the direct max(0, S+d) recursion. Scale shape: one
    map-side-combined groupBy collapses the fact table to ≤|calendar
    days| rows; every window (incl. the unpartitioned cumulative ones)
    runs over that bounded table only — the ``ml_ks_two_sample``
    posture; overflow bound n_days·n ≤ 3.7e3·6e7 at the K=100 soak,
    far under 2^63."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w_all = W.orderBy("day").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    w_cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    dev = daily.select(
        "day",
        "n_events",
        (
            F.count(F.lit(1)).over(w_all) * F.col("n_events")
            - F.sum("n_events").over(w_all)
        ).alias("dev_scaled"),
    )
    walk = dev.select(
        "*", F.sum("dev_scaled").over(w_cum).alias("cum_scaled")
    )
    refl = walk.select(
        "*",
        F.min("cum_scaled").over(w_cum).alias("runmin"),
        F.max("cum_scaled").over(w_cum).alias("runmax"),
    )
    cus = refl.select(
        "day",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("dev_scaled").cast("long").alias("dev_scaled"),
        F.col("cum_scaled").cast("long").alias("cum_scaled"),
        (F.col("cum_scaled") - F.least(F.col("runmin"), F.lit(0)))
        .cast("long")
        .alias("cusum_pos_scaled"),
        (F.greatest(F.col("runmax"), F.lit(0)) - F.col("cum_scaled"))
        .cast("long")
        .alias("cusum_neg_scaled"),
    )
    peak = F.max("cusum_pos_scaled").over(w_all)
    return cus.select(
        "*",
        peak.cast("long").alias("cusum_peak_scaled"),
        (F.col("cusum_pos_scaled") == peak).alias("is_pos_peak"),
    )


# ---------------------------------------------------------------------------
# Top-k user journey paths
# ---------------------------------------------------------------------------

PATH_LEN = 5
PATH_TOPK = 20


@query(
    "funnel_path_topk",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= {PATH_LEN} GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT {PATH_TOPK}
    """,
)
def funnel_path_topk(spark, sf_dir):
    """Top-{PATH_TOPK} user journey paths — the path-analysis report
    between ``funnel_conversion`` (one FIXED step sequence) and
    ``ts_event_transitions`` (bigram matrix): each user's first
    {PATH_LEN} events in time order become an ordered '>' path, and
    the most common paths surface what users actually do first — the
    onboarding-flow dashboard every product-analytics engine ships
    (Amplitude/Mixpanel "Pathfinder").

    Scale shape: the rank window partitions by user (events
    co-partition by the groupBy key anyway); paths build via the
    house ordered-collect idiom (array_sort of (rn, type) structs —
    no second window); the global top-k is a count-groupBy on the
    BOUNDED path vocabulary followed by TakeOrderedAndProject with a
    total (count, path) order, so ties at rank {PATH_TOPK} resolve
    identically on both engines."""
    ev = t(spark, sf_dir, "events")
    ranked = topk(ev, ["user_id"], ["ts", "event_id"], PATH_LEN, rank="rn").select(
        "user_id", "event_type", "rn"
    )
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rn"), F.col("event_type")))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# Grid-density noise detection (DBSCAN-style)
# ---------------------------------------------------------------------------

DENSITY_MIN_NBR = 4  # noise: neighborhood (hour +/- 1) has < 4 events


@query(
    "anomaly_grid_density_events",
    oracle=f"""
    WITH c AS (
      SELECT user_id, CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    nb AS (
      SELECT a.user_id, a.hour, a.n, SUM(b.n) AS n_nbr
      FROM c a JOIN c b
        ON a.user_id = b.user_id AND abs(a.hour - b.hour) <= 1
      GROUP BY 1, 2, 3
    )
    SELECT user_id, hour,
           CAST(n AS BIGINT) AS n_cell,
           CAST(n_nbr AS BIGINT) AS n_nbr
    FROM nb WHERE n_nbr < {DENSITY_MIN_NBR}
    """,
)
def anomaly_grid_density_events(spark, sf_dir):
    """Density-based anomaly detection on the (user, hour-of-day)
    activity grid — the DBSCAN-noise member next to the value-based
    trio (``anomaly_zscore_events`` / ``anomaly_iqr_events`` /
    ``anomaly_mad_events``): a cell whose +/- 1-hour neighborhood
    holds fewer than {DENSITY_MIN_NBR} events is isolated activity —
    the user acting at an hour they (almost) never act — which no
    per-value test sees because the VALUES are unremarkable. This is
    grid-DBSCAN with minPts={DENSITY_MIN_NBR} and the grid cell as
    the epsilon-ball, the standard scalable DBSCAN reduction (hours
    don't wrap across midnight — documented simplification).

    Scale shape: the grid collapse is one map-side-combined groupBy
    (cells are bounded by users x 24, not by events); the
    neighborhood sum is a self-join ON THE CELL GRID (bounded), never
    on raw events; everything after the first groupBy is
    cell-cardinality work."""
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "user_id", F.hour("ts").cast("int").alias("hour")
    ).agg(F.count("*").alias("n"))
    a = cells.select(
        F.col("user_id").alias("u"),
        F.col("hour").alias("h"),
        F.col("n").alias("n_cell"),
    )
    b = cells.select(
        F.col("user_id").alias("u2"), F.col("hour").alias("h2"), F.col("n").alias("n2")
    )
    nb = (
        a.join(b, (F.col("u") == F.col("u2")) & (F.abs(F.col("h") - F.col("h2")) <= 1))
        .groupBy(F.col("u"), F.col("h"), F.col("n_cell"))
        .agg(F.sum("n2").alias("n_nbr"))
    )
    return nb.filter(F.col("n_nbr") < DENSITY_MIN_NBR).select(
        F.col("u").alias("user_id"),
        F.col("h").alias("hour"),
        F.col("n_cell").cast("long").alias("n_cell"),
        F.col("n_nbr").cast("long").alias("n_nbr"),
    )


# ---------------------------------------------------------------------------
# SCD2 dimension-history assembly (change-collapsed, tombstone-closed)
# ---------------------------------------------------------------------------

_SCD2_DIM_ORACLE = """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), chg AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    ), v AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS version_seq,
             ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM chg
    )
    SELECT user_id, event_type,
           CAST(version_seq AS BIGINT) AS version_seq,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(valid_to, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           valid_to IS NULL AS is_current
    FROM v
    WHERE event_type <> 'error'
"""


@query("scd2_dimension_history", oracle=_SCD2_DIM_ORACLE)
def scd2_dimension_history(spark, sf_dir):
    """SCD-type-2 dimension-history ASSEMBLY from a change stream —
    the warehouse dimension-table build next to ``upsert_latest_state``
    (which keeps only the head state): per key, consecutive identical
    attribute observations COLLAPSE into one version (a new version
    row starts only where lag(attr) differs — change detection), each
    version valid from its first observation until the next change
    (``valid_to`` NULL = current), and a terminal ``error`` event is a
    TOMBSTONE: it closes the previous version's interval but emits no
    version itself, so a deleted key has no open row.

    Contrast with ``scd2_event_intervals`` (training.py), which
    versions EVERY observation unconditionally — correct for
    observation feeds, wrong for dimension tables where re-stating an
    unchanged attribute must not open a new version.

    Interval algebra guaranteed by construction and pinned in pytest
    (tests/test_round16_ops.py): per key, intervals never overlap,
    never gap (valid_to == next valid_from), at most one open row,
    and a key whose latest change is a tombstone has none.

    Scale shape: two stacked windows over the SAME (user_id | ts,
    event_id) partitioning — lag for change detection, lead over the
    collapsed change rows for interval close — so one shuffle keyed by
    user_id serves both; state is bounded by key cardinality, exactly
    like the CDC upsert."""
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = t(spark, sf_dir, "events")
    chg = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    valid_to = F.lead("ts").over(w)
    return (
        chg.select(
            "user_id",
            "event_type",
            F.row_number().over(w).cast("long").alias("version_seq"),
            F.date_format("ts", fmt).alias("valid_from"),
            F.date_format(valid_to, fmt).alias("valid_to"),
            valid_to.isNull().alias("is_current"),
        )
        .filter(F.col("event_type") != "error")
    )
