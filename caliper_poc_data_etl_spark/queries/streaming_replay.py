"""Streaming operators graded through the batch oracle.

Each entry builds the REAL Structured Streaming pipeline
(`readStream` → watermarked event-time op → availableNow replay) and
returns the finished result as a batch DataFrame, so the driver's
DuckDB comparison checks streaming semantics end-to-end, not a batch
stand-in. The oracles are the same SQL as the batch twins in
``timeseries.py`` — a replay over static input must agree exactly.

``stream_dedup_within_watermark`` injects exact duplicate rows (a
two-source union of the same file stream) before
``dropDuplicatesWithinWatermark``; because the duplicates are
bit-identical, the surviving SET is deterministic regardless of which
physical copy the state store keeps — so the dedup result is fully
oracle-checkable even though survivor *arrival order* is
engine-timing specific.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.kernels import _TS_FMT_DUCK, _TS_FMT_SPARK, md5_int, topk
from caliper_poc_data_etl_spark.queries.registry import query, t
from caliper_poc_data_etl_spark.queries.relational import (
    _hll_est_from_zs,
    _HLL_LC_SQL,
    HLL_ALPHA_MILLI,
    HLL_LC_CUTOFF_MILLI,
    HLL_M,
    HLL_R_CAP,
    HLL_W_BITS,
)
from caliper_poc_data_etl_spark.streaming import (
    click_purchase_join,
    read_event_stream,
    replay_to_df,
    sessionized_values,
    sliding_totals,
    stateful_dedup,
    tumbling_counts,
)

_TUMBLING_ORACLE = """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
"""

# Strict ``>`` matches Spark session_window's closed merge: an event
# at exactly last_ts + 30 min EXTENDS the session (boundary pinned by
# tests/test_streaming.py::test_session_window_exact_boundary_convention).
_SESSION_ORACLE = """
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
"""


@query("stream_tumbling_replay", oracle=_TUMBLING_ORACLE)
def stream_tumbling_replay(spark, sf_dir):
    """readStream → watermark → tumbling windows → availableNow replay."""
    events = read_event_stream(spark, sf_dir)
    return replay_to_df(tumbling_counts(events), mode="complete")


_SLIDING_ORACLE = """
    WITH expanded AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS w0, * FROM events
    ), windows AS (
      SELECT w0 AS window_start, * FROM expanded
      UNION ALL
      SELECT w0 - INTERVAL '30 minutes' AS window_start, * FROM expanded
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM windows
    GROUP BY 1
"""


@query("stream_sliding_replay", oracle=_SLIDING_ORACLE)
def stream_sliding_replay(spark, sf_dir):
    """readStream → watermark → sliding 1h/30min windows → availableNow
    replay (streaming twin of ``ts_sliding_window``, same oracle)."""
    events = read_event_stream(spark, sf_dir)
    return replay_to_df(sliding_totals(events), mode="complete")


@query("stream_session_replay", oracle=_SESSION_ORACLE)
def stream_session_replay(spark, sf_dir):
    """readStream → watermark → session windows → availableNow replay."""
    events = read_event_stream(spark, sf_dir)
    return replay_to_df(sessionized_values(events), mode="complete")


_JOIN_ORACLE = """
    SELECT p.event_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           c.event_id AS click_event_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
    FROM events p
    JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL '30 minutes'
"""


@query("stream_join_replay", oracle=_JOIN_ORACLE)
def stream_join_replay(spark, sf_dir):
    """Stream-stream join replay: two independent readStreams over the
    same event source (clicks / purchases), watermarked both sides,
    joined with a two-sided time bound so join state is evictable —
    the stream-stream join operator family.
    Append mode: joined pairs emit as matches occur."""
    clicks = read_event_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = read_event_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return replay_to_df(click_purchase_join(clicks, purchases), mode="append")


_PROFILE_ORACLE = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_seen,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_seen
    FROM events GROUP BY user_id
"""


@query("stream_stateful_profile_replay", oracle=_PROFILE_ORACLE)
def stream_stateful_profile_replay(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState) replay: the
    per-user running profile folded across micro-batches. Replaying
    the single-file source is one batch, so the update-mode emission
    is exactly the final profile per user — which must equal the batch
    aggregation, and that equality is what the oracle checks. The
    multi-batch incremental path is pytest-covered
    (tests/test_streaming.py)."""
    from caliper_poc_data_etl_spark.streaming.stateful import user_profiles

    events = read_event_stream(spark, sf_dir)
    out = replay_to_df(user_profiles(events), mode="update")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "user_id",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
        F.date_format("first_seen", fmt).alias("first_seen"),
        F.date_format("last_seen", fmt).alias("last_seen"),
    )


_DEDUP_ORACLE = """
    SELECT event_id, user_id, event_type, ROUND(value, 2) AS value
    FROM events
"""


@query("stream_dedup_within_watermark", oracle=_DEDUP_ORACLE)
def stream_dedup_within_watermark(spark, sf_dir):
    """Two readStreams over the same source, unioned (every event
    arrives twice, bit-identical) → dropDuplicatesWithinWatermark on
    event_id → exactly one copy per event survives.

    Deterministic by construction: the injected duplicates are
    identical rows, so whichever physical copy the state store keeps,
    the output SET equals the distinct input — which the DuckDB oracle
    states directly. Without the dedup the replay would return 2×
    rows, so a hash-green row here is hard evidence the operator
    actually removed the duplicates."""
    doubled = read_event_stream(spark, sf_dir).union(read_event_stream(spark, sf_dir))
    out = replay_to_df(stateful_dedup(doubled), mode="append")
    return out.select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )


_THROTTLE_ORACLE = """
    SELECT user_id, event_type, event_id FROM (
      SELECT user_id, event_type, event_id,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id, event_type
                                                   ORDER BY ts, event_id)) AS gap_us
      FROM events
    ) WHERE gap_us IS NULL OR gap_us > 300000000
"""


@query("stream_throttle_replay", oracle=_THROTTLE_ORACLE)
def stream_throttle_replay(spark, sf_dir):
    """Streaming event throttle (custom applyInPandasWithState machine,
    one long of state per key) replayed over the static source — must
    reproduce the batch lag-window formulation exactly, which is the
    same SQL that grades ``dedup_events_throttle``. The multi-batch
    state fold (last raw ts carrying across batches) is pytest-covered
    (tests/test_streaming.py)."""
    from caliper_poc_data_etl_spark.streaming import (
        read_event_stream,
        replay_to_df,
        throttled_events,
    )

    events = read_event_stream(spark, sf_dir)
    return replay_to_df(throttled_events(events), mode="append")


_TOPK_ORACLE = """
    WITH counts AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS w0, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT w0, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY w0
                                ORDER BY n DESC, event_type) AS rk
      FROM counts
    )
    SELECT strftime(w0, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, CAST(n AS BIGINT) AS n, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
"""


@query("stream_topk_per_window_replay", oracle=_TOPK_ORACLE)
def stream_topk_per_window_replay(spark, sf_dir):
    """Streaming top-K: the 3 most frequent event types per tumbling
    hour, over a live ``readStream``. Rank functions are unsupported
    inside a streaming aggregation (no window functions on update
    state), so this uses THE production shape: the stream maintains
    the windowed counts (incremental, watermark-bounded state) and the
    rank is a batch window over the replayed aggregate — exactly what
    a foreachBatch sink does per micro-batch at scale. Deterministic
    tiebreak (count desc, type asc) keeps the top-3 stable under
    re-ordering of arrivals."""
    from caliper_poc_data_etl_spark.streaming import (
        read_event_stream,
        replay_to_df,
        tumbling_counts,
    )

    events = read_event_stream(spark, sf_dir)
    counts = replay_to_df(tumbling_counts(events), mode="complete")
    return topk(
        counts.select("window_start", "event_type", "n"),
        ["window_start"],
        [F.desc("n"), "event_type"],
        3,
        rank="rk",
    )


_UPSERT_ORACLE = """
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           event_type AS last_event_type,
           ROUND(value, 2) AS last_value
    FROM (
      SELECT user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1 AND event_type <> 'error'
"""


def _foreachbatch_upsert(
    spark, sf_dir, max_files_per_trigger=None, glob="events.parquet"
):
    """Core of stream_foreachbatch_upsert, parameterized so tests can
    force a REAL multi-batch fold (maxFilesPerTrigger=1 over a source
    staged as several top-level files).

    Streaming CDC sink via ``foreachBatch``: the event stream
    drives per-micro-batch MERGE logic into a keyed state table
    (latest row per key wins, terminal ``error`` tombstones delete) —
    THE production sink shape when the target is a keyed store
    (Delta/JDBC/KV) rather than an append log. Each batch reduces to
    its per-key latest, merges against the accumulated state with a
    full-outer resolve, and rewrites the state table; the final state
    after an availableNow replay must equal the batch
    ``upsert_latest_state`` — which is exactly what the oracle
    grades.

    State lives in a parquet table at a per-session path (the
    app-keyed staging convention); at scale the rewrite becomes a
    MERGE INTO against a transactional table, with identical batch
    logic. Batch boundaries don't affect the result: latest-wins
    merge is associative across any arrival slicing, which is what
    makes this sink exactly-once-equivalent under retries."""
    import tempfile

    from caliper_poc_data_etl_spark.streaming import read_event_stream

    app = spark.sparkContext.applicationId.replace("-", "_")
    base_dir = f"{tempfile.gettempdir()}/graft_upsert_{app}"
    state_dir = f"{base_dir}/state"
    import shutil

    # Clear state AND checkpoint together: a surviving checkpoint with
    # a cleared state table would mark the source files already
    # processed and the replay would produce nothing.
    shutil.rmtree(base_dir, ignore_errors=True)

    def merge_batch(batch_df, batch_id):
        latest = topk(
            batch_df, ["user_id"], [F.desc("ts"), F.desc("event_id")], 1
        ).select("user_id", "ts", "event_id", "event_type", "value")
        try:
            state = batch_df.sparkSession.read.parquet(state_dir)
        except Exception:
            state = None
        if state is not None:
            s = state.select(
                F.col("user_id"),
                F.col("ts").alias("s_ts"),
                F.col("event_id").alias("s_event_id"),
                F.col("event_type").alias("s_event_type"),
                F.col("value").alias("s_value"),
            )
            merged = latest.join(s, "user_id", "full_outer")
            newer = F.col("ts").isNotNull() & (
                F.col("s_ts").isNull()
                | (F.col("ts") > F.col("s_ts"))
                | ((F.col("ts") == F.col("s_ts")) & (F.col("event_id") > F.col("s_event_id")))
            )
            resolved = merged.select(
                "user_id",
                F.when(newer, F.col("ts")).otherwise(F.col("s_ts")).alias("ts"),
                F.when(newer, F.col("event_id")).otherwise(F.col("s_event_id")).alias("event_id"),
                F.when(newer, F.col("event_type")).otherwise(F.col("s_event_type")).alias("event_type"),
                F.when(newer, F.col("value")).otherwise(F.col("s_value")).alias("value"),
            )
        else:
            resolved = latest
        # rewrite to a temp dir then swap — the parquet source cannot
        # overwrite a table it is reading in the same job
        tmp = f"{state_dir}_next"
        resolved.write.mode("overwrite").parquet(tmp)
        final = batch_df.sparkSession.read.parquet(tmp)
        final.write.mode("overwrite").parquet(state_dir)

    events = read_event_stream(
        spark, sf_dir, max_files_per_trigger=max_files_per_trigger, glob=glob
    )
    q = (
        events.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", f"{base_dir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    # availableNow is guaranteed to terminate once the staged files
    # drain; a bare awaitTermination(N) that ignores its boolean would
    # silently grade a partially-merged state table under host
    # throttling — wait without a timeout instead.
    q.awaitTermination()
    from caliper_poc_data_etl_spark.streaming.events import (
        record_stream_progress,
    )

    record_stream_progress("stream_foreachbatch_upsert", q)
    state = spark.read.parquet(state_dir)
    return state.filter(F.col("event_type") != "error").select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
    )


@query("stream_foreachbatch_upsert", oracle=_UPSERT_ORACLE)
def stream_foreachbatch_upsert(spark, sf_dir):
    """Streaming CDC sink via ``foreachBatch`` — see
    :func:`_foreachbatch_upsert` for the merge machinery (latest-wins
    per key, ``error`` tombstones, state table rewritten per batch at
    an app-keyed path). The availableNow replay's final state must
    equal the batch ``upsert_latest_state``, which is what the oracle
    grades; the multi-batch fold (maxFilesPerTrigger=1 over a split
    source) is pinned in tests/test_round5_ops.py."""
    return _foreachbatch_upsert(spark, sf_dir)


# ---------------------------------------------------------------------------
# Streaming SCD2 history build (foreachBatch)
# ---------------------------------------------------------------------------

_SCD2_ORACLE = f"""
    SELECT user_id, event_id,
           ROUND(value, 2) AS value,
           strftime(ts, '{_TS_FMT_DUCK}') AS valid_from,
           strftime(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    '{_TS_FMT_DUCK}') AS valid_to
    FROM events
"""


def _scd2_replay(spark, sf_dir, max_files_per_trigger=None, glob="events.parquet"):
    """Core of stream_scd2_replay, parameterized so tests can force a
    REAL multi-batch fold over a ts-ordered staged source.

    Streaming SCD-type-2 history maintenance via ``foreachBatch``:
    each micro-batch turns its per-user rows into versioned intervals
    (valid_from = own ts, valid_to = next ts in batch) and MERGEs them
    into the accumulated history — closing each user's currently-open
    interval at the first new timestamp. Assumes the CDC feed is
    per-key ordered across batches (the standard contract of a keyed
    CDC topic); within a batch, order is recovered by sorting. The
    final history after an availableNow replay must equal the batch
    ``scd2_event_intervals``, which is what the oracle grades.

    State is a parquet table at an app-keyed path rewritten per batch
    (temp-dir swap, same recipe as ``stream_foreachbatch_upsert``); at
    scale the rewrite becomes a MERGE INTO on a transactional table
    touching only (users in batch) rows."""
    import shutil
    import tempfile

    from caliper_poc_data_etl_spark.streaming import read_event_stream

    app = spark.sparkContext.applicationId.replace("-", "_")
    base_dir = f"{tempfile.gettempdir()}/graft_scd2_{app}"
    state_dir = f"{base_dir}/state"
    shutil.rmtree(base_dir, ignore_errors=True)

    def merge_batch(batch_df, batch_id):
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        iv = batch_df.select(
            "user_id", "event_id", "ts", "value"
        ).withColumn("valid_to", F.lead("ts").over(w))
        firsts = batch_df.groupBy("user_id").agg(
            F.min("ts").alias("first_new_ts")
        )
        try:
            state = batch_df.sparkSession.read.parquet(state_dir)
        except Exception:
            state = None
        if state is not None:
            closed = state.filter(F.col("valid_to").isNotNull())
            reopened = (
                state.filter(F.col("valid_to").isNull())
                .join(firsts, "user_id", "left")
                .select(
                    "user_id",
                    "event_id",
                    "ts",
                    "value",
                    F.col("first_new_ts").alias("valid_to"),
                )
            )
            new_state = closed.unionByName(reopened).unionByName(iv)
        else:
            new_state = iv
        tmp = f"{state_dir}_next"
        new_state.write.mode("overwrite").parquet(tmp)
        batch_df.sparkSession.read.parquet(tmp).write.mode(
            "overwrite"
        ).parquet(state_dir)

    events = read_event_stream(
        spark, sf_dir, max_files_per_trigger=max_files_per_trigger, glob=glob
    )
    q = (
        events.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", f"{base_dir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    # availableNow terminates once the staged files drain; waiting
    # without a timeout avoids grading partial state under throttling.
    q.awaitTermination()
    from caliper_poc_data_etl_spark.streaming.events import (
        record_stream_progress,
    )

    record_stream_progress("stream_scd2_replay", q)
    state = spark.read.parquet(state_dir)
    return state.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value"),
        F.date_format("ts", _TS_FMT_SPARK).alias("valid_from"),
        F.date_format("valid_to", _TS_FMT_SPARK).alias("valid_to"),
    )


@query("stream_scd2_replay", oracle=_SCD2_ORACLE)
def stream_scd2_replay(spark, sf_dir):
    """Streaming SCD-type-2 history maintenance — see
    :func:`_scd2_replay` for the per-batch MERGE (batch rows become
    versioned intervals; each user's open interval closes at the first
    new timestamp). Completes the streaming-sink family: type-1 upsert
    (``stream_foreachbatch_upsert``) keeps only the latest row per
    key, this keeps the full version history — the pair every CDC
    warehouse ships. The multi-batch fold over a ts-ordered staged
    source is pinned in tests/test_round6b_ops.py."""
    return _scd2_replay(spark, sf_dir)


# ---------------------------------------------------------------------------
# Streaming distinct users per day (stateful dedup + count)
# ---------------------------------------------------------------------------


@query(
    "stream_distinct_users_replay",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def stream_distinct_users_replay(spark, sf_dir):
    """Streaming daily distinct users: COUNT(DISTINCT) is unsupported
    inside a streaming aggregation, so this runs THE production shape
    — a watermarked stateful ``dropDuplicates`` on (user, day) makes
    the stream emit each (user, day) once (state expires with the
    watermark), and the distinct COUNT is a trivial batch aggregate
    over the deduped replay (per micro-batch in a foreachBatch sink at
    scale). The oracle states the batch COUNT(DISTINCT) semantics
    directly, so a hash-green row proves the dedup state actually
    collapsed re-visits — without it the counts would be event counts,
    not user counts.

    State is bounded by |users|×|days inside watermark|, the minimum
    any exact distinct requires."""
    from caliper_poc_data_etl_spark.streaming import (
        read_event_stream,
        replay_to_df,
    )

    events = read_event_stream(spark, sf_dir)
    deduped = (
        events.withWatermark("ts", "2 hours")
        .select(
            "user_id",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "ts",
        )
        .dropDuplicates(["user_id", "day"])
    )
    replayed = replay_to_df(deduped, mode="append")
    return replayed.groupBy("day").agg(
        F.count("*").cast("long").alias("n_users")
    )


# ---------------------------------------------------------------------------
# Streaming HLL: tumbling-window distinct-user sketch
# ---------------------------------------------------------------------------


def _hll_register_summary_cols():
    """(zs, hit, checksum) Columns over 64 register columns m_0..m_63
    (absent bucket = NULL = register 0), sharing the batch op's
    literals. Estimation happens downstream via
    :func:`_hll_est_from_zs` (integral `div` only). Each summary is
    ONE parsed expression instead of a 64-term Column reduce (the
    similarity.py recipe — same operators after parsing, so the exact
    integers are unchanged; the win is builder py4j round-trips)."""
    zs = F.expr(
        " + ".join(
            f"shiftleft(1L, cast({HLL_W_BITS + 1} - coalesce(m_{j}, 0) as int))"
            for j in range(HLL_M)
        )
    )
    hit = F.expr(
        " + ".join(
            f"CAST((m_{j} IS NOT NULL) AS BIGINT)" for j in range(HLL_M)
        )
    )
    checksum = F.expr(
        " + ".join(
            f"CAST(coalesce(m_{j}, 0) AS BIGINT) * {j + 1}"
            for j in range(HLL_M)
        )
    )
    return zs, hit, checksum


@query(
    "stream_hll_distinct_replay",
    oracle=f"""
    WITH h AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS d,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
               AS h52
      FROM events
    ),
    b AS (
      SELECT d, h52 % {HLL_M} AS bucket, h52 // {HLL_M} AS w FROM h
    ),
    regs AS (
      SELECT d, bucket,
             MAX(CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
                      ELSE {HLL_W_BITS + 1} - length(bin(w)) END) AS m_j
      FROM b GROUP BY 1, 2
    ),
    z AS (
      SELECT d,
             SUM(1::BIGINT << CAST({HLL_W_BITS + 1} - m_j AS INT))
               + ({HLL_M} - COUNT(*)) * (1::BIGINT << {HLL_W_BITS + 1}) AS zs,
             COUNT(*) AS n_buckets_hit,
             SUM(m_j * (bucket + 1)) AS register_checksum
      FROM regs GROUP BY 1
    ),
    est AS (
      SELECT d, n_buckets_hit, register_checksum,
             {HLL_ALPHA_MILLI} * {HLL_M} * {HLL_M}
               * LEAST(((1::BIGINT << {HLL_W_BITS + 1}) * 1000) // zs,
                       {HLL_R_CAP}) // 1000 AS raw_milli,
             {HLL_M} - n_buckets_hit AS v_zero
      FROM z
    )
    SELECT strftime(d, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(CASE WHEN v_zero > 0 AND raw_milli <= {HLL_LC_CUTOFF_MILLI}
                     THEN {HLL_M} * ({_HLL_LC_SQL})[CAST(v_zero AS BIGINT)]
                     ELSE raw_milli END AS BIGINT) AS hll_est_milli,
           CAST(n_buckets_hit AS BIGINT) AS n_buckets_hit,
           CAST(register_checksum AS BIGINT) AS register_checksum
    FROM est
    """,
)
def stream_hll_distinct_replay(spark, sf_dir):
    """Streaming HyperLogLog — per-tumbling-day distinct-user sketch
    over a watermarked readStream, replayed availableNow: the
    PRODUCTION way to count streaming uniques
    (``stream_distinct_users_replay`` keeps exact per-key dedupe
    state that grows with cardinality; the HLL keeps exactly
    {HLL_M} longs per window regardless of cardinality). The
    registers live IN the streaming aggregation state as {HLL_M}
    conditional-max columns — max is the HLL merge, so micro-batch
    partials combine exactly like production shards and the replayed
    result equals the batch computation (the oracle recomputes it
    from scratch; ``agg_hll_md5_parity``'s estimator with the same
    import-time linear-counting table).

    Scale shape: one stateful windowed aggregation, state =
    windows x {HLL_M} longs (bounded by the watermark horizon), no
    per-user state, no second stateful operator — the single-agg form
    deliberately avoids chained stateful aggregations. Complete-mode
    memory sink is replay-only; production writes foreachBatch."""
    from caliper_poc_data_etl_spark.streaming.events import (
        read_event_stream,
        replay_to_df,
    )

    events = read_event_stream(spark, sf_dir)
    h52 = md5_int(F.col("user_id").cast("string"), 13)
    enriched = (
        events.withWatermark("ts", "2 hours")
        .withColumn("bucket", h52 % HLL_M)
        .withColumn("w_rem", (h52 / HLL_M).cast("long"))
        .withColumn(
            "rho",
            F.when(F.col("w_rem") == 0, F.lit(HLL_W_BITS + 1)).otherwise(
                F.lit(HLL_W_BITS + 1) - F.length(F.bin(F.col("w_rem")))
            ),
        )
    )
    regs = enriched.groupBy(F.window("ts", "1 day").alias("win")).agg(
        *[
            # parsed (one py4j call per register instead of ~6)
            F.expr(f"max(CASE WHEN bucket = {j} THEN rho END)").alias(f"m_{j}")
            for j in range(HLL_M)
        ]
    )
    zs, hit, checksum = _hll_register_summary_cols()
    summarized = regs.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        zs.cast("long").alias("zs"),
        hit.cast("long").alias("n_buckets_hit"),
        checksum.cast("long").alias("register_checksum"),
    )
    out = _hll_est_from_zs(summarized).select(
        "window_start",
        "hll_est_milli",
        "n_buckets_hit",
        "register_checksum",
    )
    return replay_to_df(out, mode="complete")


# ---------------------------------------------------------------------------
# Stream-static broadcast enrichment join
# ---------------------------------------------------------------------------

_ENRICH_ORACLE = """
    SELECT strftime(time_bucket(INTERVAL '1 hour', e.ts),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1, 2
"""


@query("stream_static_enrich_replay", oracle=_ENRICH_ORACLE)
def stream_static_enrich_replay(spark, sf_dir):
    """Stream-static BROADCAST enrichment join — the canonical
    production streaming pipeline: a watermarked event stream joined
    to a slowly-changing static dimension (customer → nation, the
    classic star-schema lookup), then windowed-aggregated per
    enrichment attribute. The static side is re-read per micro-batch
    by Structured Streaming (so a dimension refresh between batches is
    picked up — the "slowly changing" contract) and BROADCAST, so the
    stream side never shuffles for the join; the only stateful op is
    the windowed aggregation, whose state the watermark bounds.

    Replay: availableNow over the static parquet, complete mode (a
    windowed agg's trailing windows only emit in append mode once the
    watermark passes them, which a finite replay never does). The
    oracle is the equivalent batch join+agg — a replay over static
    input must agree exactly. The value sum runs in DECIMAL(18,4) on
    both sides (the ts_dow_hour_profile convention): a double SUM is
    accumulation-order-dependent across micro-batches/partitions/
    engines, and a 2-dp round of an order-dependent double can flip
    at the boundary. At 100 TB/day the shape is identical:
    dimensions are broadcast-sized by definition, and per-nation
    window state is |nations| × |open windows|."""
    from caliper_poc_data_etl_spark.streaming import (
        read_event_stream,
        replay_to_df,
    )

    dim = (
        t(spark, sf_dir, "customer")
        .join(
            t(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    events = read_event_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    enriched = events.join(
        F.broadcast(dim), events["user_id"] == dim["c_custkey"]
    )
    agg = (
        enriched.groupBy(F.window("ts", "1 hour").alias("w"), "n_name")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_name",
            "n",
            "total_value",
        )
    )
    return replay_to_df(agg, mode="complete")


# ---------------------------------------------------------------------------
# Streaming quantile histogram (fixed-size windowed quantile state)
# ---------------------------------------------------------------------------

QH_BUCKETS = 48  # log2 centi buckets: covers any value < 2^47 centi


@query(
    "stream_quantile_hist_replay",
    oracle="""
    WITH base AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS w0,
             CAST(ROUND(value * 100) AS BIGINT) AS centi
      FROM events
    ), b AS (
      SELECT w0,
             CASE WHEN centi <= 0 THEN 0
                  ELSE LEAST(length(bin(centi)), 47) END AS bucket
      FROM base
    ), counts AS (
      SELECT w0, bucket, COUNT(*) AS n_b FROM b GROUP BY 1, 2
    ), tot AS (
      SELECT w0, CAST(SUM(n_b) AS BIGINT) AS n FROM counts GROUP BY 1
    ), cum AS (
      SELECT w0, bucket,
             SUM(n_b) OVER (PARTITION BY w0 ORDER BY bucket) AS cum
      FROM counts
    ), pick AS (
      SELECT c.w0, d.q_decile, MIN(c.bucket) AS bucket_idx, MAX(t.n) AS n
      FROM cum c
      JOIN tot t USING (w0)
      JOIN (VALUES (5), (9)) AS d(q_decile)
        ON c.cum >= (d.q_decile * t.n + 9) // 10
      GROUP BY 1, 2
    )
    SELECT strftime(w0, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(q_decile AS BIGINT) AS q_decile,
           CAST(bucket_idx AS BIGINT) AS bucket_idx,
           CAST(CASE WHEN bucket_idx = 0 THEN 0
                ELSE 1::BIGINT << CAST(bucket_idx - 1 AS INT) END AS BIGINT)
             AS bucket_lo_centi,
           CAST(n AS BIGINT) AS n
    FROM pick
    """,
)
def stream_quantile_hist_replay(spark, sf_dir):
    """Streaming QUANTILE state in fixed size — the windowed
    counterpart of ``agg_kll_quantile_sketch`` and the quantile
    sibling of ``stream_hll_distinct_replay``: per tumbling hour, a
    48-bucket log2 histogram of centi-values lives IN the
    streaming aggregation state as 48 conditional-sum
    columns (bucket = binary digit length of the centi value, clamped
    to bucket 47 — the HLL rho idiom, no log), so window state is
    exactly 49 longs at ANY event volume or value magnitude and
    micro-batch partials combine exactly (sum is the histogram
    merge). p50/p90 come out of the replayed aggregate as integer
    rank queries over the cumulative bucket counts — the batch
    post-pass, the sanctioned ``stream_topk_per_window_replay``
    shape (rank logic is unsupported inside a streaming agg).

    The estimate is bucket-resolution by design (the answer names the
    log2 bucket and its exact lower bound, not an interpolated
    point) — the HDR-histogram trade: multiplicative error bounded by
    2x per bucket step, state fixed, merge exact. The exact-rank and
    fixed-k point tools live in-family (``ml_quantile_drift``,
    ``agg_kll_quantile_sketch``).

    Scale shape: ONE stateful windowed aggregation (state = open
    windows x 49 longs, watermark-bounded), no per-key
    state, no chained stateful ops; the post-pass runs on the
    bounded replayed aggregate (windows x occupied buckets)."""
    from caliper_poc_data_etl_spark.streaming.events import (
        read_event_stream,
        replay_to_df,
    )

    events = read_event_stream(spark, sf_dir)
    centi = F.round(F.col("value") * 100).cast("long")
    # Clamp to the last bucket so a centi >= 2^(QH_BUCKETS-1) can never
    # count in n yet land in no pivoted column: both sides
    # cap at bucket QH_BUCKETS-1, so out-of-range values stay in lockstep.
    bucket = F.when(centi <= 0, F.lit(0)).otherwise(
        F.least(
            F.expr(
                "cast(length(bin(cast(round(value * 100) as bigint)))"
                " as int)"
            ),
            F.lit(QH_BUCKETS - 1),
        )
    )
    agg = (
        events.withWatermark("ts", "2 hours")
        .withColumn("bucket", bucket)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n"),
            *[
                # parsed (one py4j call per bucket instead of ~6)
                F.expr(
                    f"CAST(sum(CASE WHEN bucket = {b} THEN 1 ELSE 0 END) "
                    "AS BIGINT)"
                ).alias(f"b{b}")
                for b in range(QH_BUCKETS)
            ],
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
            *[f"b{b}" for b in range(QH_BUCKETS)],
        )
    )
    hist = replay_to_df(agg, mode="complete")
    stack_args = ", ".join(f"{b}, b{b}" for b in range(QH_BUCKETS))
    melt = hist.select(
        "window_start",
        "n",
        F.expr(f"stack({QH_BUCKETS}, {stack_args}) as (bucket, n_b)"),
    ).filter(F.col("n_b") > 0)
    w_cum = W.partitionBy("window_start").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = melt.withColumn("cum", F.sum("n_b").over(w_cum))
    picked = (
        cum.select(
            "*", F.explode(F.array(F.lit(5), F.lit(9))).alias("q_decile")
        )
        .filter(
            F.col("cum")
            >= F.expr("(q_decile * n + 9) div 10")
        )
        .groupBy("window_start", "q_decile")
        .agg(F.min("bucket").alias("bucket_idx"), F.max("n").alias("n"))
    )
    return picked.select(
        "window_start",
        F.col("q_decile").cast("long").alias("q_decile"),
        F.col("bucket_idx").cast("long").alias("bucket_idx"),
        F.when(F.col("bucket_idx") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr("shiftleft(1L, cast(bucket_idx - 1 as int))")
        )
        .alias("bucket_lo_centi"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join with watermark-expiry null padding
# ---------------------------------------------------------------------------

_OUTER_JOIN_ORACLE = """
    SELECT p.event_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           c.event_id AS click_event_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL '30 minutes'
"""


@query("stream_outer_join_replay", oracle=_OUTER_JOIN_ORACLE)
def stream_outer_join_replay(spark, sf_dir):
    """Stream-stream LEFT-OUTER join replay — the conversion-funnel
    shape where the UNMATCHED side is the signal (purchases with no
    preceding click = unattributed conversions): two watermarked
    streams, two-sided time bound (the state-eviction contract, as in
    the inner ``stream_join_replay``), ``leftOuter`` — matched pairs
    emit as they join; an unmatched purchase emits null-padded ONLY
    when the watermark passes purchase_ts, i.e. when no in-bound
    click can still arrive. That emission is literally state
    eviction, which a finite replay's final watermark never reaches
    for the trailing rows — so the replay reads the sentinel-staged
    source (``stage_watermark_flush_source``): one far-future
    click+purchase pair pushes the final watermark past every real
    event, Spark's trailing no-data micro-batches apply it, and the
    output (sentinel rows filtered by timestamp) equals the batch
    LEFT JOIN oracle exactly. The with/without-sentinel contrast — an
    unmatched row appears ONLY after its watermark expires — is
    pinned in tests/test_round17_ops.py.

    Scale shape: identical to the inner join — symmetricHashJoin
    state bounded by the watermark on both sides, partitioned by
    user_id; the sentinel is the Kafka idle-partition heartbeat
    pattern, 2 rows regardless of volume."""
    from caliper_poc_data_etl_spark.streaming import (
        FLUSH_SENTINEL_CUTOFF,
        click_purchase_join,
        read_event_stream,
        replay_to_df,
        stage_watermark_flush_source,
    )

    staged = stage_watermark_flush_source(spark, sf_dir)
    clicks = read_event_stream(spark, staged, glob="*.parquet").filter(
        F.col("event_type") == "click"
    )
    purchases = read_event_stream(spark, staged, glob="*.parquet").filter(
        F.col("event_type") == "purchase"
    )
    joined = click_purchase_join(clicks, purchases, how="leftOuter")
    out = replay_to_df(joined, mode="append")
    # Drop the sentinel-derived rows: formatted purchase_ts compares
    # chronologically as text; real data is ~76 years before the cutoff.
    return out.filter(F.col("purchase_ts") < FLUSH_SENTINEL_CUTOFF)


_FULL_OUTER_JOIN_ORACLE = """
    SELECT p.event_id,
           p.user_id AS p_user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           c.event_id AS click_event_id,
           c.user_id AS c_user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL '30 minutes'
"""


@query("stream_full_outer_join_replay", oracle=_FULL_OUTER_JOIN_ORACLE)
def stream_full_outer_join_replay(spark, sf_dir):
    """Stream-stream FULL-OUTER join replay — completes the streaming
    join family (inner ``stream_join_replay``, left
    ``stream_outer_join_replay``): BOTH unmatched sides null-pad on
    state eviction — unmatched purchases when the watermark passes
    purchase_ts (no in-bound click can still arrive), unmatched
    clicks when it passes click_ts + 30 min (no purchase can still
    reach back). The audit/reconciliation shape: every event accounted
    for exactly once, matched or not. Same sentinel-staged source as
    the left join (the per-side watermarks both advance; trailing
    no-data batches flush both state sides); sentinel rows filter by
    timestamp on WHICHEVER side is non-null. Oracle = batch FULL
    JOIN. Scale shape identical to the inner join: symmetricHashJoin
    state watermark-bounded on both sides."""
    from caliper_poc_data_etl_spark.streaming import (
        FLUSH_SENTINEL_CUTOFF,
        read_event_stream,
        replay_to_df,
        stage_watermark_flush_source,
    )

    staged = stage_watermark_flush_source(spark, sf_dir)
    clicks = (
        read_event_stream(spark, staged, glob="*.parquet")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_event_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        read_event_stream(spark, staged, glob="*.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    cond = (
        (purchases["p_user_id"] == clicks["c_user_id"])
        & (clicks["click_ts"] <= purchases["purchase_ts"])
        & (
            clicks["click_ts"]
            >= purchases["purchase_ts"] - F.expr("INTERVAL 30 minutes")
        )
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    joined = purchases.join(clicks, cond, "fullOuter").select(
        "event_id",
        "p_user_id",
        F.date_format("purchase_ts", fmt).alias("purchase_ts"),
        "click_event_id",
        "c_user_id",
        F.date_format("click_ts", fmt).alias("click_ts"),
    )
    out = replay_to_df(joined, mode="append")
    return out.filter(
        F.coalesce("purchase_ts", "click_ts") < FLUSH_SENTINEL_CUTOFF
    )
