"""Streaming event-time operators over the ``events`` table.

Each operator is a pure DataFrame→DataFrame transformation, so the
SAME function works on a batch frame (oracle checking) and a streaming
frame (production). Watermarks bound state: at 100 TB/day the window
state store only retains windows newer than (max event time − delay);
late rows beyond the watermark are dropped, which is the documented
contract (the reference has no streaming surface to preserve —
SURVEY.md §2A "Not present").

Replay strategy for tests/driver: ``trigger(availableNow=True)`` over
the static parquet re-runs the stream to completion in bounded
micro-batches (``maxFilesPerTrigger`` splits multi-file inputs), after
which the memory-sink table is a plain batch DataFrame.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, functions as F

_replay_counter = itertools.count()

# Progress trace of finished replays, keyed by memory-sink/query name.
# Populated by record_stream_progress() after each replay terminates;
# tools/stream_audit.py reads it to grade the streaming surface's
# PLANS (state operators, watermark, input completeness), not just the
# answers. Bounded two ways: the audit clears it between queries, and
# record_stream_progress() itself evicts the oldest replays beyond
# _MAX_RECORDED_REPLAYS — without that, a long bench/check_oracle
# session (each replay records under a unique 'replay_N' key) would
# accumulate every replay's history in driver memory.
RECENT_STREAM_PROGRESS: dict[str, list[dict]] = {}

_MAX_RECORDED_REPLAYS = 16


def record_stream_progress(name: str, q) -> None:
    """Stash a terminated StreamingQuery's progress history for
    auditing. ``recentProgress`` covers every micro-batch of an
    availableNow replay at this scale (default retention 100; the
    audit session raises ``numRecentProgressUpdates`` so longer
    replays are fully covered too)."""
    try:
        progress = [dict(p) for p in q.recentProgress]
    except Exception:  # noqa: BLE001 — audit trace must never fail a replay
        progress = []
    # Pop-and-reinsert so dict insertion order tracks recency of
    # RECORDING: re-recording an existing name must move it to the
    # back, or a just-refreshed replay could be evicted as "oldest"
    # while stale entries survive.
    RECENT_STREAM_PROGRESS.pop(name, None)
    RECENT_STREAM_PROGRESS[name] = progress
    while len(RECENT_STREAM_PROGRESS) > _MAX_RECORDED_REPLAYS:
        RECENT_STREAM_PROGRESS.pop(next(iter(RECENT_STREAM_PROGRESS)))


def read_event_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    glob: str = "events.parquet",
) -> DataFrame:
    """File-source stream over ``events.parquet``.

    Streaming sources need an explicit schema; we take it from a batch
    footer read (driver-side metadata only). ``ts`` arrives as a nanos
    long (session sets ``nanosAsLong``; Spark has no nanos type) and is
    converted with exact integer division — float math would corrupt
    values above 2^53.

    Session confs (``nanosAsLong``, UTC timezone) and the ``ts``
    normalization are shared with the batch reader via
    ``sources.readers.apply_fixture_confs`` / ``normalize_ts`` — one
    implementation, so the two paths cannot drift.
    """
    from caliper_poc_data_etl_spark.sources.readers import (
        _SCHEMA_CACHE,
        apply_fixture_confs,
        normalize_ts,
        schema_cache_key,
    )

    apply_fixture_confs(spark)
    # Same schema cache as the batch reader (metadata only) — skips
    # the footer-inference job on every replay construction.
    path = f"{sf_dir}/events.parquet"
    key = schema_cache_key(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    # The streaming file source requires a directory; select just the
    # events table out of the scale-factor dir with a glob filter.
    # ``glob`` widens the filter for tests that stage the events as
    # MULTIPLE top-level files to force real multi-batch replays.
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_ts(reader.parquet(sf_dir))


def tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows per event type (streaming twin of
    ``ts_tumbling_window``). Output schema matches the batch twin so
    one oracle serves both."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_totals(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding 1 h / 30 min windows (streaming twin of
    ``ts_sliding_window``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "total_value",
        )
    )


def sessionized_values(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows, 30-minute gap (streaming twin of
    ``ts_session_window``). Session state merges as events arrive;
    the watermark closes sessions and bounds the state store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
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


def stateful_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes the key's first-seen time — bounded state,
    unlike a global ``dropDuplicates`` which would grow forever."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each purchase paired with the same user's
    clicks in the preceding ``lookback`` interval.

    Both sides carry a watermark and the join predicate bounds click
    time against purchase time from BOTH directions — the contract
    Structured Streaming needs to evict join state: a buffered click
    can be dropped once the purchase-side watermark passes
    click_ts + lookback. Without the time bound, state grows forever.
    Works identically on batch frames (oracle path).

    ``how="leftOuter"`` is the production conversion-funnel shape: a
    purchase with NO preceding click emits with null click columns —
    but only once the watermark passes the point where a matching
    click could still arrive (state eviction), which is why a finite
    replay needs :func:`stage_watermark_flush_source` to flush the
    trailing rows.
    """
    c = clicks.select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select("event_id", "user_id", F.col("ts").alias("purchase_ts"))
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (p["user_id"] == c["c_user_id"])
        & (c["click_ts"] <= p["purchase_ts"])
        & (c["click_ts"] >= p["purchase_ts"] - F.expr(f"INTERVAL {lookback}"))
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return p.join(c, cond, how).select(
        "event_id",
        "user_id",
        F.date_format("purchase_ts", fmt).alias("purchase_ts"),
        "click_event_id",
        F.date_format("click_ts", fmt).alias("click_ts"),
    )


# Staged flush-source directories, one per (sf_dir): building the
# sentinel file costs a Spark write, so repeated invocations (bench
# trials, oracle re-checks) reuse the staged copy for session life.
_FLUSH_STAGE_CACHE: dict[str, str] = {}

# Far beyond any driver-generated event time (testdata spans 2024) yet
# filterable: output rows carry formatted purchase_ts strings, and the
# 'yyyy-MM-dd ...' format compares chronologically as text.
FLUSH_SENTINEL_TS = "2100-01-01 00:00:00"
FLUSH_SENTINEL_CUTOFF = "2099-01-01"


def stage_watermark_flush_source(spark: SparkSession, sf_dir: str) -> str:
    """Stage a copy of the events source whose replay FLUSHES all
    watermark-gated state: a temp directory holding (a) a symlink to
    the real ``events.parquet`` and (b) a 2-row sentinel file (one
    'click' + one 'purchase', both at :data:`FLUSH_SENTINEL_TS`,
    event_id/user_id = -1).

    Why: watermark = max observed event time − delay, so a finite
    replay's final watermark sits ``delay`` BEHIND the last real
    event — outer-join null rows, append-mode trailing windows, and
    any other eviction-emitted output inside that gap never appear.
    The sentinel pushes the final watermark past every real event
    (Spark runs the trailing no-data micro-batches that apply it —
    observed and pinned in tests), so a replay over the staged source
    equals the batch computation exactly. One sentinel per side of a
    two-sided filter split ('click'/'purchase') keeps BOTH per-stream
    watermarks advancing — the global watermark is their MIN.

    Callers exclude sentinel-derived output rows by timestamp
    (``< FLUSH_SENTINEL_CUTOFF``); sentinel join rows cannot touch
    real rows because the time-bound predicate spans minutes, not the
    ~76-year gap. The production analog is the Kafka heartbeat/flush
    marker pattern — idle partitions hold back the watermark unless a
    producer emits periodic markers."""
    import glob as globmod
    import os
    import shutil
    import tempfile

    key = os.path.abspath(sf_dir)
    cached = _FLUSH_STAGE_CACHE.get(key)
    if cached and os.path.isdir(cached):
        return cached
    from caliper_poc_data_etl_spark.sources.readers import apply_fixture_confs

    apply_fixture_confs(spark)
    raw = spark.read.parquet(f"{key}/events.parquet")
    stage = tempfile.mkdtemp(prefix="wm_flush_")
    # Staged dirs are cached for process life; without reaping they
    # would never be removed, leaking one sentinel dir per sf_dir per process into
    # /tmp across bench/sweep invocations — reap them at process exit.
    import atexit

    atexit.register(shutil.rmtree, stage, True)
    os.symlink(f"{key}/events.parquet", f"{stage}/events.parquet")
    sent = raw.limit(1).select(
        F.lit(-1).cast(raw.schema["event_id"].dataType).alias("event_id"),
        F.lit(FLUSH_SENTINEL_TS).cast(raw.schema["ts"].dataType).alias("ts"),
        F.lit(-1).cast(raw.schema["user_id"].dataType).alias("user_id"),
        F.explode(F.array(F.lit("click"), F.lit("purchase"))).alias(
            "event_type"
        ),
        F.lit(0.0).cast(raw.schema["value"].dataType).alias("value"),
        F.lit(None).cast(raw.schema["props"].dataType).alias("props"),
    )
    tmp_out = f"{stage}/_sentinel_tmp"
    sent.coalesce(1).write.parquet(tmp_out)
    part = globmod.glob(f"{tmp_out}/part-*.parquet")[0]
    shutil.move(part, f"{stage}/zz_sentinel.parquet")
    shutil.rmtree(tmp_out)
    _FLUSH_STAGE_CACHE[key] = stage
    return stage


def replay_to_df(
    stream_df: DataFrame, mode: str = "append", timeout_s: int = 300
) -> DataFrame:
    """Run a streaming frame to completion (availableNow) into a memory
    sink; return the result as a batch DataFrame.

    ``mode`` must be chosen per operator: windowed AGGREGATIONS need
    ``complete`` for replay — in append mode a window is emitted only
    once the watermark passes its end, so the trailing windows of a
    finite replay would silently never appear. Stateless maps and
    ``dropDuplicatesWithinWatermark`` use ``append`` (rows emit as
    processed; the watermark only bounds state, not emission).

    Memory sink is test/driver-scale only (results collect to the
    driver) — production sinks are files via
    :func:`stream_events_to_json` / foreachBatch.
    """
    if not stream_df.isStreaming:
        return stream_df
    name = f"replay_{next(_replay_counter)}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    # availableNow guarantees termination; the timeout only guards a
    # hang. Reading the table after a TIMED-OUT (still running) query
    # would silently return partial results — fail loudly instead.
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(
            f"streaming replay {name!r} did not finish within {timeout_s}s"
        )
    record_stream_progress(name, q)
    return stream_df.sparkSession.table(name)


def stream_events_to_json(
    stream_df: DataFrame,
    target: str,
    checkpoint: str,
    partition_by: str | None = None,
    available_now: bool = True,
):
    """Production-shaped file sink: partitioned JSON with exactly-once
    file commit via the checkpoint — the streaming analog of the
    reference's per-group JSON files (etl.js:115-125) without its
    unbounded-concurrency data loss (SURVEY.md F5)."""
    writer = (
        stream_df.writeStream.format("json")
        .option("path", target)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
