"""Sinks: partitioned, overwrite-atomic file writes.

Replaces the reference's rimraf + unbounded concurrent ``fs.writeFile``
sink (``etl.js:39-45,115-125``), which silently lost 80% of writes at
100k rows (SURVEY.md F5), with Spark's job-commit protocol: atomic
overwrite, retries, and backpressure for free.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Directory/file name of a NULL group key: the name ``partitionBy``
# gives it, so all three grouped layouts agree and a NULL never reads
# as the string key "None".
NULL_KEY = "__HIVE_DEFAULT_PARTITION__"


def _with_group_ordinal(df: DataFrame, *, order_col: str) -> tuple[DataFrame, DataFrame]:
    """Attach the reference's group ordinal (S15): ``_ord`` = 1-based
    rank of ``order_col`` (the group's first-occurrence row id,
    etl.js:56-58 Map-insertion order).

    Global rank via the TWO-PASS RANGE-OFFSET form (the
    ``mix_round_robin_interleave`` r10 re-plan): range-repartition on
    the unique order key, per-range-partition ``row_number``, then each
    partition's global offset joins back as a broadcast
    #partitions-row cumulative-count table — no single partition ever
    holds all groups, so the ordinal stays computable at any group
    cardinality. The ranked frame is persisted so the count branch and
    the output branch see the SAME physical range boundaries; it is
    returned second, for the caller to unpersist once written."""
    from pyspark.sql.window import Window as W

    w_pid = W.partitionBy("_pid").orderBy(order_col)
    ranked = (
        df.repartitionByRange(F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_rn_in", F.row_number().over(w_pid).cast("long"))
        .persist()
    )
    counts = ranked.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).cast("long").alias("_off"),
    )
    out = (
        ranked.join(F.broadcast(offsets), "_pid")
        .withColumn("_ord", F.col("_off") + F.col("_rn_in"))
        .drop("_pid", "_rn_in", "_off", order_col)
    )
    return out, ranked


def _write_direct(df: DataFrame, target: str, relpath) -> None:
    """Executor-direct file-per-row writer (reference layout).

    Each ``(…, value: string)`` row becomes one file at
    ``target/relpath(row, part)``, holding ``value`` and a newline;
    ``part`` is the writing task's unique ``part-<task>-<seq>`` stem.
    Plain POSIX I/O from the task — no Hadoop committer. Measured
    motivation: the committer path costs ~2 metadata operations per
    file (temp write + commit rename) plus a job-commit listing over
    every partition directory; at 5,000 one-file groups that overhead
    — not the bytes — dominates the whole pipeline (15.5 s committed
    vs a 0.6 s raw-writer floor for the same files, bench.py's
    ``file_create_ceiling``).

    Semantics: rows write synchronously and any I/O error fails the
    task (and job) loudly — unlike the reference's unbounded async
    ``fs.writeFile`` (etl.js:115-125) this cannot silently drop
    groups (pinned by tests/test_scale_no_loss.py). Trade-offs,
    accepted for this layout only: no task-retry atomicity (a retried
    task rewrites the same deterministic filenames) and the target
    must be POSIX-reachable from executors (local/NFS). File-per-group
    is the parity experiment, not the scale path — ``bulk`` remains
    the 100 TB layout and keeps the committer.
    """
    shutil.rmtree(target, ignore_errors=True)
    os.makedirs(target, exist_ok=True)

    def _write_partition(rows) -> None:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        for seq, row in enumerate(rows):
            path = os.path.join(target, relpath(row, f"part-{pid:05d}-{seq:05d}"))
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                fh.write(row["value"])
                fh.write("\n")

    df.foreachPartition(_write_partition)


def write_grouped_json(
    df: DataFrame,
    target: str,
    *,
    key: str = "attempt_id",
    layout: str = "spark",
    group_ordinal: bool = False,
) -> None:
    """Write one JSON document stream per group key.

    Input is ``(key, value: string)``: ``value`` is the group's events
    already serialized as one JSON array, as
    ``pipelines.items.items_grouped_json_by_attempt`` builds it and as
    the attempt pipeline's ``to_json(events)`` does. Serializing is
    the caller's job, so every layout is a plain text write; a frame
    without a string ``value`` column is rejected.

    - ``layout='spark'`` (default): ``partitionBy(key)`` JSON-lines —
      the idiomatic equivalent of the reference's file-per-group;
      directory per key, each line ``{"events": [...]}``.
    - ``layout='reference'``: byte-parity content — each group's
      ``value`` as ONE JSON-array text line, matching the reference's
      ``JSON.stringify(events)`` files (file *naming* is declared
      non-semantic, SURVEY.md §7.3), one ``{key}=<k>/`` directory per
      key; a NULL key is named ``NULL_KEY``, as the ``spark`` layout
      names it. Written executor-direct, bypassing the Hadoop
      committer — see :func:`_write_direct` for the measured rationale
      and trade-offs. ``group_ordinal=True`` (S15, this layout only)
      instead names each group's flat file ``events-{ordinal}-{key}.txt``,
      ordinal = the group's first-occurrence order in the input — the
      deterministic stand-in for the reference's
      ``events-{i}-{Date.now()}`` (etl.js:116; the timestamp suffix is
      non-semantic, the ordinal is the reproducible part). It needs
      the ``_first_rid`` column of
      ``items_grouped_json_by_attempt(with_first_seen=True)``.
    - ``layout='bulk'``: JSON-lines ``{key: ..., "events": [...]}``
      with NO per-key directories — the 100 TB layout. Any
      file-per-group layout costs O(distinct keys) filesystem metadata
      operations (measured ≈1 ms per file even for a raw serial
      writer); bulk keeps file count = task count and the grouping
      travels IN the data. The key is JSON-escaped by serializing a
      1-field struct and splicing the events array into it, so
      arbitrary key strings stay valid JSON and a NULL key is written
      as ``null``. Use this when keys number in the millions and a
      downstream consumer can filter by key (or re-partition coarsely)
      instead of addressing files.

    Partitioning strategy: REUSE the input's existing distribution. The
    callers' group-by / per-key projection already hash-partitions (or
    uniquifies) the key, so each key's rows sit in exactly one task and
    each partition directory gets ≈1 file — no extra exchange needed.
    Two rejected alternatives, both measured slower at 100k rows:

    - an explicit ``repartition(N, key)`` is elided as redundant against
      the group-by's hash partitioning, after which AQE coalesces the
      tiny final shuffle to 1-2 tasks that create hundreds of partition
      directories SERIALLY (2-3× the write cost);
    - ``repartitionByRange(N, key)`` survives elision but adds a range-
      sampling pass that RECOMPUTES the entire upstream (scan + agg)
      a second time — 3× the end-to-end wall clock.

    Instead, AQE partition coalescing is disabled just for this write,
    so the upstream's full task width carves the partition directories
    in parallel; the conf is restored afterwards.
    """
    if layout not in ("spark", "reference", "bulk"):
        raise ValueError(
            f"layout must be 'spark', 'reference' or 'bulk', got {layout!r}"
        )
    if dict(df.dtypes).get("value") != "string":
        raise ValueError(
            "write_grouped_json takes (key, value: string) rows: serialize "
            "the events first, e.g. with to_json or "
            "items_grouped_json_by_attempt"
        )
    if group_ordinal:
        if layout != "reference":
            raise ValueError(
                "group_ordinal is a reference-layout filename parity "
                f"feature; got layout={layout!r}"
            )
        if "_first_rid" not in df.columns:
            raise ValueError(
                "group_ordinal needs the grouped form with _first_rid "
                "(with_first_seen=True)"
            )
    spark = df.sparkSession
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce_key, None)
    spark.conf.set(coalesce_key, "false")
    name = F.coalesce(F.col(key).cast("string"), F.lit(NULL_KEY))
    ranked = None
    try:
        if group_ordinal:
            ordered, ranked = _with_group_ordinal(
                df.withColumn("_k", name), order_col="_first_rid"
            )
            _write_direct(
                ordered,
                target,
                lambda row, _part: f"events-{row['_ord']}-{row['_k']}.txt",
            )
        elif layout == "reference":
            _write_direct(
                df.select(name.alias("_k"), "value"),
                target,
                lambda row, part: f"{key}={row['_k']}/{part}.txt",
            )
        elif layout == "spark":
            (
                df.select(
                    F.col(key),
                    F.concat(F.lit('{"events":'), F.col("value"), F.lit("}")).alias(
                        "value"
                    ),
                )
                .write.mode("overwrite")
                .partitionBy(key)
                .text(target)
            )
        else:
            head = F.to_json(F.struct(F.col(key)), {"ignoreNullFields": "false"})
            line = F.concat(
                F.substring(head, 1, F.length(head) - 1),
                F.lit(',"events":'),
                F.col("value"),
                F.lit("}"),
            )
            df.select(line.alias("value")).write.mode("overwrite").text(target)
    finally:
        if ranked is not None:
            ranked.unpersist()
        if old is None:
            spark.conf.unset(coalesce_key)
        else:
            spark.conf.set(coalesce_key, old)


def write_file(
    df: DataFrame,
    target: str,
    *,
    fmt: str = "json",
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Generic partitioned overwrite sink (json / csv / orc / parquet /
    text) — one code path, format is a parameter."""
    writer = df.write.mode("overwrite").format(fmt)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(target)


def compact_files(
    spark,
    source: str,
    target: str,
    *,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Small-file compaction — the table-maintenance operator every
    long-running ingest needs (streaming sinks and per-key layouts
    accrete files; scan cost grows with file COUNT, not bytes).

    Read the source directory and rewrite it with AQE partition
    coalescing deciding the output width: tiny input partitions merge
    up to the session's advisory partition size, so output file count
    tracks data volume instead of historical task counts.
    ``max_records_per_file`` caps the other direction (files too big
    to parallelize over). No driver-side file listing loops — the
    rewrite is one distributed job either way.
    """
    df = spark.read.format(fmt).load(source)
    # REBALANCE is the AQE-native reshuffle: the optimizer sizes the
    # post-shuffle partitions to the advisory size (splitting skewed
    # ones, merging tiny ones); a plain coalesce() would keep
    # historical file boundaries glued into uneven tasks.
    writer = df.hint("rebalance").write.mode("overwrite").format(fmt)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(target)


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed parquet table (hash-bucketed by join key, optionally
    sorted within buckets).

    The 100 TB co-location play: two tables bucketed on the same key
    with the same bucket count join with NO shuffle on either side
    (and no sort when sortBy matches) — the shuffle is paid once at
    write time, amortized over every subsequent join/aggregation on
    that key. Verified in tests by asserting the joined plan has zero
    Exchange nodes."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
