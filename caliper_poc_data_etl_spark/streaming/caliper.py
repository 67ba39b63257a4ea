"""Streaming Caliper attempt pipeline (SURVEY.md §7.1 P5).

The reference's attempt pipeline (etl-assessment-level.js) is a batch
CLI over one CSV; here the same transformation — validate → project →
1→3 event fan-out (S16) — runs over a *stream* of CSV drops: new files
landing in a watched directory become micro-batches, and the JSON sink
commits exactly-once per batch. Because the fan-out is stateless, the
batch builders from ``pipelines.assessments`` are reused verbatim —
one implementation, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from caliper_poc_data_etl_spark.pipelines.assessments import (
    assessment_attempt_events,
)
from caliper_poc_data_etl_spark.schemas import ASSESSMENTS_FIDELITY
from caliper_poc_data_etl_spark.sources.readers import CORRUPT_COL


def read_assessments_stream(
    spark: SparkSession,
    watch_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """CSV-drop stream with the engine's observable corrupt-row policy
    (PERMISSIVE + explicit filter), matching the batch reader."""
    schema = T.StructType(
        list(ASSESSMENTS_FIDELITY.fields)
        + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    reader = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.csv(watch_dir)
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def attempt_events_stream(assessments: DataFrame) -> DataFrame:
    """The 1→3 fan-out as a streaming transformation — stateless, so
    the batch builder applies unchanged (limit is batch-only and
    meaningless on an unbounded input)."""
    return assessment_attempt_events(assessments, exploded=True)


def run_attempts_stream(
    spark: SparkSession,
    watch_dir: str,
    target: str,
    checkpoint: str,
    *,
    available_now: bool = True,
):
    """watch_dir CSVs → 3-event fan-out → exactly-once JSON sink.

    Unpartitioned JSON-lines: one ``{"attempt_id", "value"}`` line per
    event, ``value`` being that event's JSON string; unlike the batch
    sink there is no per-attempt directory and no per-attempt array."""
    events = attempt_events_stream(read_assessments_stream(spark, watch_dir))
    flat = events.select("attempt_id", F.to_json("event").alias("value"))
    writer = (
        flat.writeStream.format("json")
        .option("path", target)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
