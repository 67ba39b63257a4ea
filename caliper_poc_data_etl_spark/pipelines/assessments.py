"""Attempt-level pipeline: per-attempt CSV → 3-event fan-out per row.

Spark-first re-expression of reference ``etl-assessment-level.js``:
scan → empty-field row-drop → LIMIT → fan each row into STARTED /
SUBMITTED / GRADED events → partitioned JSON sink.

The fan-out is narrow (``explode`` of a 3-element literal array — no
shuffle); LIMIT is pushed into the scan by Catalyst (strictly better
than the reference, which reads the whole file first,
``etl-assessment-level.js:29,42-43``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.pipelines.events import id_entity, make_event
from caliper_poc_data_etl_spark.schemas import ASSESSMENTS_COLUMNS, ASSESSMENTS_FIDELITY
from caliper_poc_data_etl_spark.sinks import write_grouped_json
from caliper_poc_data_etl_spark.sources import read_csv
from caliper_poc_data_etl_spark.sources.fidelity import read_assessments_fidelity


# `+this.attemptCount` — the reference's only cast
# (etl-assessment-level.js:91); see assessment_attempt_events for the
# non-numeric case.
_ATTEMPT_COUNT = "TRY_CAST(attemptnumber AS INT)"


def _assessment_event(action: str):
    """Top-level-envelope ``AssessmentEvent`` (SURVEY.md F4;
    reference ``etl-assessment-level.js:125-147``)."""
    return make_event(
        "ASSESSMENT_EVENT",
        values={"action": f"'{action}'"},
        top={
            "actor": id_entity("identity_id"),
            "object": "named_struct('id', assessment_id, 'version', assessment_version)",
            "generated": "named_struct('id', attempt_id, 'count', "
            f"{_ATTEMPT_COUNT})",
        },
    )


def _assessment_outcome_event():
    """Nested-envelope ``AssessmentOutcomeEvent``
    (reference ``etl-assessment-level.js:149-161``)."""
    return make_event(
        "ASSESSMENT_OUTCOME_EVENT",
        values={
            "action": "'GRADED'",
            "actor": id_entity("identity_id"),
            "organization": id_entity("school_id"),
            "assessment": "named_struct('id', assessment_id, "
            "'version', assessment_version)",
            "object": f"named_struct('id', attempt_id, 'count', {_ATTEMPT_COUNT})",
            # SURVEY.md F3: this pipeline SWAPS the mapping vs
            # etl.js — score_posible → normalScore, score_earned →
            # totalScore (etl-assessment-level.js:71-72,101-106).
            # Preserved: it defines this script's output contract.
            "generated": "named_struct('normalScore', score_posible, "
            "'totalScore', score_earned)",
        },
    )


def assessment_attempt_events(
    assessments: DataFrame,
    *,
    limit: int | None = None,
    exploded: bool = False,
    drop_incomplete: bool = True,
) -> DataFrame:
    """Fan each attempt row into its 3 events.

    ``drop_incomplete=True`` reproduces S5 semantics: the reference's
    ``(.+)``×13 regex drops any row with an empty field
    (``etl-assessment-level.js:18``) — expressed here as ``na.drop`` on
    all 13 columns (CSV empty fields read as NULL).

    ``count`` is ``TRY_CAST(attemptnumber AS INT)``: a non-numeric
    ``attemptnumber`` gives NULL and the field is pruned like every
    other null field, where the reference evaluates ``+this.attemptCount``
    to ``NaN`` and writes ``"count":null``. A plain ``CAST`` would fail
    the whole run under Spark's ANSI default.

    Returns ``(attempt_id, events: array<event>)`` — one row per input
    row, mirroring the reference's one-file-per-row layout — or, with
    ``exploded=True``, ``(attempt_id, event)`` event rows (3× input).
    """
    # Reference order (S7, etl-assessment-level.js:42-52): the limit
    # caps RAW rows first; validation drops happen inside the limited
    # set. So `limit` then `na.drop` — output is the surviving subset
    # of the first `limit` rows, not the first `limit` survivors.
    if limit is not None:
        assessments = assessments.limit(limit)
    if drop_incomplete:
        assessments = assessments.na.drop("any", subset=ASSESSMENTS_COLUMNS)
    fanned = assessments.select(
        F.col("attempt_id"),
        F.array(
            _assessment_event("STARTED"),
            _assessment_event("SUBMITTED"),
            _assessment_outcome_event(),
        ).alias("events"),
    )
    if exploded:
        return fanned.select("attempt_id", F.explode("events").alias("event"))
    return fanned


def run_assessments_pipeline(
    spark: SparkSession,
    csv_path: str,
    target: str,
    *,
    limit: int | None = None,
    mode: str = "intent",
    layout: str = "spark",
) -> DataFrame:
    """End-to-end attempt pipeline: CSV → 3-event docs → JSON sink.

    Unlike the reference, the sink cannot silently lose files — Spark's
    task-commit protocol replaces the unbounded async writes that
    dropped 80% of output at 100k rows (SURVEY.md F5).
    Returns the DataFrame it wrote: ``(attempt_id, value)``, each row's
    three events serialized as one JSON array (``to_json(events)``).
    """
    if mode == "reference":
        df = read_assessments_fidelity(spark, csv_path)
        # Regex (.+)×13 already enforced empty-field drops at the scan.
        events = assessment_attempt_events(df, limit=limit, drop_incomplete=False)
    else:
        df = read_csv(spark, csv_path, ASSESSMENTS_FIDELITY, mode="permissive")
        events = assessment_attempt_events(df, limit=limit)
    docs = events.select("attempt_id", F.to_json("events").alias("value"))
    write_grouped_json(docs, target, key="attempt_id", layout=layout)
    return docs
