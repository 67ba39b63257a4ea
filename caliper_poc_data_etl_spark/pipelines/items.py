"""Item-level pipeline: per-question CSV → grouped ``OutcomeEvent`` docs.

Spark-first re-expression of reference ``etl.js``: scan → validate →
project into nested structs → group by ``attempt_id`` with ordered
list-collection → partitioned JSON sink. Every step is a native
Column/DataFrame op (no Python UDFs); the only shuffle is the group-by.

Plan shape (100 TB posture): the scan is splittable CSV with explicit
schema; projection prunes to the 8 consumed columns at the scan; each
row's event is one SQL expression (``pipelines.events.make_event``)
serialized to JSON before the shuffle; the group-by is a hash
aggregate with map-side partial ``collect_list``, ordered by
``sort_array`` with no higher-order lambda anywhere in the plan; AQE
coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.pipelines.events import (
    collect_in_order,
    id_entity,
    make_event,
)
from caliper_poc_data_etl_spark.schemas import ASSESSMENT_ITEMS_FIDELITY
from caliper_poc_data_etl_spark.sinks import write_grouped_json
from caliper_poc_data_etl_spark.sources import read_csv
from caliper_poc_data_etl_spark.sources.fidelity import read_items_fidelity


def reference_conformance_filter(df: DataFrame) -> DataFrame:
    """Rows the reference's regex would accept (``etl.js:11``).

    Groups 15/16 are ``([0-9.]*)`` — so ``masterobjectivesid`` and
    ``objectivenumber`` must be digits-and-dots only. This is what makes
    multi-valued ``101;102`` cells unreachable in the reference
    (SURVEY.md F2): the ``;`` fails group 15 and the row is dropped.
    """
    num = "^[0-9.]*$"
    return df.filter(
        F.coalesce(F.col("masterobjectivesid"), F.lit("")).rlike(num)
        & F.coalesce(F.col("objectivenumber"), F.lit("")).rlike(num)
    )


def outcome_event_column(multi_lo: str = "intent"):
    """The per-row ``OutcomeEvent`` struct (reference ``etl.js:84-105``).

    ``multi_lo='intent'`` honors the documented multi-LO intent
    (``etl.js:76-78``): ``masterobjectivesid`` splits on ``;`` into an
    N-element ``learningObjectives`` array. The reference never reaches
    N>1 (F2); use :func:`reference_conformance_filter` +
    ``multi_lo='reference'`` for strict parity.
    """
    return make_event(
        "OUTCOME_EVENT",
        values={
            "action": "'GRADED'",
            "actor": id_entity("identity_id"),
            # arrays_zip wraps each id in a 1-field struct; the event
            # cast names that field ``id``.
            "target": "named_struct('id', assmtitem_id, 'learningObjectives', "
            "arrays_zip(split(coalesce(masterobjectivesid, ''), ';')))",
            "object": "named_struct('id', attempt_id, 'count', 1)",
            # etl.js:97-99: score_earned → normalScore,
            # score_posible → totalScore (note: the *other* pipeline
            # swaps these — SURVEY.md F3; preserved per-pipeline).
            "generated": "named_struct('normalScore', score_earned, "
            "'totalScore', score_posible)",
            "assessment": "named_struct('id', assessment_id, "
            "'version', assessment_version)",
        },
    )


def item_outcome_events(items: DataFrame, *, multi_lo: str = "intent") -> DataFrame:
    """One ``OutcomeEvent`` row per surviving input row.

    Returns ``(attempt_id, _row_id, event)``; ``_row_id`` is a
    scan-order id carried so downstream grouping can reproduce the
    reference's input-order event lists deterministically.
    """
    if multi_lo == "reference":
        items = reference_conformance_filter(items)
    elif multi_lo != "intent":
        raise ValueError(f"multi_lo must be 'intent' or 'reference', got {multi_lo!r}")
    return items.select(
        F.col("attempt_id"),
        F.monotonically_increasing_id().alias("_row_id"),
        outcome_event_column(multi_lo).alias("event"),
    )


def items_grouped_by_attempt(events: DataFrame) -> DataFrame:
    """``GROUP BY attempt_id, collect_list(event)`` in input order
    (``etl.js:112``; see :func:`collect_in_order`)."""
    return events.groupBy("attempt_id").agg(
        collect_in_order("event").alias("events")
    )


def items_grouped_json_by_attempt(
    events: DataFrame, *, with_first_seen: bool = False
) -> DataFrame:
    """Grouped events pre-serialized: ``(attempt_id, value: string)``
    where ``value`` is the JSON array the reference writes per group.
    This is the form :func:`run_items_pipeline` writes and returns.

    ``with_first_seen=True`` additionally emits ``_first_rid`` =
    ``min(_row_id)`` per group — the group's first-occurrence position
    in the input, which is exactly the ordering key of the reference's
    group ordinal (S15, etl.js:56-58: the counter enumerates groups in
    Map-insertion order, i.e. by first occurrence). The sink turns it
    into the ``events-{i}-…`` filename ordinal when asked
    (``write_grouped_json(group_ordinal=True)``).

    Serialization strategy matters more than the sink here: running
    ``to_json`` on the POST-aggregation array (one ~200-event array
    per row) serializes each group in one expression call and was
    measured 3-4× slower end-to-end at 1M rows than this form, which
    serializes each event BEFORE the shuffle (1M small conversions
    spread across every scan task) and reassembles the group by string
    join after the ordered collect (:func:`collect_in_order`, no
    lambda). Byte-identical output (verified against the struct path),
    same single shuffle, and the shuffle payload is the final JSON
    bytes instead of wide structs.
    """
    pre = events.select(
        "attempt_id", "_row_id", F.to_json(F.col("event")).alias("ej")
    )
    aggs = [
        F.concat(
            F.lit("["), F.array_join(collect_in_order("ej"), ","), F.lit("]")
        ).alias("value")
    ]
    if with_first_seen:
        aggs.append(F.min("_row_id").alias("_first_rid"))
    return pre.groupBy("attempt_id").agg(*aggs)


def run_items_pipeline(
    spark: SparkSession,
    csv_path: str,
    target: str,
    *,
    mode: str = "intent",
    layout: str = "spark",
    group_ordinal: bool = False,
) -> DataFrame:
    """End-to-end item pipeline: CSV → grouped events → JSON sink.

    ``mode='reference'`` = exact reference parse semantics (regex scan
    incl. F2 row drops, short-row drops, greedy col-14);
    ``mode='intent'`` = CSV datasource with observable corrupt-record
    policy + multi-LO support (engine default).
    ``group_ordinal=True`` (reference layout only) names each group
    file with the reference's first-occurrence ordinal (S15,
    etl.js:56-58,116). Returns the DataFrame it wrote: the
    pre-serialized ``(attempt_id, value)`` groups of
    :func:`items_grouped_json_by_attempt`.
    """
    if mode == "reference":
        items = read_items_fidelity(spark, csv_path)
    else:
        items = read_csv(spark, csv_path, ASSESSMENT_ITEMS_FIDELITY, mode="permissive")
    grouped = items_grouped_json_by_attempt(
        item_outcome_events(items, multi_lo=mode), with_first_seen=group_ordinal
    )
    write_grouped_json(
        grouped,
        target,
        key="attempt_id",
        layout=layout,
        group_ordinal=group_ordinal,
    )
    return grouped
