"""F5 regression at the reference's measured failure scale.

BASELINE.md: at 100,000 input rows the reference's unbounded async
writes lost 80,017 of 100,000 outputs (fd exhaustion, errors swallowed,
exit 0). The engine must conserve every event through the same
workload — Spark's job-commit sink makes this structural, and this
test makes it measured.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.pipelines.assessments import (
    assessment_attempt_events,
)
from caliper_poc_data_etl_spark.pipelines.items import (
    item_outcome_events,
    items_grouped_by_attempt,
)
from caliper_poc_data_etl_spark.schemas import (
    ASSESSMENT_ITEMS_FIDELITY,
    ASSESSMENTS_FIDELITY,
)
from caliper_poc_data_etl_spark.sinks import write_grouped_json
from caliper_poc_data_etl_spark.sources import read_csv

N_ROWS = 100_000
N_ATTEMPTS = 500  # reference baseline: 500 attempt groups


@pytest.fixture(scope="module")
def big_items_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("scale") / "items_100k.csv"
    with open(p, "w") as f:
        f.write(
            "identity_id,login_identity_id,school_id,assessment_id,"
            "assessment_version,attempt_id,assmtitem_id,assmtitem_version,"
            "assessment_type_id,response_type,question_time,score_posible,"
            "score_earned,masterobjectives,masterobjectivesid,objectivenumber\n"
        )
        for i in range(N_ROWS):
            att = i % N_ATTEMPTS
            f.write(
                f"stu-{att},login-{att},sch-1,asmt-1,1.0,att-{att},item-{i},1,"
                f"5,TYPE,30,10,{i % 10},obj text,{100 + i % 7},1.1\n"
            )
    return str(p)


def test_items_100k_no_event_loss(spark, big_items_csv, tmp_path):
    items = read_csv(spark, big_items_csv, ASSESSMENT_ITEMS_FIDELITY)
    grouped = items_grouped_by_attempt(item_outcome_events(items))
    target = str(tmp_path / "out")
    write_grouped_json(
        grouped.select("attempt_id", F.to_json("events").alias("value")),
        target,
        layout="reference",
    )

    # Σ group sizes == input rows — nothing lost before the sink.
    sizes = grouped.select(F.size("events").alias("n")).agg(F.sum("n")).first()[0]
    assert sizes == N_ROWS
    # And nothing lost AT the sink (the reference's failure point):
    # every event is present in the written files.
    written = spark.read.text(f"{target}/attempt_id=*/")
    n_events = written.select(
        F.sum(F.size(F.from_json("value", "array<string>")))
    ).first()[0]
    assert n_events == N_ROWS
    # One content line per attempt group, 500 groups.
    assert written.count() == N_ATTEMPTS


def test_assessments_100k_full_fanout(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("scale") / "assessments_100k.csv"
    with open(p, "w") as f:
        f.write(
            "identity_id,login_identity_id,school_id,assessment_id,"
            "assessment_version,date_submitted,assessment_type_id,"
            "assessment_type,attempt_id,attemptnumber,is_mastered,"
            "score_earned,score_posible\n"
        )
        for i in range(N_ROWS):
            f.write(
                f"stu-{i},login-{i},sch-1,asmt-1,1.0,2016-01-15,5,QUIZ,"
                f"att-{i},1,true,{i % 100},100\n"
            )
    df = read_csv(spark, str(p), ASSESSMENTS_FIDELITY)
    events = assessment_attempt_events(df, exploded=True)
    # Reference at this scale: 19,983 of 100,000 outputs survived
    # (BASELINE.md). Engine: all 300,000 events, exactly.
    assert events.count() == 3 * N_ROWS
    per_type = {
        r["action"]: r["n"]
        for r in events.select(F.col("event.values.action").alias("action"))
        .groupBy("action")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_type == {
        "STARTED": N_ROWS, "SUBMITTED": N_ROWS, "GRADED": N_ROWS
    }
