"""Caliper ETL output pinned without asking Spark for the answer.

The benchmark's seeded generator (``perfbench/gen.py``) writes an item
or attempt CSV and computes, in plain Python from the rows it writes,
what ``run_items_pipeline(mode="intent", layout="bulk")`` or
``run_assessments_pipeline(mode="reference", layout="bulk")`` must
produce: the number of output lines, the number of events in them, and
an order-insensitive digest of the lines. ``perfbench/verify.py`` scans
the sink directory and compares. Any change to the output bytes — field
order, null pruning, intra-group event order, key escaping — changes
the digest.
"""

from __future__ import annotations

import os
import sys

from caliper_poc_data_etl_spark.pipelines import (
    run_assessments_pipeline,
    run_items_pipeline,
)

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import gen  # noqa: E402
import verify  # noqa: E402

# ~3,000 rows in attempts of 1-60 rows; 10% carry a ';'-separated
# objective list, 1% an empty score_posible (kept, totalScore omitted).
PARAMS = {
    "rows": 3000,
    "attempt_size": [1, 60],
    "multi_objective_share": 0.1,
    "malformed_share": 0.01,
}


def test_intent_bulk_output_matches_expectation(spark, tmp_path):
    csv = gen.write_csv(
        str(tmp_path / "items.csv"),
        gen.ITEMS_HEADER,
        gen.items_units(gen.rng_for(11, "items_bulk"), PARAMS),
    )
    target = str(tmp_path / "out")
    run_items_pipeline(spark, csv.path, target, mode="intent", layout="bulk")
    problems, (lines, events, _, _) = verify.check_output(target, csv.expect)
    assert problems == []
    assert events == csv.rows == PARAMS["rows"]
    assert lines == csv.expect.lines > 1


def test_reference_bulk_attempts_match_expectation(spark, tmp_path):
    # 400 attempt rows; 4% rejected by the reference regex (empty last
    # field or cut short), every other row fans out to three events.
    csv = gen.write_csv(
        str(tmp_path / "assessments.csv"),
        gen.ASSESSMENTS_HEADER,
        gen.assessments_units(
            gen.rng_for(12, "attempts"), {"rows": 400, "malformed_share": 0.04}
        ),
    )
    target = str(tmp_path / "out")
    run_assessments_pipeline(spark, csv.path, target, mode="reference", layout="bulk")
    problems, (lines, events, _, _) = verify.check_output(target, csv.expect)
    assert problems == []
    assert lines == csv.expect.lines == 384
    assert events == 3 * lines
