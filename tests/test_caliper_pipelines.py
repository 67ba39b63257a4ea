"""Reference-parity tests for the two Caliper pipelines.

Fixture rows and golden outputs come from FIXTURES.md (captured from
real reference runs); edge semantics from SURVEY.md §5.2.3.
"""

from __future__ import annotations

import json

import pytest

from caliper_poc_data_etl_spark.pipelines import (
    assessment_attempt_events,
    item_outcome_events,
    items_grouped_by_attempt,
    run_assessments_pipeline,
    run_items_pipeline,
)
from caliper_poc_data_etl_spark.schemas import (
    ASSESSMENT_ITEMS_FIDELITY,
    ASSESSMENTS_FIDELITY,
    EVENT_SCHEMA,
)
from caliper_poc_data_etl_spark.sources import read_csv

ITEMS_CSV = """identity_id,login_identity_id,school_id,assessment_id,assessment_version,attempt_id,assmtitem_id,assmtitem_version,assessment_type_id,response_type,question_time,score_posible,score_earned,masterobjectives,masterobjectivesid,objectivenumber
stu-1,login-1,sch-9,asmt-01,1.0,att-100,item-01,1,5,FILLINBLANK,30,10,8,Algebra Basics,101;102,1.1
stu-1,login-1,sch-9,asmt-01,1.0,att-100,item-02,1,5,TRUEFALSE,12,5,3,Algebra Basics,101,1.2
stu-2,login-2,sch-9,asmt-01,1.0,att-200,item-01,1,5,FILLINBLANK,45,10,10,Algebra Basics,101;102,1.1
"""

ASSESSMENTS_CSV = """identity_id,login_identity_id,school_id,assessment_id,assessment_version,date_submitted,assessment_type_id,assessment_type,attempt_id,attemptnumber,is_mastered,score_earned,score_posible
stu-1,login-1,sch-9,asmt-01,1.0,2016-01-15,5,QUIZ,att-100,1,true,70,100
stu-2,login-2,sch-9,asmt-01,1.0,2016-01-16,5,QUIZ,att-200,2,false,55,100
stu-1,login-1,sch-9,asmt-02,3.0,2016-01-17,6,TEST,att-300,1,true,60,80
"""

# FIXTURES.md §3.1 — reference golden for the single surviving item row.
GOLDEN_OUTCOME = {
    "type": "OutcomeEvent",
    "values": {
        "action": "GRADED",
        "actor": {"id": "stu-1"},
        "target": {"id": "item-02", "learningObjectives": [{"id": "101"}]},
        "object": {"id": "att-100", "count": 1},
        "generated": {"normalScore": "3", "totalScore": "5"},
        "assessment": {"id": "asmt-01", "version": "1.0"},
    },
}


@pytest.fixture(scope="module")
def items_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("items") / "items.csv"
    p.write_text(ITEMS_CSV)
    return str(p)


@pytest.fixture(scope="module")
def assessments_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("assessments") / "assessments.csv"
    p.write_text(ASSESSMENTS_CSV)
    return str(p)


def _events_json(row) -> list[dict]:
    """Row's events array → plain dicts with nulls pruned (JSON view)."""

    def prune(obj):
        if isinstance(obj, dict):
            return {k: prune(v) for k, v in obj.items() if v is not None}
        if isinstance(obj, list):
            return [prune(v) for v in obj]
        return obj

    return [prune(e.asDict(recursive=True)) for e in row["events"]]


class TestItemsPipeline:
    def test_reference_mode_matches_golden(self, spark, items_csv):
        """F2 parity: multi-LO rows drop; survivor matches golden JSON."""
        items = read_csv(spark, items_csv, ASSESSMENT_ITEMS_FIDELITY, mode="dropmalformed")
        grouped = items_grouped_by_attempt(
            item_outcome_events(items, multi_lo="reference")
        ).collect()
        assert len(grouped) == 1
        row = {r["attempt_id"]: r for r in grouped}["att-100"]
        assert _events_json(row) == [GOLDEN_OUTCOME]

    def test_intent_mode_keeps_multi_lo(self, spark, items_csv):
        items = read_csv(spark, items_csv, ASSESSMENT_ITEMS_FIDELITY)
        grouped = {
            r["attempt_id"]: r
            for r in items_grouped_by_attempt(item_outcome_events(items)).collect()
        }
        assert set(grouped) == {"att-100", "att-200"}
        events = _events_json(grouped["att-100"])
        assert len(events) == 2
        # Input order preserved inside the group (etl.js:112 parity).
        assert [e["values"]["target"]["id"] for e in events] == ["item-01", "item-02"]
        assert events[0]["values"]["target"]["learningObjectives"] == [
            {"id": "101"},
            {"id": "102"},
        ]

    def test_reference_layout_sink(self, spark, items_csv, tmp_path):
        target = str(tmp_path / "target")
        run_items_pipeline(spark, items_csv, target, mode="reference", layout="reference")
        files = list((tmp_path / "target").glob("attempt_id=att-100/*.txt"))
        assert len(files) == 1
        assert json.loads(files[0].read_text().strip()) == [GOLDEN_OUTCOME]

    def test_pre_serialized_matches_struct_path(self, spark, items_csv, tmp_path):
        """items_grouped_json_by_attempt must be byte-identical to
        to_json over the struct grouping, for every sink layout."""
        from pyspark.sql import functions as F

        from caliper_poc_data_etl_spark.pipelines import items as items_mod
        from caliper_poc_data_etl_spark.sinks import write_grouped_json

        items = read_csv(spark, items_csv, ASSESSMENT_ITEMS_FIDELITY)
        ev = item_outcome_events(items)
        struct_json = dict(
            items_grouped_by_attempt(ev)
            .select("attempt_id", F.to_json("events"))
            .collect()
        )
        pre = items_mod.items_grouped_json_by_attempt(ev)
        assert dict(pre.collect()) == struct_json
        # bulk layout: every line is valid standalone JSON with the key.
        write_grouped_json(pre, str(tmp_path / "bulk"), layout="bulk")
        lines = [
            json.loads(ln)
            for f in (tmp_path / "bulk").glob("part-*.txt")
            for ln in f.read_text().splitlines()
        ]
        assert {l["attempt_id"] for l in lines} == set(struct_json)
        for l in lines:
            assert json.dumps(l["events"]) is not None
            assert [e for e in l["events"]]

    def test_sink_rejects_struct_form(self, spark, items_csv, tmp_path):
        """The sink takes only pre-serialized ``(key, value: string)``
        rows; struct-form groups must be serialized by the caller."""
        from caliper_poc_data_etl_spark.sinks import write_grouped_json

        items = read_csv(spark, items_csv, ASSESSMENT_ITEMS_FIDELITY)
        grouped = items_grouped_by_attempt(item_outcome_events(items))
        for layout in ("spark", "bulk", "reference"):
            with pytest.raises(ValueError, match="items_grouped_json_by_attempt"):
                write_grouped_json(grouped, str(tmp_path / layout), layout=layout)
        assert not list(tmp_path.iterdir())

    def test_group_sizes_invariant(self, spark, items_csv):
        """Σ group sizes == surviving rows (FIXTURES.md §4 invariant)."""
        items = read_csv(spark, items_csv, ASSESSMENT_ITEMS_FIDELITY)
        grouped = items_grouped_by_attempt(item_outcome_events(items))
        from pyspark.sql import functions as F

        total = grouped.agg(F.sum(F.size("events"))).collect()[0][0]
        assert total == 3


class TestPlanShape:
    """Every event has exactly the superset type, and the item ETL's
    plan carries no per-element higher-order lambda."""

    def test_item_event_type_is_event_schema(self, spark, items_csv):
        items = read_csv(spark, items_csv, ASSESSMENT_ITEMS_FIDELITY)
        assert item_outcome_events(items).schema["event"].dataType == EVENT_SCHEMA

    def test_assessment_event_type_is_event_schema(self, spark, assessments_csv):
        df = read_csv(spark, assessments_csv, ASSESSMENTS_FIDELITY)
        events = assessment_attempt_events(df, exploded=True)
        assert events.schema["event"].dataType == EVENT_SCHEMA

    def test_grouped_json_plan_has_no_lambda(self, spark, items_csv):
        from caliper_poc_data_etl_spark.pipelines.items import (
            items_grouped_json_by_attempt,
        )

        items = read_csv(spark, items_csv, ASSESSMENT_ITEMS_FIDELITY)
        grouped = items_grouped_json_by_attempt(item_outcome_events(items))
        plan = grouped._jdf.queryExecution().optimizedPlan().toString()
        assert "lambdafunction" not in plan.lower()


class TestAssessmentsPipeline:
    def test_fanout_and_envelopes(self, spark, assessments_csv):
        df = read_csv(spark, assessments_csv, ASSESSMENTS_FIDELITY)
        rows = {
            r["attempt_id"]: r
            for r in assessment_attempt_events(df, limit=2).collect()
        }
        assert set(rows) == {"att-100", "att-200"}
        events = _events_json(rows["att-100"])
        assert [e["type"] for e in events] == [
            "AssessmentEvent",
            "AssessmentEvent",
            "AssessmentOutcomeEvent",
        ]
        started, submitted, graded = events
        # F4: AssessmentEvent carries actor/object/generated top-level.
        assert started == {
            "type": "AssessmentEvent",
            "values": {"action": "STARTED"},
            "actor": {"id": "stu-1"},
            "object": {"id": "asmt-01", "version": "1.0"},
            "generated": {"id": "att-100", "count": 1},
        }
        assert submitted["values"]["action"] == "SUBMITTED"
        # F3 parity: swapped score mapping in THIS pipeline.
        assert graded["values"]["generated"] == {
            "normalScore": "100",
            "totalScore": "70",
        }
        assert graded["values"]["organization"] == {"id": "sch-9"}
        assert graded["values"]["object"] == {"id": "att-100", "count": 1}

    def test_limit_applies(self, spark, assessments_csv):
        df = read_csv(spark, assessments_csv, ASSESSMENTS_FIDELITY)
        assert assessment_attempt_events(df, limit=2, exploded=True).count() == 6
        assert assessment_attempt_events(df, exploded=True).count() == 9

    def test_empty_field_drops_row(self, spark, tmp_path):
        """S5 parity: (.+)×13 — any empty field drops the whole row."""
        csv = tmp_path / "a.csv"
        csv.write_text(
            ASSESSMENTS_CSV.rsplit("\n", 2)[0]
            + "\nstu-3,login-3,,asmt-03,1.0,2016-01-18,5,QUIZ,att-400,1,true,50,100\n"
        )
        df = read_csv(spark, str(csv), ASSESSMENTS_FIDELITY)
        ids = [
            r["attempt_id"]
            for r in assessment_attempt_events(df).select("attempt_id").collect()
        ]
        assert "att-400" not in ids
        assert len(ids) == 2

    def test_sink_writes_all_rows(self, spark, assessments_csv, tmp_path):
        """F5 fix: no silent write loss — every row lands in the sink."""
        target = str(tmp_path / "t")
        run_assessments_pipeline(spark, assessments_csv, target, layout="reference")
        files = list((tmp_path / "t").glob("attempt_id=*/*.txt"))
        assert len(files) == 3
        payloads = [json.loads(f.read_text().strip()) for f in files]
        assert all(len(p) == 3 for p in payloads)

    @pytest.mark.parametrize("mode", ["intent", "reference"])
    def test_non_numeric_attemptnumber_omits_count(self, spark, tmp_path, mode):
        """``+"x1"`` is NaN in the reference, which still writes the
        event (``"count":null``); the engine writes it with ``count``
        pruned instead of failing the whole run on an ANSI cast."""
        csv = tmp_path / "a.csv"
        csv.write_text(
            ASSESSMENTS_CSV.split("\n", 2)[0]
            + "\nstu-1,login-1,sch-9,asmt-01,1.0,2016-01-15,5,QUIZ,att-100,1,true,70,100"
            + "\nstu-2,login-2,sch-9,asmt-01,1.0,2016-01-16,5,QUIZ,att-200,x1,false,55,100\n"
        )
        target = tmp_path / "t"
        run_assessments_pipeline(
            spark, str(csv), str(target), mode=mode, layout="reference"
        )
        docs = {
            f.parent.name: json.loads(f.read_text())
            for f in target.glob("attempt_id=*/*.txt")
        }
        assert set(docs) == {"attempt_id=att-100", "attempt_id=att-200"}
        started, _, graded = docs["attempt_id=att-200"]
        assert started["generated"] == {"id": "att-200"}
        assert graded["values"]["object"] == {"id": "att-200"}
        started, _, graded = docs["attempt_id=att-100"]
        assert started["generated"] == {"id": "att-100", "count": 1}
        assert graded["values"]["object"] == {"id": "att-100", "count": 1}


class TestGroupOrdinal:
    """S15 (etl.js:56-58,116): the reference names each group file with
    a counter enumerating groups in Map-insertion order — i.e. by the
    group's FIRST OCCURRENCE in the input. ``group_ordinal=True``
    reproduces the deterministic part of that filename
    (``events-{i}-{key}.txt``; the Date.now() suffix is declared
    non-semantic)."""

    # 12 rows, 5 attempts, first-occurrence order deliberately NOT the
    # sorted attempt-id order: att-9, att-2, att-7, att-1, att-5.
    _ATTEMPT_SEQ = [
        "att-9", "att-2", "att-9", "att-7", "att-2", "att-1",
        "att-7", "att-5", "att-9", "att-1", "att-2", "att-5",
    ]

    @pytest.fixture(scope="class")
    def ordinal_csv(self, tmp_path_factory):
        header = (
            "identity_id,login_identity_id,school_id,assessment_id,"
            "assessment_version,attempt_id,assmtitem_id,assmtitem_version,"
            "assessment_type_id,response_type,question_time,score_posible,"
            "score_earned,masterobjectives,masterobjectivesid,objectivenumber"
        )
        rows = [
            f"stu-1,login-1,sch-9,asmt-01,1.0,{att},item-{i:02d},1,5,"
            f"TRUEFALSE,10,10,{i},Algebra Basics,101,1.{i}"
            for i, att in enumerate(self._ATTEMPT_SEQ)
        ]
        p = tmp_path_factory.mktemp("ordinal") / "items.csv"
        p.write_text("\n".join([header] + rows) + "\n")
        return str(p)

    def test_filenames_follow_first_occurrence_order(
        self, spark, ordinal_csv, tmp_path
    ):
        target = tmp_path / "target"
        run_items_pipeline(
            spark,
            ordinal_csv,
            str(target),
            layout="reference",
            group_ordinal=True,
        )
        files = sorted(target.glob("events-*.txt"))
        # flat layout, one file per group, contiguous 1-based ordinals
        by_ord = {}
        for f in files:
            _, ordn, att = f.stem.split("-", 2)
            by_ord[int(ordn)] = att
        first_seen = list(dict.fromkeys(self._ATTEMPT_SEQ))
        assert sorted(by_ord) == list(range(1, len(first_seen) + 1))
        assert [by_ord[i] for i in sorted(by_ord)] == first_seen

    def test_run_leaves_no_cached_frame(self, spark, ordinal_csv, tmp_path):
        # The ordinal's ranked frame is persisted for the write only.
        spark.catalog.clearCache()
        run_items_pipeline(
            spark,
            ordinal_csv,
            str(tmp_path / "target"),
            mode="reference",
            layout="reference",
            group_ordinal=True,
        )
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_content_matches_plain_reference_layout(
        self, spark, ordinal_csv, tmp_path
    ):
        t_ord = tmp_path / "t_ord"
        t_ref = tmp_path / "t_ref"
        run_items_pipeline(
            spark, ordinal_csv, str(t_ord), layout="reference", group_ordinal=True
        )
        run_items_pipeline(spark, ordinal_csv, str(t_ref), layout="reference")
        got = {}
        for f in t_ord.glob("events-*.txt"):
            _, _, att = f.stem.split("-", 2)
            got[att] = f.read_text()
        want = {}
        for d in t_ref.glob("attempt_id=*"):
            att = d.name.split("=", 1)[1]
            (f,) = list(d.glob("*.txt"))
            want[att] = f.read_text()
        assert got == want

    def test_guardrails(self, spark, ordinal_csv, tmp_path):
        from caliper_poc_data_etl_spark.pipelines.items import (
            item_outcome_events,
            items_grouped_json_by_attempt,
        )
        from caliper_poc_data_etl_spark.schemas import ASSESSMENT_ITEMS_FIDELITY
        from caliper_poc_data_etl_spark.sinks import write_grouped_json
        from caliper_poc_data_etl_spark.sources import read_csv

        items = read_csv(spark, ordinal_csv, ASSESSMENT_ITEMS_FIDELITY)
        events = item_outcome_events(items)
        with_rid = items_grouped_json_by_attempt(events, with_first_seen=True)
        without_rid = items_grouped_json_by_attempt(events)
        with pytest.raises(ValueError, match="reference-layout"):
            write_grouped_json(
                with_rid, str(tmp_path / "x"), layout="spark", group_ordinal=True
            )
        with pytest.raises(ValueError, match="_first_rid"):
            write_grouped_json(
                without_rid,
                str(tmp_path / "y"),
                layout="reference",
                group_ordinal=True,
            )


class TestNullGroupKey:
    """An intent-mode item row with an empty ``attempt_id`` groups
    under a NULL key. Every layout keeps the row (silent loss is the
    reference's defining bug) and names the key the way ``partitionBy``
    does, so a NULL never collides with a real key ``"None"``."""

    _NULL_KEY_ROW = (
        "stu-3,login-3,sch-9,asmt-01,1.0,,item-03,1,5,TRUEFALSE,12,5,4,"
        "Algebra Basics,101,1.3\n"
    )
    _DIRS = [
        "attempt_id=__HIVE_DEFAULT_PARTITION__",
        "attempt_id=att-100",
        "attempt_id=att-200",
    ]

    @pytest.fixture(scope="class")
    def null_key_csv(self, tmp_path_factory):
        p = tmp_path_factory.mktemp("null_key") / "items.csv"
        p.write_text(ITEMS_CSV + self._NULL_KEY_ROW)
        return str(p)

    @staticmethod
    def _item_ids(events) -> list[str]:
        return [e["values"]["target"]["id"] for e in events]

    def test_bulk_writes_null_key(self, spark, null_key_csv, tmp_path):
        run_items_pipeline(spark, null_key_csv, str(tmp_path / "t"), layout="bulk")
        lines = [
            json.loads(ln)
            for f in (tmp_path / "t").glob("part-*.txt")
            for ln in f.read_text().splitlines()
        ]
        by_key = {ln["attempt_id"]: ln["events"] for ln in lines}
        assert len(lines) == 3
        assert set(by_key) == {"att-100", "att-200", None}
        assert self._item_ids(by_key[None]) == ["item-03"]

    def test_reference_names_null_key_like_partition_by(
        self, spark, null_key_csv, tmp_path
    ):
        target = tmp_path / "t"
        run_items_pipeline(spark, null_key_csv, str(target), layout="reference")
        assert sorted(p.name for p in target.iterdir()) == self._DIRS
        (f,) = list((target / self._DIRS[0]).glob("*.txt"))
        assert self._item_ids(json.loads(f.read_text())) == ["item-03"]

        ordinal = tmp_path / "ordinal"
        run_items_pipeline(
            spark, null_key_csv, str(ordinal), layout="reference", group_ordinal=True
        )
        names = sorted(p.name for p in ordinal.iterdir())
        assert names == [
            "events-1-att-100.txt",
            "events-2-att-200.txt",
            "events-3-__HIVE_DEFAULT_PARTITION__.txt",
        ]

    def test_spark_layout_keeps_null_key(self, spark, null_key_csv, tmp_path):
        target = tmp_path / "t"
        run_items_pipeline(spark, null_key_csv, str(target), layout="spark")
        dirs = sorted(p.name for p in target.iterdir() if p.is_dir())
        assert dirs == self._DIRS
        (f,) = list((target / self._DIRS[0]).glob("part-*.txt"))
        assert self._item_ids(json.loads(f.read_text())["events"]) == ["item-03"]
