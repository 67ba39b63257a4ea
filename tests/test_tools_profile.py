"""tools/query_profile.py: one record per query with build, plan, action and
stream layers, read from Spark's live trackers."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from types import SimpleNamespace

import pytest

from py4j.protocol import Py4JJavaError

from tools.query_profile import REPO, _phase, profile, select

import __spark_entry__ as entrymod

NAMES = [
    "embed_kmeans_assign",
    "q1_pricing_summary",
    "stream_tumbling_replay",
    # count() is rejected (QUERY_ONLY_CORRUPT_RECORD_COLUMN, see read_csv)
    "scan_csv_policy",
    "sort_topk_global",
]


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    return {r["query"]: r for r in profile(spark, NAMES, sf_dir)}


def test_one_record_per_query_in_order(records):
    assert list(records) == NAMES


def test_iterative_build_starts_jobs(records):
    rec = records["embed_kmeans_assign"]
    assert rec["build_jobs"] > 0
    assert rec["build"]["stages"] > 0
    assert rec["action_jobs"] >= 1
    assert rec["rows"] > 0


def test_action_stage_sums(records):
    rec = records["q1_pricing_summary"]
    assert rec["action"]["tasks"] > 0
    assert rec["action"]["shuffle_write_bytes"] > 0
    assert rec["action"]["input_bytes"] > 0
    assert rec["plan_nodes"]["Exchange"] >= 1
    assert set(rec["catalyst_ms"]) == {"analysis", "optimization", "planning"}
    assert "stream" not in rec and "warm_s" not in rec


def test_stream_layer(records):
    stream = records["stream_tumbling_replay"]["stream"]
    assert stream["batches"] > 0
    assert stream["input_rows"] > 0
    assert stream["addbatch_s"] > 0
    assert stream["duration_ms"]["addBatch"] == round(stream["addbatch_s"] * 1e3)


def test_failing_query_is_recorded_and_run_goes_on(records):
    assert "QUERY_ONLY_CORRUPT_RECORD_COLUMN" in records["scan_csv_policy"]["error"]
    nxt = records["sort_topk_global"]
    assert "error" not in nxt and nxt["rows"] > 0


def test_trials_and_non_headline_filter(spark, sf_dir):
    import bench

    registry = entrymod.queries()
    assert select(registry, []) == [n for n in bench.HEADLINE if n in registry]
    names = select(registry, ["graph_pagerank"])
    assert "graph_pagerank" in names and "graph_pagerank" not in bench.HEADLINE
    (rec,) = profile(spark, ["graph_pagerank"], sf_dir, trials=1)
    assert len(rec["warm_s"]) == 1
    assert rec["build_jobs"] > 0
    assert rec["build"]["stages"] > 0
    # the sums say how many stage ids the status store had evicted
    assert all(rec[p]["stages_missing"] >= 0 for p in ("build", "action"))


def _fake_spark(stage_ids, evicted):
    """A stand-in for the session objects ``_phase`` reads: one job
    listing ``stage_ids``; the store has evicted the ``evicted`` ones."""

    class Stage:
        numCompleteTasks = executorRunTime = executorCpuTime = jvmGcTime = (
            lambda self: 1
        )
        inputBytes = shuffleWriteBytes = shuffleReadBytes = numCompleteTasks
        memoryBytesSpilled = diskBytesSpilled = numCompleteTasks

    class Store:
        def lastStageAttempt(self, sid):
            if sid in evicted:
                java = SimpleNamespace(_target_id="o1")
                raise Py4JJavaError("NoSuchElementException", java)
            return Stage()

    ns = SimpleNamespace
    jsc = ns(listenerBus=lambda: ns(waitUntilEmpty=lambda: None), statusStore=Store)
    tracker = ns(
        getJobIdsForGroup=lambda group: [0],
        getJobInfo=lambda job: ns(stageIds=stage_ids),
    )
    sc = ns(
        setJobGroup=lambda *a: None,
        statusTracker=lambda: tracker,
        _jsc=ns(sc=lambda: jsc),
    )
    return ns(sparkContext=sc)


def test_evicted_stages_are_counted_not_summed():
    spark = _fake_spark([1, 2, 3, 4], evicted={2, 4})
    result, _, jobs, sums = _phase(spark, "g", lambda: "done", set())
    assert (result, jobs) == ("done", 1)
    assert sums["stages"] == 2 and sums["stages_missing"] == 2
    assert sums["tasks"] == 2 and sums["spill_bytes"] == 4


def test_udf_query_profiles_outside_repo_root(sf_dir, tmp_path):
    """Python workers resolve the package through PYTHONPATH, which the
    tool sets before the session starts."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g"
    )
    out = tmp_path / "ledger.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "query_profile.py"),
         "udf_grouped_label_var", "--json", str(out), "--plans", "plans"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )  # fmt: skip
    assert proc.returncode == 0, proc.stderr[-2000:]
    (rec,) = json.loads(out.read_text())["records"]
    assert "error" not in rec, rec
    assert rec["rows"] > 0
    plan = (tmp_path / "plans" / "udf_grouped_label_var.txt").read_text()
    assert plan.startswith("== Physical Plan ==") and "Arguments:" in plan


def test_tools_dir_does_not_shadow_the_standard_library():
    """Run as scripts, the tools leave tools/ on sys.path ahead of the
    standard library; pyspark imports cProfile, which imports profile."""
    proc = subprocess.run(
        [sys.executable, "-c", "import cProfile"],
        cwd=os.path.join(REPO, "tools"), capture_output=True, text=True,
    )  # fmt: skip
    assert proc.returncode == 0, proc.stderr
