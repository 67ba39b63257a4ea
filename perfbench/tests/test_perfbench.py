"""Tests for the benchmark's own code; none of them starts Spark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import verify  # noqa: E402

ITEMS = {"rows": 300, "attempt_size": [1, 40], "multi_objective_share": 0.05,
         "malformed_share": 0.02}


# -- the percentile rule ---------------------------------------------------

def test_p90_needs_ten_samples_beyond_it():
    sample = [float(i) for i in range(1, 100)]  # 99 samples: 9.9 beyond p90
    assert stats.percentile(sample, 90) is None
    sample.append(100.0)
    assert stats.percentile(sample, 90) == pytest.approx(90.1)


def test_percentile_matches_statistics_quantiles():
    sample = [((i * 37) % 101) / 7 for i in range(250)]
    want = statistics.quantiles(sample, n=100, method="inclusive")
    for q in (50, 75, 90, 95):
        assert stats.percentile(sample, q) == pytest.approx(want[q - 1])
    assert stats.percentile(sample[:19], 50) is None  # 9.5 beyond the median
    assert stats.percentile(sample[:20], 50) == pytest.approx(statistics.median(sample[:20]))


# -- host steal ------------------------------------------------------------

def test_host_ticks_count_stolen_within_total():
    import bench_session

    stolen, total = bench_session.host_ticks()
    assert 0 <= stolen <= total


# -- span self times ---------------------------------------------------------

def _span(i, start, end, parent=None):
    return spans.Span(id=i, name=f"s{i}", start=start, end=end, parent=parent, run_id=1)


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps its sibling: covered once
        _span(3, 2.0, 3.0, parent=1),
        _span(4, 9.0, 12.0, parent=0),  # runs past its parent: clipped
    ]
    own = spans.self_times(tree)
    assert own[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(3.0 - 1.0)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(1.0)
    assert own[4] == pytest.approx(3.0)


def test_tracer_nests_and_writes_self_times(tmp_path):
    tracer = spans.Tracer()
    tracer.new_run()
    with tracer.span("iteration"):
        with tracer.span("child"):
            pass
    root, child = tracer.spans
    assert child.parent == root.id and root.parent is None
    assert root.run_id == child.run_id == 1
    path = tmp_path / "spans.json"
    spans.write_spans(str(path), tracer.spans)
    rows = json.loads(path.read_text())
    assert rows[0]["self_time"] == pytest.approx(rows[0]["duration"] - rows[1]["duration"])


# -- event log -------------------------------------------------------------

def test_spark_metrics_sums_tasks_of_the_chosen_job_groups(tmp_path):
    def task(stage, run_ms, shuffle_written=0, failed=False):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": run_ms + 10,
                          "Getting Result Time": 0, "Failed": failed},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                             "Executor Deserialize Time": 5, "JVM GC Time": 1,
                             "Result Serialization Time": 0,
                             "Input Metrics": {"Bytes Read": 100},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_written}},
        }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "w/full"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "w/sources"}},
        task(0, 100, shuffle_written=7), task(1, 200), task(1, 300, failed=True), task(2, 999),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    ]
    log = tmp_path / "events"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    m = spans.spark_metrics(str(log), {"w/full"})
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (1, 2, 3)
    assert m["spark.failed_tasks"] == 1
    assert m["spark.task_run_s"] == pytest.approx(0.6)
    assert m["spark.task_cpu_s"] == pytest.approx(0.6)
    assert m["spark.sched_delay_s"] == pytest.approx(3 * 0.005)
    assert m["spark.input_bytes"] == 300
    assert m["spark.shuffle_write_bytes"] == 7


# -- inputs and verification -------------------------------------------------

def _items_csv(tmp_path, seed, name="items.csv"):
    units = list(gen.items_units(gen.rng_for(seed, "items_bulk"), ITEMS))
    return units, gen.write_csv(str(tmp_path / name), gen.ITEMS_HEADER, iter(units))


def test_inputs_depend_only_on_the_seed(tmp_path):
    _, a = _items_csv(tmp_path, 7, "a.csv")
    _, b = _items_csv(tmp_path, 7, "b.csv")
    _, c = _items_csv(tmp_path, 8, "c.csv")
    assert open(a.path).read() == open(b.path).read()
    assert a.expect == b.expect
    assert open(a.path).read() != open(c.path).read()
    assert a.rows == 300 and a.expect.events == 300


def test_shares_are_exact_counts(tmp_path):
    units, csv = _items_csv(tmp_path, 3)
    rows = [line.split(",") for text, *_ in units for line in text.splitlines()]
    assert len(rows) == 300
    assert sum(";" in r[-2] for r in rows) == round(300 * ITEMS["multi_objective_share"])
    assert sum(r[11] == "" for r in rows) == round(300 * ITEMS["malformed_share"])

    params = {"rows": 200, "malformed_share": 0.05}
    units = list(gen.assessments_units(gen.rng_for(3, "attempts_parity"), params))
    dropped = [text for text, _, line, _ in units if line is None]
    assert len(dropped) == 10
    for text in dropped:
        fields = text.rstrip("\n").split(",")
        assert len(fields) == 12 or "" in fields


def _write_output(target, lines):
    os.makedirs(target)
    (target / "_SUCCESS").write_text("")
    half = len(lines) // 2
    (target / "part-00000.txt").write_text("".join(f"{x}\n" for x in lines[:half]))
    (target / "part-00001.txt").write_text("".join(f"{x}\n" for x in lines[half:]))


def test_verification_accepts_the_expected_output_in_any_order(tmp_path):
    units, csv = _items_csv(tmp_path, 5)
    lines = [line for _, _, line, _ in units]
    _write_output(tmp_path / "out", lines[::-1])
    problems, (n_lines, n_events, _, size) = verify.check_output(str(tmp_path / "out"), csv.expect)
    assert problems == []
    assert (n_lines, n_events) == (len(lines), 300)
    assert size > 0


@pytest.mark.parametrize("corrupt", ["byte", "dropped", "duplicated"])
def test_verification_rejects_a_corrupted_output_file(tmp_path, corrupt):
    units, csv = _items_csv(tmp_path, 5)
    lines = [line for _, _, line, _ in units]
    if corrupt == "byte":
        lines[3] = lines[3].replace('"normalScore":"', '"normalScore":"1', 1)
    elif corrupt == "dropped":
        del lines[3]
    else:
        lines.append(lines[0])
    _write_output(tmp_path / "out", lines)
    problems, _ = verify.check_output(str(tmp_path / "out"), csv.expect)
    assert problems


def test_query_rows_compare_order_insensitively_with_float_rounding():
    a = verify.canon([(1, 0.1 + 0.2, "x"), (2, 1.0, "y")], ["k", "v", "s"])
    b = verify.canon([("y", 2, 1.0), ("x", 1, 0.3)], ["s", "k", "v"])
    assert verify.compare_rows(a, b) is None
    c = verify.canon([("y", 2, 1.0), ("x", 1, 0.31)], ["s", "k", "v"])
    assert verify.compare_rows(a, c) is not None
    assert verify.compare_rows(a, a[:1]) is not None


# -- BENCHMARK.json agrees with the code ---------------------------------

def test_benchmark_json_lists_what_run_prints():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    # attempts_parity stays runnable by hand but is not in the measured set.
    assert [w["name"] for w in spec["workloads"]] == ["items_bulk", "query_suite"]
    assert set(run.load_config()["workloads"]) == {"items_bulk", "attempts_parity", "query_suite"}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] <= setup["bound"] <= 0.25 for m in spec["end_to_end"])
