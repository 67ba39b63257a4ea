"""Per-query profile: build, plan, action and stream layers in one JSON
record per query, read from Spark's live trackers over py4j.

- build: ``builder(spark, sf_dir)`` under job group
  ``profile:<name>:build`` — ``build_s``, ``build_jobs`` (jobs started
  before any action: eager checkpoints, staging) and stage sums.
- plan: ``plan_s`` to the executed plan, Catalyst's phase times
  (``catalyst_ms``) and the plan's node counts (``plan_nodes``).
- action: ``count()``, the action ``bench.py`` times, under
  ``profile:<name>:action`` — ``action_s``, ``action_jobs``, ``rows``
  and stage sums.
- stage sums (``build`` / ``action``): stages that ran, tasks, run /
  CPU / GC seconds, input, shuffle-write, shuffle-read and spill bytes,
  from the status store's ``lastStageAttempt``; a stage counts once,
  in the first phase that lists it. ``stages_missing`` counts stage
  ids the store had already evicted, which the sums therefore miss.
- stream: for builders that replay a stream — batches, Σ
  ``durationMs`` per key, input rows, ``addbatch_s`` and
  ``overhead_s`` (build time outside ``addBatch``). Micro-batch jobs
  run under the stream's own job group: for stream ops this is the
  action layer.
- ``--trials N``: ``warm_s``, N rebuild + ``count()`` wall times.

A failing query gets an ``error`` field and the run goes on. No filter
runs ``bench.HEADLINE``; filters run every registered name containing
one of them (``stream_`` = the stream ops, ``_`` = all queries).

Usage:
    python tools/query_profile.py [FILTER ...] [--json PATH] [--plans DIR] [--trials N]
    SPARK_GRAFT_SF_DIR=DIR python tools/query_profile.py _    # default: bench.SF_DIR (sf0.1)
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
from collections import Counter

from py4j.protocol import Py4JJavaError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PLAN_NODES = (
    "Exchange", "Sort", "SortMergeJoin", "BroadcastHashJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "HashAggregate", "ObjectHashAggregate", "SortAggregate", "Window",
)  # fmt: skip

CATALYST_PHASES = ("analysis", "optimization", "planning")

# record key -> (StageData accessors summed, divisor to seconds; None
# keeps a count)
STAGE_SUMS = {
    "tasks": (("numCompleteTasks",), None),
    "run_s": (("executorRunTime",), 1e3),
    "cpu_s": (("executorCpuTime",), 1e9),
    "gc_s": (("jvmGcTime",), 1e3),
    "input_bytes": (("inputBytes",), None),
    "shuffle_write_bytes": (("shuffleWriteBytes",), None),
    "shuffle_read_bytes": (("shuffleReadBytes",), None),
    "spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), None),
}


def select(registry, filters) -> list[str]:
    """``bench.HEADLINE`` without filters, else every registered name
    that contains one of ``filters``."""
    if not filters:
        import bench

        return [n for n in bench.HEADLINE if n in registry]
    return [n for n in registry if any(f in n for f in filters)]


def _plan_counts(plan: str) -> dict[str, int]:
    counts = {n: len(re.findall(rf"\b{n}\b", plan)) for n in PLAN_NODES}
    return {n: c for n, c in counts.items() if c}


def _catalyst_ms(qe) -> dict[str, int]:
    phases = qe.tracker().phases()
    return {
        n: int(phases.get(n).get().durationMs())
        for n in CATALYST_PHASES
        if phases.get(n).isDefined()
    }


def _phase(spark, group: str, fn, seen: set[int]):
    """Run ``fn()`` under job group ``group``: (result, seconds, jobs,
    stage sums). Stage ids already in ``seen`` are skipped, and every
    id looked at is added to it. ``stages_missing`` counts stage ids
    the status store no longer holds: when it is non-zero, the sums
    are incomplete."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    result = fn()
    wall = round(time.perf_counter() - t0, 3)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    sums: dict = {"stages": 0, "stages_missing": 0, **dict.fromkeys(STAGE_SUMS, 0)}
    for job in jobs:
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted (skipped stages go first)
                sums["stages_missing"] += 1
                continue
            if stage.numCompleteTasks() == 0:
                continue
            sums["stages"] += 1
            for key, (getters, div) in STAGE_SUMS.items():
                value = sum(getattr(stage, g)() for g in getters)
                sums[key] += value / div if div else value
    sums = {k: round(v, 3) if isinstance(v, float) else v for k, v in sums.items()}
    return result, wall, len(jobs), sums


def _stream(progress: list[dict], build_s: float) -> dict:
    durations: Counter = Counter()
    for p in progress:
        durations.update(p.get("durationMs") or {})
    addbatch_s = durations["addBatch"] / 1e3
    return {
        "batches": len(progress),
        "duration_ms": dict(durations),
        "input_rows": sum(int(p.get("numInputRows", 0)) for p in progress),
        "addbatch_s": round(addbatch_s, 3),
        "overhead_s": round(build_s - addbatch_s, 3),
    }


def _profile_one(spark, name, builder, sf_dir, trials, plans) -> dict:
    from caliper_poc_data_etl_spark.streaming.events import RECENT_STREAM_PROGRESS

    rec: dict = {"query": name}
    seen: set[int] = set()
    streams_before = dict(RECENT_STREAM_PROGRESS)

    df, rec["build_s"], rec["build_jobs"], rec["build"] = _phase(
        spark, f"profile:{name}:build", lambda: builder(spark, sf_dir), seen
    )

    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    plan = qe.executedPlan().toString()
    rec["plan_s"] = round(time.perf_counter() - t0, 3)
    rec["catalyst_ms"] = _catalyst_ms(qe)
    rec["plan_nodes"] = _plan_counts(plan)
    if plans:
        with open(os.path.join(plans, f"{name}.txt"), "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted"))

    rec["rows"], rec["action_s"], rec["action_jobs"], rec["action"] = _phase(
        spark, f"profile:{name}:action", df.count, seen
    )

    # record_stream_progress stores a new list per replay
    progress = [
        p
        for k, v in RECENT_STREAM_PROGRESS.items()
        if streams_before.get(k) is not v
        for p in v
    ]
    if progress:
        rec["stream"] = _stream(progress, rec["build_s"])

    if trials:
        spark.sparkContext.setJobGroup(f"profile:{name}:warm", name)
        rec["warm_s"] = []
        for _ in range(trials):
            t0 = time.perf_counter()
            builder(spark, sf_dir).count()
            rec["warm_s"].append(round(time.perf_counter() - t0, 3))
    return rec


def profile(spark, names, sf_dir, trials=0, plans=None) -> list[dict]:
    """One record per name in ``names`` (see the module docstring); a
    query that raises gets ``{"query", ..., "error"}`` and the next
    one still runs. ``plans`` is a directory for ``<name>.txt`` plans."""
    import __spark_entry__ as entrymod

    registry = entrymod.queries()
    if plans:
        os.makedirs(plans, exist_ok=True)
    records = []
    for name in names:
        try:
            rec = _profile_one(spark, name, registry[name], sf_dir, trials, plans)
        except Exception as exc:  # noqa: BLE001 — one failing query must not end the run
            message = " ".join(f"{type(exc).__name__}: {exc}".split())
            rec = {"query": name, "error": message[:300]}
        finally:
            spark.sparkContext._jsc.clearJobGroup()
        records.append(rec)
        print(json.dumps(rec), flush=True)
    return records


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("filters", nargs="*", help="registered-name substrings")
    ap.add_argument("--json", help="write {sf_dir, master, records} to PATH")
    ap.add_argument("--plans", help="write explain('formatted') to DIR/<name>.txt")
    ap.add_argument("--trials", type=int, default=0, help="warm rebuild+count runs")
    args = ap.parse_args(argv)

    # Python workers import the package too (UDF queries); they resolve
    # it through PYTHONPATH, not the driver's sys.path, so the tool
    # works from any directory only if the JVM inherits the repo root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as entrymod
    from bench import SF_DIR
    from caliper_poc_data_etl_spark.session import get_spark

    names = select(entrymod.queries(), args.filters)
    spark = get_spark("profile")
    spark.range(1).count()
    spark.range(1024).repartition(32).foreachPartition(lambda it: None)

    records = profile(spark, names, SF_DIR, args.trials, args.plans)
    if args.json:
        with open(args.json, "w") as fh:
            meta = {"sf_dir": SF_DIR, "master": spark.sparkContext.master}
            json.dump({**meta, "records": records}, fh, indent=1)
            fh.write("\n")
    print(f"errors: {[r['query'] for r in records if 'error' in r]}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
