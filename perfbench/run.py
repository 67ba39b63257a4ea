"""Benchmark for the Caliper ETL pipelines and the query registry.

Usage (from the repository root)::

    python3 perfbench/run.py --workload items_bulk --seed 1 --seconds 8 --trace 0

One process, one closed-loop client: the next call starts when the
previous one has ended, on a ``local[N]`` session with a fixed driver
heap, where N is ``bench_session.CPUS`` (or nproc, if smaller).
Inputs are generated from ``--seed`` after set-up and before timing,
inside ``.perfbench_work/`` at the repository root, and deleted at
exit. After the first iteration, iterations run untimed for
``warmup_seconds`` (``config.json``) and then timed for ``--seconds``.
Every call's output is checked after its clock stops; a call that
raises or fails its check counts in ``failed`` and the run goes on.

``--trace 0`` reports the end-to-end metrics (:data:`END_TO_END`).
``--trace 1`` turns on Spark's event log, spends half the window on
untraced iterations and half on traced ones — each layer's public
function materialized into Spark's ``noop`` sink in turn, under its own
job group — and reports the per-layer metrics (:data:`PER_LAYER`). The
spans go to ``.perfbench_out/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

The benchmark and every process it starts run on the first N CPUs
only. The host is a virtual machine that gets less CPU time from the
hypervisor than it has virtual CPUs: on a 4-vCPU host, a session that
kept all 4 busy lost 4-19% of the machine's CPU time to "steal"
(``/proc/stat``), and iteration time followed the stolen share
(correlation 0.9, about +65% per 10% stolen). Pinned to 2 CPUs, the
same iterations saw under 2% steal. The host's own speed still drifts
with the load of other guests over minutes, and set-up and iteration
times move together with it. Each run prints the share stolen during
each timed iteration, and the traced run reports its median
(``host.steal_share``).
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import bench_session  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
from statistics import median  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "iter_p50_s": "s",
    "rows_per_s": "rows/s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "session.first_run_s": "s",
    "sources.build_s": "s",
    "sources.scan_s": "s",
    "sources.rows_in": "count",
    "sources.rows_kept": "count",
    "sources.kept_ratio": "ratio",
    "sources.bytes_in": "bytes",
    "pipelines.build_s": "s",
    "pipelines.events_s": "s",
    "pipelines.group_s": "s",
    "pipelines.events_out": "count",
    "pipelines.groups_out": "count",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.out_bytes_ratio": "ratio",
    "queries.build_s": "s",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.rows_out": "count",
    **spans.SPARK_METRICS,
    "run.call_p50_s": "s",
    "run.failed_ratio": "ratio",
    "host.steal_share": "ratio",
    "trace.overhead_setup_s": "s",
    "trace.overhead_iter_s": "s",
}


def load_config() -> dict:
    with open(os.path.join(HERE, "config.json")) as fh:
        return json.load(fh)


def parse_args(argv, workloads) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def probe_setup(work: str) -> float:
    """``setup_s`` of one cold set-up in a child process."""
    child_work = os.path.join(work, "probe")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "setup_probe.py"), child_work],
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    shutil.rmtree(child_work, ignore_errors=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"]


def host_anchors() -> dict:
    """Spark-free host diagnostics: matmul GFLOP/s and process spawns/s."""
    import numpy as np

    n = 512
    a = np.random.default_rng(7).standard_normal((n, n))
    a @ a
    t0 = time.perf_counter()
    for _ in range(6):
        a @ a
    gflops = 6 * 2 * n**3 / (time.perf_counter() - t0) / 1e9
    t0 = time.perf_counter()
    for _ in range(20):
        subprocess.run(["true"], check=True)
    return {
        "host_matmul_gflops": round(gflops, 1),
        "host_proc_spawns_per_s": round(20 / (time.perf_counter() - t0), 1),
    }


def environment(spark) -> dict:
    import pyspark

    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        proc = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = proc.stdout.strip() or commit
    return {
        "commit": commit,
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "nproc": os.cpu_count(),
        "cpus": bench_session.cpus(),
        "driver_memory": bench_session.DRIVER_MEMORY,
    }


class Run:
    """The state of one benchmark invocation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def account(self, res) -> None:
        self.attempted += res.attempted
        self.failed += len(res.problems)
        self.problems.extend(res.problems)

    def loop(self, seconds: float, step, min_iters: int = 1) -> list:
        """Closed loop: call ``step`` until ``seconds`` have passed and
        at least ``min_iters`` iterations ran (hard stop at 3×)."""
        out = []
        start = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - start
            if elapsed >= 3 * seconds or (elapsed >= seconds and len(out) >= min_iters):
                return out
            res = step()
            self.account(res)
            out.append(res)


def _terminate(*_) -> None:
    # Unwind through the finally blocks that stop the JVM and delete the
    # work directory; a second SIGTERM must not cut that clean-up short.
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    config = load_config()
    args = parse_args(argv, config["workloads"])
    bench_session.pin()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    try:
        bench_session.prepare_env(work)
        try:
            bench_session.import_package()
        except ImportError as exc:
            print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
            return 2
        return measure(args, config, work, import_s=time.perf_counter() - T0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def measure(args, config: dict, work: str, import_s: float) -> int:
    from workloads import WORKLOADS

    traced = bool(args.trace)
    phases = {"set-up": import_s}  # diagnostics: wall time of each phase

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - T0 - sum(phases.values())

    # The traced run also takes one untraced cold set-up, for the
    # tracing overhead on set-up.
    untraced_setup = probe_setup(work) if traced else None
    if traced:
        phase("untraced set-up")
    event_log_dir = os.path.join(work, "eventlog") if traced else None
    if event_log_dir:
        os.makedirs(event_log_dir)
    spark, get_spark_s, warmup_s = bench_session.start(work, event_log_dir)
    own_setup = import_s + get_spark_s + warmup_s
    phases["set-up"] = own_setup
    workload = WORKLOADS[args.workload](config["workloads"][args.workload], work, args.seed)
    run = Run()
    tracer = spans.Tracer()
    traced_layers: list[dict] = []

    def traced_step():
        res, layers = workload.traced_iteration(spark, tracer)
        if layers:
            traced_layers.append(layers)
        return res

    try:
        env = environment(spark)
        workload.prepare()
        phase("inputs")
        first = workload.iteration(spark, first=True)
        run.account(first)
        phase("first")
        step = lambda: workload.iteration(spark, first=False)  # noqa: E731
        # JIT compilation keeps shortening iterations for several seconds
        # after the first one; those iterations are checked, not timed.
        run.loop(config["warmup_seconds"], step)
        phase("warm-up")
        window = args.seconds / 2 if traced else args.seconds
        warm = run.loop(window, step, config["min_warm_iterations"])
        phase("timed")
        traced_res = run.loop(window, traced_step, config["min_warm_iterations"]) if traced else []
        peak_rss = bench_session.peak_rss_mb()
    finally:
        bench_session.stop(spark)
        workload.close()

    phase("traced, stop")
    env.update(host_anchors())
    print("# environment " + json.dumps(env, sort_keys=True))
    print("# phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    for p in run.problems[:20]:
        print(f"# FAILED {p}")
    iter_walls = [r.wall for r in warm if not r.problems]
    calls = [c for r in warm if not r.problems for c in r.calls]
    steal = [r.steal for r in warm if not r.problems]
    metrics: dict[str, float] = {}
    if not iter_walls or first.problems:
        print("# no metrics: the first or every warm iteration failed its check")
    elif not traced:
        iter_p50 = median(iter_walls)
        metrics = {
            "setup_s": own_setup,
            "iter_p50_s": iter_p50,
            "rows_per_s": workload.rows_in / iter_p50,
        }
        p90 = stats.percentile(calls, 90)
        tail = f"{p90:.4f} s" if p90 is not None else "not reported (needs 100 calls)"
        print(
            f"# {len(iter_walls)} warm iterations, {len(calls)} warm calls; "
            f"call p50 {median(calls):.4f} s, p90 {tail}"
        )
        print("# warm iteration walls (s): " + " ".join(f"{w:.3f}" for w in iter_walls))
        print("# their host steal shares: " + " ".join(f"{x:.3f}" for x in steal))
    else:
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics["session.get_spark_s"] = get_spark_s
        metrics["session.warmup_s"] = warmup_s
        metrics["session.peak_rss_mb"] = peak_rss
        metrics["session.first_run_s"] = first.wall
        for key in traced_layers[0] if traced_layers else ():
            metrics[key] = median([layers[key] for layers in traced_layers])
        metrics.update(workload.counts())
        n_traced = max(1, len(traced_layers))
        for log in glob.glob(os.path.join(event_log_dir, "*"))[:1]:
            for key, value in spans.spark_metrics(log, workload.spark_groups()).items():
                metrics[key] = value / n_traced
        metrics["run.call_p50_s"] = median(calls)
        metrics["run.failed_ratio"] = run.failed / run.attempted
        metrics["host.steal_share"] = median(steal)
        metrics["trace.overhead_setup_s"] = own_setup - untraced_setup
        traced_walls = [r.wall for r in traced_res if not r.problems]
        if traced_walls:
            metrics["trace.overhead_iter_s"] = median(traced_walls) - median(iter_walls)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
        spans.write_spans(path, tracer.spans)
        print(f"# spans: {path} ({len(tracer.spans)} spans, {len(traced_layers)} traced iterations)")
    units = PER_LAYER if traced else END_TO_END
    for name, unit in units.items():
        if name in metrics:
            print(f"# {name} = {metrics[name]:.6g} {unit}")
    print(f"# verification: {run.attempted - run.failed}/{run.attempted} calls passed")
    result = {
        "correct": run.failed == 0 and bool(metrics),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
