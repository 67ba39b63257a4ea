"""The Spark session the benchmark measures, and its set-up timing.

The session is the package's own :func:`get_spark` with the core count
the benchmark is pinned to, an explicit driver heap, and every scratch
location (shuffle files, JVM temp files, warehouse) inside the
benchmark's work directory.
"""

from __future__ import annotations

import os
import subprocess
import time

DRIVER_MEMORY = "4g"
# CPUs the benchmark runs on. With all 4 of a 4-vCPU host busy, the
# hypervisor stole CPU time and iteration times stalled with it; see
# run.py.
CPUS = 2


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin() -> None:
    """Run this process, and every process it starts later, on the first
    :data:`CPUS` of the CPUs it may use (all of them if there are fewer)."""
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:CPUS])


def prepare_env(work: str) -> None:
    """Point every temp-file location of this process and its children
    at ``work``. Must run before the first Spark or tempfile call."""
    import tempfile

    for sub in ("tmp", "warehouse", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    tempfile.tempdir = None


def session_conf(work: str, event_log_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{event_log_dir}",
        })
    return conf


def import_package() -> None:
    """The package imports every workload needs; part of set-up."""
    import caliper_poc_data_etl_spark.pipelines  # noqa: F401
    import caliper_poc_data_etl_spark.queries  # noqa: F401


def warmup(spark) -> None:
    """First job plus the Python worker pool (one worker per core)."""
    spark.range(1).count()
    spark.range(1024).repartition(cpus()).foreachPartition(lambda it: None)


def start(work: str, event_log_dir: str | None = None):
    """Start and warm the session. Returns ``(spark, get_spark_s,
    warmup_s)``."""
    from caliper_poc_data_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=cpus(),
        driver_memory=DRIVER_MEMORY,
        extra_conf=session_conf(work, event_log_dir),
    )
    t1 = time.perf_counter()
    warmup(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def _gateway_proc():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def host_ticks() -> tuple[int, int]:
    """``(stolen, total)`` CPU ticks of this machine so far, from
    ``/proc/stat``. Stolen ticks are time the hypervisor gave this
    machine's virtual CPUs to other guests; on bare metal they stay 0."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def peak_rss_mb() -> float:
    """``VmHWM`` of this Python driver plus its JVM."""
    proc = _gateway_proc()
    return vm_hwm_mb() + (vm_hwm_mb(proc.pid) if proc is not None else 0.0)


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    proc = _gateway_proc()
    try:
        spark.stop()
    finally:
        # Even when the JVM is already gone (a signal reached it too),
        # close the gateway and reap the process.
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
