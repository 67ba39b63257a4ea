"""One cold set-up of the benchmark's session, in a process of its own.

Usage: ``python3 perfbench/setup_probe.py <work_dir>``

Prints one JSON line with ``setup_s`` — from the start of this script
until ``get_spark`` has returned and the warm-up job and Python worker
pool are done — then stops the session and waits for its JVM to exit.
A traced ``run.py`` starts it for an untraced set-up to compare its own
traced one with.
"""

import time

T0 = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]


def main() -> int:
    import bench_session

    work = sys.argv[1]
    bench_session.prepare_env(work)
    bench_session.import_package()

    spark, _, _ = bench_session.start(work)
    print(json.dumps({"setup_s": time.perf_counter() - T0}), flush=True)
    bench_session.stop(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
