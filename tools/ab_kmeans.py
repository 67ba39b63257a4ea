"""Interleaved A/B: current Lloyd machinery vs co-partitioned rewrite.

Negative result #5 of r13 (the co-partitioned variant measured ~40%
SLOWER; see OPTIMIZATION_r13.md). Kept as the experiment record.

OLD = queries/similarity.py `_kmeans_final_assignment` as committed (after
r13's lazy-checkpoint adoption).
NEW = same algorithm, but the exploded matrix `xe` is hash-partitioned
by vec_id ONCE before its localCheckpoint (checkpoint preserves
outputPartitioning), so every round's groupBy(vec_id, k), argmin
window, and assignment⋈matrix join run without an n-scale Exchange
(guide §2.4 "share one exchange"); only the K*64-row centroid update
still shuffles. Values must be row-identical (exact integer algebra).

Usage: SPARK_GRAFT_SF_DIR=... python tools/ab_kmeans.py [reps]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.registry import t
from caliper_poc_data_etl_spark.queries.similarity import (
    KM_ITERS,
    KM_K,
    _kmeans_final_assignment,
)
from caliper_poc_data_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def new_assignment(spark, sf_dir, lazy_rounds: bool = True):
    e = t(spark, sf_dir, "embeddings")
    n_part = spark.sparkContext.defaultParallelism
    xe = (
        e.select(
            "vec_id",
            F.posexplode(
                F.transform(
                    "embedding",
                    lambda x: F.round(x.cast("double") * 1000).cast("long"),
                )
            ).alias("j0", "x"),
        )
        .select("vec_id", (F.col("j0") + 1).alias("j"), "x")
        .repartition(n_part, "vec_id")
        .localCheckpoint(eager=True)
    )
    seeds = (
        e.select("vec_id")
        .distinct()
        .orderBy("vec_id")
        .limit(KM_K)
        .withColumn("k", F.row_number().over(W.orderBy("vec_id")) - 1)
    )
    c = (
        xe.join(F.broadcast(seeds), "vec_id")
        .select("k", "j", F.col("x").alias("c"))
        .localCheckpoint(eager=True)
    )

    def assign(cent):
        d = (
            xe.join(F.broadcast(cent), "j")
            .groupBy("vec_id", "k")
            .agg(
                F.sum(
                    (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
                ).alias("d2")
            )
        )
        wv = W.partitionBy("vec_id").orderBy("d2", "k")
        return (
            d.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", "k", "d2")
        )

    for _ in range(KM_ITERS):
        a = assign(c).select("vec_id", "k")
        m = (
            a.join(xe, "vec_id")
            .groupBy("k", "j")
            .agg(F.sum("x").alias("s"), F.count("*").alias("cnt"))
        )
        c = (
            c.join(m, ["k", "j"], "left")
            .select(
                "k",
                "j",
                F.coalesce(
                    (
                        F.when(F.col("s") < 0, -1).otherwise(1)
                        * F.expr("div(2 * abs(s) + cnt, 2 * cnt)")
                    ).cast("long"),
                    F.col("c"),
                ).alias("c"),
            )
            .localCheckpoint(eager=not lazy_rounds)
        )
    return assign(c)


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    spark = get_spark("ab_kmeans")
    spark.range(1).count()
    spark.range(1024).repartition(32).foreachPartition(lambda it: None)

    # value identity first
    old_rows = sorted(
        tuple(r) for r in _kmeans_final_assignment(spark, SF_DIR).collect()
    )
    new_rows = sorted(tuple(r) for r in new_assignment(spark, SF_DIR).collect())
    assert old_rows == new_rows, (
        f"VALUE MISMATCH: {len(old_rows)} vs {len(new_rows)} rows; "
        f"first diff {next((a, b) for a, b in zip(old_rows, new_rows) if a != b)}"
    )
    print(f"value-identical: {len(old_rows)} rows", flush=True)

    variants = {
        "old": lambda: _kmeans_final_assignment(spark, SF_DIR),
        "new_lazy": lambda: new_assignment(spark, SF_DIR, lazy_rounds=True),
        "new_eager": lambda: new_assignment(spark, SF_DIR, lazy_rounds=False),
    }
    times: dict[str, list[float]] = {k: [] for k in variants}
    for i in range(reps):
        for name, fn in variants.items():
            t0 = time.perf_counter()
            fn().count()
            dt = round(time.perf_counter() - t0, 3)
            times[name].append(dt)
            print(f"rep {i} {name}: {dt}s", flush=True)
    for name, ts in times.items():
        print(
            f"{name}: median {statistics.median(ts):.3f}s min {min(ts):.3f}s {ts}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
