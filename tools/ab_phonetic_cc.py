"""Interleaved A/B: committed er_phonetic_cluster_cc vs co-partitioned
label-propagation rounds.

NEW: edges are hash-partitioned by the probe key (w2) once inside
their eager localCheckpoint, and the initial labels frame rides the
vocab distinct()'s existing hash partitioning on w — so each round's
edges⋈labels join needs no n-scale Exchange (checkpoint preserves
outputPartitioning; guide §2.4). The min-groupBy's shuffle (w1) and
the final cluster-size window (lbl) are the fundamental ones and stay.

Usage: SPARK_GRAFT_SF_DIR=... python tools/ab_phonetic_cc.py [reps]
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
from caliper_poc_data_etl_spark.queries.curation import (
    PHON_LEV_MAX,
    PHON_ROUNDS,
    _soundex_sql,
    er_phonetic_cluster_cc,
)
from caliper_poc_data_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def new_cc(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    parts = t(spark, sf_dir, "part").select(
        F.explode(F.split(F.col("p_name"), " ")).alias("w")
    )
    vocab = docs.unionByName(parts).filter(F.length("w") >= 3).distinct()
    coded = vocab.select("w", F.expr(_soundex_sql("w")).alias("sdx"))
    a = coded.select("sdx", F.col("w").alias("w1"))
    b = coded.select("sdx", F.col("w").alias("w2"))
    matched = (
        a.join(b, "sdx")
        .filter(F.col("w1") < F.col("w2"))
        .filter(F.levenshtein("w1", "w2") <= PHON_LEV_MAX)
        .select("w1", "w2")
    )
    n_part = spark.sparkContext.defaultParallelism
    edges = (
        matched.unionByName(
            matched.select(F.col("w2").alias("w1"), F.col("w1").alias("w2"))
        )
        .repartition(n_part, "w2")
        .localCheckpoint(eager=True)
    )
    labels = vocab.select("w", F.col("w").alias("lbl")).repartition(
        n_part, "w"
    )
    for _ in range(PHON_ROUNDS):
        nbr = (
            edges.join(labels, edges.w2 == labels.w)
            .groupBy(F.col("w1").alias("w"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        labels = (
            labels.join(nbr, "w", "left")
            .select(
                "w",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=False)
        )
    return labels.select(
        "w",
        F.col("lbl").alias("cluster_label"),
        F.count(F.lit(1))
        .over(W.partitionBy("lbl"))
        .cast("long")
        .alias("cluster_size"),
    )


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    spark = get_spark("ab_phonetic_cc")
    spark.range(1).count()
    spark.range(1024).repartition(32).foreachPartition(lambda it: None)

    old_rows = sorted(
        tuple(r) for r in er_phonetic_cluster_cc(spark, SF_DIR).collect()
    )
    new_rows = sorted(tuple(r) for r in new_cc(spark, SF_DIR).collect())
    assert old_rows == new_rows, (
        f"VALUE MISMATCH: {len(old_rows)} vs {len(new_rows)} rows"
    )
    print(f"value-identical: {len(old_rows)} rows", flush=True)

    variants = {
        "old": lambda: er_phonetic_cluster_cc(spark, SF_DIR),
        "new": lambda: new_cc(spark, SF_DIR),
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
