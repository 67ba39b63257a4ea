"""Checkpoint-posture tests.

Pins the two claims the iterative operators' lazy localCheckpoints
rest on:

1. **Once-per-round execution**: a lazy checkpoint dedupes its
   downstream references — each round's plan executes exactly once
   even though two later operators read it (asserted with a Python
   accumulator bumped per processed row inside the round), in local
   mode and, because the round is persisted before the write, in
   reliable mode.
2. **The reliable-mode switch**: with
   ``spark.graft.checkpoint.reliable=true`` (+ a checkpoint dir),
   :func:`graph.truncate_lineage` routes to reliable ``checkpoint()``,
   every iterative query truncates through it (the checkpoint dir is
   written), and the queries produce identical values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from caliper_poc_data_etl_spark.graph import truncate_lineage

SF_DIR = "/root/testdata/sf0.001"


def _count_round_evaluations(spark, checkpoint):
    """Run 3 rounds over 100 rows, each lazily checkpointed by
    ``checkpoint`` and consumed twice; return (rows, round-body
    row evaluations)."""
    sc = spark.sparkContext
    acc = sc.accumulator(0)

    @F.udf(T.LongType())
    def bump(v):
        acc.add(1)
        return v

    n_rows, n_rounds = 100, 3
    labels = spark.range(n_rows).select(
        F.col("id").alias("node"), F.col("id").alias("lbl")
    )
    for _ in range(n_rounds):
        # the round body: every row passes through the counting UDF,
        # then the result is lazily checkpointed and consumed TWICE
        # (self-join), like the CC/kmeans rounds' double references.
        stepped = labels.select("node", bump(F.col("lbl")).alias("lbl"))
        ck = checkpoint(stepped)
        labels = ck.alias("a").join(
            ck.select(F.col("node").alias("node2"), F.col("lbl").alias("lbl2")),
            F.col("node") == F.col("node2"),
        ).select("node", F.least("lbl", "lbl2").alias("lbl"))
    return labels.count(), acc.value


def test_lazy_rounds_execute_once(spark):
    """Two downstream consumers of a lazy-checkpointed round must not
    re-execute the round's plan: the accumulator counts row-level
    evaluations of the round body, which must equal rows x rounds
    (not 2x) after the final action."""
    rows, evals = _count_round_evaluations(
        spark, lambda df: df.localCheckpoint(eager=False)
    )
    assert rows == 100
    # each round evaluated each row exactly once despite two consumers
    assert evals == 100 * 3


def test_lazy_rounds_execute_once_reliable_mode(spark, tmp_path):
    """Reliable mode: neither the two consumers nor the separate
    checkpoint-write job may re-run a lazy round's plan."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try:
        rows, evals = _count_round_evaluations(
            spark, lambda df: truncate_lineage(df, eager=False)
        )
    finally:
        spark.conf.set("spark.graft.checkpoint.reliable", "false")
        spark.catalog.clearCache()
    assert rows == 100
    assert evals == 100 * 3
    assert list((tmp_path / "ck").rglob("rdd-*")), "reliable rounds must be written"


def test_truncate_lineage_reliable_mode_value_identical(spark, tmp_path):
    """graph.truncate_lineage honors the posture switch: reliable
    checkpoints produce the same values as local ones, and the
    reliable run actually writes to the checkpoint dir."""
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    local_rows = sorted(tuple(r) for r in truncate_lineage(df).collect())

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try:
        reliable = truncate_lineage(df)
        reliable_rows = sorted(tuple(r) for r in reliable.collect())
    finally:
        spark.conf.set("spark.graft.checkpoint.reliable", "false")
    assert reliable_rows == local_rows
    ck_files = list((tmp_path / "ck").rglob("*"))
    assert ck_files, "reliable mode must write to the checkpoint dir"


ITERATIVE_QUERIES = [
    "er_phonetic_cluster_cc",
    "graph_pagerank",
    "graph_sssp_bellman_ford",
    "graph_label_propagation",
    "graph_kcore_decompose",
    "graph_bipartite_projection",
    "graph_random_walk_deterministic",
    "text_bpe_train_merges",
    "sim_mmr_select",
    "graph_hits_scores",
    "graph_personalized_pagerank",
    "embed_top_pc_power_iter",
]


@pytest.mark.parametrize("qname", ITERATIVE_QUERIES)
def test_iterative_queries_identical_under_reliable_mode(spark, tmp_path, qname):
    """The iterative queries give identical results under the
    reliable-checkpoint posture (the 100 TB fault-tolerant deployment
    shape) as under the default local checkpoints, and in that
    posture they write their rounds to the checkpoint dir — no round
    bypasses :func:`graph.truncate_lineage`."""
    import __spark_entry__ as entry

    qs = entry.queries()
    base = sorted(tuple(r) for r in qs[qname](spark, SF_DIR).collect())

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try:
        hardened = sorted(tuple(r) for r in qs[qname](spark, SF_DIR).collect())
    finally:
        spark.conf.set("spark.graft.checkpoint.reliable", "false")
        spark.catalog.clearCache()
    assert hardened == base
    # setCheckpointDir alone creates the (empty) app dir; rdd-* only
    # appears once a round is actually written there.
    assert list((tmp_path / "ck").rglob("rdd-*")), "no round reached the checkpoint dir"
