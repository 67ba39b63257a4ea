"""Checkpoint-posture and fixpoint-kernel tests.

Pins the two claims the iterative operators' lazy localCheckpoints
rest on, and the convergence test of :func:`graph.iterate`:

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
3. **Convergence on the checkpoint job**: ``iterate(changed=...)``
   stops at the first round that changes nothing, in both postures,
   with the values of a fixed-round run; a lazy round cannot carry
   the test.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from caliper_poc_data_etl_spark import graph
from caliper_poc_data_etl_spark.graph import connected_components, iterate, truncate_lineage

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


@pytest.fixture(params=["local", "reliable"])
def posture(request, spark, tmp_path):
    if request.param == "reliable":
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
        spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try:
        yield request.param
    finally:
        spark.conf.set("spark.graft.checkpoint.reliable", "false")
        spark.catalog.clearCache()


def _cc_chain(spark, monkeypatch, fixed_rounds=None):
    """Connected components of the 6-node chain 0-1-...-5 with
    ``max_iter=20``; returns (sorted labels, rounds run, jobs started
    by the build). ``fixed_rounds`` drops the convergence test and
    runs that many rounds."""
    rounds = []

    def counted(step, state, n, *, changed=None, eager=True):
        def step_(s, r):
            rounds.append(r)
            return step(s, r)

        if fixed_rounds is not None:
            return iterate(step_, state, fixed_rounds, eager=eager)
        return iterate(step_, state, n, changed=changed, eager=eager)

    monkeypatch.setattr(graph, "iterate", counted)
    sc = spark.sparkContext
    group = f"cc-chain-{uuid.uuid4().hex}"
    nodes = spark.createDataFrame([(i,) for i in range(6)], "node long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(5)], "src long, dst long")
    sc.setJobGroup(group, "connected_components build")
    try:
        labels = connected_components(nodes, chain, max_iter=20)
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return sorted(tuple(r) for r in labels.collect()), len(rounds), jobs


def test_cc_stops_on_its_checkpoint_job(spark, posture, monkeypatch):
    """Label 0 needs 5 rounds to reach node 5, and the 6th changes
    nothing: the loop stops there instead of running all 20, with the
    labels of a fixed 20-round run. The test rides each round's
    checkpoint job: the build starts exactly the jobs of 6 fixed
    rounds, where a driver-side ``collect()`` per round would add
    jobs."""
    got, rounds, jobs = _cc_chain(spark, monkeypatch)
    want, all_rounds, _ = _cc_chain(spark, monkeypatch, fixed_rounds=20)
    _, _, six_jobs = _cc_chain(spark, monkeypatch, fixed_rounds=6)
    assert rounds == 6
    assert all_rounds == 20
    assert got == want == [(i, 0) for i in range(6)]
    assert jobs == six_jobs


def test_iterate_refuses_a_lazy_convergence_test(spark):
    """A lazy checkpoint completes its Observation empty, so the
    kernel must refuse the combination rather than read it."""
    df = spark.range(3)
    with pytest.raises(ValueError):
        iterate(lambda s, r: s, df, 2, changed=F.col("id") > 0, eager=False)


ITERATIVE_QUERIES = [
    "dedup_cluster_cc",
    "embed_kmeans_assign",
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
