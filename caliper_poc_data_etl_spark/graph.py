"""Distributed graph primitives and the fixpoint kernel they run on.

The engine's global fuzzy-dedup path needs *transitive* duplicate
groups: if A~B and B~C then {A,B,C} must collapse to one keeper even
when A~C was never emitted as a pair. That is connected components
over the candidate-pair graph — the standard final stage of a
large-scale MinHash dedup pipeline.

Implementation: iterative min-label propagation (each node adopts the
smallest component id among itself and its neighbors, repeated to a
fixed point). Per iteration: one equi-join edges⋈labels + one
group-by — both hash-shuffles on node id, no quadratic work. The
iteration count is bounded by the graph diameter, which for near-dup
clusters is tiny (dup groups are near-cliques); a `max_iter` guard
caps pathological chains. Convergence is counted by the round itself:
every label is non-increasing, and an `Observation` of the labels
that dropped is filled by the round's own checkpoint job, so the test
costs no driver action (:func:`iterate`).

Every round loop in the engine — these two and the iterative query
builders — runs through :func:`iterate`, which truncates lineage each
round so the plan does not grow with iterations (Spark's
iterative-algorithm idiom).

Fault-tolerance posture (:func:`truncate_lineage`): localCheckpoint
stores the per-round blocks in EXECUTOR storage only — fast (no
distributed filesystem round-trip), but an executor loss drops those
partitions and fails the job, because the lineage needed to recompute
them was just truncated. That is the right trade on local[N] and for
latency-critical iterative jobs on stable clusters; a 100 TB run on
preemptible/spot executors should flip
``spark.graft.checkpoint.reliable=true`` (and call
``sc.setCheckpointDir``) so each round persists to the reliable store
instead — same values, one extra write barrier per round.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, functions as F


def truncate_lineage(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Per-round lineage truncation with a documented posture switch.

    Default (``spark.graft.checkpoint.reliable`` unset/false):
    ``localCheckpoint(eager)`` — executor-storage blocks, no fault
    tolerance for the checkpointed partitions (module docstring).
    Reliable mode: ``checkpoint(eager)`` to the configured checkpoint
    dir — survives executor loss at the cost of a distributed write
    per round. The round is persisted first: the checkpoint write is a
    separate job over the same RDD, and without the cache it reruns
    the round's plan (three lazy rounds of 100 rows, each read by two
    consumers, evaluated 700 rows instead of 300). An eager round's
    cache is released once its checkpoint is written; a lazy round's
    stays until the session's cache is cleared. Values are identical either
    way; tests pin both modes and the once-per-round execution of lazy
    rounds in both."""
    try:
        reliable = (
            df.sparkSession.conf.get("spark.graft.checkpoint.reliable", "false")
            or "false"
        )
    except Exception:  # pragma: no cover - conf lookup must never fail a job
        reliable = "false"
    if str(reliable).lower() == "true":
        cached = df.persist()
        out = cached.checkpoint(eager=eager)
        if eager:
            cached.unpersist()
        return out
    return df.localCheckpoint(eager=eager)


def iterate(
    step: Callable[[DataFrame, int], DataFrame],
    state: DataFrame,
    rounds: int,
    *,
    changed: Column | None = None,
    eager: bool = True,
) -> DataFrame:
    """The fixpoint kernel: ``state = step(state, r)`` for rounds
    ``r = 1..rounds``, each round's frame checkpointed through
    :func:`truncate_lineage` (``eager`` as there, so the reliable
    posture applies unchanged). A loop that also yields a second frame
    per round keeps it in a list its ``step`` appends to.

    ``changed``, a boolean Column over the step's output, makes the
    loop stop after the first round in which no row is ``changed``.
    The count rides the round's own checkpoint job as an
    ``Observation`` of ``count_if(changed)``, so the test costs no
    extra job. It is read as zero vs nonzero only: a retried task
    counted twice cannot turn one into the other. A lazy checkpoint
    completes its Observation empty, so ``changed`` needs
    ``eager=True`` (``ValueError`` otherwise)."""
    if changed is not None and not eager:
        raise ValueError(
            "iterate: a convergence test needs eager rounds; a lazy "
            "checkpoint completes its Observation empty"
        )
    for r in range(1, rounds + 1):
        out = step(state, r)
        if changed is None:
            state = truncate_lineage(out, eager=eager)
            continue
        obs = Observation()
        state = truncate_lineage(out.observe(obs, F.count_if(changed).alias("n")))
        n = obs.get.get("n")
        if n is None:
            raise RuntimeError("iterate: the round's checkpoint left its Observation empty")
        if n == 0:
            break
    return state


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(node, comp) — comp is the minimum node id in the component.

    ``nodes``: one row per node (singletons keep comp = self).
    ``edges``: undirected edge list; either orientation is fine.

    A round unions each node's own label (``prev`` = that label) with
    its neighbors' labels (``prev`` = NULL) and keeps the minimum per
    node, so ``prev`` carries the node's label into the round's output
    and ``comp < prev`` marks the labels that dropped; the loop stops
    at the first round where none did.
    """
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    sym = truncate_lineage(sym.distinct())

    def step(labels, _r):
        # For edge (src, dst), dst's current comp is a candidate label
        # for src.
        neighbor = sym.join(
            labels.select(F.col("node").alias("dst"), "comp"), "dst"
        ).select(F.col("src").alias("node"), "comp", F.lit(None).alias("prev"))
        return (
            labels.select("node", "comp", F.col("comp").alias("prev"))
            .union(neighbor)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.max("prev").alias("prev"))
        )

    labels = nodes.select(F.col(node_col).alias("node"), F.col(node_col).alias("comp"))
    return iterate(
        step, labels, max_iter, changed=F.col("comp") < F.col("prev")
    ).select("node", "comp")


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """(node, rank) — PageRank with a FIXED iteration count, the
    second iterative-algorithm shape next to connected components
    (fixed-point). The corpus-curation use: link-derived document
    authority as a quality prior (seed selection, crawl weighting).

    Per iteration: one equi-join (ranks⋈edges on src) + one group-by
    on dst + a left join back to nodes for dangling mass — all
    hash-shuffles on node id, each reusing the same partitioning.
    Dangling nodes (no out-links) redistribute their mass uniformly,
    so total rank stays 1 (asserted in tests).

    Driver-action discipline: the node count and per-iteration
    dangling mass are 1-row aggregates folded into the plan as
    broadcast crossJoins — no ``collect()``/``count()`` scalars pulled
    to the driver. It is not one job per iteration:
    ``tools/query_profile.py graph_pagerank`` counts 96 build-time jobs
    for ``graph_pagerank``'s 10 iterations (sf0.1, ``local[4]``), because
    under AQE each shuffle stage of an eager checkpoint runs as its
    own job. At cluster scale an extra driver action per
    iteration doubles the iteration latency and serializes on the
    driver; the broadcast-scalar form keeps the whole update
    pipelined inside one DAG.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    e = truncate_lineage(e.join(out_deg, "src"))

    # Node count as a broadcast 1-row frame, not a driver scalar.
    n_df = truncate_lineage(
        nodes.agg(F.count("*").cast("double").alias("n_nodes"))
    )
    ranks = truncate_lineage(
        nodes.select(F.col(node_col).alias("node"))
        .crossJoin(F.broadcast(n_df))
        .select("node", (F.lit(1.0) / F.col("n_nodes")).alias("rank"))
    )
    # Nodes with no out-edges — their rank is the dangling mass.
    dangling_nodes = truncate_lineage(
        nodes.select(F.col(node_col).alias("node"))
        .join(out_deg.withColumnRenamed("src", "node"), "node", "left_anti")
    )

    def step(ranks, _r):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        # Dangling mass as a broadcast 1-row aggregate inside the same
        # job — not a collect().
        dang = ranks.join(dangling_nodes, "node", "left_semi").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass")
        )
        return (
            ranks.select("node")
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n_nodes")
                    + damping
                    * (
                        F.coalesce(F.col("in_mass"), F.lit(0.0))
                        + F.col("dangling_mass") / F.col("n_nodes")
                    )
                ).alias("rank"),
            )
        )

    return iterate(step, ranks, n_iter)
