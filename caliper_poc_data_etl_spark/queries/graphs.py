"""Graph operators over the driver tables: shortest paths, label
propagation, k-core, random walks, HITS, personalized PageRank, link
prediction, clustering coefficients, modularity, bipartite projection
and the affine synthetic edge lists they share. Every round loop
runs through :func:`graph.iterate`."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.graph import iterate, pagerank, truncate_lineage
from caliper_poc_data_etl_spark.queries.kernels import md5_int, topk
from caliper_poc_data_etl_spark.queries.registry import query, t
from caliper_poc_data_etl_spark.queries.training import _BFS_EDGES_SQL


# ---------------------------------------------------------------------------
# The affine synthetic link graph
# ---------------------------------------------------------------------------

_LP_GEN = [(7, 1), (13, 2), (29, 3)]


def _affine_edges(nodes: DataFrame, id_col: str, *, symmetric: bool = False) -> DataFrame:
    """Directed (src, dst) edges over ``nodes``' ids: every node links
    to ``(id * a + b) % n`` for each ``(a, b)`` in ``_LP_GEN``,
    self-loops and duplicates removed; ``symmetric`` adds each edge's
    reverse before the dedupe. The node count n rides as a broadcast
    1-row aggregate, not a driver count."""
    nn = nodes.agg(F.count("*").alias("n"))
    base = nodes.select(F.col(id_col).alias("id")).crossJoin(F.broadcast(nn))
    gen = reduce(
        DataFrame.unionByName,
        [
            base.select(
                F.col("id").alias("src"),
                ((F.col("id") * a + b) % F.col("n")).alias("dst"),
            )
            for a, b in _LP_GEN
        ],
    ).filter(F.col("src") != F.col("dst"))
    if symmetric:
        gen = gen.unionByName(gen.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return gen.distinct()


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths (Bellman-Ford, fixed rounds)
# ---------------------------------------------------------------------------

SSSP_SOURCE = 7
SSSP_ROUNDS = 6

# Deterministic synthetic weighted edges over documents — the same
# modular generator family as sql_recursive_cte_bfs (training.py),
# plus an integer weight derived from the endpoints.
_SSSP_EDGES_SQL = """
      SELECT src, dst, (src * 31 + dst * 17) % 97 + 1 AS w FROM (
        SELECT DISTINCT src, dst FROM (
          SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst
          FROM documents, nn
          UNION ALL
          SELECT doc_id, (doc_id * 13 + 2) % nn.n FROM documents, nn
          UNION ALL
          SELECT doc_id, (doc_id * 29 + 3) % nn.n FROM documents, nn
        ) WHERE src <> dst
      )
"""


def _sssp_oracle() -> str:
    head = f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    edges AS MATERIALIZED ({_SSSP_EDGES_SQL}),
    d0 AS (SELECT CAST({SSSP_SOURCE} AS BIGINT) AS node,
                  CAST(0 AS BIGINT) AS dist)"""
    steps = []
    for i in range(1, SSSP_ROUNDS + 1):
        steps.append(f"""d{i} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i-1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM d{i-1} d JOIN edges e ON e.src = d.node
      ) GROUP BY node
    )""")
    return (
        head
        + ",\n    "
        + ",\n    ".join(steps)
        + f"""
    SELECT node, CAST(dist AS BIGINT) AS dist FROM d{SSSP_ROUNDS}
    """
    )


@query("graph_sssp_bellman_ford", oracle=_sssp_oracle())
def graph_sssp_bellman_ford(spark, sf_dir):
    """Weighted single-source shortest paths by Bellman-Ford — the
    5th iterative operator (after PageRank, connected components,
    power iteration, k-means), covering the weighted-graph case the
    unweighted recursive-CTE BFS can't express. Fixed SSSP_ROUNDS
    relaxation rounds bound path length at declared cost (the
    unbounded fixpoint is the same loop run to no-change); edge
    weights are deterministic integers, so every round is exact
    integer arithmetic cross-engine — no tie or rounding conventions
    at all.

    Scale shape: per round, one join of the O(|reached|) distance
    frame against the edge list (shuffles on the edge key), one
    min-groupBy — Pregel's message+combine step as two relational
    ops; lineage truncates per round (localCheckpoint, zero driver
    scalars). At 100 TB the edge list is the big side and the
    distance frame rides broadcast or co-partitioning, exactly like
    dedup_cluster_cc."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    edges = truncate_lineage(
        _affine_edges(d, "doc_id").select(
            "src",
            "dst",
            ((F.col("src") * 31 + F.col("dst") * 17) % 97 + 1).alias("w"),
        )
    )

    def relax(dist, _r):
        relaxed = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        return dist.unionByName(relaxed).groupBy("node").agg(F.min("dist").alias("dist"))

    dist = spark.range(1).select(
        F.lit(SSSP_SOURCE).cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )
    dist = iterate(relax, dist, SSSP_ROUNDS)
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


# ---------------------------------------------------------------------------
# Label propagation (semi-supervised, fixed rounds)
# ---------------------------------------------------------------------------

LP_ROUNDS = 3


def _affine_undirected_edges(spark, sf_dir):
    """The shared synthetic similarity graph over embedding ids:
    :func:`_affine_edges` symmetrized, localCheckpoint'ed (it anchors
    iterative loops). Used by label propagation, k-core, and the
    clustering coefficient."""
    return truncate_lineage(
        _affine_edges(t(spark, sf_dir, "embeddings"), "vec_id", symmetric=True)
    )


def _lp_oracle() -> str:
    gens = "\n      UNION ALL\n".join(
        f"""      SELECT id AS src, (id * {a} + {b}) % n AS dst
      FROM nodes, nn""" for a, b in _LP_GEN
    )
    head = f"""
    WITH nodes AS (SELECT vec_id AS id, label FROM embeddings),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    gen AS (
{gens}
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM gen WHERE src <> dst
        UNION ALL
        SELECT dst, src FROM gen WHERE src <> dst)
    ),
    l0 AS (SELECT id AS node, label AS lab FROM nodes)"""
    steps = []
    for i in range(1, LP_ROUNDS + 1):
        steps.append(f"""r{i} AS (
      SELECT e.src AS node, l.lab, COUNT(*) AS c
      FROM edges e JOIN l{i-1} l ON l.node = e.dst
      GROUP BY e.src, l.lab
    ), l{i} AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lab) AS rn
        FROM r{i}) WHERE rn = 1
    )""")
    tail = f"""
    SELECT n0.node AS vec_id,
           CAST(n0.lab AS INT) AS label_init,
           CAST(lf.lab AS INT) AS label_lp
    FROM l0 n0 JOIN l{LP_ROUNDS} lf USING (node)"""
    return head + ",\n    " + ",\n    ".join(steps) + tail


@query("graph_label_propagation", oracle=_lp_oracle())
def graph_label_propagation(spark, sf_dir):
    """Label propagation over the synthetic similarity graph: every
    node starts from its embedding label and, for a fixed number of
    rounds, adopts the most frequent label among its neighbors
    (deterministic tiebreak: count desc, label asc) — the standard
    cheap community/labeling pass (Raghavan et al.) between connected
    components (pure reachability) and PageRank (weighted influence)
    in the iterative family.

    Each round is one edges⋈labels join + a (node,label) count + an
    argmax window — all partitioned by node id, with localCheckpoint
    truncating lineage per round exactly like ``dedup_cluster_cc`` and
    ``graph_sssp_bellman_ford``. Fixed LP_ROUNDS keeps it
    driver-action-free; both engines run the identical integer
    schedule so the oracle is exact."""
    edges = _affine_undirected_edges(spark, sf_dir)
    e = t(spark, sf_dir, "embeddings")
    init = e.select(F.col("vec_id").alias("node"), F.col("label").alias("lab"))

    def vote(labels, _r):
        votes = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(edges.src, "lab")
            .agg(F.count("*").alias("c"))
        )
        return topk(votes, ["src"], [F.desc("c"), "lab"], 1).select(
            F.col("src").alias("node"), "lab"
        )

    labels = iterate(vote, init, LP_ROUNDS)
    return init.select("node", F.col("lab").alias("l0")).join(
        labels, "node"
    ).select(
        F.col("node").alias("vec_id"),
        F.col("l0").cast("int").alias("label_init"),
        F.col("lab").cast("int").alias("label_lp"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round peel)
# ---------------------------------------------------------------------------

KCORE_K = 5
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    gens = "\n      UNION ALL\n".join(
        f"""      SELECT id AS src, (id * {a} + {b}) % n AS dst
      FROM nodes, nn""" for a, b in _LP_GEN
    )
    head = f"""
    WITH nodes AS (SELECT vec_id AS id FROM embeddings),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    gen AS (
{gens}
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM gen WHERE src <> dst
        UNION ALL
        SELECT dst, src FROM gen WHERE src <> dst)
    )"""
    steps = []
    for i in range(1, KCORE_ROUNDS + 1):
        # MATERIALIZED on every e_i: each is referenced twice by the
        # next round (degree filter + edge keep); inlining would
        # re-evaluate the whole chain exponentially.
        steps.append(f"""k{i} AS (
      SELECT src AS node FROM e{i-1}
      GROUP BY src HAVING COUNT(*) >= {KCORE_K}
    ), e{i} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{i-1} e
      JOIN k{i} a ON a.node = e.src
      JOIN k{i} b ON b.node = e.dst
    )""")
    tail = f"""
    SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e{KCORE_ROUNDS} GROUP BY src"""
    return head + ",\n    " + ",\n    ".join(steps) + tail


@query("graph_kcore_decompose", oracle=_kcore_oracle())
def graph_kcore_decompose(spark, sf_dir):
    """k-core peeling (fixed rounds): repeatedly drop nodes with
    degree < {KCORE_K} and the edges touching them; survivors after
    the rounds are (an over-approximation converging to) the
    {KCORE_K}-core — the densest-region extractor used for community
    seeding and spam/bot subgraph mining. Like the other iterative
    operators the round count is FIXED so both engines run the
    identical schedule as the oracle's chained CTEs; on this graph
    the peel converges within the fixed
    rounds at every test SF, which the pytest asserts by checking
    every reported degree ≥ {KCORE_K} and that one more peel changes
    nothing.

    Each round: one degree groupBy + two semi-joins to keep edges
    between survivors — all hash-partitioned on node ids,
    localCheckpoint truncating lineage per round."""

    def peel(edges, _r):
        keep = (
            edges.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select(F.col("src").alias("node"))
        )
        return edges.join(
            keep.select(F.col("node").alias("src")), "src", "left_semi"
        ).join(keep.select(F.col("node").alias("dst")), "dst", "left_semi")

    edges = iterate(peel, _affine_undirected_edges(spark, sf_dir), KCORE_ROUNDS)
    return edges.groupBy(F.col("src").alias("vec_id")).agg(
        F.count("*").cast("long").alias("core_degree")
    )


# ---------------------------------------------------------------------------
# Per-node clustering coefficient
# ---------------------------------------------------------------------------


def _clustering_oracle() -> str:
    gens = "\n      UNION ALL\n".join(
        f"""      SELECT id AS src, (id * {a} + {b}) % n AS dst
      FROM nodes, nn""" for a, b in _LP_GEN
    )
    return f"""
    WITH nodes AS (SELECT vec_id AS id FROM embeddings),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    gen AS (
{gens}
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM gen WHERE src <> dst
        UNION ALL
        SELECT dst, src FROM gen WHERE src <> dst)
    ),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
    wedge AS (
      SELECT e1.src AS v, e1.dst AS a, e2.dst AS b
      FROM edges e1 JOIN edges e2
        ON e1.src = e2.src AND e1.dst < e2.dst
    ),
    tri AS (
      SELECT w.v, COUNT(*) AS n_tri
      FROM wedge w JOIN edges e ON e.src = w.a AND e.dst = w.b
      GROUP BY w.v
    )
    SELECT d.node AS vec_id,
           CAST(d.d AS BIGINT) AS degree,
           CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
           CAST(2 * COALESCE(t.n_tri, 0) AS BIGINT) AS cc_num,
           CAST(d.d * (d.d - 1) AS BIGINT) AS cc_den
    FROM deg d LEFT JOIN tri t ON t.v = d.node
    """


@query("graph_clustering_coeff", oracle=_clustering_oracle())
def graph_clustering_coeff(spark, sf_dir):
    """Per-node local clustering coefficient — how interconnected each
    node's neighborhood is (2·triangles(v) / deg(v)(deg(v)−1)), the
    community-cohesion signal behind spam-ring and bot-cluster
    detection (organic neighborhoods are cliquish, synthetic ones are
    star-shaped). Emitted as the exact integer ratio cc_num/cc_den
    next to degree and triangle counts.

    Plan: wedges enumerate as one self-join on the center node (cost
    Σ deg², bounded on this near-regular graph), close into triangles
    with one edge semi-join, and a left join back to degrees keeps
    triangle-free nodes. All joins hash on node ids — the compact
    relational triangle plan, per node instead of
    ``graph_triangle_count``'s global scalar."""
    edges = _affine_undirected_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    e1 = edges.select(F.col("src").alias("v"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src").alias("v"), F.col("dst").alias("b"))
    wedge = e1.join(e2, "v").filter(F.col("a") < F.col("b"))
    closer = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    tri = (
        wedge.join(closer, ["a", "b"], "left_semi")
        .groupBy("v")
        .agg(F.count("*").alias("n_tri"))
    )
    return (
        deg.join(tri, deg.node == tri.v, "left")
        .select(
            F.col("node").alias("vec_id"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_triangles"),
            (2 * F.coalesce("n_tri", F.lit(0))).cast("long").alias("cc_num"),
            (F.col("d") * (F.col("d") - 1)).cast("long").alias("cc_den"),
        )
    )


# ---------------------------------------------------------------------------
# Resource-allocation link prediction over the shared affine graph
# ---------------------------------------------------------------------------


def _ra_oracle() -> str:

    gens = "\n      UNION ALL\n".join(
        f"""      SELECT id AS src, (id * {a} + {b}) % n AS dst
      FROM nodes, nn""" for a, b in _LP_GEN
    )
    return f"""
    WITH nodes AS (SELECT vec_id AS id FROM embeddings),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    gen AS (
{gens}
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM gen WHERE src <> dst
        UNION ALL
        SELECT dst, src FROM gen WHERE src <> dst)
    ),
    deg AS (SELECT src AS z, COUNT(*) AS dz FROM edges GROUP BY src),
    wedge AS (
      SELECT a.dst AS u, a.src AS z, b.dst AS v
      FROM edges a JOIN edges b ON a.src = b.src AND a.dst < b.dst
    ),
    cand AS (
      SELECT w.u, w.z, w.v FROM wedge w
      WHERE NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.src = w.u AND e.dst = w.v)
    )
    SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST(SUM(1000000 // dz) AS BIGINT) AS ra_micro
    FROM cand JOIN deg USING (z)
    GROUP BY u, v
    """


@query("graph_link_prediction_ra", oracle=_ra_oracle())
def graph_link_prediction_ra(spark, sf_dir):
    """Resource-allocation link prediction (Zhou, Lü & Zhang 2009):
    score every NON-adjacent pair (u,v) by Σ_{z ∈ N(u)∩N(v)} 1/deg(z)
    — common neighbors weighted down by how promiscuous they are, the
    strongest of the classic local link predictors (and the integer-
    friendly cousin of Adamic-Adar, whose 1/log deg would drag libm
    into the comparison path). Reciprocals are emitted in micro-units
    via integer floor division so the score is BIGINT-exact on both
    engines; n_common rides alongside (= the common-neighbors
    baseline predictor). Plan: wedges enumerate via one self-join on
    the center node (Σ deg² — the ``graph_clustering_coeff`` cost),
    existing edges drop by one anti-join, scores reduce in one
    partial-aggregating groupBy on (u, v). Everything hashes on node
    ids; degree is a broadcast-sized dimension at any scale where
    deg ≪ n."""

    edges = _affine_undirected_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("z")).agg(F.count("*").alias("dz"))
    ea = edges.select(F.col("src").alias("z"), F.col("dst").alias("u"))
    eb = edges.select(F.col("src").alias("z"), F.col("dst").alias("v"))
    wedge = ea.join(eb, "z").filter(F.col("u") < F.col("v"))
    cand = wedge.join(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    return (
        cand.join(deg, "z")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.expr("1000000 DIV dz")).cast("long").alias("ra_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Bipartite co-occurrence projection
# ---------------------------------------------------------------------------


@query(
    "graph_bipartite_projection",
    oracle="""
    WITH ut AS MATERIALIZED (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    deg AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type)
    SELECT a.event_type AS t1, b.event_type AS t2,
           CAST(COUNT(*) AS BIGINT) AS n_common_users,
           CAST(d1.n AS BIGINT) AS n_t1,
           CAST(d2.n AS BIGINT) AS n_t2,
           CAST(COUNT(*) AS BIGINT) AS jac_num,
           CAST(d1.n + d2.n - COUNT(*) AS BIGINT) AS jac_den
    FROM ut a
    JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
    JOIN deg d1 ON d1.event_type = a.event_type
    JOIN deg d2 ON d2.event_type = b.event_type
    GROUP BY a.event_type, b.event_type, d1.n, d2.n
    """,
)
def graph_bipartite_projection(spark, sf_dir):
    """Bipartite graph projection — the user↔event-type two-mode
    graph projected onto event types: edge weight = users engaging
    with BOTH types, plus per-type degrees and the Jaccard overlap as
    an exact integer ratio (jac_num/jac_den). This is the
    co-occurrence/co-engagement construction behind
    market-basket-style affinity, collaborative filtering
    neighborhoods, and topic co-usage graphs. Scale shape: the
    two-mode edge list dedupes in one partial-aggregating DISTINCT;
    the projection self-joins on the shared USER key (Σ per-user
    deg², never |users|²) — the standard guard is capping per-user
    fan-out, and here deg(user) ≤ |event types| bounds it by
    construction; degrees broadcast."""
    e = t(spark, sf_dir, "events")
    ut = truncate_lineage(e.select("user_id", "event_type").distinct())
    deg = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("t1"))
    b = ut.select("user_id", F.col("event_type").alias("t2"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    d1 = deg.select(F.col("event_type").alias("t1"), F.col("n").alias("n_t1"))
    d2 = deg.select(F.col("event_type").alias("t2"), F.col("n").alias("n_t2"))
    return (
        pairs.join(F.broadcast(d1), "t1")
        .join(F.broadcast(d2), "t2")
        .select(
            "t1",
            "t2",
            F.col("w").cast("long").alias("n_common_users"),
            F.col("n_t1").cast("long").alias("n_t1"),
            F.col("n_t2").cast("long").alias("n_t2"),
            F.col("w").cast("long").alias("jac_num"),
            (F.col("n_t1") + F.col("n_t2") - F.col("w"))
            .cast("long")
            .alias("jac_den"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic random walks over the shared affine graph
# ---------------------------------------------------------------------------

WALK_STEPS = 4


def _walk_oracle() -> str:

    gens = "\n      UNION ALL\n".join(
        f"""      SELECT id AS src, (id * {a} + {b}) % n AS dst
      FROM nodes, nn""" for a, b in _LP_GEN
    )
    head = f"""
    WITH nodes AS (SELECT vec_id AS id FROM embeddings),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    gen AS (
{gens}
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM gen WHERE src <> dst
        UNION ALL
        SELECT dst, src FROM gen WHERE src <> dst)
    ),
    ranked AS MATERIALIZED (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn,
             COUNT(*) OVER (PARTITION BY src) AS deg
      FROM edges
    ),
    w0 AS (SELECT id AS start_id, id AS cur,
                  CAST(id AS VARCHAR) AS path FROM nodes)"""
    steps = []
    for s in range(1, WALK_STEPS + 1):
        steps.append(f"""w{s} AS MATERIALIZED (
      SELECT w.start_id, r.dst AS cur, w.path || '->' || r.dst AS path
      FROM w{s-1} w
      JOIN ranked r ON r.src = w.cur
       AND r.rn = ('0x' || substr(md5(CAST(w.cur AS VARCHAR)
                                      || '_{s}_'
                                      || CAST(w.start_id AS VARCHAR)),
                                  1, 10))::BIGINT % r.deg + 1
    )""")
    tail = f"""
    SELECT start_id, CAST(cur AS BIGINT) AS end_id, path
    FROM w{WALK_STEPS}"""
    return head + ",\n    " + ",\n    ".join(steps) + tail


@query("graph_random_walk_deterministic", oracle=_walk_oracle())
def graph_random_walk_deterministic(spark, sf_dir):
    """Graph random walks — the DeepWalk/node2vec training-data
    generator — made engine-exact: one walk per start node, 4 steps,
    where the step-s choice at node v is neighbor rank
    md5(v, s, start) mod deg(v) over the id-sorted adjacency list. A
    seeded PRNG would be engine-specific; the hash-indexed choice is
    the declared deterministic equivalent (uniform over neighbors,
    independent across steps/walks to md5 quality). Output: start,
    end, and the full '->'-joined path string. Plan: the ranked
    adjacency list builds once (one window over edges, checkpointed);
    each step is ONE equi-join of the walk frontier against it —
    hash-partitioned on the current node, |walks| rows per step, the
    Pregel frontier shape. The walk corpus feeds skip-gram embedding
    training exactly as documents feed ``text_bigram_lm``."""

    edges = _affine_undirected_edges(spark, sf_dir)
    ranked = truncate_lineage(
        edges.select(
            "src",
            "dst",
            F.row_number()
            .over(W.partitionBy("src").orderBy("dst"))
            .alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("src")).alias("deg"),
        )
    )
    nodes = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("start_id")
    )
    walk = nodes.select(
        "start_id",
        F.col("start_id").alias("cur"),
        F.col("start_id").cast("string").alias("path"),
    )
    for s in range(1, WALK_STEPS + 1):
        pick = (
            md5_int(
                F.concat_ws(
                    "_",
                    F.col("cur").cast("string"),
                    F.lit(str(s)),
                    F.col("start_id").cast("string"),
                ),
                10,
            )
            % F.col("deg")
            + 1
        )
        walk = (
            walk.join(ranked, walk.cur == ranked.src)
            .filter(F.col("rn") == pick)
            .select(
                "start_id",
                F.col("dst").alias("cur"),
                F.concat(F.col("path"), F.lit("->"), F.col("dst").cast("string")).alias(
                    "path"
                ),
            )
        )
    return walk.select(
        "start_id", F.col("cur").cast("long").alias("end_id"), "path"
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (fixed-round, integer max-normalized)
# ---------------------------------------------------------------------------

HITS_ROUNDS = 2
HITS_SCALE = 1_000_000


def _hits_oracle() -> str:

    gens = "\n      UNION ALL\n".join(
        f"""      SELECT id AS src, (id * {a} + {b}) % n AS dst
      FROM nodes, nn""" for a, b in _LP_GEN
    )
    head = f"""
    WITH nodes AS (SELECT vec_id AS id FROM embeddings),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    edges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
{gens}
      ) WHERE src <> dst
    ),
    h0 AS (SELECT id AS node, {HITS_SCALE} AS v FROM nodes)"""
    steps = []
    for r in range(1, HITS_ROUNDS + 1):
        steps.append(f"""ag{r} AS (
      SELECT e.dst AS node, SUM(h.v) AS v
      FROM edges e JOIN h{r-1} h ON h.node = e.src GROUP BY e.dst
    ),
    ar{r} AS MATERIALIZED (
      SELECT n.id AS node, COALESCE(g.v, 0) AS v
      FROM nodes n LEFT JOIN ag{r} g ON g.node = n.id
    ),
    a{r} AS MATERIALIZED (
      SELECT node, v * {HITS_SCALE} // (SELECT MAX(v) FROM ar{r}) AS v
      FROM ar{r}
    ),
    hg{r} AS (
      SELECT e.src AS node, SUM(a.v) AS v
      FROM edges e JOIN a{r} a ON a.node = e.dst GROUP BY e.src
    ),
    hr{r} AS MATERIALIZED (
      SELECT n.id AS node, COALESCE(g.v, 0) AS v
      FROM nodes n LEFT JOIN hg{r} g ON g.node = n.id
    ),
    h{r} AS MATERIALIZED (
      SELECT node, v * {HITS_SCALE} // (SELECT MAX(v) FROM hr{r}) AS v
      FROM hr{r}
    )""")
    tail = f"""
    SELECT h.node AS vec_id, CAST(h.v AS BIGINT) AS hub_micro,
           CAST(a.v AS BIGINT) AS auth_micro
    FROM h{HITS_ROUNDS} h JOIN a{HITS_ROUNDS} a USING (node)"""
    return head + ",\n    " + ",\n    ".join(steps) + tail


@query("graph_hits_scores", oracle=_hits_oracle())
def graph_hits_scores(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg, JACM'99) over the directed
    affine graph — the bipartite-influence companion to
    ``graph_pagerank`` (pointing at good pages vs being one): 2 fixed
    rounds of authority = Σ in-neighbor hubs, hub = Σ out-neighbor
    authorities. The usual L2 normalization needs sqrt (libm); for
    rank purposes ANY positive rescale preserves HITS order, so each
    half-round max-normalizes to integer micro-units (x·1e6 div max)
    — bit-exact cross-engine, the 10th iterative operator. Plan per
    half-round: one hash join of the score vector against the
    checkpointed edge list + one partial-aggregating groupBy + a
    1-row max scalar as a broadcast plan node (never a driver
    collect) — the Pregel message/combine shape at |V| rows."""

    nodes = t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("node"))
    edges = truncate_lineage(_affine_edges(nodes, "node"))

    def half_round(score, key, other):
        """Σ of ``score`` over each node's ``other``-side neighbors,
        zero-filled and max-normalized."""
        raw = (
            edges.join(score.withColumnRenamed("node", key), key)
            .groupBy(F.col(other).alias("node"))
            .agg(F.sum("v").alias("v"))
        )
        df = nodes.join(raw, "node", "left").select(
            "node", F.coalesce("v", F.lit(0)).alias("v")
        )
        m = df.agg(F.max("v").alias("m"))
        return df.crossJoin(F.broadcast(m)).select(
            "node", F.expr(f"v * {HITS_SCALE} div m").alias("v")
        )

    auth = []

    def hits_round(h, _r):
        auth.append(truncate_lineage(half_round(h, "src", "dst")))
        return half_round(auth[-1], "dst", "src")

    h = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("v"))
    h = iterate(hits_round, h, HITS_ROUNDS)
    return h.select(F.col("node").alias("vec_id"), F.col("v").alias("hub_micro")).join(
        auth[-1].select(F.col("node").alias("vec_id"), F.col("v").alias("auth_micro")),
        "vec_id",
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (integer-exact, fixed rounds)
# ---------------------------------------------------------------------------

PPR_ROUNDS = 3
PPR_SCALE = 1_000_000
PPR_DAMP_NUM = 85  # damping 0.85 as the integer ratio 85/100
PPR_DAMP_DEN = 100


def _ppr_oracle() -> str:

    gens = "\n        UNION ALL\n".join(
        f"""        SELECT id AS src, (id * {a} + {b}) % n AS dst
        FROM nodes, nn""" for a, b in _LP_GEN
    )
    head = f"""
    WITH nodes AS (SELECT vec_id AS id FROM embeddings),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    seed AS (SELECT MIN(id) AS s FROM nodes),
    edges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
{gens}
      ) WHERE src <> dst
    ),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (
      SELECT id AS node,
             CASE WHEN id = (SELECT s FROM seed)
                  THEN {PPR_SCALE} ELSE 0 END AS v
      FROM nodes
    )"""
    steps = []
    for i in range(1, PPR_ROUNDS + 1):
        steps.append(f"""r{i} AS MATERIALIZED (
      SELECT n.id AS node,
             ({PPR_DAMP_NUM} * COALESCE(m.mass, 0)) // {PPR_DAMP_DEN}
             + CASE WHEN n.id = (SELECT s FROM seed)
                    THEN {PPR_SCALE} * ({PPR_DAMP_DEN} - {PPR_DAMP_NUM})
                         // {PPR_DAMP_DEN}
                    ELSE 0 END AS v
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(p.v // d.deg) AS mass
        FROM edges e JOIN deg d USING (src) JOIN r{i-1} p ON p.node = e.src
        GROUP BY e.dst
      ) m ON m.node = n.id
    )""")
    tail = f"""
    SELECT node AS vec_id, CAST(v AS BIGINT) AS ppr_micro
    FROM r{PPR_ROUNDS}"""
    return head + ",\n    " + ",\n    ".join(steps) + tail


@query("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank from a single seed node — the
    recommendation / related-items primitive (teleport returns to the
    SEED, not uniformly, so scores measure proximity to the seed's
    neighborhood rather than global authority; compare
    ``graph_pagerank``). The 11th iterative operator, integer-exact:
    scores in micro-units, damping as the ratio 85/100, per-edge
    contributions floor-divided by out-degree, teleport mass injected
    at the seed each round — all quantities non-negative so `div`
    and `//` agree without the pmod identity. Mass lost to flooring
    (≤ deg ulps per node per round) is identical on both engines by
    construction. Plan per round: score-vector⋈edges hash join, one
    partial-aggregating groupBy, a left join back to carry zero-mass
    nodes — the Pregel shape at |V| rows; 3 fixed rounds, zero driver
    scalars."""

    nodes = t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("node"))
    edges = truncate_lineage(_affine_edges(nodes, "node"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = truncate_lineage(edges.join(deg, "src"))
    seeded = nodes.crossJoin(F.broadcast(nodes.agg(F.min("node").alias("seed_id"))))
    teleport = (
        F.when(
            F.col("node") == F.col("seed_id"),
            F.lit(
                PPR_SCALE * (PPR_DAMP_DEN - PPR_DAMP_NUM) // PPR_DAMP_DEN
            ),
        ).otherwise(0)
    )
    ppr0 = seeded.select(
        "node",
        "seed_id",
        F.when(F.col("node") == F.col("seed_id"), PPR_SCALE)
        .otherwise(0)
        .cast("long")
        .alias("v"),
    )

    def propagate(ppr, _r):
        mass = (
            ed.join(ppr.select(F.col("node").alias("src"), "v"), "src")
            .select("dst", F.expr("v div deg").alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("mass"))
        )
        return seeded.join(mass, "node", "left").select(
            "node",
            "seed_id",
            (
                F.expr(f"({PPR_DAMP_NUM} * coalesce(mass, 0)) div {PPR_DAMP_DEN}")
                + teleport
            ).cast("long").alias("v"),
        )

    return iterate(propagate, ppr0, PPR_ROUNDS).select(
        F.col("node").alias("vec_id"), F.col("v").alias("ppr_micro")
    )


# ---------------------------------------------------------------------------
# Modularity of the label partition (community-quality metric)
# ---------------------------------------------------------------------------

MOD_MICRO = 1_000_000


def _modularity_oracle() -> str:

    gens = "\n        UNION ALL\n".join(
        f"""        SELECT id AS src, (id * {a} + {b}) % n AS dst
        FROM nodes, nn""" for a, b in _LP_GEN
    )
    return f"""
    WITH nodes AS (SELECT vec_id AS id, label FROM embeddings),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    eu AS (
      SELECT DISTINCT src, dst FROM (
{gens}
      ) WHERE src <> dst
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM eu UNION ALL SELECT dst, src FROM eu)
    ),
    lab AS (
      SELECT e.src, e.dst, a.label AS la, b.label AS lb
      FROM edges e
      JOIN nodes a ON a.id = e.src JOIN nodes b ON b.id = e.dst
    ),
    tt AS (SELECT COUNT(*) AS t FROM lab),
    per_c AS (
      SELECT la AS label,
             SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS within_both,
             COUNT(*) AS deg_sum
      FROM lab GROUP BY la
    ),
    nc AS (
      SELECT label, COUNT(*) AS n_nodes FROM nodes GROUP BY label
    ),
    contrib AS (
      SELECT p.label, nc.n_nodes, p.within_both, p.deg_sum,
             {MOD_MICRO} * (tt.t * p.within_both - p.deg_sum * p.deg_sum)
               AS cnum,
             tt.t * tt.t AS cden
      FROM per_c p JOIN nc USING (label) CROSS JOIN tt
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(within_both AS BIGINT) AS within_both,
           CAST(deg_sum AS BIGINT) AS deg_sum,
           CAST((cnum - ((cnum % cden + cden) % cden)) // cden AS BIGINT)
             AS contrib_micro
    FROM contrib
    """


@query("graph_modularity_score", oracle=_modularity_oracle())
def graph_modularity_score(spark, sf_dir):
    """Newman modularity of the label partition over the affine graph
    — the community-quality metric that grades what
    ``graph_label_propagation`` / ``dedup_cluster_cc`` produce: per
    community c, contribution = L_c/m − (D_c/2m)², and Q = Σ
    contributions (positive = denser-than-random communities). With
    the both-directions edge list of size T = 2m the contribution is
    the exact rational (T·within_c − D_c²)/T², emitted as a
    floor-micro integer via the (s − pmod)/n identity (contributions
    go negative for anti-communities). Plan: one edge⋈labels double
    hash join, one groupBy, a broadcast 1-row T scalar — modularity
    of any partition at any scale is two joins and an aggregate, no
    per-community iteration."""

    emb = t(spark, sf_dir, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("id"), "label")
    edges = _affine_undirected_edges(spark, sf_dir)
    lab = (
        edges.join(
            nodes.select(F.col("id").alias("src"), F.col("label").alias("la")),
            "src",
        )
        .join(
            nodes.select(F.col("id").alias("dst"), F.col("label").alias("lb")),
            "dst",
        )
    )
    tt = lab.agg(F.count(F.lit(1)).alias("t"))
    per_c = lab.groupBy(F.col("la").alias("label")).agg(
        F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0)).alias(
            "within_both"
        ),
        F.count(F.lit(1)).alias("deg_sum"),
    )
    nc = nodes.groupBy("label").agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        per_c.join(F.broadcast(nc), "label")
        .crossJoin(F.broadcast(tt))
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("within_both").cast("long").alias("within_both"),
            F.col("deg_sum").cast("long").alias("deg_sum"),
            F.expr(
                f"({MOD_MICRO} * (t * within_both - deg_sum * deg_sum) "
                f"- pmod({MOD_MICRO} * (t * within_both - deg_sum * deg_sum),"
                f" t * t)) div (t * t)"
            ).cast("long").alias("contrib_micro"),
        )
    )


# ---------------------------------------------------------------------------
# The affine link graph over documents: PageRank, degrees, triangles,
# common neighbors
# ---------------------------------------------------------------------------

_PR_ITER = 10
_PR_DAMP = 0.85


def _pagerank_oracle() -> str:
    """Chained-CTE PageRank: one CTE level per iteration (fixed count,
    so no recursive-aggregation restrictions). The synthetic link
    graph (three affine out-links per doc, self-loops removed) has no
    dangling nodes by construction, so the SQL needs no global-mass
    term."""
    # AS MATERIALIZED is load-bearing: each pr{i} is referenced twice
    # (carrier + contribution subquery); DuckDB's default CTE inlining
    # would duplicate the whole chain per level — 2^10 plan copies.
    head = """
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    edges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
        UNION ALL
        SELECT doc_id, (doc_id * 13 + 2) % nn.n FROM documents, nn
        UNION ALL
        SELECT doc_id, (doc_id * 29 + 3) % nn.n FROM documents, nn
      ) WHERE src <> dst
    ),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    pr0 AS MATERIALIZED (SELECT doc_id AS node, 1.0 / nn.n AS rank FROM documents, nn)
    """
    steps = []
    for i in range(1, _PR_ITER + 1):
        steps.append(
            f"""pr{i} AS MATERIALIZED (
      SELECT b.node,
             (1.0 - {_PR_DAMP}) / (SELECT n FROM nn)
               + {_PR_DAMP} * COALESCE(m.in_mass, 0.0) AS rank
      FROM pr{i-1} b LEFT JOIN (
        SELECT e.dst AS node, SUM(p.rank / deg.deg) AS in_mass
        FROM edges e JOIN deg USING (src) JOIN pr{i-1} p ON p.node = e.src
        GROUP BY e.dst
      ) m USING (node)
    )"""
        )
    return (
        head
        + ", "
        + ",\n    ".join(steps)
        + f"\n    SELECT node AS doc_id, ROUND(rank, 6) AS rank FROM pr{_PR_ITER}"
    )


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """PageRank over a deterministic synthetic link graph (every doc
    links to three affine-indexed docs) — link-derived document
    authority as a corpus-quality prior, and the engine's second
    iterative-algorithm operator next to connected components.

    The Spark path is :func:`graph.pagerank` (join + group-by per
    iteration, lineage truncated per round); the oracle replays the
    identical 10 iterations as chained CTEs. Per-node in-degree is ~3,
    so float summation-order divergence stays ~1 ulp per round and the
    6-decimal rounding hash-matches."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    ranks = pagerank(
        d.select(F.col("doc_id").alias("node")),
        _affine_edges(d, "doc_id"),
        damping=_PR_DAMP,
        n_iter=_PR_ITER,
    )
    return ranks.select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank")
    )


_GRAPH_EDGES_SQL = """
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    links AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % n.n_docs AS dst
      FROM documents, n
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 2) % n.n_docs FROM documents, n
      UNION ALL
      SELECT doc_id, (doc_id * 29 + 3) % n.n_docs FROM documents, n
    ),
    edges AS (SELECT DISTINCT src, dst FROM links WHERE src <> dst)
"""


@query(
    "graph_degree_stats",
    oracle=_GRAPH_EDGES_SQL
    + """
    SELECT d.doc_id,
           CAST(COALESCE(o.odeg, 0) AS BIGINT) AS out_deg,
           CAST(COALESCE(i.ideg, 0) AS BIGINT) AS in_deg
    FROM documents d
    LEFT JOIN (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src) o
      ON o.src = d.doc_id
    LEFT JOIN (SELECT dst, COUNT(*) AS ideg FROM edges GROUP BY dst) i
      ON i.dst = d.doc_id
    """,
)
def graph_degree_stats(spark, sf_dir):
    """Per-node in/out degree over the link graph — the first graph
    profile run before any propagation algorithm (degree skew decides
    salting and orientation strategies). Two hash aggs on the edge
    endpoints, left-joined back to the node table so isolated nodes
    keep explicit zeros."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    edges = _affine_edges(d, "doc_id")
    odeg = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.count("*").alias("out_deg")
    )
    ideg = edges.groupBy(F.col("dst").alias("doc_id")).agg(
        F.count("*").alias("in_deg")
    )
    return (
        d.join(odeg, "doc_id", "left")
        .join(ideg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


@query(
    "graph_triangle_count",
    oracle=_GRAPH_EDGES_SQL
    + """
    , und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Exact triangle count via the oriented (compact-forward) join:
    undirected edges orient low→high, then (a,b)⋈(b,c)⋈(a,c) counts
    each triangle exactly once — two equi-join shuffles on node ids,
    never an all-pairs product. At 100 TB the orientation key becomes
    (degree, id) instead of raw id so high-degree hubs sit on the
    probe side (documented refinement; the join shape is identical).
    Triangle density is the standard community-structure signal for
    link-graph curation."""
    edges = _affine_edges(t(spark, sf_dir, "documents"), "doc_id")
    und = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    return (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .agg(F.count("*").alias("n_triangles"))
    )


@query(
    "graph_common_neighbors",
    oracle=f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    edges AS MATERIALIZED ({_BFS_EDGES_SQL}),
    cn AS (
      SELECT a.src AS node_a, b.src AS node_b, COUNT(*) AS n_common
      FROM edges a JOIN edges b ON a.dst = b.dst AND a.src < b.src
      GROUP BY 1, 2
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
    SELECT cn.node_a, cn.node_b, CAST(cn.n_common AS BIGINT) AS n_common,
           CAST(ROUND(cn.n_common * 1.0
             / (da.deg + db.deg - cn.n_common), 4) AS DOUBLE) AS jaccard
    FROM cn
    JOIN deg da ON da.src = cn.node_a
    JOIN deg db ON db.src = cn.node_b
    WHERE cn.n_common >= 2
    """,
)
def graph_common_neighbors(spark, sf_dir):
    """Common-neighbors link prediction over the synthetic link graph:
    node pairs sharing ≥2 out-neighbors, scored by neighborhood
    Jaccard — the classic "you may also like" / related-documents
    primitive, and the third graph operator next to PageRank and
    triangle counting.

    Plan: ONE self-equi-join of the edge list on dst (cost: Σ
    in-degree² — the graph analog of the shingle join, never n²),
    then two broadcast-sized degree joins. At 100 TB the in-degree
    skew (celebrity nodes) is the hazard; AQE skew-join splits those
    dst partitions."""
    edges = _affine_edges(t(spark, sf_dir, "documents"), "doc_id")
    a = edges.alias("a")
    b = edges.alias("b")
    cn = (
        a.join(
            b,
            (F.col("a.dst") == F.col("b.dst"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("node_a"), F.col("b.src").alias("node_b")
        )
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    return (
        cn.join(
            F.broadcast(deg.select(F.col("src").alias("node_a"), F.col("deg").alias("da"))),
            "node_a",
        )
        .join(
            F.broadcast(deg.select(F.col("src").alias("node_b"), F.col("deg").alias("db"))),
            "node_b",
        )
        .select(
            "node_a",
            "node_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common")
                / (F.col("da") + F.col("db") - F.col("n_common")),
                4,
            )
            .cast("double")
            .alias("jaccard"),
        )
    )
