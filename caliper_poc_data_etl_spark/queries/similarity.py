"""Similarity search over the embedding column (north-star §2B).

Brute-force cosine top-k is the exact baseline (oracle-checked); the
scale path is LSH bucketing (random-hyperplane signs) which prunes the
candidate set before scoring. Vector math is zip_with/aggregate —
JVM-side, no UDFs.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.graph import iterate, truncate_lineage
from caliper_poc_data_etl_spark.queries.kernels import (
    dot,
    dot_sql,
    flip_probes,
    idot,
    isqdist,
    milli,
    sign_bits,
    topk,
)
from caliper_poc_data_etl_spark.queries.registry import query, t

TOP_K = 5
N_QUERY_VECS = 10  # vec_id < 10 are the query set
# 2^N buckets; THE recall/cost knob (see sim_ann_lsh). Bucket count
# must grow with the corpus — Σ bucket² pair generation is linear only
# while per-bucket occupancy stays bounded — so the K=100 scale smoke
# raises it via the env override (SCALE_r12_k100: 14 bits = 16k buckets
# at 100x corpus), exactly the dial a 100 TB deployment turns. Default
# stays 8: every graded oracle/parity twin derives from the SAME
# constant at import, so the override is consistent on both engines.
import os as _os

N_HYPERPLANES = int(_os.environ.get("SPARK_GRAFT_LSH_BITS", "8"))
DIM = 64


@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_dot_product(q.embedding, c.embedding) AS DOUBLE)
               / (sqrt(CAST(list_dot_product(q.embedding, q.embedding) AS DOUBLE))
                  * sqrt(CAST(list_dot_product(c.embedding, c.embedding) AS DOUBLE)))
               AS cos_raw
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERY_VECS}
    )
    SELECT query_id, neighbor_id, ROUND(cos_raw, 4) AS cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def sim_cosine_topk(spark, sf_dir):
    """Exact top-k cosine neighbors for each query vector.

    Plan: broadcast the (small) query set against the corpus — at
    100 TB the corpus side stays partitioned and never shuffles; the
    per-query top-k is a bounded window."""
    e = t(spark, sf_dir, "embeddings")
    # Norms precomputed per SIDE, not per pair: the scoring join then
    # evaluates one dot per pair instead of three (same doubles — the
    # norm value is identical, just not re-derived |pairs| times).
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.sqrt(dot("embedding", "embedding")).alias("q_norm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.sqrt(dot("embedding", "embedding")).alias("c_norm"),
    )
    cos = dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", cos)
    )
    return topk(
        scored, ["query_id"], [F.desc("cos_raw"), "neighbor_id"], TOP_K, rank="rank"
    ).select("query_id", "neighbor_id", F.round("cos_raw", 4).alias("cosine"), "rank")


def _hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random ±1 hyperplanes (fixed seed)."""
    rng = random.Random(20260813)
    return [[float(rng.choice((-1, 1))) for _ in range(DIM)] for _ in range(N_HYPERPLANES)]


def _hp_sql(hp) -> str:
    """Render one ±1.0 hyperplane as a SQL double-array literal (the
    values are exactly representable, so the rendered literal is the
    same double F.lit would produce). The :.1f rendering
    is only exact for ±1.0 — any other hyperplane value must fail
    loudly here rather than silently round."""
    assert all(v in (-1.0, 1.0) for v in hp), (
        "non-±1.0 hyperplane would be truncated by the :.1f rendering"
    )
    return "array(" + ", ".join(f"{v:.1f}D" for v in hp) + ")"


def lsh_bucket_column(emb_col: str):
    """Random-hyperplane LSH bucket id of the array column named
    ``emb_col``: the sign bits of its dots with the N_HYPERPLANES fixed
    hyperplanes, packed into a BIGINT by :func:`sign_bits` as one
    parsed expression — the N×DIM literal arrays cost 2 py4j calls
    instead of N·DIM F.lit round-trips."""
    return sign_bits(
        [f"{dot_sql(emb_col, _hp_sql(hp))} > 0" for hp in _hyperplanes()]
    )


@query("sim_ann_lsh", oracle=None)  # bucketing is engine-specific → rows-only
def sim_ann_lsh(spark, sf_dir):
    """Approximate top-k: score only candidates sharing an LSH bucket
    (or differing in one sign bit) with the query — the IVF-ish scale
    path. Tests measure recall vs `sim_cosine_topk`."""
    e = t(spark, sf_dir, "embeddings").withColumn(
        "bucket", lsh_bucket_column("embedding")
    )
    # Multi-probe: each vector also registers in the N 1-bit-flipped
    # buckets, trading index size for recall.
    probes = flip_probes("bucket", N_HYPERPLANES)
    q = (
        e.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.sqrt(dot("embedding", "embedding")).alias("q_norm"),
            F.explode(probes).alias("probe_bucket"),
        )
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.sqrt(dot("embedding", "embedding")).alias("c_norm"),
        F.col("bucket").alias("c_bucket"),
    )
    cos = dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))
    scored = (
        c.join(F.broadcast(q), F.col("probe_bucket") == F.col("c_bucket"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_raw"))
        .distinct()
    )
    return topk(
        scored, ["query_id"], [F.desc("cos_raw"), "neighbor_id"], TOP_K, rank="rank"
    ).select("query_id", "neighbor_id", F.round("cos_raw", 4).alias("cosine"), "rank")


def _lsh_parity_oracle() -> str:
    planes = " + ".join(
        "(CASE WHEN list_dot_product("
        "list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * 1000)), "
        f"[{', '.join(str(v) for v in hp)}]) > 0 "
        f"THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
        for i, hp in enumerate(_hyperplanes())
    )
    return f"SELECT vec_id, {planes} AS bucket FROM embeddings"


@query("sim_lsh_bucket_parity", oracle=_lsh_parity_oracle())
def sim_lsh_bucket_parity(spark, sf_dir):
    """Random-hyperplane LSH bucket assignment made engine-exact and
    hash-match graded: embeddings are quantized to integers
    (round(x·1000)) before the ±1-hyperplane dot products, so every
    intermediate is an integer exactly representable in double —
    summation order cannot perturb the sign, and the DuckDB oracle
    reproduces the identical bucket ids. (A float32 times 1000 can
    never land exactly on .5 — 1/125 has no binary representation —
    so the rounding itself is also tie-free.)

    This is the parity twin for the ANN family: ``sim_ann_lsh``
    (float dots, same hyperplanes) stays the production path and is
    recall-graded in pytest; this query proves the bucketing
    mechanism cross-engine the way ``dedup_minhash_md5_parity`` does
    for MinHash."""
    e = t(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000).cast("double")
    )
    return e.select("vec_id", qv.alias("qv")).select(
        "vec_id", lsh_bucket_column("qv").alias("bucket")
    )


N_CELLS = 16   # IVF inverted-list count
N_PROBE = 4    # cells each query scans


@query("sim_ivf_topk", oracle=None)  # cell assignment engine-specific
def sim_ivf_topk(spark, sf_dir):
    """Approximate top-k via IVF (inverted-file) cells — the second ANN
    family next to ``sim_ann_lsh``.

    Coarse quantizer: the N_CELLS lowest-vec_id vectors act as cell
    centroids (deterministic; a k-means refinement would slot in the
    same plan). Every corpus vector is assigned to its max-cosine
    centroid with a broadcast×max_by aggregation (linear, one pass);
    queries probe their N_PROBE nearest cells and score exact cosine
    against only those cells' members. Recall vs ``sim_cosine_topk``
    is asserted in tests.

    100 TB shape: corpus↔centroid scoring is a broadcast nested loop
    with map-side max_by partials (no shuffle of embeddings); the only
    embedding shuffle is the narrow (vec_id, cell) join back, and
    candidate scoring touches N_PROBE/N_CELLS of the corpus.
    """
    e = t(spark, sf_dir, "embeddings")
    cent = (
        e.orderBy("vec_id")
        .limit(N_CELLS)
        .select(
            F.col("vec_id").alias("cell"), F.col("embedding").alias("cent_emb")
        )
    )
    cos_cent = dot("embedding", "cent_emb") / (
        F.sqrt(dot("embedding", "embedding"))
        * F.sqrt(dot("cent_emb", "cent_emb"))
    )
    # Corpus→cell: argmax over the broadcast centroid set, carried as a
    # narrow (vec_id, cell) table joined back by key.
    assign = (
        e.join(F.broadcast(cent))
        .groupBy("vec_id")
        .agg(F.max_by("cell", cos_cent).alias("cell"))
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.sqrt(dot("embedding", "embedding")).alias("c_norm"),
    ).join(
        assign.select(F.col("vec_id").alias("neighbor_id"), "cell"), "neighbor_id"
    )
    # Query→probe cells: rank centroids per query, keep N_PROBE.
    qs = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("embedding")
    )
    q_probes = topk(
        qs.join(F.broadcast(cent)).select(
            "query_id",
            F.col("embedding").alias("q_emb"),
            F.sqrt(dot("embedding", "embedding")).alias("q_norm"),
            "cell",
            cos_cent.alias("probe_cos"),
        ),
        ["query_id"],
        [F.desc("probe_cos"), "cell"],
        N_PROBE,
    ).select("query_id", "q_emb", "q_norm", "cell")
    cos = dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))
    scored = (
        corpus.join(F.broadcast(q_probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_raw"))
    )
    return topk(
        scored, ["query_id"], [F.desc("cos_raw"), "neighbor_id"], TOP_K, rank="rank"
    ).select("query_id", "neighbor_id", F.round("cos_raw", 4).alias("cosine"), "rank")


@query(
    "knn_label_vote",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
             CAST(list_dot_product(q.embedding, c.embedding) AS DOUBLE)
               / (sqrt(CAST(list_dot_product(q.embedding, q.embedding) AS DOUBLE))
                  * sqrt(CAST(list_dot_product(c.embedding, c.embedding) AS DOUBLE)))
               AS cos_raw
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERY_VECS}
    ), knn AS (
      SELECT query_id, label FROM (
        SELECT query_id, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id) AS rank
        FROM scored
      ) WHERE rank <= {TOP_K}
    )
    SELECT query_id, label AS pred_label, votes FROM (
      SELECT query_id, label, COUNT(*) AS votes,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY COUNT(*) DESC, label) AS vr
      FROM knn GROUP BY query_id, label
    ) WHERE vr = 1
    """,
)
def knn_label_vote(spark, sf_dir):
    """kNN classification by majority vote over the TOP_K cosine
    neighbors, with a deterministic (votes DESC, label) tiebreak — the
    standard label-propagation / weak-labeling pass over an embedded
    corpus. Same broadcast-queries-vs-partitioned-corpus shape as
    ``sim_cosine_topk``; the vote is a tiny per-query aggregation on
    the k×|queries| candidate table."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.sqrt(dot("embedding", "embedding")).alias("q_norm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label"),
        F.col("embedding").alias("c_emb"),
        F.sqrt(dot("embedding", "embedding")).alias("c_norm"),
    )
    cos = dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))
    knn = topk(
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
            "query_id", "neighbor_id", "label", cos.alias("cos_raw")
        ),
        ["query_id"],
        [F.desc("cos_raw"), "neighbor_id"],
        TOP_K,
    )
    votes = knn.groupBy("query_id", "label").agg(F.count("*").alias("votes"))
    return topk(votes, ["query_id"], [F.desc("votes"), "label"], 1).select(
        "query_id", F.col("label").alias("pred_label"), "votes"
    )


@query(
    "embed_quantize_int8",
    oracle="""
    WITH scaled AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
             embedding
      FROM embeddings
    ), quant AS (
      SELECT vec_id, scale,
             list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
               ELSE CAST(GREATEST(-127, LEAST(127,
                    FLOOR(CAST(x AS DOUBLE) / scale + 0.5))) AS BIGINT) END) AS q
      FROM scaled
    )
    SELECT vec_id, ROUND(scale, 6) AS scale,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           CAST(list_min(q) AS BIGINT) AS q_min,
           CAST(list_max(q) AS BIGINT) AS q_max
    FROM quant
    """,
)
def embed_quantize_int8(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column (scale =
    max|x|/127, round-half-up via floor(x/s + 0.5), clamp ±127) — the
    4× memory/IO compression step before shipping vectors to an ANN
    index. Every quantized value is an exact small integer, so the
    checksum columns (sum/min/max) hash-match across engines with no
    float tolerance; per-row array math, zero shuffle."""
    e = t(spark, sf_dir, "embeddings")
    scale = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    ) / F.lit(127.0)
    scaled = e.select("vec_id", scale.alias("scale"), "embedding")
    q = F.transform(
        "embedding",
        lambda x: F.when(F.col("scale") == 0, F.lit(0).cast("long")).otherwise(
            F.greatest(
                F.lit(-127).cast("long"),
                F.least(
                    F.lit(127).cast("long"),
                    F.floor(x.cast("double") / F.col("scale") + 0.5),
                ),
            )
        ),
    )
    quant = scaled.select("vec_id", "scale", q.alias("q"))
    return quant.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


_PAIR_SALTS = 32


@query(
    "sim_pairwise_label_stats",
    oracle="""
    WITH n AS (
      SELECT label,
             list_transform(embedding, x ->
               CAST(ROUND(CAST(x AS DOUBLE)
                 / sqrt(CAST(list_dot_product(embedding, embedding) AS DOUBLE))
                 * 1000) AS BIGINT)) AS q
      FROM embeddings
    ), comp AS (
      SELECT label, u.i AS j, q[u.i] AS v FROM n, unnest(range(1, 65)) AS u(i)
    ), sums AS (
      SELECT label, j, CAST(SUM(v) AS BIGINT) AS s FROM comp GROUP BY label, j
    ), svec AS (
      SELECT label, list(s ORDER BY j) AS sv FROM sums GROUP BY label
    ), per AS (
      SELECT d.label, d.n, d.qq, svec.sv
      FROM (
        SELECT label, COUNT(*) AS n,
               CAST(SUM(list_dot_product(q, q)) AS BIGINT) AS qq
        FROM n GROUP BY label
      ) d JOIN svec ON svec.label = d.label
    ), x AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CASE WHEN a.label = b.label
                  THEN CAST(a.n * (a.n - 1) // 2 AS BIGINT)
                  ELSE CAST(a.n * b.n AS BIGINT) END AS n_pairs,
             CASE WHEN a.label = b.label
                  THEN (CAST(list_dot_product(a.sv, a.sv) AS BIGINT) - a.qq)
                       // 2
                  ELSE CAST(list_dot_product(a.sv, b.sv) AS BIGINT)
                  END AS sum_q
      FROM per a JOIN per b ON a.label <= b.label
    )
    SELECT label_a, label_b, n_pairs,
           FLOOR(sum_q * 1.0 / n_pairs / 100 + 0.5) / 1e4 AS avg_cosine
    FROM x WHERE n_pairs > 0
    """,
)
def sim_pairwise_label_stats(spark, sf_dir):
    """Mean pairwise cosine per unordered label pair — embedding-space
    health check (are same-label vectors closer?), computed the
    QUADRATIC way: every pair is materialized and scored. This is the
    deliberate all-pairs baseline whose linear production twin is
    :func:`sim_label_centroid_stats`; keeping both graded
    cross-validates the centroid identity on real data in BOTH
    directions (here: quadratic Spark vs LINEAR closed-form oracle;
    there: linear Spark vs its oracle).

    Integer-exact end to end: unit vectors quantize
    per-component to round(e/||e||*1000) BIGINT (the kmeans
    convention), each pair's quantized dot is an exact integer, sums
    are exact BIGINT — so the all-pairs sum has a CLOSED LINEAR FORM
    the oracle exploits: with S_L = Σ û and qq_L = Σ ||û||² per label,
    Σ_{i<j∈L} û_i·û_j = (||S_L||² − qq_L)/2 (exactly even) and
    Σ_{i∈A,j∈B} û_i·û_j = S_A·S_B — no pairwise join anywhere in the
    oracle, and no summation-order sensitivity anywhere at all (the
    old per-pair-round-then-DECIMAL-sum convention existed only to
    tame double accumulation; integers need none).

    Spark-side plan: the pair join is an equi-join on a 32-way salt
    (b-side salt = pmod(vec_id, 32), a-side replicated 32x and
    explicitly repartitioned on salt, b side broadcast) — each pair
    produced exactly once, parallelism 32 instead of the single task
    a bare theta join degenerates to on a one-row-group input (the
    single-task lesson; this was ~all of the entry's 117 s sf0.1
    cost, not the oracle). Norms and quantized
    vectors materialize per SIDE; the per-pair dot is a flat 64-term
    integer product sum in whole-stage codegen (measured 0.8 s vs
    26 s for the interpreted HOF at sf0.1)."""
    e = t(spark, sf_dir, "embeddings")
    normed = e.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(dot("embedding", "embedding")).alias("norm"),
    )
    qv = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") / F.col("norm") * 1000).cast(
            "long"
        ),
    )
    base = normed.select("vec_id", "label", qv.alias("q"))
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("la"),
        F.col("q").alias("qa"),
        F.explode(
            F.array(*[F.lit(s) for s in range(_PAIR_SALTS)])
        ).alias("salt"),
    ).repartition(_PAIR_SALTS, F.col("salt"))
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("lb"),
        F.col("q").alias("qb"),
        F.pmod(F.col("vec_id"), F.lit(_PAIR_SALTS)).cast("int").alias("salt"),
    )
    # Flat 64-term product sum, NOT the zip_with/aggregate HOF: HOFs
    # are interpreted per element, and this expression runs once per
    # PAIR (2M+ evaluations at sf0.1) — the flat form stays inside
    # whole-stage codegen and measured 0.8 s vs 26 s for the HOF at
    # sf0.1. Integer adds are order-free, so associativity changes
    # nothing. (The per-VECTOR quantization above keeps the HOF form:
    # it runs |corpus| times, not |pairs| times.)
    from functools import reduce
    from operator import add

    qcos = reduce(
        add,
        [
            F.element_at("qa", i + 1) * F.element_at("qb", i + 1)
            for i in range(DIM)
        ],
    )
    pairs = (
        a.join(F.broadcast(b), "salt")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            F.least("la", "lb").alias("label_a"),
            F.greatest("la", "lb").alias("label_b"),
            qcos.alias("qcos"),
        )
    )
    return pairs.groupBy("label_a", "label_b").agg(
        F.count("*").alias("n_pairs"),
        (
            F.floor(
                F.sum("qcos") * F.lit(1.0) / F.count("*") / 100 + F.lit(0.5)
            )
            / 1e4
        ).alias("avg_cosine"),
    )


@query(
    "sim_label_centroid_stats",
    # The oracle uses the SAME centroid identity as the Spark side
    # (linear, no pairwise join) instead of the original all-pairs
    # self-join, which dominated the oracle's cost. Correctness
    # is unchanged: Σ_{i<j∈L} u·u = (||S_L||² − n_L)/2 and cross-label
    # Σ = S_A·S_B are algebraic identities of the same doubles, and
    # the 4 dp output rounding absorbs summation-order ulps exactly as
    # it already must between Spark partials and any oracle form.
    oracle="""
    WITH uv AS (
      SELECT label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)
               / sqrt(CAST(list_dot_product(embedding, embedding) AS DOUBLE)))
               AS u
      FROM embeddings
    ), comp AS (
      SELECT label, g.i AS j, uv.u[g.i] AS v
      FROM uv, unnest(range(1, 65)) AS g(i)
    ), sums AS (
      SELECT label, j, SUM(v) AS s FROM comp GROUP BY label, j
    ), svec AS (
      SELECT label, list(s ORDER BY j) AS sv FROM sums GROUP BY label
    ), per AS (
      SELECT c.label, c.n, svec.sv
      FROM (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label) c
      JOIN svec ON svec.label = c.label
    ), x AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CASE WHEN a.label = b.label
                  THEN CAST(a.n * (a.n - 1) // 2 AS BIGINT)
                  ELSE CAST(a.n * b.n AS BIGINT) END AS n_pairs,
             CASE WHEN a.label = b.label
                  THEN (list_dot_product(a.sv, a.sv) - a.n) / 2
                  ELSE list_dot_product(a.sv, b.sv) END AS sum_cos
      FROM per a JOIN per b ON a.label <= b.label
    )
    SELECT label_a, label_b, n_pairs,
           ROUND(sum_cos / n_pairs, 4) + 0.0 AS avg_cosine
    FROM x WHERE n_pairs > 0
    """,
)
def sim_label_centroid_stats(spark, sf_dir):
    """Mean pairwise cosine per unordered label pair — LINEAR scale
    path for the statistic `sim_pairwise_label_stats` computes with an
    all-pairs join.

    Centroid algebra on unit vectors u_i = e_i/||e_i||, S_L = Σ u_i:

    - within label L:  Σ_{i<j} u_i·u_j = (||S_L||² − n_L)/2,
      over n_L(n_L−1)/2 pairs → mean = (||S_L||² − n_L)/(n_L(n_L−1))
    - across labels A<B: Σ u_a·u_b = S_A·S_B over n_A·n_B pairs

    One explode + one hash aggregate (|labels|×dim partials, map-side
    combined) + a broadcast self-join of the tiny per-label table —
    no pairwise join anywhere, so the plan is linear in corpus size
    and exactly reproduces the quadratic oracle (same rounding).
    """
    e = t(spark, sf_dir, "embeddings")
    # Materialize the norm as a COLUMN before the transform — an
    # inlined norm expression re-evaluates the full dot product per
    # array element (O(dim²)/row; measured 17.8× instead of 10× wall
    # in the 10× scale smoke before this fix).
    normed = e.select(
        "label",
        "embedding",
        F.sqrt(dot("embedding", "embedding")).alias("norm"),
    )
    unit = F.transform("embedding", lambda x: x.cast("double") / F.col("norm"))
    # Per-label unit-vector sums: explode to (label, pos, val) — 64×
    # row blowup that collapses immediately in a partial-agg groupBy.
    comp = normed.select("label", F.posexplode(unit).alias("pos", "val"))
    sums = (
        comp.groupBy("label", "pos")
        .agg(F.sum("val").alias("s"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda p: p["s"]
            ).alias("s_vec")
        )
    )
    per_label = (
        e.groupBy("label").agg(F.count("*").alias("n")).join(sums, "label")
    )
    a = per_label.select(
        F.col("label").alias("label_a"),
        F.col("n").alias("n_a"),
        F.col("s_vec").alias("s_a"),
    )
    b = per_label.select(
        F.col("label").alias("label_b"),
        F.col("n").alias("n_b"),
        F.col("s_vec").alias("s_b"),
    )
    cross = a.join(F.broadcast(b), F.col("label_a") <= F.col("label_b"))
    within = F.col("label_a") == F.col("label_b")
    n_pairs = F.when(
        within, (F.col("n_a") * (F.col("n_a") - 1) / 2).cast("long")
    ).otherwise(F.col("n_a") * F.col("n_b"))
    sum_cos = F.when(
        within, (dot("s_a", "s_a") - F.col("n_a")) / 2
    ).otherwise(dot("s_a", "s_b"))
    return (
        cross.select(
            "label_a",
            "label_b",
            n_pairs.alias("n_pairs"),
            # + 0.0 canonicalizes IEEE −0.0 → +0.0 (a rounded −0.00004
            # otherwise string-sorts differently from the oracle's 0.0)
            (F.round(sum_cos / n_pairs, 4) + F.lit(0.0)).alias("avg_cosine"),
        )
        .filter(F.col("n_pairs") > 0)
    )


def _ivf_assign_parity_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * 1000))
               AS qv
      FROM embeddings
    ), cent AS (
      SELECT vec_id AS cell, qv AS cv FROM q WHERE vec_id < {N_CELLS}
    ), scored AS (
      SELECT q.vec_id, cent.cell,
             list_dot_product(q.qv, cent.cv)
               / sqrt(list_dot_product(cent.cv, cent.cv)) AS score
      FROM q, cent
    )
    SELECT vec_id, cell AS assigned_cell
    FROM (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, cell) AS rn
      FROM scored
    ) WHERE rn = 1
    """


@query("sim_ivf_assign_parity", oracle=_ivf_assign_parity_oracle())
def sim_ivf_assign_parity(spark, sf_dir):
    """IVF coarse-quantizer cell ASSIGNMENT made engine-exact and
    hash-match graded — the parity twin for ``sim_ivf_topk`` (which
    stays rows-only: float32 dots are engine-specific). Embeddings
    quantize to integers (round(x·1000), tie-free for float32 inputs)
    so every dot product is exact; the argmax score divides by the
    centroid norm only (the query norm is a per-row constant that
    cannot change its own argmax), computed identically on both
    engines, with a cell-id tiebreak making the winner total-ordered.
    Centroids are the N_CELLS lowest vec_ids — same convention as the
    production path."""
    e = t(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000).cast("double")
    )
    q = e.select("vec_id", qv.alias("qv"))
    cent = q.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("qv").alias("cv")
    )
    score = dot("qv", "cv") / F.sqrt(
        dot("cv", "cv")
    )
    return topk(
        q.join(F.broadcast(cent)).select("vec_id", "cell", score.alias("score")),
        ["vec_id"],
        [F.desc("score"), "cell"],
        1,
    ).select("vec_id", F.col("cell").alias("assigned_cell"))


PQ_SUBSPACES = 8          # 64-dim → 8 × 8-dim subvectors
PQ_SUBDIM = DIM // PQ_SUBSPACES
PQ_CODEBOOK = 16          # 16 centroids per subspace → 4-bit codes


def _pq_code_parity_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)
               * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ), subs AS (
      SELECT vec_id, s.i AS sub,
             qv[s.i * {PQ_SUBDIM} + 1 : (s.i + 1) * {PQ_SUBDIM}] AS sv
      FROM q, unnest(range(0, {PQ_SUBSPACES})) AS s(i)
    ), cent AS (
      SELECT vec_id AS cell, sub, sv AS cv FROM subs
      WHERE vec_id < {PQ_CODEBOOK}
    ), dists AS (
      SELECT subs.vec_id, subs.sub, cent.cell,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
               j -> (subs.sv[j] - cent.cv[j]) * (subs.sv[j] - cent.cv[j])))
               AS d2
      FROM subs JOIN cent USING (sub)
    ), assigned AS (
      SELECT vec_id, sub, cell, d2 FROM (
        SELECT vec_id, sub, cell, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cell) AS rn
        FROM dists
      ) WHERE rn = 1
    )
    SELECT vec_id,
           CAST(SUM(cell * (1::BIGINT << (sub * 4))) AS BIGINT) AS pq_code,
           CAST(SUM(d2) AS BIGINT) AS recon_err_sq
    FROM assigned GROUP BY vec_id
    """


@query("sim_pq_code_parity", oracle=_pq_code_parity_oracle())
def sim_pq_code_parity(spark, sf_dir):
    """Product-quantization codes, engine-exact: quantize each
    embedding to integers (×1000, the sketch-parity family
    convention), split into 8 subvectors, assign each to the nearest
    of 16 per-subspace centroids (the 16 lowest-vec_id vectors — same
    deterministic codebook convention as ``sim_ivf_assign_parity``),
    and pack the eight 4-bit codes into one BIGINT plus the total
    squared reconstruction error. PQ is the memory side of large-scale
    ANN (a 64-dim float vector compresses to 4 bytes here); with IVF
    cells, LSH buckets, SimHash and MinHash already parity-proven,
    this completes the ANN sketch family.

    Everything is INTEGER arithmetic — subtraction, squares, sums,
    argmin with (d2, cell) tie-break, bit-packing — so the oracle
    match is exact with no rounding convention at all.

    Plan: centroids are {{16 cells × 8 subspaces}} rows, BROADCAST;
    the corpus explodes ×8 subvectors map-side, joins the broadcast
    codebook, and one groupBy(vec_id, sub) argmin + one groupBy(vec_id)
    pack finish it — corpus never shuffles by value, only by id."""
    e = t(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        milli("embedding").alias("qv"),
    )
    subs = q.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice("qv", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
                    )
                    for s in range(PQ_SUBSPACES)
                ]
            )
        ).alias("x"),
    ).select("vec_id", "x.sub", "x.sv")
    cent = subs.filter(F.col("vec_id") < PQ_CODEBOOK).select(
        F.col("vec_id").alias("cell"), "sub", F.col("sv").alias("cv")
    )
    d2 = isqdist("sv", "cv")
    dists = subs.join(F.broadcast(cent), "sub").withColumn("d2", d2)
    assigned = topk(dists, ["vec_id", "sub"], ["d2", "cell"], 1)
    return assigned.groupBy("vec_id").agg(
        F.sum(F.col("cell") * F.expr("shiftleft(cast(1 as bigint), sub * 4)"))
        .cast("long")
        .alias("pq_code"),
        F.sum("d2").cast("long").alias("recon_err_sq"),
    )


PI_ITERS = 6


def _pi_oracle() -> str:
    """Chained-CTE power iteration (one CTE pair per iteration) on the
    integer-quantized embedding matrix — every step exact integer /
    decimal arithmetic except the per-iteration norm, which is one
    identical IEEE fold in component order."""
    head = """
    WITH xe AS MATERIALIZED (
      SELECT vec_id, u.i AS j,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000) AS BIGINT) AS x
      FROM embeddings, unnest(range(1, 65)) AS u(i)
    ),
    nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM xe),
    dd AS (SELECT CAST(power(10, length(CAST(n AS VARCHAR))) AS DECIMAL(38,0))
                  AS d FROM nn),
    m0 AS (SELECT u.i AS j, CAST(1000 AS BIGINT) AS m
           FROM unnest(range(1, 65)) AS u(i))
    """
    steps = []
    for k in range(1, PI_ITERS + 1):
        steps.append(f"""s{k} AS MATERIALIZED (
      SELECT xe.vec_id, SUM(xe.x * m{k-1}.m) AS s
      FROM xe JOIN m{k-1} ON m{k-1}.j = xe.j GROUP BY xe.vec_id
    ),
    w{k} AS MATERIALIZED (
      SELECT xe.j,
             CAST(SUM(CAST(s{k}.s AS DECIMAL(38,0)) * xe.x) AS DECIMAL(38,0))
               AS w
      FROM xe JOIN s{k} ON s{k}.vec_id = xe.vec_id GROUP BY xe.j
    ),
    wr{k} AS MATERIALIZED (
      SELECT j, CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END)
             * ((abs(w) + (SELECT d FROM dd) / 2) // (SELECT d FROM dd))
             AS BIGINT) AS wr
      FROM w{k}
    ),
    nrm{k} AS (SELECT sqrt(list_sum(list_transform(
                 list(CAST(wr AS DOUBLE) ORDER BY j), z -> z * z))) AS nrm
               FROM wr{k}),
    m{k} AS MATERIALIZED (
      SELECT j, CAST(FLOOR(1000 * wr / (SELECT nrm FROM nrm{k}) + 0.5)
                     AS BIGINT) AS m
      FROM wr{k}
    )""")
    return (
        head
        + ", "
        + ",\n    ".join(steps)
        + f""",
    flip AS (
      SELECT CASE WHEN (SELECT m FROM m{PI_ITERS}
                        ORDER BY abs(m) DESC, j LIMIT 1) < 0
                  THEN -1 ELSE 1 END AS f
    )
    SELECT j, CAST(m * (SELECT f FROM flip) AS BIGINT) AS m
    FROM m{PI_ITERS}
    """
    )


@query("embed_top_pc_power_iter", oracle=_pi_oracle())
def embed_top_pc_power_iter(spark, sf_dir):
    """Six fixed POWER-ITERATION steps toward the embedding matrix's
    dominant direction (v ← XᵀXv, normalize, requantize) —
    distributed iterative linear algebra as a graded, hash-exact
    operator, joining PageRank and connected components in the
    iterative family. The production uses: dominant-direction removal
    (the "common discourse" vector of sentence-embedding lore),
    anisotropy diagnostics, PCA seeding. Convergence to the actual
    top eigenvector is spectrum-dependent ((λ₂/λ₁)^k; this corpus's
    top eigenvalues are nearly degenerate, so k=6 is the MECHANISM
    declared at fixed cost, not an exact eigensolve — the pytest pins
    process parity against a numpy replica plus the monotone
    Rayleigh-quotient guarantee, and the oracle proves every
    iteration byte-exact cross-engine).

    Engine-exact by construction: embeddings quantize to integers
    (×1000); the direction vector re-quantizes to 3-dp integer
    components every round; Xv and Xᵀ(Xv) are then pure
    integer/DECIMAL(38,0) sums (order-free); the magnitude reduction
    divides by a power of ten derived from the exact corpus count via
    the half-away integer-div trick (no decimal-division scale rules
    in play); only the per-round norm is floating point — one IEEE
    fold in fixed component order, identical across engines. Sign is
    canonicalized (largest-|component| positive), the standard
    eigenvector convention.

    Scale shape: per iteration, one broadcast of the 64-row direction
    into the exploded matrix (map-side), one groupBy(vec_id), one
    groupBy(j) — two shuffles bounded by |docs| and 64 rows; lineage
    truncates per round (graph.pagerank discipline, zero driver
    scalars)."""
    e = t(spark, sf_dir, "embeddings")
    xe = truncate_lineage(
        e.select(
            "vec_id",
            F.posexplode(milli("embedding")).alias("j0", "x"),
        )
        .select("vec_id", (F.col("j0") + 1).alias("j"), "x")
    )
    nn = xe.agg(F.countDistinct("vec_id").alias("n"))
    dd = truncate_lineage(
        nn.select(
            F.pow(F.lit(10), F.length(F.col("n").cast("string")))
            .cast("decimal(38,0)")
            .alias("d")
        )
    )

    def power_step(m, _r):
        s = (
            xe.join(F.broadcast(m), "j")
            .groupBy("vec_id")
            .agg(F.sum(F.col("x") * F.col("m")).alias("s"))
        )
        w = (
            xe.join(s, "vec_id")
            .groupBy("j")
            .agg(
                F.sum(F.col("s").cast("decimal(38,0)") * F.col("x"))
                .cast("decimal(38,0)")
                .alias("w")
            )
        )
        wr = (
            w.crossJoin(F.broadcast(dd))
            .select(
                "j",
                (
                    F.when(F.col("w") < 0, -1).otherwise(1)
                    * F.expr("div(abs(w) + d / 2, d)")
                )
                .cast("long")
                .alias("wr"),
            )
        )
        # Component-ORDERED norm fold: collect_list order is partition
        # order, NOT the orderBy — sort (j, wr²) structs first (the
        # S14 ordered-collect idiom) so the double fold runs in j
        # order on both engines.
        nrm = wr.agg(
            F.sqrt(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("j"),
                                    (
                                        F.col("wr").cast("double")
                                        * F.col("wr").cast("double")
                                    ).alias("z"),
                                )
                            )
                        ),
                        lambda p: p["z"],
                    ),
                    F.lit(0.0),
                    lambda a, z: a + z,
                )
            ).alias("nrm")
        )
        return wr.crossJoin(F.broadcast(nrm)).select(
            "j",
            F.floor(1000 * F.col("wr") / F.col("nrm") + F.lit(0.5))
            .cast("long")
            .alias("m"),
        )

    m = truncate_lineage(
        spark.range(1, 65)
        .select(F.col("id").alias("j"), F.lit(1000).cast("long").alias("m"))
    )
    m = iterate(power_step, m, PI_ITERS)
    top_sign = (
        m.orderBy(F.abs(F.col("m")).desc(), "j")
        .limit(1)
        .select(F.when(F.col("m") < 0, -1).otherwise(1).alias("f"))
    )
    return m.crossJoin(F.broadcast(top_sign)).select(
        "j", (F.col("m") * F.col("f")).cast("long").alias("m")
    )


@query(
    "embed_dim_variance",
    oracle="""
    WITH comp AS (
      SELECT u.i AS pos,
             CAST(CAST(embedding[u.i] AS DOUBLE) AS DECIMAL(18,9)) AS vd
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ), m AS (
      SELECT CAST(pos AS INT) AS pos, COUNT(*) AS n,
             SUM(vd) AS sx, SUM(vd * vd) AS sxx
      FROM comp GROUP BY pos
    )
    SELECT pos, n,
           FLOOR((CAST(sx AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS mean_val,
           FLOOR(sqrt((CAST(sxx AS DOUBLE)
                       - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / n)
                      / (n - 1)) * 1e6 + 0.5) / 1e6 AS std_val
    FROM m
    """,
)
def embed_dim_variance(spark, sf_dir):
    """Per-dimension mean/std across the embedding corpus — the
    collapsed-dimension / normalization health check run before any
    ANN indexing (a dimension with ~0 variance carries no signal and
    distorts cosine). posexplode → one hash aggregate keyed on
    position: the 64× row blowup collapses immediately into 64
    partial-agg rows per task — linear, map-side combined.

    Cross-engine determinism: components quantize to DECIMAL(18,9)
    and the Σx / Σx² moments accumulate in exact decimal (order-
    independent — a double SUM varies by accumulation order across
    partitions/engines and can flip a 6-dp round). Mean and sample
    std derive from the exact moments in IEEE doubles, identically
    on both sides, with the floor-based half-up round."""
    e = t(spark, sf_dir, "embeddings")
    comp = e.select(
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos0", "val"
        )
    ).select(
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("val").cast("decimal(18,9)").alias("vd"),
    )
    m = comp.groupBy("pos").agg(
        F.count("*").alias("n"),
        F.sum("vd").alias("sx"),
        F.sum(F.col("vd") * F.col("vd")).alias("sxx"),
    )
    n = F.col("n")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    mean = (sxd / n) * 1e6
    std = F.sqrt((sxxd - (sxd * sxd) / n) / (n - 1)) * 1e6
    return m.select(
        "pos",
        "n",
        (F.floor(mean + F.lit(0.5)) / 1e6).alias("mean_val"),
        (F.floor(std + F.lit(0.5)) / 1e6).alias("std_val"),
    )


# ---------------------------------------------------------------------------
# k-means (Lloyd) semantic-dedup clustering
# ---------------------------------------------------------------------------

KM_K = 8
KM_ITERS = 4


def _kmeans_oracle(tail: str | None = None) -> str:
    """Chained-CTE Lloyd iterations on the integer-quantized embedding
    matrix — assignment distances and centroid updates are pure
    integer arithmetic (half-away integer division for the mean), so
    every iteration is exact cross-engine; no floating point anywhere.
    ``tail`` overrides the closing SELECT (default: final assignment).
    """
    head = f"""
    WITH xe AS MATERIALIZED (
      SELECT vec_id, u.i AS j,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000) AS BIGINT) AS x
      FROM embeddings, unnest(range(1, 65)) AS u(i)
    ),
    seeds AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k
      FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT {KM_K})
    ),
    c0 AS MATERIALIZED (
      SELECT s.k, xe.j, xe.x AS c FROM seeds s JOIN xe ON xe.vec_id = s.vec_id
    )"""
    steps = []
    for i in range(1, KM_ITERS + 1):
        steps.append(f"""d{i} AS (
      SELECT xe.vec_id, c.k,
             SUM((xe.x - c.c) * (xe.x - c.c)) AS d2
      FROM xe JOIN c{i-1} c ON c.j = xe.j GROUP BY xe.vec_id, c.k
    ),
    a{i} AS MATERIALIZED (
      SELECT vec_id, k FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        FROM d{i}
      ) WHERE rn = 1
    ),
    m{i} AS (
      SELECT a.k, xe.j, SUM(xe.x) AS s, COUNT(*) AS cnt
      FROM a{i} a JOIN xe ON xe.vec_id = a.vec_id GROUP BY a.k, xe.j
    ),
    c{i} AS MATERIALIZED (
      SELECT p.k, p.j,
             COALESCE(CAST((CASE WHEN m.s < 0 THEN -1 ELSE 1 END)
                 * ((2 * abs(m.s) + m.cnt) // (2 * m.cnt)) AS BIGINT),
                 p.c) AS c
      FROM c{i-1} p LEFT JOIN m{i} m ON m.k = p.k AND m.j = p.j
    )""")
    n = KM_ITERS
    if tail is None:
        tail = """
    SELECT vec_id, k AS cluster, CAST(d2 AS BIGINT) AS dist_sq FROM af
    """
    return (
        head
        + ",\n    "
        + ",\n    ".join(steps)
        + f""",
    df AS (
      SELECT xe.vec_id, c.k, SUM((xe.x - c.c) * (xe.x - c.c)) AS d2
      FROM xe JOIN c{n} c ON c.j = xe.j GROUP BY xe.vec_id, c.k
    ),
    af AS (
      SELECT vec_id, k, d2 FROM (
        SELECT vec_id, k, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        FROM df
      ) WHERE rn = 1
    )
    {tail}
    """
    )


def _kmeans_final_assignment(spark, sf_dir):
    """Shared Lloyd machinery for the kmeans queries: the final
    (vec_id, k, d2) assignment after KM_ITERS exact integer rounds.
    See embed_kmeans_assign for semantics and scale posture.

    Lazy checkpoints throughout (``iterate(eager=False)``): lineage
    still truncates, but the per-round job barrier goes
    away — the 4-round DAG runs as one job with each checkpointed
    round cached at first materialization. Interleaved A/B at sf0.1:
    median 3.03 → 2.79 s at 32 cores, a wash at 8. Value-safe: every
    round is exact integer algebra (order-independent), so even a
    block-manager cache race duplicating a partition's compute cannot
    diverge. truncate_lineage honors the reliable-checkpoint posture
    switch (graph.py docstring)."""
    e = t(spark, sf_dir, "embeddings")
    xe = truncate_lineage(
        e.select(
            "vec_id",
            F.posexplode(milli("embedding")).alias("j0", "x"),
        ).select("vec_id", (F.col("j0") + 1).alias("j"), "x"),
        eager=False,
    )
    seeds = (
        e.select("vec_id")
        .distinct()
        .orderBy("vec_id")
        .limit(KM_K)
        .withColumn(
            "k",
            # unpartitioned window over a bounded-by-construction set:
            # exactly KM_K rows survive the limit above.
            F.row_number().over(W.orderBy("vec_id")) - 1,
        )
    )
    c = truncate_lineage(
        seeds.join(xe, "vec_id").select("k", "j", F.col("x").alias("c")),
        eager=False,
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
        return topk(d, ["vec_id"], ["d2", "k"], 1).select("vec_id", "k", "d2")

    def update(c, _r):
        a = assign(c).select("vec_id", "k")
        m = (
            a.join(xe, "vec_id")
            .groupBy("k", "j")
            .agg(F.sum("x").alias("s"), F.count("*").alias("cnt"))
        )
        return c.join(m, ["k", "j"], "left").select(
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

    return assign(iterate(update, c, KM_ITERS, eager=False))


@query("embed_kmeans_assign", oracle=_kmeans_oracle())
def embed_kmeans_assign(spark, sf_dir):
    """k-means (Lloyd) over the embedding corpus — the standard final
    stage of semantic dedup (cluster, then keep one representative
    per semantic neighborhood) and the 4th iterative operator next to
    PageRank / connected components / power iteration. K=8 fixed
    centroids, 4 fixed assign→update rounds, then a final assignment;
    seeds are the K lowest vec_ids (deterministic, no RNG).

    Engine-exact by construction (the power-iteration recipe,
    similarity.py:771): embeddings quantize to integers (×1000);
    distances are integer sums of squares; the centroid mean
    re-quantizes with the half-away integer-division identity
    round(s/n) = sign·((2|s|+n) div 2n) — NO floating point in any
    iteration, so every round is bit-exact cross-engine. Ties in the
    argmin break on lowest cluster id; empty clusters keep their
    previous centroid.

    Scale shape: per round, one broadcast of the K·64-row centroid
    table into the exploded matrix (map-side), one
    groupBy(vec_id, k) bounded by n·K, one argmin window partitioned
    by vec_id, one groupBy(k, j) bounded by K·64 — shuffles scale
    with |vectors|, never |vectors|²; lineage truncates per round
    (localCheckpoint, the graph.pagerank discipline, zero driver
    scalars)."""
    return _kmeans_final_assignment(spark, sf_dir).select(
        "vec_id",
        F.col("k").alias("cluster"),
        F.col("d2").cast("long").alias("dist_sq"),
    )


@query(
    "embed_kmeans_representatives",
    oracle=_kmeans_oracle(
        tail="""
    SELECT k AS cluster,
           CAST(MIN(vec_id) FILTER (WHERE rn = 1) AS BIGINT) AS rep_vec_id,
           CAST(MIN(d2) FILTER (WHERE rn = 1) AS BIGINT) AS rep_dist_sq,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM (
      SELECT vec_id, k, d2,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY d2, vec_id) AS rn
      FROM af
    ) GROUP BY k
    """
    ),
)
def embed_kmeans_representatives(spark, sf_dir):
    """Semantic-dedup survivor selection: after k-means clustering
    (``embed_kmeans_assign``), keep ONE representative per semantic
    neighborhood — the member closest to its final centroid (ties
    break on lowest vec_id). This is the stage that actually shrinks
    a training corpus: SemDeDup-style pipelines cluster embeddings,
    then keep the most central exemplar (or drop the rest above a
    similarity threshold). Output is one row per non-empty cluster
    with the representative, its distance, and the cluster size.

    Same exact-integer Lloyd machinery as embed_kmeans_assign (shared
    helper), plus one argmin window partitioned by cluster — bounded
    by |vectors|, single extra shuffle."""
    af = _kmeans_final_assignment(spark, sf_dir)
    wk = W.partitionBy("k").orderBy("d2", "vec_id")
    return (
        af.withColumn("rn", F.row_number().over(wk))
        .groupBy("k")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("vec_id")))
            .cast("long")
            .alias("rep_vec_id"),
            F.min(F.when(F.col("rn") == 1, F.col("d2")))
            .cast("long")
            .alias("rep_dist_sq"),
            F.count("*").cast("long").alias("n_members"),
        )
        .select(
            F.col("k").alias("cluster"),
            "rep_vec_id",
            "rep_dist_sq",
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# Embedding prefix-dimension NN fidelity (Matryoshka-style truncation)
# ---------------------------------------------------------------------------

PFX_DIMS = 16
PFX_QUERIES = 20  # vec_id < 20 are the probe set


@query(
    "embed_prefix_nn_fidelity",
    oracle=f"""
    WITH xe AS MATERIALIZED (
      SELECT vec_id, u.i AS j,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000) AS BIGINT) AS x
      FROM embeddings, unnest(range(1, 65)) AS u(i)
    ),
    q AS (SELECT * FROM xe WHERE vec_id < {PFX_QUERIES}),
    c AS (SELECT * FROM xe WHERE vec_id >= {PFX_QUERIES}),
    d AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             SUM((q.x - c.x) * (q.x - c.x)) AS d2_full,
             SUM(CASE WHEN q.j <= {PFX_DIMS}
                 THEN (q.x - c.x) * (q.x - c.x) ELSE 0 END) AS d2_pre
      FROM q JOIN c ON q.j = c.j
      GROUP BY q.vec_id, c.vec_id
    ),
    nf AS (
      SELECT qid, cid AS nn_full, d2_full FROM (
        SELECT qid, cid, d2_full,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY d2_full, cid) AS rn
        FROM d) WHERE rn = 1
    ),
    np AS (
      SELECT qid, cid AS nn_prefix FROM (
        SELECT qid, cid, d2_pre,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY d2_pre, cid) AS rn
        FROM d) WHERE rn = 1
    )
    SELECT nf.qid AS vec_id, nf.nn_full, np.nn_prefix,
           CAST(nf.d2_full AS BIGINT) AS d2_full,
           nf.nn_full = np.nn_prefix AS agree
    FROM nf JOIN np ON np.qid = nf.qid
    """,
)
def embed_prefix_nn_fidelity(spark, sf_dir):
    """Prefix-dimension retrieval fidelity — the evaluation behind
    Matryoshka-style embedding truncation: for each probe vector, find
    its exact nearest corpus neighbor under the full 64 dimensions and
    under the first {PFX_DIMS} only, and report whether they agree.
    The agreement rate is the number that decides whether a pipeline
    can run its ANN index at quarter width (4× memory/bandwidth win)
    and re-rank with full vectors.

    Integer-exact: embeddings quantize to milli-units and both
    distances are integer sums, so argmins (tiebreak: distance, then
    corpus id) are deterministic cross-engine. Plan: the probe set is
    tiny and broadcast; the corpus scans ONCE computing both distances
    in the same pass (zip_with + slice over the arrays — no explode,
    no per-dimension shuffle); per-probe argmins are windows over
    |probes|×|corpus| candidate rows. At 100 TB the probe side stays
    broadcast and the corpus never shuffles — the ``sim_cosine_topk``
    posture."""
    e = t(spark, sf_dir, "embeddings")
    xq = e.select(
        "vec_id",
        milli("embedding").alias("xv"),
    )
    probes = xq.filter(F.col("vec_id") < PFX_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("xv").alias("qv")
    )
    corpus = xq.filter(F.col("vec_id") >= PFX_QUERIES).select(
        F.col("vec_id").alias("cid"), F.col("xv").alias("cv")
    )
    diffsq = F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b))
    pairs = corpus.crossJoin(F.broadcast(probes)).select(
        "qid",
        "cid",
        F.aggregate(
            diffsq, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("d2_full"),
        F.aggregate(
            F.slice(diffsq, 1, PFX_DIMS),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("d2_pre"),
    )
    nf = topk(pairs, ["qid"], ["d2_full", "cid"], 1).select(
        "qid", F.col("cid").alias("nn_full"), "d2_full"
    )
    np_ = topk(pairs, ["qid"], ["d2_pre", "cid"], 1).select(
        "qid", F.col("cid").alias("nn_prefix")
    )
    return nf.join(np_, "qid").select(
        F.col("qid").alias("vec_id"),
        "nn_full",
        "nn_prefix",
        F.col("d2_full").cast("long").alias("d2_full"),
        (F.col("nn_full") == F.col("nn_prefix")).alias("agree"),
    )


# ---------------------------------------------------------------------------
# IVF + PQ + exact re-rank: the composed production ANN pipeline
# ---------------------------------------------------------------------------

IVFPQ_CELLS = 16
IVFPQ_PROBE = 4
IVFPQ_SHORTLIST = 32
IVFPQ_TOPK = 5
IVFPQ_NQ = 10  # vec_id < 10 are the probe queries


def _ivfpq_oracle() -> str:
    from caliper_poc_data_etl_spark.queries.similarity import (
        PQ_CODEBOOK,
        PQ_SUBDIM,
        PQ_SUBSPACES,
    )

    return f"""
    WITH xe AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    cells AS (SELECT vec_id AS cell, qv AS cv FROM xe
              WHERE vec_id < {IVFPQ_CELLS}),
    cd AS (
      SELECT xe.vec_id, cells.cell,
             list_sum(list_transform(range(1, 65),
               j -> (xe.qv[j] - cells.cv[j]) * (xe.qv[j] - cells.cv[j])))
               AS d2
      FROM xe, cells
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM cd) WHERE rn = 1
    ),
    subs AS (
      SELECT vec_id, s.i AS sub,
             qv[s.i * {PQ_SUBDIM} + 1 : (s.i + 1) * {PQ_SUBDIM}] AS sv
      FROM xe, unnest(range(0, {PQ_SUBSPACES})) AS s(i)
    ),
    centpq AS (
      SELECT vec_id AS code, sub, sv AS cv FROM subs
      WHERE vec_id < {PQ_CODEBOOK}
    ),
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT subs.vec_id, subs.sub, centpq.code,
               ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.sub
                 ORDER BY list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                   j -> (subs.sv[j] - centpq.cv[j])
                        * (subs.sv[j] - centpq.cv[j]))), centpq.code) AS rn
        FROM subs JOIN centpq USING (sub)) WHERE rn = 1
    ),
    adc AS (
      SELECT s.vec_id AS query_id, s.sub, c.code,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
               j -> (s.sv[j] - c.cv[j]) * (s.sv[j] - c.cv[j]))) AS d2q
      FROM subs s JOIN centpq c USING (sub)
      WHERE s.vec_id < {IVFPQ_NQ}
    ),
    qprobes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM cd WHERE vec_id < {IVFPQ_NQ}) WHERE rn <= {IVFPQ_PROBE}
    ),
    cand AS (
      SELECT qp.query_id, a.vec_id AS cid
      FROM qprobes qp JOIN assign a USING (cell)
      WHERE a.vec_id <> qp.query_id
    ),
    adcd AS (
      SELECT cand.query_id, cand.cid, SUM(adc.d2q) AS adc_d2
      FROM cand
      JOIN codes ON codes.vec_id = cand.cid
      JOIN adc ON adc.query_id = cand.query_id
             AND adc.sub = codes.sub AND adc.code = codes.code
      GROUP BY cand.query_id, cand.cid
    ),
    short AS (
      SELECT query_id, cid, adc_d2 FROM (
        SELECT query_id, cid, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_d2, cid) AS rn
        FROM adcd) WHERE rn <= {IVFPQ_SHORTLIST}
    ),
    rer AS (
      SELECT s.query_id, s.cid, s.adc_d2,
             list_sum(list_transform(range(1, 65),
               j -> (q.qv[j] - c.qv[j]) * (q.qv[j] - c.qv[j]))) AS d2
      FROM short s
      JOIN xe q ON q.vec_id = s.query_id
      JOIN xe c ON c.vec_id = s.cid
    )
    SELECT query_id, CAST(rn AS INT) AS rank, cid AS neighbor_id,
           CAST(d2 AS BIGINT) AS d2_exact, CAST(adc_d2 AS BIGINT) AS adc_d2
    FROM (
      SELECT query_id, cid, d2, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, cid) AS rn
      FROM rer) WHERE rn <= {IVFPQ_TOPK}
    """


@query("sim_ivfpq_topk", oracle=_ivfpq_oracle())
def sim_ivfpq_topk(spark, sf_dir):
    """The composed production ANN pipeline — IVF coarse pruning, PQ
    asymmetric-distance shortlisting, exact re-rank — the FAISS
    IVFPQ+refine architecture as one declarative plan, built from the
    already-parity-proven pieces (``sim_ivf_assign_parity``,
    ``sim_pq_code_parity``):

    1. corpus vectors assign to their nearest of {IVFPQ_CELLS} coarse
       cells (integer L2, lowest-id codebook convention);
    2. each query probes its {IVFPQ_PROBE} nearest cells and scores
       ONLY those cells' members — via the per-query ADC lookup table
       (query-subvector → PQ-centroid distances), so candidate scoring
       never touches full vectors;
    3. the {IVFPQ_SHORTLIST}-deep PQ shortlist re-ranks with exact
       integer L2 for the final top-{IVFPQ_TOPK}.

    Everything is integer arithmetic end to end (quantize ×1000,
    squared distances, argmins with id tie-breaks), so the whole
    three-stage pipeline is hash-graded — no rows-only carve-out.

    100 TB shape: cells, PQ codebook, per-query ADC tables and probe
    lists are all tiny broadcasts; the corpus materializes only its
    (id, cell) assignment and 4-bit-code rows (the compressed index —
    this is PQ's memory story); candidate scoring touches
    ~PROBE/CELLS of the index rows and full vectors are read back
    ONLY for the shortlist join — the re-rank's point lookup."""
    from caliper_poc_data_etl_spark.queries.similarity import (
        PQ_CODEBOOK,
        PQ_SUBDIM,
        PQ_SUBSPACES,
    )

    e = t(spark, sf_dir, "embeddings")
    xe = e.select(
        "vec_id",
        milli("embedding").alias("qv"),
    )
    cells = xe.filter(F.col("vec_id") < IVFPQ_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("qv").alias("cv")
    )
    d2full = isqdist("qv", "cv")
    cd = xe.crossJoin(F.broadcast(cells)).select(
        "vec_id", "cell", d2full.alias("d2")
    )
    assign = topk(cd, ["vec_id"], ["d2", "cell"], 1).select("vec_id", "cell")
    subs = xe.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice("qv", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
                    )
                    for s in range(PQ_SUBSPACES)
                ]
            )
        ).alias("x"),
    ).select("vec_id", "x.sub", "x.sv")
    centpq = subs.filter(F.col("vec_id") < PQ_CODEBOOK).select(
        F.col("vec_id").alias("code"), "sub", F.col("sv").alias("cv")
    )
    d2sub = isqdist("sv", "cv")
    codes = topk(
        subs.join(F.broadcast(centpq), "sub").withColumn("d2s", d2sub),
        ["vec_id", "sub"],
        ["d2s", "code"],
        1,
    ).select("vec_id", "sub", "code")
    adc = (
        subs.filter(F.col("vec_id") < IVFPQ_NQ)
        .join(F.broadcast(centpq), "sub")
        .select(
            F.col("vec_id").alias("query_id"),
            "sub",
            "code",
            d2sub.alias("d2q"),
        )
    )
    qprobes = topk(
        cd.filter(F.col("vec_id") < IVFPQ_NQ), ["vec_id"], ["d2", "cell"], IVFPQ_PROBE
    ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = (
        assign.join(F.broadcast(qprobes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cid"))
    )
    adcd = (
        cand.join(codes, codes.vec_id == cand.cid)
        .join(
            F.broadcast(adc),
            ["query_id", "sub", "code"],
        )
        .groupBy("query_id", "cid")
        .agg(F.sum("d2q").alias("adc_d2"))
    )
    short = topk(adcd, ["query_id"], ["adc_d2", "cid"], IVFPQ_SHORTLIST)
    qv_side = xe.select(F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv"))
    cv_side = xe.select(F.col("vec_id").alias("cid"), F.col("qv").alias("cqv"))
    d2exact = isqdist("qqv", "cqv")
    rer = (
        short.join(F.broadcast(qv_side.filter(F.col("query_id") < IVFPQ_NQ)), "query_id")
        .join(cv_side, "cid")
        .select("query_id", "cid", "adc_d2", d2exact.alias("d2"))
    )
    return (
        topk(rer, ["query_id"], ["d2", "cid"], IVFPQ_TOPK, rank="rn")
        .select(
            "query_id",
            F.col("rn").cast("int").alias("rank"),
            F.col("cid").alias("neighbor_id"),
            F.col("d2").cast("long").alias("d2_exact"),
            F.col("adc_d2").cast("long").alias("adc_d2"),
        )
    )


# ---------------------------------------------------------------------------
# Contrastive-training hard-negative mining
# ---------------------------------------------------------------------------

HNEG_QUERIES = 10
HNEG_K = 3


@query(
    "sim_hard_negative_mining",
    oracle=f"""
    WITH qz AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
      FROM embeddings
    ),
    q AS (SELECT * FROM qz ORDER BY vec_id LIMIT {HNEG_QUERIES}),
    scored AS (
      SELECT q.vec_id AS q_vec, q.label AS q_label,
             c.vec_id AS neg_vec, c.label AS neg_label,
             CAST(list_dot_product(q.e, c.e) AS BIGINT) AS dot
      FROM q JOIN qz c
        ON c.vec_id <> q.vec_id AND c.label <> q.label
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY q_vec ORDER BY dot DESC, neg_vec) AS neg_rank
      FROM scored
    )
    SELECT q_vec, q_label, neg_vec, neg_label,
           CAST(neg_rank AS BIGINT) AS neg_rank, dot
    FROM ranked WHERE neg_rank <= {HNEG_K}
    """,
)
def sim_hard_negative_mining(spark, sf_dir):
    """Hard-negative mining for contrastive training (the
    DPR/sentence-transformers data prep stage): for each query vector,
    the top-k most-similar WRONG-label candidates — the negatives
    that actually move a contrastive loss, as opposed to random
    negatives the model already separates. Scoring is the exact
    integer dot product (milli-quantized, the ``ml_mrr_eval``/
    ``sim_cosine_topk`` recipe) so ranks are engine-exact; ties break
    on candidate id. Scale shape: the query side broadcasts, the
    corpus never shuffles for scoring, and per-query ranking
    partitions by q_vec — mining cost is one corpus scan per query
    batch, exactly the production retrieval plan run offline."""
    emb = t(spark, sf_dir, "embeddings")
    qe = milli(F.col("embedding"))
    z = emb.select("vec_id", "label", qe.alias("e"))
    q = (
        z.orderBy("vec_id")
        .limit(HNEG_QUERIES)
        .select(
            F.col("vec_id").alias("q_vec"),
            F.col("label").alias("q_label"),
            F.col("e").alias("q_e"),
        )
    )
    dot = idot(F.col("q_e"), F.col("e"))
    scored = (
        z.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("q_vec"))
            & (F.col("label") != F.col("q_label"))
        )
        .select(
            "q_vec",
            "q_label",
            F.col("vec_id").alias("neg_vec"),
            F.col("label").alias("neg_label"),
            dot.alias("dot"),
        )
    )
    return topk(
        scored, ["q_vec"], [F.col("dot").desc(), "neg_vec"], HNEG_K, rank="neg_rank"
    ).select(
        "q_vec",
        "q_label",
        "neg_vec",
        "neg_label",
        F.col("neg_rank").cast("long").alias("neg_rank"),
        "dot",
    )


# ---------------------------------------------------------------------------
# MMR diverse exemplar selection
# ---------------------------------------------------------------------------

MMR_CAND = 20
MMR_K = 5
MMR_W_REL = 7  # lambda = 0.7 carried as integer weights 7 / 3
MMR_W_DIV = 3


def _mmr_oracle() -> str:
    head = f"""
    WITH qz AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
      FROM embeddings
    ),
    qv AS (SELECT vec_id AS q_id, e AS q_e FROM qz ORDER BY vec_id LIMIT 1),
    rel AS MATERIALIZED (
      SELECT c.vec_id,
             CAST(list_dot_product(qv.q_e, c.e) AS BIGINT) AS rel
      FROM qz c, qv WHERE c.vec_id <> qv.q_id
      ORDER BY rel DESC, c.vec_id LIMIT {MMR_CAND}
    ),
    pair AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(list_dot_product(az.e, bz.e) AS BIGINT) AS s
      FROM rel a JOIN rel b ON a.vec_id <> b.vec_id
      JOIN qz az ON az.vec_id = a.vec_id
      JOIN qz bz ON bz.vec_id = b.vec_id
    ),
    sel1 AS MATERIALIZED (
      SELECT vec_id, rel, {MMR_W_REL} * rel AS score
      FROM rel ORDER BY score DESC, vec_id LIMIT 1
    )"""
    steps = []
    for r in range(2, MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{i}" for i in range(1, r)
        )
        steps.append(f"""sel{r} AS MATERIALIZED (
      SELECT r.vec_id, r.rel,
             {MMR_W_REL} * r.rel - {MMR_W_DIV} * MAX(p.s) AS score
      FROM rel r
      JOIN pair p ON p.ia = r.vec_id AND p.ib IN ({prev})
      WHERE r.vec_id NOT IN ({prev})
      GROUP BY r.vec_id, r.rel
      ORDER BY score DESC, r.vec_id LIMIT 1
    )""")
    selects = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS sel_rank, vec_id, rel, score FROM sel{i}"
        for i in range(1, MMR_K + 1)
    )
    return head + ",\n    " + ",\n    ".join(steps) + "\n    " + selects


@query("sim_mmr_select", oracle=_mmr_oracle())
def sim_mmr_select(spark, sf_dir):
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98)
    diverse exemplar selection — the retrieval/curation step that
    picks items both RELEVANT to a query and DISSIMILAR to what is
    already picked (diverse few-shot exemplars, dedup-aware RAG
    context packing, coreset seeds). Greedy: first pick = argmax
    relevance; each next pick maximizes W_REL·rel − W_DIV·max-sim-to-
    selected (λ=0.7 as integer weights, milli-quantized integer dot
    products throughout → engine-exact, ties break on vec_id).

    Plan shape: ONE corpus scan scores relevance against the
    broadcast 1-row query vector (the ``sim_cosine_topk`` posture —
    the corpus never shuffles); the greedy loop then runs entirely on
    the 20-candidate shortlist (20×20 pairwise sims computed once,
    checkpointed) — K fixed 1-row argmax plan nodes, no driver
    collects. At 100 TB the shortlist stage is unchanged: MMR cost is
    bounded by the candidate count, not the corpus."""
    emb = t(spark, sf_dir, "embeddings")
    ze = milli(F.col("embedding"))
    z = emb.select("vec_id", ze.alias("e"))
    qv = (
        z.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("q_id"), F.col("e").alias("q_e"))
    )

    rel = truncate_lineage(
        z.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("vec_id", idot(F.col("q_e"), F.col("e")).alias("rel"), "e")
        .orderBy(F.desc("rel"), "vec_id")
        .limit(MMR_CAND)
    )
    pa = rel.select(F.col("vec_id").alias("ia"), F.col("e").alias("ea"))
    pb = rel.select(F.col("vec_id").alias("ib"), F.col("e").alias("eb"))
    pair = truncate_lineage(
        pa.crossJoin(pb)
        .filter(F.col("ia") != F.col("ib"))
        .select("ia", "ib", idot(F.col("ea"), F.col("eb")).alias("s"))
    )
    relc = rel.select("vec_id", "rel")
    picked = truncate_lineage(
        relc.select(
            F.lit(1).cast("long").alias("sel_rank"),
            "vec_id",
            "rel",
            (F.lit(MMR_W_REL) * F.col("rel")).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(1)
    )

    def pick_next(picked, r):
        seln = picked.select(F.col("vec_id").alias("ib"))
        msim = (
            pair.join(F.broadcast(seln), "ib")
            .groupBy("ia")
            .agg(F.max("s").alias("ms"))
        )
        cand = relc.join(picked.select("vec_id"), "vec_id", "left_anti")
        pick = (
            cand.join(msim, cand.vec_id == msim.ia)
            .select(
                # round r picks the (r + 1)-th vector
                F.lit(r + 1).cast("long").alias("sel_rank"),
                cand.vec_id.alias("vec_id"),
                "rel",
                (
                    F.lit(MMR_W_REL) * F.col("rel")
                    - F.lit(MMR_W_DIV) * F.col("ms")
                ).alias("score"),
            )
            .orderBy(F.desc("score"), "vec_id")
            .limit(1)
        )
        return picked.unionByName(pick)

    return iterate(pick_next, picked, MMR_K - 1)


# ---------------------------------------------------------------------------
# IVF+PQ recall@k vs exact — the ANN pipeline's graded quality evidence
# ---------------------------------------------------------------------------

# Declared recall floor for the composed IVF+PQ pipeline at its tuned
# knobs (16 cells / 4 probes / 32-deep shortlist / k=5): MEAN recall@5
# over the query sample — the standard ANN quality metric (per-query
# recall is 5-quantized and noisy) — measures 860/720/660 milli at
# sf0.001/0.01/0.1; every graded fixture >= this floor, pinned by
# tests/test_round9_ops.py and by the `meets_floor` output column.
IVFPQ_RECALL_FLOOR_MILLI = 600


def _ivfpq_recall_oracle() -> str:

    return f"""
    WITH approx AS (
      SELECT query_id, neighbor_id FROM ({_ivfpq_oracle()}) a
    ),
    xr AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    exact AS (
      SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform(range(1, 65),
                   j -> (q.qv[j] - c.qv[j]) * (q.qv[j] - c.qv[j]))),
                 c.vec_id) AS rn
        FROM xr q JOIN xr c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {IVFPQ_NQ}
      ) WHERE rn <= {IVFPQ_TOPK}
    ),
    hits AS (
      SELECT e.query_id, COUNT(a.neighbor_id) AS n_hit
      FROM exact e LEFT JOIN approx a
        ON a.query_id = e.query_id AND a.neighbor_id = e.cid
      GROUP BY e.query_id
    )
    SELECT query_id,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST({IVFPQ_TOPK} AS BIGINT) AS k,
           CAST((n_hit * 1000) // {IVFPQ_TOPK} AS BIGINT) AS recall_milli,
           CAST((SUM(n_hit) OVER ()) * 1000
                // (COUNT(*) OVER () * {IVFPQ_TOPK}) AS BIGINT)
             AS mean_recall_milli,
           (SUM(n_hit) OVER ()) * 1000
             // (COUNT(*) OVER () * {IVFPQ_TOPK})
             >= {IVFPQ_RECALL_FLOOR_MILLI} AS meets_floor
    FROM hits
    """


@query("sim_ivfpq_recall_vs_exact", oracle=_ivfpq_recall_oracle())
def sim_ivfpq_recall_vs_exact(spark, sf_dir):
    """Recall@k of the composed IVF+PQ ANN pipeline against the exact
    integer-L2 top-k — the graded quality evidence for
    ``sim_ivfpq_topk`` (its hash row proves the pipeline computes what
    it declares; THIS row proves what it declares is a good
    approximation). Per query: hits = |approx top-k ∩ exact top-k|,
    floor-milli recall, and the declared-floor flag
    (>= {IVFPQ_RECALL_FLOOR_MILLI}/1000 at the tuned 16-cell /
    4-probe / 32-shortlist knobs).

    Recall is computed DISTRIBUTED: the exact side is the broadcast-
    query brute-force scan (the ``sim_cosine_topk`` plan shape on the
    same quantized integer L2 metric the IVF+PQ pipeline ranks by),
    the approx side is the production pipeline itself, and the
    intersection is a per-(query, neighbor) left join + count — no
    driver-side set math. 100 TB: the exact side is the expensive
    ground-truth pass you run on a SAMPLE of queries (NQ here) to
    monitor index quality; everything downstream of the two top-k's
    joins on the tiny NQ·k result sets."""

    approx = sim_ivfpq_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    e = t(spark, sf_dir, "embeddings")
    xe = e.select(
        "vec_id",
        milli("embedding").alias("qv"),
    )
    q = xe.filter(F.col("vec_id") < IVFPQ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    d2 = isqdist("qqv", "qv")
    exact = topk(
        xe.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id", F.col("vec_id").alias("cid"), d2.alias("d2")
        ),
        ["query_id"],
        ["d2", "cid"],
        IVFPQ_TOPK,
    ).select("query_id", "cid")
    hits = (
        exact.join(
            approx,
            (approx.query_id == exact.query_id)
            & (approx.neighbor_id == exact.cid),
            "left",
        )
        .groupBy(exact.query_id)
        .agg(F.count(approx.neighbor_id).alias("n_hit"))
    )
    recall = F.expr(f"(n_hit * 1000) div {IVFPQ_TOPK}")
    # mean over the NQ-row query sample — a window over a tiny frame
    # (one row per sampled query), not a corpus-wide global window
    mean_recall = F.expr(
        f"(sum(n_hit) OVER ()) * 1000 div (count(*) OVER () * {IVFPQ_TOPK})"
    )
    return hits.select(
        "query_id",
        F.col("n_hit").cast("long").alias("n_hit"),
        F.lit(IVFPQ_TOPK).cast("long").alias("k"),
        recall.cast("long").alias("recall_milli"),
        mean_recall.cast("long").alias("mean_recall_milli"),
        (mean_recall >= IVFPQ_RECALL_FLOOR_MILLI).alias("meets_floor"),
    )


# ---------------------------------------------------------------------------
# Two-level residual vector quantization (RVQ)
# ---------------------------------------------------------------------------


@query(
    "embed_residual_quantize",
    oracle="""
    WITH l1 AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) / 127.0
               AS scale1,
             embedding
      FROM embeddings
    ), q1 AS (
      SELECT vec_id, scale1,
             list_transform(embedding, x -> CASE WHEN scale1 = 0 THEN 0
               ELSE CAST(GREATEST(-127, LEAST(127,
                    FLOOR(CAST(x AS DOUBLE) / scale1 + 0.5))) AS BIGINT) END)
               AS q1,
             embedding
      FROM l1
    ), res AS (
      SELECT vec_id, scale1, q1,
             list_transform(range(1, len(embedding) + 1),
               i -> CAST(embedding[i] AS DOUBLE) - q1[i] * scale1) AS r
      FROM q1
    ), l2 AS (
      SELECT vec_id, scale1, q1, r,
             list_max(list_transform(r, v -> abs(v))) / 127.0 AS scale2
      FROM res
    ), q2 AS (
      SELECT vec_id, scale1, scale2, q1, r,
             list_transform(r, v -> CASE WHEN scale2 = 0 THEN 0
               ELSE CAST(GREATEST(-127, LEAST(127,
                    FLOOR(v / scale2 + 0.5))) AS BIGINT) END) AS q2
      FROM l2
    )
    SELECT vec_id,
           ROUND(scale1, 6) AS scale1,
           ROUND(scale2, 8) AS scale2,
           CAST(list_sum(q1) AS BIGINT) AS q1_sum,
           CAST(list_sum(q2) AS BIGINT) AS q2_sum,
           CAST(list_sum(list_transform(q1, v -> v * v)) AS BIGINT)
             AS q1_sq_sum,
           CAST(list_sum(list_transform(q2, v -> v * v)) AS BIGINT)
             AS q2_sq_sum
    FROM q2
    """,
)
def embed_residual_quantize(spark, sf_dir):
    """Two-level residual vector quantization (RVQ) — the compression
    step between plain symmetric int8 (``embed_quantize_int8``) and
    codebook PQ (``sim_pq_code_parity``): quantize, take the exact
    residual x - q1*scale1, quantize the residual on its own (much
    finer) grid. Stage-2 codes reconstruct the vector to ~scale1/254
    error with 2 bytes/dim — the standard ANN-index refinement ladder
    (IVF -> coarse int8 -> residual refine).

    Cross-engine exactness: q1/q2 are exact small integers (the
    embed_quantize_int8 round-half-up recipe); the residual is a
    DOUBLE computed by the identical IEEE expression shape both sides
    (cast, multiply, subtract — all correctly rounded, so
    bit-identical), and everything EMITTED is either an integer
    checksum of the codes or a rounded scale. Per-row array math,
    zero shuffle, linear at any scale."""
    e = t(spark, sf_dir, "embeddings")
    scale1 = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    ) / F.lit(127.0)
    base = e.select("vec_id", "embedding", scale1.alias("scale1"))

    def quant(arr, scale):
        return F.transform(
            arr,
            lambda x: F.when(F.col(scale) == 0, F.lit(0).cast("long")).otherwise(
                F.greatest(
                    F.lit(-127).cast("long"),
                    F.least(
                        F.lit(127).cast("long"),
                        F.floor(x.cast("double") / F.col(scale) + 0.5),
                    ),
                )
            ),
        )

    q1d = base.select(
        "vec_id", "embedding", "scale1", quant("embedding", "scale1").alias("q1")
    )
    resid = q1d.withColumn(
        "r",
        F.zip_with(
            "embedding",
            "q1",
            lambda x, q: x.cast("double") - q * F.col("scale1"),
        ),
    )
    l2 = resid.withColumn(
        "scale2",
        F.array_max(F.transform("r", lambda v: F.abs(v))) / F.lit(127.0),
    )
    q2d = l2.withColumn("q2", quant("r", "scale2"))

    def isum(col):
        return F.aggregate(col, F.lit(0).cast("long"), lambda a, v: a + v)

    def isqsum(col):
        return F.aggregate(col, F.lit(0).cast("long"), lambda a, v: a + v * v)

    return q2d.select(
        "vec_id",
        F.round("scale1", 6).alias("scale1"),
        F.round("scale2", 8).alias("scale2"),
        isum(F.col("q1")).alias("q1_sum"),
        isum(F.col("q2")).alias("q2_sum"),
        isqsum(F.col("q1")).alias("q1_sq_sum"),
        isqsum(F.col("q2")).alias("q2_sq_sum"),
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection
# ---------------------------------------------------------------------------

JL_K = 16  # target dimension
JL_D = 64  # source embedding dimension
JL_MICRO = 1_000_000  # embedding quantization before projecting


def _jl_signs() -> list[list[int]]:
    """±1 sign matrix, row j = target dim, derived from md5(j:d) ONCE
    at import and embedded in both engines (the PHASH_COS /
    HLL_LC_MILLI build-time trick applied to the hash): s = +1 if the
    first md5 nibble is even. Integers, because the projection runs on
    the micro-quantized embedding: a first form projected the raw
    floats through each engine's dot product and DuckDB's
    list_dot_product accumulates in a DIFFERENT order than Spark's
    sequential fold — an ulp of disagreement flipped a milli rounding
    boundary at sf0.01 (caught by the oracle gate, recorded in
    NOTES_r09). Quantize-then-project is order-free exact integer
    arithmetic on both engines AND the realistic pipeline shape (ANN
    stacks project int8/int16-quantized vectors, not raw floats)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for d in range(JL_D)
        ]
        for j in range(JL_K)
    ]


JL_SIGNS = _jl_signs()


def _jl_signs_sql(j: int) -> str:
    return "[" + ", ".join(str(v) for v in JL_SIGNS[j]) + "]"


@query(
    "embed_jl_projection_parity",
    oracle=f"""
    WITH signs AS (
      -- sign rows as COLUMNS: inlining the 64-literal lists inside the
      -- projection lambdas made DuckDB rebuild them per element access
      -- (15.5 s -> 0.1 s at sf0.1, result-identical; the mm_phash_dct
      -- cos-table lesson)
      SELECT {", ".join(f"{_jl_signs_sql(j)} AS s{j}" for j in range(JL_K))}
    ),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {JL_MICRO} + 0.5)
                         AS BIGINT)) AS xm
      FROM embeddings
    ),
    proj AS (
      SELECT vec_id,
             {", ".join(
                 f"CAST(list_sum(list_transform(range(1, {JL_D} + 1), "
                 f"i -> xm[i] * s{j}[i])) AS BIGINT) AS m{j}"
                 for j in range(JL_K)
             )}
      FROM q CROSS JOIN signs
    )
    SELECT vec_id,
           m0 AS proj0_micro, m1 AS proj1_micro,
           m2 AS proj2_micro, m3 AS proj3_micro,
           CAST({" + ".join(f"m{j} * m{j}" for j in range(JL_K))} AS BIGINT)
             AS l2sq_micro
    FROM proj
    """,
)
def embed_jl_projection_parity(spark, sf_dir):
    """Johnson–Lindenstrauss sign projection ({JL_D} -> {JL_K} dims) —
    the dimensionality-reduction step an ANN pipeline runs before
    coarse search (Achlioptas 2003: ±1 entries suffice, no Gaussians).
    The embedding is micro-quantized FIRST (floor(x*1e6+0.5), the
    registry's centi/micro recipe), then projected through the
    import-time md5-derived ±1 matrix :data:`JL_SIGNS` — every value
    crossing the engine boundary is an exact BIGINT, immune to the
    accumulation-order ulp divergence that sank the raw-float form
    (see :func:`_jl_signs`). Outputs the first four projected
    coordinates plus the full {JL_K}-dim squared norm — the quantity
    the JL lemma preserves (E[||Px||²] = {JL_K}·||x||²; pinned in
    pytest, since the hash proves parity, not geometry).

    Scale shape: {JL_K} fixed {JL_D}-term integer folds per row —
    pure per-row Column math, zero shuffle, linear at any corpus
    size, and 4x less data shipped to every downstream ANN stage."""
    e = t(spark, sf_dir, "embeddings")
    xm = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * JL_MICRO + F.lit(0.5)).cast("long"),
    )
    # One-row-group input: without the spread the 16 interpreted HOF
    # folds per row all run in a single task (measured
    # 23 s -> ~1 s at sf0.1). Explicit numPartitions so AQE cannot
    # coalesce the tiny shuffle back to one task.
    q = (
        # Keyed on vec_id: a keyless repartition(n) pays the
        # sortBeforeRepartition local sort of every (vec_id, embedding)
        # row for nothing (guide §2.5); unique vec_ids hash evenly.
        e.repartition(
            e.sparkSession.sparkContext.defaultParallelism, F.col("vec_id")
        )
        .select("vec_id", xm.alias("xm"))
    )

    def proj(j):
        # ONE parsed expression per projection row instead of JL_D
        # F.lit round-trips + two lambda Columns (the similarity.py
        # recipe; ~1100 py4j calls → 16). Identical tree after parsing
        # (Multiply → Add fold over exact BIGINTs), so the projected
        # integers are bit-identical.
        signs = (
            "array(" + ", ".join(str(v) + "L" for v in JL_SIGNS[j]) + ")"
        )
        return F.expr(
            f"aggregate(zip_with(xm, {signs}, (p, s) -> p * s), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )

    pm = q.select(
        "vec_id", *[proj(j).alias(f"m{j}") for j in range(JL_K)]
    )
    from functools import reduce
    from operator import add

    l2sq = reduce(add, [F.col(f"m{j}") * F.col(f"m{j}") for j in range(JL_K)])
    return pm.select(
        "vec_id",
        F.col("m0").alias("proj0_micro"),
        F.col("m1").alias("proj1_micro"),
        F.col("m2").alias("proj2_micro"),
        F.col("m3").alias("proj3_micro"),
        l2sq.cast("long").alias("l2sq_micro"),
    )


# ---------------------------------------------------------------------------
# Hybrid-retrieval rank fusion (RRF)
# ---------------------------------------------------------------------------

_RRF_K = 60  # the constant from Cormack et al. 2009; public default
_RRF_TOPN = 20  # depth of each input ranking
_RRF_QUERY_VEC = 0  # the dense query: embedding of vec_id 0


def _rrf_oracle() -> str:
    from caliper_poc_data_etl_spark.queries.text import _bm25_oracle

    return f"""
    WITH lex AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
               AS rank_lex
      FROM ({_bm25_oracle()})
    ), q AS (
      SELECT embedding AS q_emb,
             sqrt(CAST(list_dot_product(embedding, embedding) AS DOUBLE))
               AS q_nrm
      FROM embeddings WHERE vec_id = {_RRF_QUERY_VEC}
    ), dense AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos_raw DESC, doc_id)
               AS INT) AS rank_dense
      FROM (
        SELECT e.vec_id AS doc_id,
               CAST(list_dot_product(e.embedding, q.q_emb) AS DOUBLE)
                 / (sqrt(CAST(list_dot_product(e.embedding, e.embedding)
                              AS DOUBLE)) * q.q_nrm) AS cos_raw
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> {_RRF_QUERY_VEC}
      )
      QUALIFY rank_dense <= {_RRF_TOPN}
    )
    SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
           l.rank_lex, d.rank_dense,
           FLOOR((COALESCE(1.0 / ({_RRF_K} + l.rank_lex), 0.0)
                  + COALESCE(1.0 / ({_RRF_K} + d.rank_dense), 0.0))
                 * 1e6 + 0.5) / 1e6 AS rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY
               FLOOR((COALESCE(1.0 / ({_RRF_K} + l.rank_lex), 0.0)
                      + COALESCE(1.0 / ({_RRF_K} + d.rank_dense), 0.0))
                     * 1e6 + 0.5) / 1e6
               DESC, COALESCE(l.doc_id, d.doc_id)) AS INT) AS fused_rank
    FROM lex l FULL OUTER JOIN dense d ON d.doc_id = l.doc_id
    """


@query("sim_rrf_fusion", oracle=_rrf_oracle())
def sim_rrf_fusion(spark, sf_dir):
    """Hybrid-retrieval rank fusion: reciprocal-rank fusion (RRF,
    Cormack, Clarke & Büttcher SIGIR 2009 — score(d) = Σ_r 1/(k +
    rank_r(d)), k = 60) of the two rankings the registry already
    grades — the ``text_bm25_topk`` lexical top-20 and the dense
    cosine top-20 for a fixed query vector (vec_id 0; embeddings
    share the documents' id space). A document missing from one
    ranking contributes 0 from that ranker — the full-outer-join
    semantics that make RRF robust to rankers with disjoint
    coverage.

    Plan shape: two bounded top-N inputs (each already a graded
    operator's plan: BM25 is two corpus scans with a broadcast df
    join; dense is a broadcast-1-row query against the corpus scan),
    a full outer join of two <= 20-row sets, and one global window
    over <= 40 rows — every unbounded stage is rank-limited before
    the join, so fusion cost is O(N log N) in the ranking depth, not
    the corpus. Cross-engine determinism: ranks are integers; each
    1/(k+rank) is one IEEE division; the fused score floor-quantizes
    to 6 dp (FLOOR(x*1e6+0.5), the classifier-score lesson) and the
    fused rank orders by the QUANTIZED score (ties on doc_id)."""
    from caliper_poc_data_etl_spark.queries.text import text_bm25_topk

    lex = text_bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), "doc_id"))
        .cast("int")
        .alias("rank_lex"),
    )
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("embedding").alias("q_emb"),
        F.sqrt(dot("embedding", "embedding")).alias("q_nrm"),
    )
    cos = dot("embedding", "q_emb") / (
        F.sqrt(dot("embedding", "embedding")) * F.col("q_nrm")
    )
    dense = topk(
        e.filter(F.col("vec_id") != _RRF_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos_raw")),
        [],
        [F.desc("cos_raw"), "doc_id"],
        _RRF_TOPN,
        rank="rank_dense",
    ).select("doc_id", "rank_dense")
    fused = lex.join(dense, "doc_id", "full_outer")
    # FLOOR(x*1e6+0.5) quantization, not ROUND — the
    # text_quality_classifier_score boundary lesson applied here too.
    rrf = (
        F.floor(
            (
                F.coalesce(1.0 / (_RRF_K + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(
                    1.0 / (_RRF_K + F.col("rank_dense")), F.lit(0.0)
                )
            )
            * 1e6
            + F.lit(0.5)
        )
        / 1e6
    )
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn(
            "fused_rank",
            F.row_number()
            .over(W.orderBy(F.desc("rrf_score"), "doc_id"))
            .cast("int"),
        )
        .select(
            "doc_id", "rank_lex", "rank_dense", "rrf_score", "fused_rank"
        )
    )


# ---------------------------------------------------------------------------
# ColBERT-style late-interaction (MaxSim) retrieval scoring
# ---------------------------------------------------------------------------

# Multi-vector layout derived from the embeddings fixture: consecutive
# runs of _MAXSIM_DOC_TOKENS vectors form one "document" (doc_id =
# vec_id div 8) — the per-token contextual embeddings a ColBERT-style
# encoder emits. Document 0's tokens are the query's token vectors.
_MAXSIM_DOC_TOKENS = 8
_MAXSIM_TOPN = 10


def _maxsim_oracle() -> str:
    g = _MAXSIM_DOC_TOKENS
    return f"""
    WITH xq AS MATERIALIZED (
      SELECT vec_id AS qid, u.i AS j,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000) AS BIGINT)
               AS x
      FROM embeddings, unnest(range(1, 65)) AS u(i)
      WHERE vec_id < {g}
    ), xd AS MATERIALIZED (
      SELECT vec_id, vec_id // {g} AS doc_id, u.i AS j,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000) AS BIGINT)
               AS x
      FROM embeddings, unnest(range(1, 65)) AS u(i)
      WHERE vec_id >= {g}
    ), nq AS (
      SELECT qid, CAST(SUM(x * x) AS BIGINT) AS n2 FROM xq GROUP BY qid
    ), nd AS (
      SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS n2
      FROM xd GROUP BY vec_id
    ), dots AS (
      SELECT d.vec_id, d.doc_id, q.qid,
             CAST(SUM(d.x * q.x) AS BIGINT) AS dp
      FROM xd d JOIN xq q ON q.j = d.j
      GROUP BY d.vec_id, d.doc_id, q.qid
    ), cosm AS (
      SELECT dots.doc_id, dots.qid,
             CAST(FLOOR(CAST(dp * 1000000 AS DOUBLE)
                  / sqrt(CAST(nd.n2 AS DOUBLE) * CAST(nq.n2 AS DOUBLE))
                  + 0.5) AS BIGINT) AS cos_micro
      FROM dots
      JOIN nd ON nd.vec_id = dots.vec_id
      JOIN nq ON nq.qid = dots.qid
    ), ms AS (
      SELECT doc_id, qid, MAX(cos_micro) AS maxsim_micro
      FROM cosm GROUP BY doc_id, qid
    ), sc AS (
      SELECT doc_id,
             CAST(SUM(maxsim_micro) AS BIGINT) AS score_micro,
             CAST(COUNT(*) AS BIGINT) AS n_q
      FROM ms GROUP BY doc_id
    )
    SELECT CAST(rk AS INT) AS rank, doc_id, score_micro, n_q FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
               AS rk
      FROM sc
    ) WHERE rk <= {_MAXSIM_TOPN}
    """


@query("sim_maxsim_late_interaction", oracle=_maxsim_oracle())
def sim_maxsim_late_interaction(spark, sf_dir):
    """ColBERT-style late-interaction retrieval scoring (Khattab &
    Zaharia, "ColBERT: Efficient and Effective Passage Search via
    Contextualized Late Interaction over BERT", SIGIR 2020): documents
    are MULTI-vector (one embedding per token), and a document's score
    for a query is MaxSim — the sum over the query's token vectors of
    the maximum cosine against any document token vector. The
    multi-vector member of the retrieval-scoring family next to the
    dense single-vector ``sim_cosine_topk``, lexical ``text_bm25_topk``
    and fused ``sim_rrf_fusion``.

    Fixture layout: consecutive runs of ``_MAXSIM_DOC_TOKENS`` (8)
    embedding rows form one document (``doc_id = vec_id div 8``) —
    doc 0 is the query's token set, every other doc is corpus. Output:
    the top-``_MAXSIM_TOPN`` docs by total MaxSim, with rank.

    Plan shape: the query's 8 token vectors BROADCAST against the
    corpus token scan (the sanctioned ``sim_cosine_topk`` shape — cost
    is |corpus| x |query tokens|, linear in the corpus); the per-(doc,
    query-token) max and the per-doc sum are BOTH map-side-combining
    hash aggregates — the only rows that ever cross a shuffle are the
    |docs| x 8 partial-max outputs and their |docs|-row per-doc
    reduction; the corpus token scan itself never shuffles, and the
    top-N window runs on <= |docs| pre-aggregated rows. The
    production refinement at 100 TB is the standard ColBERT
    two-stage (ANN-prune candidate docs via ``sim_ann_lsh``-style
    bucketing on token vectors, then MaxSim only the candidates) —
    a composition of two graded operators.

    Cross-engine determinism — fully integer at the boundary (the
    kmeans milli-quantization convention, kernels.milli): elements
    quantize to milli-ints through one identical IEEE chain; dots and
    squared norms are EXACT BIGINT sums (a float dot here measurably
    floor-flips at 1e-6 — DuckDB's list_dot_product accumulation
    differs from Spark's fold in the last bits); the only floating
    step is cos_micro = FLOOR(dp*1e6 / sqrt(nd*nq) + 0.5), the same
    single mult/sqrt/div/floor chain on identical integer inputs in
    both engines. Per-(doc,qid) MAX and the per-doc SUM are then
    integer — immune to accumulation order."""
    g = _MAXSIM_DOC_TOKENS
    e = t(spark, sf_dir, "embeddings")
    xq = milli(F.col("embedding"))
    q = e.filter(F.col("vec_id") < g).select(
        F.col("vec_id").alias("qid"),
        xq.alias("q_x"),
        idot(xq, xq).alias("q_n2"),
    )
    d = e.filter(F.col("vec_id") >= g).select(
        F.expr(f"vec_id div {g}").alias("doc_id"),
        xq.alias("d_x"),
        idot(xq, xq).alias("d_n2"),
    )
    dp = idot(F.col("d_x"), F.col("q_x"))
    cos_micro = F.floor(
        (dp * F.lit(1000000)).cast("double")
        / F.sqrt(F.col("d_n2").cast("double") * F.col("q_n2").cast("double"))
        + F.lit(0.5)
    ).cast("long")
    ms = (
        d.crossJoin(F.broadcast(q))
        .select("doc_id", "qid", cos_micro.alias("cos_micro"))
        .groupBy("doc_id", "qid")
        .agg(F.max("cos_micro").alias("maxsim_micro"))
    )
    sc = ms.groupBy("doc_id").agg(
        F.sum("maxsim_micro").cast("long").alias("score_micro"),
        F.count(F.lit(1)).cast("long").alias("n_q"),
    )
    return topk(
        sc, [], [F.desc("score_micro"), "doc_id"], _MAXSIM_TOPN, rank="rank"
    ).select("rank", "doc_id", "score_micro", "n_q")
