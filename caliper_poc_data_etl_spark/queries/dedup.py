"""Deduplication operators (north-star §2B / LLM-pipeline surface).

Five dedup families over ``documents`` / ``embeddings``:

- exact (hash group-by) — oracle-checked
- exact-normalized (case/punct/ws-insensitive) — oracle-checked
- n-gram Jaccard near-dup (exact pairwise) — oracle-checked
- MinHash + LSH near-dup (banding) — rows-only (engine-specific
  hashing); recall vs the exact path is asserted in tests
- SimHash near-dup — rows-only, same reason
- embedding-cosine near-dup — oracle-checked

Scale posture: the exact-pairwise paths shuffle on shingle (bounded by
posting-list sizes); the 100 TB path is MinHash/SimHash banding where
candidate generation is a single groupBy on band keys — no quadratic
blowup. MinHash signatures are per-row ``array_min(transform(...))``
expressions (no ×K row explosion); SimHash fingerprints are per-document
vote aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.kernels import (
    bucket_pairs,
    dot,
    flip_probes,
    md5_int,
    sign_bits,
    topk,
    word_trigrams,
)
from caliper_poc_data_etl_spark.queries.registry import query, t

JACCARD_THRESHOLD = 0.8
COSINE_DUP_THRESHOLD = 0.4

# MinHash parameters: K hashes, banded r rows × b bands (K = r*b).
# r=2, b=16: P(candidate) = 1-(1-J²)^16 → at the 0.8 threshold the
# miss probability is (1-0.64)^16 ≈ 8e-8; halving K from 64 halves
# the aggregate-codegen cost, which dominates wall time.
MINHASH_K = 32
MINHASH_BANDS = 16  # r = 2
MERSENNE_P = (1 << 31) - 1


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash group-by; deterministic survivor
    (min doc_id) so the result is reproducible — `dropDuplicates`
    keeps an arbitrary row, which is not."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies")
    )


@query(
    "dedup_exact_normalized",
    oracle="""
    SELECT md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))) AS norm_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark, sf_dir):
    """Exact dedup on normalized content (case/punctuation/whitespace
    insensitive) — catches trivially-reformatted copies."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy(
        F.md5(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]", ""))).alias("norm_hash")
    ).agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))


def _spread(d: DataFrame) -> DataFrame:
    """Repartition a small input so CPU-heavy per-row work uses every
    core. Small tables arrive as one parquet row-group → one task; a
    cheap shuffle of (doc_id, text) buys full parallelism for the
    expensive expressions downstream. Unconditional: probing the
    current partition count via ``d.rdd.getNumPartitions()`` forces an
    RDD plan conversion at build time, and the shuffle it
    would skip is a few rows of (doc_id, text) — cheaper than the
    probe. Spark never elides a user repartition, so this IS a real
    exchange at every scale; it stays correct because
    defaultParallelism tracks total cluster cores (32 here, ~tens of
    thousands on a 1000-executor cluster), normalizing partitioning to
    the CPU budget right before the CPU-bound shingle/signature
    expressions. Only for scan-dominated corpora whose natural split
    count already exceeds cluster cores would a deployment delete this
    line and tune spark.sql.files.maxPartitionBytes instead."""
    sc = d.sparkSession.sparkContext
    # Hash-partition on doc_id rather than round-robin: a keyless
    # repartition(n) first pays a local binary sort of its input rows
    # (spark.sql.execution.sortBeforeRepartition, guide §2.5 — needed
    # there so task retries re-deal identically), which on (doc_id,
    # text) rows is pure overhead. doc_id is unique, so the hash
    # spreads at least as evenly, deterministically, with no sort
    # (simhash fingerprints measured 0.85 → 0.59 s at sf0.1).
    return d.repartition(sc.defaultParallelism, F.col("doc_id"))


def _doc_shingle_sets(d: DataFrame) -> DataFrame:
    """(doc_id, shset: array<string>) distinct 3-gram word shingles,
    one row per document — computed entirely per-row (narrow plan, NO
    shuffle): split → sliding-window transform → array_distinct.

    ``toks`` is materialized as a named column BEFORE the shingle
    transform: referencing a raw ``split()`` expression inside a
    higher-order-function lambda re-runs the regex split per element
    access (O(tokens²) regex work per row — measured 10×+ slowdown).
    CollapseProject keeps the materialized alias because it is
    referenced multiple times by non-cheap expressions."""
    return (
        _spread(d)
        .select("doc_id", F.split(F.trim(F.col("text")), "\\s+").alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", F.array_distinct(word_trigrams("toks")).alias("shset"))
    )


def _doc_shingles(d: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded form of ``_doc_shingle_sets`` — only
    for plans that genuinely need a shingle-keyed shuffle (the exact
    pairwise self-join)."""
    return _doc_shingle_sets(d).select(
        "doc_id", F.explode("shset").alias("shingle")
    )


_NGRAM_ORACLE = f"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(tk) - 1),
          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
      FROM tk
      WHERE len(tk) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact near-dup pairs by 3-gram shingle Jaccard ≥ 0.8.

    Plan: per-row shingle sets (no shuffle) → explode with the set
    size carried alongside → self-equi-join on shingle (intersection
    counts; sizes ride through the group-by keys, so NO extra
    size-table joins) → filter. The shingle join is an equi-join, so
    it shuffles on shingle — no cross product; hot shingles are the
    skew risk (AQE skew-join handles)."""
    sh = _doc_shingle_sets(t(spark, sf_dir, "documents")).select(
        "doc_id", F.size("shset").alias("n"), F.explode("shset").alias("shingle")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count("*").alias("i"))
    )
    jacc = F.col("i") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    return (
        inter.filter(jacc >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
    )


def _minhash_coeffs() -> list[tuple[int, int]]:
    """The K universal-hash permutation constants, fixed-seed so every
    variant (xxhash64 production path, md5 parity path, its SQL
    oracle) draws the same family. Full-range: small sequential a_i
    make a badly correlated linear family and measurably miss
    borderline candidates."""
    import random

    rng = random.Random(20260813)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(MINHASH_K)
    ]


def _md5_base(s):
    """The parity paths' engine-agnostic base hash: 60 bits of md5."""
    return md5_int(s, 15)


def _minhash(sets: DataFrame, base_hash) -> DataFrame:
    """``sets`` with its ``shset`` column replaced by ``sig``: the
    array<bigint> MinHash signature of the shingle set.

    Each shingle is hashed ONCE by ``base_hash`` (xxhash64 in
    production, :func:`_md5_base` on the parity paths) into a
    materialized ``harr`` column, then the K universal-hash
    permutations ``min((a_i * h + b_i) mod p)`` (p Mersenne-31, the
    fixed-seed :func:`_minhash_coeffs`) render as ONE parsed
    expression of K ``array_min(transform(...))`` terms: built as
    Column lambdas they cost ~1 s of py4j round-trips per build.
    ``harr`` is reduced with ``pmod`` (xxhash64 can be negative), so
    every permutation input is non-negative and ``%`` agrees with
    ``pmod`` there.

    The whole signature computation is per-row — NO explode, NO
    shuffle. At 100 TB this is a map-only stage pipelined with the
    scan; the first exchange in an LSH plan is the band-bucket
    group-by, which carries one (band, key, doc_id) row per band per
    doc, never the shingle stream."""
    keep = [c for c in sets.columns if c != "shset"]
    harr = F.transform("shset", lambda s: F.pmod(base_hash(s), F.lit(MERSENNE_P)))
    sig = "array(" + ", ".join(
        f"array_min(transform(harr, h -> ({a} * h + {b}) % {MERSENNE_P}))"
        for a, b in _minhash_coeffs()
    ) + ")"
    return sets.select(*keep, harr.alias("harr")).select(
        *keep, F.expr(sig).alias("sig")
    )


def _band_keys(sig: str):
    """The MINHASH_BANDS band keys of the signature column ``sig``: each
    band's r = K/bands components joined with ',' (the oracles'
    :func:`_band_key_sql`), as one parsed expression."""
    r = MINHASH_K // MINHASH_BANDS
    return F.expr(
        "array(" + ", ".join(
            f"concat_ws(',', CAST(slice({sig}, {i * r + 1}, {r}) AS ARRAY<STRING>))"
            for i in range(MINHASH_BANDS)
        ) + ")"
    )


def _minhash_md5_oracle() -> str:
    perms = ",\n           ".join(
        f"list_min(list_transform(harr, x -> ({a} * x + {b}) % {MERSENNE_P}))"
        for a, b in _minhash_coeffs()
    )
    return f"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shset
      FROM tk WHERE len(tk) >= 3
    ),
    h AS (
      SELECT doc_id,
             list_transform(shset,
               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MERSENNE_P})
               AS harr
      FROM sh
    )
    SELECT doc_id, array_to_string([{perms}], ',') AS sig FROM h
    """


@query("dedup_minhash_md5_parity", oracle=_minhash_md5_oracle())
def dedup_minhash_md5_parity(spark, sf_dir):
    """MinHash signatures with an ENGINE-AGNOSTIC base hash (md5 hex
    prefix → bigint), hash-match graded against a DuckDB oracle that
    recomputes the identical K-permutation signatures in SQL.

    Purpose: the production path (``dedup_minhash_lsh``) uses xxhash64,
    which no other engine reproduces, so it can only be rows-only
    graded; this variant proves the MinHash math itself — shingling,
    base hashing, universal-hash permutations, per-permutation minima —
    value-exact across engines. Both run :func:`_minhash`; only the base
    hash differs (md5 costs ~3× xxhash64, which is why it is the parity
    path, not the production one).

    The signature is emitted as a comma-joined STRING, not
    ``array<bigint>``: the grading driver canonicalizes results via
    pandas ``sort_values``, which cannot hash list cells (graded
    outputs must be scalar-typed on every column)."""
    sigs = _minhash(_doc_shingle_sets(t(spark, sf_dir, "documents")), _md5_base)
    return sigs.select(
        "doc_id", F.concat_ws(",", F.col("sig").cast("array<string>")).alias("sig")
    )


@query("dedup_minhash_lsh", oracle=None)  # engine-specific hashing → rows-only
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: band signatures → candidate buckets →
    exact-Jaccard verification of candidates only.

    The 100 TB path: candidates come from a groupBy on (band, band
    hash) — cost scales with bucket collisions, not n². Each band key
    is hashed to 8 bytes for that shuffle. Verification re-joins only
    candidate pairs. Tests assert recall ≥ 0.9 vs the exact
    `dedup_ngram_jaccard` result at this threshold."""
    sets = _doc_shingle_sets(t(spark, sf_dir, "documents"))
    bands = _minhash(sets, F.xxhash64).select(
        "doc_id",
        F.posexplode(F.transform(_band_keys("sig"), lambda k: F.xxhash64(k))).alias(
            "band", "band_hash"
        ),
    )
    candidates = bucket_pairs(bands, ["band", "band_hash"], "doc_id")
    # Exact verification restricted to candidates: per-doc shingle SETS
    # (bounded by document length, computed per-row with no shuffle)
    # + array_intersect per pair.
    pairs = candidates.join(
        sets.select(F.col("doc_id").alias("a"), F.col("shset").alias("sh_a")), "a"
    ).join(
        sets.select(F.col("doc_id").alias("b"), F.col("shset").alias("sh_b")), "b"
    )
    i = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = i / (F.size("sh_a") + F.size("sh_b") - i)
    return pairs.filter(jacc >= JACCARD_THRESHOLD).select(
        F.col("a").alias("doc_a"),
        F.col("b").alias("doc_b"),
        F.round(jacc, 4).alias("jaccard"),
    )


def simhash_fingerprints(d: DataFrame, base_hash, bits: int) -> DataFrame:
    """(doc_id, simhash): ``bits``-bit SimHash of the token multiset,
    each token hashed by ``base_hash`` (xxhash64 with 64 bits in
    production; :func:`_md5_base` with its 60 bits on the parity path).

    Per bit k: vote = #tokens with bit k set minus #tokens with it
    clear; bit k of the fingerprint = (vote > 0). Formulated as
    explode(token hash) → hash aggregate with one SUM(±1) column per
    bit, which codegen compiles an order of magnitude faster than
    per-row array-filter lambdas (measured 16 s → ~2 s at sf0.01).
    Map-side partial aggregation means the shuffle carries one row per
    doc per partition, not the token stream. The votes and the bit
    pack render as SQL strings — one py4j round-trip each instead of
    ~6 per Column chain."""
    toks = (
        _spread(d)
        .select("doc_id", F.split(F.trim(F.col("text")), "\\s+").alias("toks"))
        .select("doc_id", F.explode("toks").alias("tok"))
        .select("doc_id", base_hash(F.col("tok")).alias("h"))
    )
    votes = [
        F.expr(
            f"sum(CASE WHEN (h & (CAST(1 AS BIGINT) << {k})) != 0 "
            "THEN 1 ELSE -1 END)"
        ).alias(f"v_{k}")
        for k in range(bits)
    ]
    return toks.groupBy("doc_id").agg(*votes).select(
        "doc_id", sign_bits([f"v_{k} > 0" for k in range(bits)]).alias("simhash")
    )


_SIMHASH_MD5_BITS = 60  # md5 15-hex-char prefix → 60 usable bits


def _simhash_md5_oracle() -> str:
    vote = (
        "SUM(CASE WHEN (('0x' || substr(md5(tok), 1, 15))::BIGINT >> {k}) & 1 = 1 "
        "THEN 1 ELSE -1 END)"
    )
    fp = " + ".join(
        f"(CASE WHEN {vote.format(k=k)} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {k})"
        for k in range(_SIMHASH_MD5_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    )
    SELECT doc_id, {fp} AS simhash
    FROM toks GROUP BY doc_id
    """


@query("dedup_simhash_md5_parity", oracle=_simhash_md5_oracle())
def dedup_simhash_md5_parity(spark, sf_dir):
    """SimHash fingerprints with the engine-agnostic md5 base hash
    (60-bit), hash-match graded against a DuckDB oracle recomputing
    the identical per-bit votes in SQL — parity evidence for the
    SimHash mechanism itself (:func:`simhash_fingerprints`, whose
    xxhash64 production path stays rows-only because no other engine
    reproduces xxhash64)."""
    return simhash_fingerprints(
        t(spark, sf_dir, "documents"), _md5_base, _SIMHASH_MD5_BITS
    )


@query("dedup_simhash", oracle=None)  # engine-specific hashing → rows-only
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup: 64-bit fingerprints, banded into 4×16-bit
    chunks (guarantees candidate coverage for Hamming distance ≤ 3),
    verified with bit_count(xor) ≤ 3."""
    d = simhash_fingerprints(t(spark, sf_dir, "documents"), F.xxhash64, 64)
    chunks = d.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", 16 * i)
                    .bitwiseAND(F.lit(0xFFFF).cast("long"))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    # The fingerprint rides along in the bucket members, so Hamming
    # verification needs no re-join.
    pairs = bucket_pairs(
        chunks, ["chunk_idx", "chunk"], F.struct("doc_id", "simhash")
    )
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
            "hamming"
        ),
    ).filter(F.col("hamming") <= 3)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE)
                 / (sqrt(CAST(list_dot_product(a.embedding, a.embedding) AS DOUBLE))
                    * sqrt(CAST(list_dot_product(b.embedding, b.embedding) AS DOUBLE))),
                 4) AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE)
          / (sqrt(CAST(list_dot_product(a.embedding, a.embedding) AS DOUBLE))
             * sqrt(CAST(list_dot_product(b.embedding, b.embedding) AS DOUBLE)))
          >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup: all pairs with cosine ≥ threshold.

    Exact quadratic baseline (fine at this SF; the ANN/LSH variant in
    similarity.py is the scale path). The pair join is an equi-join on
    a 32-way salt (b-side salt = pmod(vec_id, 32), a-side replicated
    32x and explicitly repartitioned on salt — each pair exactly once)
    against the BROADCAST corpus side, instead of a bare theta join:
    the one-row-group input otherwise degenerates the join to a single
    task — measured 41 s → 2.2 s warm at sf0.1. (Explicit numPartitions
    on the repartition so AQE cannot coalesce the ~35 MB shuffle back
    to one task; explicit broadcast(b) because the planner otherwise
    builds on the exploded side and streams the one-row-group side.)
    The per-pair dot keeps the zip_with/aggregate HOF: a flat 64-term
    float-mult-cast chain was measured SLOWER per pair (14 s vs 2.2 s)
    — the per-term float→double casts defeat codegen's advantage,
    unlike the integer flat dot in sim_pairwise_label_stats. Norms are
    per side: one dot per pair, not three."""
    n_salts = 32
    e = t(spark, sf_dir, "embeddings")

    base = e.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.explode(F.array(*[F.lit(s) for s in range(n_salts)])).alias("salt"),
    ).repartition(n_salts, F.col("salt"))
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        F.pmod(F.col("vec_id"), F.lit(n_salts)).cast("int").alias("salt"),
    )
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        a.join(F.broadcast(b), "salt")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine_raw"))
        .filter(F.col("cosine_raw") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cosine_raw", 4).alias("cosine"))
    )


@query("dedup_embedding_lsh", oracle=None)  # bucket set engine-specific
def dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup, LSH-bucketed — the 100 TB path for
    ``dedup_embedding_cosine``.

    Random-hyperplane buckets (shared with sim_ann_lsh) + 1-bit
    multi-probe generate candidate pairs inside buckets only; exact
    cosine verifies candidates, so output pairs ⊆ the exact baseline
    (recall vs it asserted in tests). Candidate generation is a
    band-key groupBy-style self-join — no all-pairs blowup."""
    from caliper_poc_data_etl_spark.queries.similarity import (
        N_HYPERPLANES,
        lsh_bucket_column,
    )

    e = t(spark, sf_dir, "embeddings")

    base = e.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
        lsh_bucket_column("embedding").alias("bucket"),
    )
    # Multi-probe: register each vector under its bucket and the
    # N_HYPERPLANES 1-bit flips; a pair collides if any probe bucket
    # matches the other's home bucket.
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.explode(flip_probes("bucket", N_HYPERPLANES)).alias("probe"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        F.col("bucket").alias("home_b"),
    )
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        a.join(b, (F.col("probe") == F.col("home_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", cos.alias("cosine_raw"))
        .distinct()
        .filter(F.col("cosine_raw") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cosine_raw", 4).alias("cosine"))
    )


CONTAINMENT_THRESHOLD = 0.9

_CONTAINMENT_ORACLE = f"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(tk) - 1),
          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
      FROM tk
      WHERE len(tk) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / sa.n, 4) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / sa.n >= {CONTAINMENT_THRESHOLD}
"""


@query("dedup_ngram_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_ngram_containment(spark, sf_dir):
    """Asymmetric containment dedup: |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.9 —
    catches document A embedded inside a larger B (quote farms,
    boilerplate wrappers, concatenated dumps), which symmetric Jaccard
    misses whenever B is much longer than A. Directed pairs: (a, b)
    and (b, a) score independently.

    Plan shape is ``dedup_ngram_jaccard``'s: per-row shingle sets, one
    shingle-keyed equi-join for intersections, sizes riding the
    group-by keys — quadratic only in co-occurring shingles, the exact
    oracle baseline for a banded variant at 100 TB."""
    d = t(spark, sf_dir, "documents")
    sized = _doc_shingle_sets(d).select(
        "doc_id", "shset", F.size("shset").alias("n")
    )
    sh = sized.select(
        "doc_id", "n", F.explode("shset").alias("shingle")
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        "shingle",
    )
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a")
        .agg(F.count("*").alias("i"))
    )
    containment = F.col("i") / F.col("n_a")
    return (
        inter.filter(containment >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a", "doc_b", F.round(containment, 4).alias("containment")
        )
    )


@query(
    "text_dedup_prefix_key",
    oracle="""
    WITH k AS (
      SELECT doc_id,
             substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                    1, 32) AS pkey
      FROM documents
    )
    SELECT pkey,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper
    FROM k GROUP BY pkey HAVING COUNT(*) > 1
    """,
)
def text_dedup_prefix_key(spark, sf_dir):
    """Prefix-key blocking: normalized 32-char prefix as the blocking
    key, groups with >1 member are near-dup candidate blocks (keeper =
    min doc_id, the engine's standard deterministic-survivor rule).
    The cheapest tier of the dedup ladder — one hash agg, no
    signatures — used as a pre-filter ahead of MinHash/edit-distance
    verification (see fn_string_distance_pack for the verify
    primitive). Whitespace normalization matches the exact-dedup
    normalizer: lower + trim + collapse runs to single spaces."""
    d = t(spark, sf_dir, "documents")
    pkey = F.substring(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, 32
    )
    return (
        d.groupBy(pkey.alias("pkey"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _emb_lsh_candidate_oracle() -> str:
    from caliper_poc_data_etl_spark.queries.similarity import (
        N_HYPERPLANES,
        _hyperplanes,
    )

    planes = " + ".join(
        "(CASE WHEN list_dot_product(qv, "
        f"[{', '.join(str(v) for v in hp)}]) > 0 "
        f"THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
        for i, hp in enumerate(_hyperplanes())
    )
    return f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * 1000))
               AS qv
      FROM embeddings
    ), b AS (
      SELECT vec_id, {planes} AS bucket FROM base
    ), probes AS (
      SELECT vec_id,
             unnest([bucket] || list_transform(range(0, {N_HYPERPLANES}),
                    i -> xor(bucket, CAST(1 << i AS BIGINT)))) AS probe
      FROM b
    )
    SELECT DISTINCT p.vec_id AS vec_a, h.vec_id AS vec_b
    FROM probes p JOIN b h ON p.probe = h.bucket AND p.vec_id < h.vec_id
    """


@query(
    "dedup_embedding_lsh_candidate_parity",
    oracle=_emb_lsh_candidate_oracle(),
)
def dedup_embedding_lsh_candidate_parity(spark, sf_dir):
    """Multi-probe LSH CANDIDATE-PAIR generation made engine-exact and
    hash-match graded — the parity twin for ``dedup_embedding_lsh``.
    The bucket hash itself is proven by ``sim_lsh_bucket_parity``;
    this twin proves the next mechanism up the stack: the 1-bit-flip
    probe expansion and the probe==home collision join produce the
    identical candidate set cross-engine (integer-quantized vectors,
    same hyperplane family, same bit packing). The production path
    adds only the float cosine verification on top, which the
    subset-of-exact pytest covers."""
    from caliper_poc_data_etl_spark.queries.similarity import (
        N_HYPERPLANES,
        lsh_bucket_column,
    )

    e = t(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000).cast("double")
    )
    b = e.select("vec_id", qv.alias("qv")).select(
        "vec_id", lsh_bucket_column("qv").alias("bucket")
    )
    p = b.select(
        F.col("vec_id").alias("vec_a"),
        F.explode(flip_probes("bucket", N_HYPERPLANES)).alias("probe"),
    )
    h = b.select(F.col("vec_id").alias("vec_b"), F.col("bucket").alias("home"))
    return (
        p.join(h, (F.col("probe") == F.col("home")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b")
        .distinct()
    )


def _minhash_est_oracle() -> str:
    perms = ",\n             ".join(
        f"list_min(list_transform(harr, x -> ({a} * x + {b}) % {MERSENNE_P}))"
        for a, b in _minhash_coeffs()
    )
    return f"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shset
      FROM tk WHERE len(tk) >= 3
    ),
    h AS (
      SELECT doc_id,
             list_transform(shset,
               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MERSENNE_P})
               AS harr
      FROM sh
    ),
    sigs AS (SELECT doc_id, [{perms}] AS sig FROM h),
    -- Pair source = the shingle equi-join (cost: Σ per-shingle df²),
    -- the SAME mechanism the Spark side uses — identical result set,
    -- because a pair with zero shared shingles has J = 0 < 0.5. The
    -- earlier all-pairs a.doc_id < b.doc_id self-join with per-pair
    -- list_intersect was ~95% of this entry's sweep cost (the
    -- dedup_prefix_filter_jaccard oracle fix's sibling, VERDICT r10 #6).
    tok AS MATERIALIZED (
      SELECT doc_id, len(shset) AS n, u.s AS shingle
      FROM sh, unnest(shset) AS u(s)
    ),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             MAX(a.n) AS n_a, MAX(b.n) AS n_b, COUNT(*) AS i
      FROM tok a JOIN tok b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    ex AS (
      SELECT doc_a, doc_b, i * 1.0 / (n_a + n_b - i) AS exact_j
      FROM inter
      WHERE i * 1.0 / (n_a + n_b - i) >= 0.5
    )
    SELECT ex.doc_a, ex.doc_b, ROUND(ex.exact_j, 4) AS exact_j,
           ROUND(len(list_filter(range(1, {MINHASH_K} + 1),
                   i -> sa.sig[i] = sb.sig[i])) * 1.0 / {MINHASH_K}, 4)
             AS est_j
    FROM ex
    JOIN sigs sa ON sa.doc_id = ex.doc_a
    JOIN sigs sb ON sb.doc_id = ex.doc_b
    """


@query("dedup_minhash_jaccard_estimate", oracle=_minhash_est_oracle())
def dedup_minhash_jaccard_estimate(spark, sf_dir):
    """MinHash ESTIMATOR accuracy, hash-exact across engines: for
    every document pair with true shingle Jaccard ≥ 0.5, report the
    exact Jaccard next to the MinHash estimate (the fraction of the 32
    md5-family signature components that agree) — the measurement that
    justifies trusting ``dedup_minhash_lsh``'s sketch at 100 TB, made
    into a graded operator. The companion pytest asserts the estimate
    tracks truth within the K=32 binomial error bound.

    The pair source is the shingle equi-join (cost: Σ per-shingle
    df², never n²); signatures ride in from the per-doc map-side
    pipeline and the estimate is a zip_with/filter over the two
    32-vectors. The oracle recomputes the identical md5-based
    signatures in SQL, so est_j — not just exact_j — hash-matches."""
    sets = _doc_shingle_sets(t(spark, sf_dir, "documents"))
    sigs = _minhash(sets, _md5_base)
    sh = sets.select(
        "doc_id", F.size("shset").alias("n"), F.explode("shset").alias("shingle")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count("*").alias("i"))
    )
    jacc = F.col("i") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    pairs = inter.filter(jacc >= 0.5).select(
        "doc_a", "doc_b", F.round(jacc, 4).alias("exact_j")
    )
    est = F.round(
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        / F.lit(MINHASH_K),
        4,
    )
    return (
        pairs.join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", "exact_j", est.alias("est_j"))
    )


@query(
    "dedup_keep_longest",
    oracle=f"""
    WITH pairs AS MATERIALIZED ({_NGRAM_ORACLE}),
    losers AS (
      SELECT DISTINCT CASE
        WHEN da.n_chars < db.n_chars THEN p.doc_a
        WHEN da.n_chars > db.n_chars THEN p.doc_b
        ELSE GREATEST(p.doc_a, p.doc_b)
      END AS doc_id
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    ),
    partner_counts AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_partners FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(pc.n_dup_partners, 0) AS n_dup_partners,
           (l.doc_id IS NULL) AS kept
    FROM documents d
    LEFT JOIN partner_counts pc USING (doc_id)
    LEFT JOIN losers l USING (doc_id)
    """,
)
def dedup_keep_longest(spark, sf_dir):
    """Survivor selection for near-dup pairs — the curation half that
    turns pair DETECTION into corpus EDITS: in every Jaccard ≥ 0.8
    pair the shorter document is dominated (ties break to the lower
    doc_id), and a document dominated by ANY partner is dropped.
    "Keep the longest copy" is the stock web-pipeline heuristic
    (longer extraction ≈ less boilerplate truncation).

    Pairwise domination, deliberately NOT transitive-closure
    clustering: the cluster form (``dedup_cluster_cc`` +
    per-cluster argmax) needs the iterative CC fixed point, while the
    domination rule is two broadcast-sized joins on top of the same
    pair stream — at 100 TB the pair list is the small side by
    orders of magnitude. Both rules are real curation policies; the
    engine declares both."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    len_a = d.select(F.col("doc_id").alias("doc_a"), F.col("n_chars").alias("len_a"))
    len_b = d.select(F.col("doc_id").alias("doc_b"), F.col("n_chars").alias("len_b"))
    loser = (
        F.when(F.col("len_a") < F.col("len_b"), F.col("doc_a"))
        .when(F.col("len_a") > F.col("len_b"), F.col("doc_b"))
        .otherwise(F.greatest("doc_a", "doc_b"))
    )
    losers = (
        pairs.join(len_a, "doc_a")
        .join(len_b, "doc_b")
        .select(loser.alias("doc_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    partners = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_partners"))
    )
    return (
        d.select("doc_id")
        .join(partners, "doc_id", "left")
        .join(losers, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_partners", F.lit(0).cast("long")).alias(
                "n_dup_partners"
            ),
            F.col("dropped").isNull().alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-backed n-gram decontamination (the broadcast-filter scale path)
# ---------------------------------------------------------------------------

_DBL_MOD = 10        # doc_id % 10 == 0 → held-out benchmark docs
_DBL_N = 5           # word n-gram size
_DBL_BITS = 1 << 16
_DBL_K = 7


def _decontam_bloom_oracle() -> str:
    member = ", ".join(
        f"('0x' || substr(md5({i} || ':' || sh), 1, 15))::BIGINT % {_DBL_BITS}"
        for i in range(_DBL_K)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> x <> '') AS tk
      FROM documents
    ), shingles AS (
      SELECT doc_id,
             array_to_string(tk[u.i : u.i + {_DBL_N} - 1], ' ') AS sh
      FROM toks, unnest(range(1, len(tk) - {_DBL_N} + 2)) AS u(i)
      WHERE len(tk) >= {_DBL_N}
    ), bench_sh AS (
      SELECT DISTINCT sh FROM shingles WHERE doc_id % {_DBL_MOD} = 0
    ), bits AS (
      SELECT DISTINCT u.b FROM bench_sh, unnest([{member}]) AS u(b)
    ), corpus_sh AS (
      SELECT doc_id, sh FROM shingles WHERE doc_id % {_DBL_MOD} <> 0
    ), probe AS (
      SELECT c.doc_id, c.sh,
             (SELECT COUNT(*) FROM unnest([{member.replace('sh', 'c.sh')}])
                AS p(b) WHERE b IN (SELECT b FROM bits)) = {_DBL_K}
               AS bloom_hit,
             c.sh IN (SELECT sh FROM bench_sh) AS exact_hit
      FROM corpus_sh c
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_hits,
           CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_hits,
           (SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) > 0) AS flagged
    FROM probe GROUP BY doc_id
    """


@query("decontam_bloom_ngram", oracle=_decontam_bloom_oracle())
def decontam_bloom_ngram(spark, sf_dir):
    """Benchmark decontamination through a Bloom filter — the scale
    path for the n-gram overlap check: the held-out set's word
    5-gram shingles compress into a 65,536-bit/7-hash filter
    (kilobytes, broadcast to every scan task) instead of a shingle
    JOIN against the benchmark (which shuffles the corpus's full
    shingle stream). Every corpus shingle probes the filter; exact
    hits ride alongside so the filter's false positives — the
    over-removal cost of the approximation — are graded, not guessed.
    The md5 hash family makes every bit position engine-exact, so
    even the FPs hash-match.

    Plan: benchmark shingles explode → 7-bit-position explode →
    distinct = the filter (broadcast); corpus shingles explode
    map-side and aggregate per (doc, shingle) verdict without the
    corpus ever shuffling by shingle. At 100 TB this is the only
    decontamination shape that works — the reason GPT-3's paper
    describes exactly this filter.

    The corpus repartitions by doc_id BEFORE the shingle explode
    (the winnowing/BPE-trainer lesson): the driver fixture is one
    small parquet file, so the explode and its 7 md5 probes per
    shingle otherwise run on ONE task; the explode is the
    row-expander, so parallelism is decided on post-explode volume."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = t(spark, sf_dir, "documents").repartition(n_part, "doc_id")
    tk = F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda x: x != "")
    toks = d.select("doc_id", tk.alias("tk")).filter(F.size("tk") >= _DBL_N)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - _DBL_N + 1),
                lambda i: F.array_join(F.slice("tk", i, _DBL_N), " "),
            )
        ).alias("sh"),
    )

    def positions(col):
        return F.array(
            *[
                md5_int(F.concat(F.lit(str(i)), F.lit(":"), col), 15) % _DBL_BITS
                for i in range(_DBL_K)
            ]
        )

    bench_sh = sh.filter(F.col("doc_id") % _DBL_MOD == 0).select("sh").distinct()
    bits = (
        bench_sh.select(F.explode(positions(F.col("sh"))).alias("b"))
        .distinct()
        .withColumn("set_bit", F.lit(True))
    )
    corpus_sh = sh.filter(F.col("doc_id") % _DBL_MOD != 0)
    probed = (
        corpus_sh.select("doc_id", "sh", F.explode(positions(F.col("sh"))).alias("b"))
        .join(F.broadcast(bits), "b", "left")
        .groupBy("doc_id", "sh")
        .agg(
            (F.sum(F.col("set_bit").isNotNull().cast("int")) == _DBL_K).alias(
                "bloom_hit"
            )
        )
    )
    exact = bench_sh.withColumn("exact_bit", F.lit(True))
    verdicts = probed.join(F.broadcast(exact), "sh", "left").select(
        "doc_id",
        "bloom_hit",
        F.col("exact_bit").isNotNull().alias("exact_hit"),
    )
    return verdicts.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.col("bloom_hit").cast("int")).cast("long").alias("n_bloom_hits"),
        F.sum(F.col("exact_hit").cast("int")).cast("long").alias("n_exact_hits"),
        (F.sum(F.col("bloom_hit").cast("int")) > 0).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Cross-source priority dedup (survivor = highest-priority source)
# ---------------------------------------------------------------------------

_XSD_PREFIX = 40


@query(
    "dedup_cross_source_priority",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source,
             CAST(substr(source, 4) AS INT) AS prio,
             substr(lower(trim(text)), 1, {_XSD_PREFIX}) AS pk
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, prio, pk,
             ROW_NUMBER() OVER (PARTITION BY pk
                                ORDER BY prio, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY pk) AS n_copies,
             COUNT(DISTINCT source) OVER (PARTITION BY pk) AS n_sources
      FROM keyed
    )
    SELECT pk, doc_id AS kept_doc_id, source AS kept_source,
           CAST(n_copies AS BIGINT) AS n_copies,
           CAST(n_sources AS BIGINT) AS n_sources
    FROM ranked WHERE rn = 1 AND n_copies > 1
    """,
)
def dedup_cross_source_priority(spark, sf_dir):
    """Cross-source dedup with source-priority survivorship: when the
    same content arrives from multiple feeds, keep the copy from the
    most trusted source (curated > crawled is the standard rule) —
    the policy layer that plain keep-first dedup
    (``dedup_exact_normalized``) lacks. Duplicate groups key on the
    normalized {_XSD_PREFIX}-char prefix; the survivor is the
    (priority, doc_id) argmin, and each kept row reports how many
    copies and distinct sources it beat — the provenance audit trail.

    The survivor is a per-key ``topk`` (limited before its shuffle);
    the copy and source counts are one aggregate on the same key,
    joined back. Output only the groups where dedup actually fired,
    so the table reads as an action log."""
    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "source",
        F.substring("source", 4, 10).cast("int").alias("prio"),
        F.substring(F.lower(F.trim("text")), 1, _XSD_PREFIX).alias("pk"),
    )
    groups = (
        keyed.groupBy(F.col("pk").alias("g_pk"))
        .agg(
            F.count("*").alias("n_copies"),
            F.size(F.collect_set("source")).alias("n_sources"),
        )
        .filter(F.col("n_copies") > 1)
    )
    # Null-safe: a NULL prefix is one duplicate group, as in the window form.
    return (
        topk(keyed, ["pk"], ["prio", "doc_id"], 1)
        .join(groups, F.col("pk").eqNullSafe(F.col("g_pk")))
        .select(
            "pk",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("source").alias("kept_source"),
            F.col("n_copies").cast("long").alias("n_copies"),
            F.col("n_sources").cast("long").alias("n_sources"),
        )
    )


# ---------------------------------------------------------------------------
# Web-crawl URL canonicalization dedup
# ---------------------------------------------------------------------------

# Both sides synthesize the same messy URL per event (mixed-case hosts,
# tracking params, trailing slashes, fragments), then canonicalize and
# dedupe — the construction is part of the declared semantics so the
# canonicalizer is exercised on every variation class.
_URL_SYNTH_SQL = """
  'https://'
  || CASE WHEN event_id % 3 = 0 THEN 'WWW.Example.COM'
          WHEN event_id % 3 = 1 THEN 'www.example.com'
          ELSE 'Example.Com' END
  || '/' || event_type || '/item' || CAST(user_id % 50 AS STRING)
  || CASE WHEN event_id % 5 = 0 THEN '/' ELSE '' END
  || CASE WHEN event_id % 4 = 0
          THEN '?utm_source=feed&id=' || CAST(user_id % 100 AS STRING)
          WHEN event_id % 4 = 1
          THEN '?id=' || CAST(user_id % 100 AS STRING) || '&utm_campaign=x'
          WHEN event_id % 4 = 2
          THEN '?id=' || CAST(user_id % 100 AS STRING)
          ELSE '' END
  || CASE WHEN event_id % 7 = 0
          THEN '#sec' || CAST(event_id % 3 AS STRING) ELSE '' END
"""


@query(
    "dedup_url_canonical",
    oracle=f"""
    WITH raw AS (
      SELECT event_id, ({_URL_SYNTH_SQL}) AS url FROM events
    ),
    parts AS (
      SELECT event_id,
             lower(regexp_extract(url, '^https://([^/?#]+)', 1)) AS host,
             regexp_replace(
               regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1),
               '/$', '') AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS qs
      FROM raw
    ),
    canon AS (
      SELECT event_id,
             'https://' || host || path ||
             CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url
      FROM (
        -- array_to_string([]) is NULL in DuckDB (Spark's array_join
        -- gives ''), so the empty-params case needs a COALESCE.
        SELECT event_id, host, path,
               COALESCE(array_to_string(
                 list_sort(list_filter(string_split(qs, '&'),
                                       p -> NOT starts_with(p, 'utm_')
                                            AND p <> '')),
                 '&'), '') AS cq
        FROM parts)
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_dupes,
           CAST(MIN(event_id) AS BIGINT) AS first_event
    FROM canon GROUP BY canonical_url
    """,
)
def dedup_url_canonical(spark, sf_dir):
    """Web-crawl URL canonicalization + dedup — the first stage of
    every crawl-based training-data pipeline (Common Crawl curation):
    lowercase the host, strip the fragment, drop tracking parameters
    (utm_*), sort the surviving query params, and trim trailing
    slashes, then dedupe on the canonical form. The messy input URLs
    are synthesized deterministically from events (mixed-case hosts,
    utm params in both positions, trailing slashes, fragments) so
    every canonicalization rule is exercised and hash-graded. Scale
    shape: pure per-row Column/regexp work (zero shuffle) followed by
    one partial-aggregating groupBy on the canonical key — the exact
    ``dedup_exact_normalized`` plan with a richer normalizer."""
    e = t(spark, sf_dir, "events")
    url = F.expr(_URL_SYNTH_SQL)
    raw = e.select("event_id", url.alias("url"))
    host = F.lower(F.regexp_extract("url", r"^https://([^/?#]+)", 1))
    path = F.regexp_replace(
        F.regexp_extract("url", r"^https://[^/?#]+([^?#]*)", 1), r"/$", ""
    )
    qs = F.regexp_extract("url", r"\?([^#]*)", 1)
    parts = raw.select(
        "event_id", host.alias("host"), path.alias("path"), qs.alias("qs")
    )
    cq = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.col("qs"), "&"),
                lambda p: (~p.startswith("utm_")) & (p != ""),
            )
        ),
        "&",
    )
    canon = parts.select(
        "event_id",
        F.concat(
            F.lit("https://"),
            F.col("host"),
            F.col("path"),
            F.when(cq == "", F.lit("")).otherwise(F.concat(F.lit("?"), cq)),
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_dupes"),
        F.min("event_id").cast("long").alias("first_event"),
    )


# ---------------------------------------------------------------------------
# Token-sort dedup (bag-of-words canonical key)
# ---------------------------------------------------------------------------


@query(
    "dedup_token_sort",
    oracle="""
    SELECT md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' '))
             AS norm_key,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_variants
    FROM documents
    GROUP BY 1
    """,
)
def dedup_token_sort(spark, sf_dir):
    """Token-sort dedup (the fuzzywuzzy token_sort_ratio=100 class):
    the canonical key is the document's SORTED lowercase token bag, so
    word-order shuffles — the cheapest paraphrase/spam transformation,
    invisible to ``dedup_exact_normalized``'s character normalizer —
    collapse into one group. n_exact_variants counts how many distinct
    raw texts share the bag (n_copies > n_exact_variants = byte-dup;
    n_exact_variants > 1 = true reorderings). Scale shape: the key is
    pure per-row Column work (split → sort → join → md5, no shuffle),
    then one partial-aggregating groupBy — the exact-dedup plan with a
    permutation-invariant key."""
    d = t(spark, sf_dir, "documents")
    key = F.md5(
        F.array_join(F.array_sort(F.split(F.lower(F.col("text")), " ")), " ")
    )
    return d.groupBy(key.alias("norm_key")).agg(
        F.min("doc_id").cast("long").alias("keeper_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_exact_variants"),
    )


# ---------------------------------------------------------------------------
# MinHash-LSH recall vs exact Jaccard — the dedup family's graded curve
# ---------------------------------------------------------------------------

# Mean recall floor for HIGH-SIMILARITY pairs (exact Jaccard >= 0.8,
# the dedup design threshold): with b=16 bands of r=2 rows the
# analytic candidate probability at j=0.8 is 1-(1-0.64)^16 ≈ 1-9e-8,
# so the md5-signature pipeline must catch essentially every
# >=0.8 pair; measured 1000 milli at sf0.001/0.01/0.1.
LSH_RECALL_FLOOR_MILLI = 950


def _band_key_sql() -> str:
    """Band bucket key rendered from the SAME r = K/bands constants
    the Spark side derives — never hardcode the slice width (if
    MINHASH_K changes, a literal `sig[2*b+…]` would silently band
    wrongly on the oracle side only)."""
    r = MINHASH_K // MINHASH_BANDS
    return " || ',' || ".join(
        f"CAST(sig[{r} * u.b + {j + 1}] AS VARCHAR)" for j in range(r)
    )


def _minhash_recall_oracle() -> str:
    perms = ",\n               ".join(
        f"list_min(list_transform(harr, x -> ({a} * x + {b}) % {MERSENNE_P}))"
        for a, b in _minhash_coeffs()
    )
    return f"""
    WITH reps AS MATERIALIZED (
      SELECT MIN(doc_id) AS rep, text, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents
      WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
      GROUP BY text
    ),
    sh AS MATERIALIZED (
      SELECT rep, c,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shset
      FROM (SELECT rep, c,
                   string_split_regex(trim(text), '\\s+') AS tk
            FROM reps)
    ),
    sigs AS MATERIALIZED (
      SELECT rep, [{perms}] AS sig
      FROM (SELECT rep,
                   list_transform(shset,
                     s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                          % {MERSENNE_P}) AS harr
            FROM sh)
    ),
    bands AS (
      SELECT rep, u.b AS band,
             {_band_key_sql()} AS bkey
      FROM sigs, unnest(range(0, {MINHASH_BANDS})) AS u(b)
    ),
    cand AS (
      SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.rep < b.rep
    ),
    ex AS (SELECT rep, unnest(shset) AS shingle FROM sh),
    sizes AS (SELECT rep, c, len(shset) AS n FROM sh),
    cross_pairs AS (
      SELECT rep_a, rep_b, (i * 10) // u AS decile, w FROM (
        SELECT a.rep AS rep_a, b.rep AS rep_b, COUNT(*) AS i,
               sa.n + sb.n - COUNT(*) AS u, sa.c * sb.c AS w
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.rep < b.rep
        JOIN sizes sa ON sa.rep = a.rep
        JOIN sizes sb ON sb.rep = b.rep
        GROUP BY 1, 2, sa.n, sb.n, sa.c, sb.c
      ) WHERE (i * 10) // u >= 5
    ),
    hits AS (
      SELECT t.decile, t.w AS n_true,
             CASE WHEN cd.rep_a IS NULL THEN 0 ELSE t.w END AS n_caught
      FROM cross_pairs t LEFT JOIN cand cd
        ON cd.rep_a = t.rep_a AND cd.rep_b = t.rep_b
      UNION ALL
      SELECT 10 AS decile, c * (c - 1) // 2 AS n_true,
             c * (c - 1) // 2 AS n_caught
      FROM sizes WHERE c >= 2
    ),
    curve AS (
      SELECT decile, SUM(n_true) AS n_true, SUM(n_caught) AS n_caught
      FROM hits GROUP BY decile
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_caught AS BIGINT) AS n_caught,
           CAST((n_caught * 1000) // n_true AS BIGINT) AS recall_milli,
           CAST(SUM(CASE WHEN decile >= 8 THEN n_caught ELSE 0 END) OVER ()
                * 1000
                // SUM(CASE WHEN decile >= 8 THEN n_true ELSE 0 END) OVER ()
                AS BIGINT) AS hi_recall_milli,
           SUM(CASE WHEN decile >= 8 THEN n_caught ELSE 0 END) OVER () * 1000
             // SUM(CASE WHEN decile >= 8 THEN n_true ELSE 0 END) OVER ()
             >= {LSH_RECALL_FLOOR_MILLI} AS meets_floor
    FROM curve
    """


@query("dedup_minhash_recall_vs_exact", oracle=_minhash_recall_oracle())
def dedup_minhash_recall_vs_exact(spark, sf_dir):
    """MinHash-LSH recall-vs-exact CURVE — the dedup family's graded
    quality evidence (``sim_ivfpq_recall_vs_exact``'s sibling; until
    now the LSH recall claim lived only in pytest). Ground truth is
    every pair with exact shingle Jaccard ≥ 0.5, bucketed by integer
    decile (i·10) div (union size) — exact on both engines, no double
    ever compared. Candidates come from the md5-parity MinHash
    signatures (the ``dedup_minhash_md5_parity`` math: same shingles,
    same fixed-seed universal-hash family) banded into
    {MINHASH_BANDS} bands of r={MINHASH_K}//{MINHASH_BANDS}; a band's
    bucket key is the raw signature slice itself (the production path
    xxhash64-compresses the slice to a 64-bit key — identical
    semantics minus a negligible collision probability, and xxhash64
    is not reproducible cross-engine). The output is the LSH S-curve:
    per-decile recall plus the high-similarity (≥0.8, the design
    threshold) aggregate pinned against LSH_RECALL_FLOOR_MILLI —
    analytically 1-(1-j^r)^b ≈ 1-9e-8 at j=0.8. Scale shape: EXACT
    DUPLICATES ARE COLLAPSED FIRST — documents group by text into
    (representative, multiplicity c) and every downstream stage runs
    on distinct texts only, with pair counts expanded algebraically
    (cross-text pairs weigh cₐ·c_b; within-text pairs are C(c,2) at
    decile 10, always caught since identical texts have identical
    signatures) — the curve is EXACTLY the naive all-documents curve
    (pinned against the naive pure-Python replica in pytest) but a
    corpus that is 100 copies of itself costs the same as its
    distinct core instead of 10,000× (the first K=100 soak of the
    naive form filled the host disk on the 24.75M-identical-pair
    truth join; production exact-hash dedup before MinHash is this
    same move). Signatures are map-only per distinct text; candidates
    come from the banded groupBy (Σ bucket², never n²); the exact-
    truth side over distinct texts is the GRADING query, run on a
    monitoring sample in production exactly like
    ``er_blocking_quality_report``'s all-pairs truth. At 100 TB the
    text groupBy would key on md5(text) rather than the raw string —
    identical semantics, 32-byte shuffle keys."""
    d = t(spark, sf_dir, "documents")
    reps = (
        d.filter(F.size(F.split(F.trim(F.col("text")), "\\s+")) >= 3)
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
    )
    # Materialize the distinct-text core: the shingle branch and the
    # multiplicity join both consume `reps`, and the signature, truth-
    # explode, and sizes branches all consume `sets` — without
    # persistence each branch re-ran the full corpus scan + collapse
    # (plan showed scans=3; that recomputation was the whole 100×-data
    # soak growth, since everything downstream is distinct-core-sized).
    # Persisting is the staged-materialization a production dedup
    # pipeline does after exact-hash collapse; the footprint is the
    # distinct core (~5 MB here), never the corpus.
    reps = reps.persist()
    sets = _doc_shingle_sets(reps.select("doc_id", "text")).join(
        reps.select("doc_id", "c"), "doc_id"
    ).persist()
    bands = _minhash(sets, _md5_base).select(
        "doc_id", F.posexplode(_band_keys("sig")).alias("band", "bkey")
    )
    cand = bucket_pairs(bands, ["band", "bkey"], "doc_id").select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), F.lit(1).alias("hit")
    )
    ex = sets.select("doc_id", F.explode("shset").alias("shingle"))
    sizes = sets.select("doc_id", F.size("shset").alias("n"), "c")
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    cross_pairs = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n").alias("na"),
                F.col("c").alias("ca"),
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n").alias("nb"),
                F.col("c").alias("cb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("(i * 10) div (na + nb - i)").alias("decile"),
            (F.col("ca") * F.col("cb")).alias("w"),
        )
        .filter(F.col("decile") >= 5)
    )
    hits = cross_pairs.join(cand, ["doc_a", "doc_b"], "left").select(
        "decile",
        F.col("w").alias("n_true"),
        F.when(F.col("hit").isNotNull(), F.col("w"))
        .otherwise(F.lit(0))
        .alias("n_caught"),
    ).unionByName(
        sizes.filter(F.col("c") >= 2).select(
            F.lit(10).alias("decile"),
            F.expr("c * (c - 1) div 2").alias("n_true"),
            F.expr("c * (c - 1) div 2").alias("n_caught"),
        )
    )
    curve = hits.groupBy("decile").agg(
        F.sum("n_true").alias("n_true"), F.sum("n_caught").alias("n_caught")
    )
    hi_recall = F.expr(
        "sum(case when decile >= 8 then n_caught else 0 end) over () * 1000 "
        "div sum(case when decile >= 8 then n_true else 0 end) over ()"
    )
    return curve.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n_true").cast("long").alias("n_true"),
        F.col("n_caught").cast("long").alias("n_caught"),
        F.expr("(n_caught * 1000) div n_true").cast("long").alias(
            "recall_milli"
        ),
        hi_recall.cast("long").alias("hi_recall_milli"),
        (hi_recall >= LSH_RECALL_FLOOR_MILLI).alias("meets_floor"),
    )


# ---------------------------------------------------------------------------
# Cross-corpus fuzzy decontamination via MinHash-LSH
# ---------------------------------------------------------------------------

DECONTAM_EVAL_MOD = 31  # ~3% deterministic held-out eval sample
DECONTAM_JACC_MILLI = 500  # recall-oriented: looser than dedup's 0.8


def _decontam_minhash_oracle() -> str:
    perms = ",\n               ".join(
        f"list_min(list_transform(harr, x -> ({a} * x + {b}) % {MERSENNE_P}))"
        for a, b in _minhash_coeffs()
    )
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id, doc_id % {DECONTAM_EVAL_MOD} = 0 AS is_eval,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shset
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
            FROM documents)
      WHERE len(tk) >= 3
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id, is_eval, [{perms}] AS sig
      FROM (SELECT doc_id, is_eval,
                   list_transform(shset,
                     s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                          % {MERSENNE_P}) AS harr
            FROM sh)
    ),
    bands AS (
      SELECT doc_id, is_eval, u.b AS band,
             {_band_key_sql()} AS bkey
      FROM sigs, unnest(range(0, {MINHASH_BANDS})) AS u(b)
    ),
    cand AS (
      SELECT DISTINCT tr.doc_id AS train_id, ev.doc_id AS eval_id
      FROM bands tr JOIN bands ev
        ON tr.band = ev.band AND tr.bkey = ev.bkey
       AND NOT tr.is_eval AND ev.is_eval
    ),
    verified AS (
      SELECT c.train_id, c.eval_id,
             (len(list_intersect(a.shset, b.shset)) * 1000)
               // (len(a.shset) + len(b.shset)
                   - len(list_intersect(a.shset, b.shset))) AS jacc_milli
      FROM cand c
      JOIN sh a ON a.doc_id = c.train_id
      JOIN sh b ON b.doc_id = c.eval_id
    ),
    flagged AS (
      SELECT train_id, eval_id, jacc_milli,
             ROW_NUMBER() OVER (PARTITION BY train_id
                                ORDER BY jacc_milli DESC, eval_id) AS rk,
             COUNT(*) OVER (PARTITION BY train_id) AS n_eval_matches
      FROM verified WHERE jacc_milli >= {DECONTAM_JACC_MILLI}
    )
    SELECT train_id AS doc_id,
           CAST(n_eval_matches AS BIGINT) AS n_eval_matches,
           eval_id AS best_eval_id,
           CAST(jacc_milli AS BIGINT) AS best_jacc_milli
    FROM flagged WHERE rk = 1
    """


@query("decontam_minhash_crosscorpus", oracle=_decontam_minhash_oracle())
def decontam_minhash_crosscorpus(spark, sf_dir):
    """Cross-corpus FUZZY decontamination — the near-dup variant the
    decontamination pack lacked (``decontam_ngram_overlap`` /
    ``decontam_exact_substring`` / ``decontam_bloom_ngram`` all catch
    verbatim or n-gram-exact leakage; paraphrased eval contamination
    needs MinHash): flag every training document whose md5-parity
    MinHash signature shares a band with any held-out eval document
    (doc_id % {DECONTAM_EVAL_MOD} = 0, a deterministic ~3% sample
    standing in for the eval suite) AND whose verified exact shingle
    Jaccard against that eval doc is ≥ {DECONTAM_JACC_MILLI}/1000 —
    the looser, recall-oriented threshold decontamination wants (a
    half-overlapping doc leaks; dedup's 0.8 would miss it). Output
    per flagged train doc: match count, best-matching eval doc
    (highest Jaccard, ties to the smallest id), and its exact
    integer-milli Jaccard. Scale shape: signatures map-only per doc;
    the candidate step is a band-key EQUI-join where the eval side is
    eval-suite-sized (broadcastable at any corpus scale); exact
    verification runs on candidates only (array_intersect on the two
    bounded shingle sets), never all train × eval pairs."""
    d = t(spark, sf_dir, "documents")
    flagged_side = F.col("doc_id") % DECONTAM_EVAL_MOD == 0
    sets = _doc_shingle_sets(d).withColumn("is_eval", flagged_side)
    bands = _minhash(sets, _md5_base).select(
        "doc_id", "is_eval", F.posexplode(_band_keys("sig")).alias("band", "bkey")
    )
    ev = bands.filter(F.col("is_eval")).select(
        F.col("doc_id").alias("eval_id"), "band", "bkey"
    )
    tr = bands.filter(~F.col("is_eval")).select(
        F.col("doc_id").alias("train_id"), "band", "bkey"
    )
    cand = (
        tr.join(F.broadcast(ev), ["band", "bkey"])
        .select("train_id", "eval_id")
        .distinct()
    )
    sh_train = sets.select(
        F.col("doc_id").alias("train_id"), F.col("shset").alias("sh_a")
    )
    sh_eval = sets.select(
        F.col("doc_id").alias("eval_id"), F.col("shset").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = (
        cand.join(sh_train, "train_id")
        .join(F.broadcast(sh_eval), "eval_id")
        .select(
            "train_id",
            "eval_id",
            F.expr(
                "(size(array_intersect(sh_a, sh_b)) * 1000) div "
                "(size(sh_a) + size(sh_b) "
                "- size(array_intersect(sh_a, sh_b)))"
            ).alias("jacc_milli"),
        )
        .filter(F.col("jacc_milli") >= DECONTAM_JACC_MILLI)
    )
    # One aggregate scores each pair once: the match count and the
    # argmax, which breaks Jaccard ties to the smallest eval id.
    return (
        verified.groupBy("train_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.max(F.struct("jacc_milli", (-F.col("eval_id")).alias("neg_id"))).alias("best"),
        )
        .select(
            F.col("train_id").alias("doc_id"),
            F.col("n_eval_matches").cast("long").alias("n_eval_matches"),
            (-F.col("best.neg_id")).alias("best_eval_id"),
            F.col("best.jacc_milli").cast("long").alias("best_jacc_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic cross-corpus decontamination (embedding cosine)
# ---------------------------------------------------------------------------

# Same eval split convention as decontam_minhash_crosscorpus: a
# deterministic held-out sample standing in for the
# eval suite. vec_id % 10 = 0 keeps the eval side eval-suite-sized
# (10% here; a real eval suite is a fixed few thousand rows at any
# corpus scale).
DECONTAM_EVAL_VEC_MOD = 10
# Cosine threshold for "semantically the same item". Aligned with
# dedup.COSINE_DUP_THRESHOLD (0.4) — on this synthetic corpus cross
# pairs top out ~0.53, so 0.40 flags the genuinely-nearest pairs at
# every SF while staying semantically "near-dup", and decontamination
# wants the looser, recall-oriented cut.
DECONTAM_COS_THRESHOLD = 0.40


@query(
    "decontam_embedding_cosine",
    oracle=f"""
    WITH ev AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {DECONTAM_EVAL_VEC_MOD} = 0
    ),
    tr AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {DECONTAM_EVAL_VEC_MOD} <> 0
    ),
    scored AS (
      SELECT tr.vec_id AS train_id, ev.vec_id AS eval_id,
             CAST(list_dot_product(tr.embedding, ev.embedding) AS DOUBLE)
             / (sqrt(CAST(list_dot_product(tr.embedding, tr.embedding) AS DOUBLE))
                * sqrt(CAST(list_dot_product(ev.embedding, ev.embedding) AS DOUBLE)))
               AS cosine
      FROM tr, ev
    ),
    flagged AS (
      SELECT train_id, eval_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY train_id
                                ORDER BY cosine DESC, eval_id) AS rk,
             COUNT(*) OVER (PARTITION BY train_id) AS n_eval_matches
      FROM scored WHERE cosine >= {DECONTAM_COS_THRESHOLD}
    )
    SELECT train_id, CAST(n_eval_matches AS BIGINT) AS n_eval_matches,
           eval_id AS best_eval_id,
           ROUND(cosine, 4) AS best_cosine
    FROM flagged WHERE rk = 1
    """,
)
def decontam_embedding_cosine(spark, sf_dir):
    """SEMANTIC cross-corpus decontamination — the embedding-space
    member of the decontamination pack: ``decontam_exact_substring`` /
    ``decontam_ngram_overlap`` / ``decontam_bloom_ngram`` catch
    verbatim and n-gram leakage, ``decontam_minhash_crosscorpus``
    catches paraphrase with shared shingles; an eval item REWRITTEN in
    different words (translated, summarized, templated) shares neither
    and only embedding similarity finds it. Flag every training vector
    whose cosine against any held-out eval vector (vec_id %
    {DECONTAM_EVAL_VEC_MOD} = 0) is >= {DECONTAM_COS_THRESHOLD};
    output match count, best-matching eval id (ties to smallest id)
    and its cosine — the same report shape as the MinHash variant.

    Scale shape: brute-force corpus x eval-suite scoring where the
    EVAL side is broadcast (an eval suite is a fixed few-thousand rows
    at any corpus scale), so the NLJ is |corpus| x |eval| — linear in
    the corpus with a constant eval factor, map-only, no shuffle of
    the big side (the sanctioned ``sim_cosine_topk`` broadcast shape,
    whitelisted in plan_audit). The per-train argmax and the match
    count are one aggregate over the post-threshold FLAGGED set. The
    LSH-bucketed path for a larger eval side exists in-family
    (``dedup_embedding_lsh``). Dot
    products via zip_with + fold — JVM-side, no UDF; float parity per
    the ``dedup_embedding_cosine`` recipe (identical IEEE expression
    shape both engines).

    RAW-FLOAT FORM ACCEPTED EXPLICITLY: the 0.40 threshold
    and ROUND(...,4) compare raw-double cosines whose summation order
    could in principle diverge between DuckDB's list_dot_product and
    Spark's sequential fold — the ulp class that flipped the JL op's
    gate (similarity._jl_signs). It is kept raw-float HERE deliberately,
    to stay twinned with ``dedup_embedding_cosine`` (the family's
    deferred-green anchor, same expression shape): both engines sum
    left-to-right over the same order, the fixtures sit far from the
    threshold, and the boundary-safe integer recipe exists in-family
    (``embed_jl_projection_parity``'s quantize-then-score) for any
    corpus where the margin shrinks. If this op's gate ever flips,
    port BOTH embedding-cosine ops to the integer recipe together
    rather than letting the twins drift."""
    e = t(spark, sf_dir, "embeddings")

    is_eval = F.col("vec_id") % DECONTAM_EVAL_VEC_MOD == 0
    base = e.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    tr = base.filter(~is_eval).select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("emb_t"),
        F.col("norm").alias("norm_t"),
    )
    ev = base.filter(is_eval).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("emb_e"),
        F.col("norm").alias("norm_e"),
    )
    cos = dot(F.col("emb_t"), F.col("emb_e")) / (F.col("norm_t") * F.col("norm_e"))
    scored = (
        tr.join(F.broadcast(ev), F.lit(True))
        .select("train_id", "eval_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= DECONTAM_COS_THRESHOLD)
    )
    # One aggregate scores each pair once: the match count and the
    # argmax, which breaks cosine ties to the smallest eval id.
    return (
        scored.groupBy("train_id")
        .agg(
            F.count("*").alias("n_eval_matches"),
            F.max(F.struct("cosine", (-F.col("eval_id")).alias("neg_id"))).alias("best"),
        )
        .select(
            "train_id",
            F.col("n_eval_matches").cast("long").alias("n_eval_matches"),
            (-F.col("best.neg_id")).alias("best_eval_id"),
            F.round("best.cosine", 4).alias("best_cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-lite)
# ---------------------------------------------------------------------------

PF_JACC_MILLI = 500  # shingle-set Jaccard >= 0.5


@query(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
    -- Prefix-filtered oracle (same result set as all-pairs BY THE
    -- PPJOIN THEOREM, not by luck: prefix filtering is lossless at
    -- the threshold, and the exact-verify WHERE clause below is the
    -- identical Jaccard predicate the all-pairs form applied — the
    -- candidate set is a superset of the qualifying pairs, the
    -- verify filter reduces it to exactly them. The earlier naive
    -- a.doc_id < b.doc_id self-join was ~95% of the sf0.1 sweep cost
    -- of this entry, VERDICT r10 #6; pytest still pins equality vs
    -- the in-test naive all-pairs form).
    WITH sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ts
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents)
      WHERE len(w) >= 3
    ),
    tok AS MATERIALIZED (
      SELECT doc_id, u.tk FROM sh, unnest(ts) AS u(tk)
    ),
    df AS MATERIALIZED (
      SELECT tk, COUNT(*) AS df FROM tok GROUP BY tk
    ),
    ranked AS (
      SELECT t.doc_id, t.tk,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY d.df, t.tk) AS rn,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS sz
      FROM tok t JOIN df d USING (tk)
    ),
    pref AS MATERIALIZED (
      -- rarest-first prefix: first |x| - ceil(t|x|) + 1 shingles
      -- (t = 1/2: ceil(|x|/2) = (|x|+1) // 2)
      SELECT doc_id, tk FROM ranked
      WHERE rn <= sz - (sz + 1) // 2 + 1
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b
        ON a.tk = b.tk AND a.doc_id < b.doc_id
    ),
    -- |intersection| as a COUNT over the already-materialized token
    -- table instead of list_intersect per candidate pair: ts is
    -- list_distinct by construction, so the per-pair match count IS
    -- the intersection size — result-identical (re-proven row-for-row
    -- at sf0.1 before the swap), and the per-pair array intersections
    -- were ~95% of this oracle's sweep wall (measured 35.7 s -> 5.1 s
    -- at sf0.1; VERDICT r12 #2).
    inter AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.doc_a
      JOIN tok tb ON tb.doc_id = c.doc_b AND tb.tk = ta.tk
      GROUP BY 1, 2
    ),
    sz AS MATERIALIZED (SELECT doc_id, len(ts) AS l FROM sh)
    SELECT i.doc_a, i.doc_b,
           CAST((i.i * 1000) // (za.l + zb.l - i.i) AS BIGINT) AS jacc_milli
    FROM inter i
    JOIN sz za ON za.doc_id = i.doc_a
    JOIN sz zb ON zb.doc_id = i.doc_b
    WHERE (i.i * 1000) // (za.l + zb.l - i.i) >= {PF_JACC_MILLI}
    """,
)
def dedup_prefix_filter_jaccard(spark, sf_dir):
    """Set-similarity join via PPJoin-style PREFIX FILTERING (Xiao et
    al. 2008) over the family's 3-gram shingle sets — the LOSSLESS
    scalable similarity join: order each document's shingles
    rarest-first (global df ascending), index only the first
    |x| - ceil(t*|x|) + 1, and two documents can reach Jaccard >= t
    ONLY if their prefixes share a shingle (pigeonhole: a pair with
    disjoint prefixes has fewer than ceil(t*|x|) common elements).
    Candidates form per PREFIX SHINGLE (a plain equi-join), exact
    Jaccard verifies them, and — unlike the MinHash-LSH family —
    recall at the threshold is 100% BY CONSTRUCTION: the naive
    all-pairs oracle IS the semantics (equality pinned in pytest; the
    probabilistic recall curve ``dedup_minhash_recall_vs_exact``
    measures is exactly what prefix filtering eliminates, at the cost
    of exact-verify work LSH's banding avoids).

    Scale shape: one scan -> shingle df (map-side-combined groupBy) ->
    rarest-first prefix explode (prefix = half the set at t=0.5,
    shrinking as t grows) -> candidate equi-join on the shingle key
    (cost Σ df_prefix² over PREFIX occurrences only — rarest-first
    ordering keeps common shingles out of prefixes, the PPJoin trick)
    -> exact verify on candidates only. The candidate join and its
    dedup carry BARE (doc_a, doc_b) id pairs — the shingle-set arrays
    are joined back exactly once per surviving deduped pair for the
    verify step (the earlier form shuffled
    the full arrays through the candidate `.distinct()`). The
    quadratic all-pairs form exists only in the oracle (the
    ``er_blocking_quality_report`` posture). Shingle sets and split
    idiom shared with dedup.py (``_doc_shingle_sets`` — no second
    tokenizer to drift)."""
    from caliper_poc_data_etl_spark.queries.dedup import _doc_shingle_sets

    d = t(spark, sf_dir, "documents")
    toks = _doc_shingle_sets(d).select(
        "doc_id", F.col("shset").alias("ts")
    )
    tok = toks.select("doc_id", F.explode("ts").alias("tk"))
    df_tbl = tok.groupBy("tk").agg(F.count("*").alias("df"))
    ranked = tok.join(df_tbl, "tk")
    # rarest-first order inside each doc; prefix keeps the first
    # |x| - ceil(t|x|) + 1 entries (t = 1/2: ceil = (|x|+1) div 2)
    per_doc = ranked.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("df", "tk"))).alias("ordered")
    )
    sz = F.size("ordered")
    pref_len = sz - F.expr("(size(ordered) + 1) div 2") + F.lit(1)
    # Candidate generation carries BARE (doc_id, prefix-shingle) pairs:
    # the shingle-set payloads must not ride the candidate equi-join or
    # its dedup — at 100 TB the `.distinct()` would shuffle every
    # candidate's full arrays. Sets are
    # re-joined exactly once per SURVIVING deduped pair, below.
    pref = per_doc.select(
        "doc_id",
        F.explode(
            F.transform(
                F.slice("ordered", 1, pref_len), lambda s: s["tk"]
            )
        ).alias("ptk"),
    )
    a = pref.select(F.col("doc_id").alias("doc_a"), "ptk")
    b = pref.select(F.col("doc_id").alias("doc_b"), "ptk")
    cand = (
        a.join(b, ["ptk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets_a = toks.select(
        F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a")
    )
    sets_b = toks.select(
        F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b")
    )
    verified = cand.join(sets_a, "doc_a").join(sets_b, "doc_b")
    return (
        verified.withColumn(
            "jacc_milli",
            F.expr(
                "(size(array_intersect(ts_a, ts_b)) * 1000) div "
                "(size(ts_a) + size(ts_b) - size(array_intersect(ts_a, ts_b)))"
            ),
        )
        .filter(F.col("jacc_milli") >= PF_JACC_MILLI)
        .select("doc_a", "doc_b", F.col("jacc_milli").cast("long").alias("jacc_milli"))
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup over embeddings
# ---------------------------------------------------------------------------

# Same threshold as the exact quadratic baseline (dedup_embedding_cosine)
# so the recall-vs-exact test compares like with like.
SEM_COS_THRESHOLD = 0.4
_SEM_SALTS = 16


def _semantic_oracle() -> str:
    from caliper_poc_data_etl_spark.queries.similarity import _kmeans_oracle

    tail = f"""
    , mem AS (
      SELECT af.vec_id, af.k, e.embedding,
             sqrt(CAST(list_dot_product(e.embedding, e.embedding) AS DOUBLE))
               AS nrm
      FROM af JOIN embeddings e ON e.vec_id = af.vec_id
    ), close AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM mem a JOIN mem b ON a.k = b.k AND a.vec_id < b.vec_id
      WHERE CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE)
            / (a.nrm * b.nrm) >= {SEM_COS_THRESHOLD}
    ), nc AS (
      SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_close FROM (
        SELECT va AS vec_id FROM close
        UNION ALL SELECT vb AS vec_id FROM close
      ) GROUP BY vec_id
    ), pruned AS (
      SELECT DISTINCT vb AS vec_id FROM close
    )
    SELECT af.vec_id, af.k AS cluster,
           p.vec_id IS NULL AS kept,
           COALESCE(nc.n_close, 0) AS n_close
    FROM af
    LEFT JOIN pruned p ON p.vec_id = af.vec_id
    LEFT JOIN nc ON nc.vec_id = af.vec_id
    """
    return _kmeans_oracle(tail=tail)


@query("dedup_semantic_cluster", oracle=_semantic_oracle())
def dedup_semantic_cluster(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup over embeddings —
    k-means clusters the embedding space (the shared exact-integer
    Lloyd machinery, similarity.py), then ONLY within-cluster pairs are
    cosine-scored; a vector is pruned when a lower-id vector in the
    SAME cluster has cosine >= the threshold, so each semantic
    duplicate group keeps exactly its lowest-id representative.
    Output per vector: its cluster, the kept/pruned verdict, and its
    within-cluster close-neighbor count.

    This is the embedding analog of ``dedup_minhash_lsh``: the
    cluster plays the LSH bucket's role and bounds pair generation at
    Σ cluster_size² instead of |corpus|² (the exact quadratic twin is
    ``dedup_embedding_cosine``; recall vs it is asserted in tests —
    cross-cluster near-dup pairs are the misses, the documented
    SemDeDup trade-off, §3 of the paper).

    Scale shape: pair generation is an equi-join on (cluster, salt) —
    the b-side's salt is ``pmod(vec_id, 16)`` and the a-side
    replicates 16x, so each pair is produced exactly once while the
    join parallelism is clusters x 16 tasks rather than one task per
    cluster (k-means K is small here; at 100 TB K grows with the
    corpus and the salt keeps per-task pair counts bounded either
    way). Norms are materialized per SIDE before the join — one
    interpreted dot per pair, not three (the sim_cosine_topk lesson).
    Cosine thresholding is on raw doubles, bit-identical cross-engine
    (the dedup_embedding_cosine convention)."""
    from caliper_poc_data_etl_spark.queries.similarity import _kmeans_final_assignment

    af = _kmeans_final_assignment(spark, sf_dir).select("vec_id", "k")
    e = t(spark, sf_dir, "embeddings")
    base = af.join(e.select("vec_id", "embedding"), "vec_id").select(
        "vec_id",
        "k",
        "embedding",
        F.sqrt(dot("embedding", "embedding")).alias("nrm"),
    )
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        "k",
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        F.explode(
            F.array(*[F.lit(s) for s in range(_SEM_SALTS)])
        ).alias("salt"),
    ).repartition(_SEM_SALTS, F.col("k"), F.col("salt"))
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        "k",
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        F.pmod(F.col("vec_id"), F.lit(_SEM_SALTS)).cast("int").alias("salt"),
    )
    cos = dot("emb_a", "emb_b") / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    close = (
        a.join(F.broadcast(b), ["k", "salt"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= SEM_COS_THRESHOLD)
        .select("vec_a", "vec_b")
    )
    nc = (
        close.select(F.col("vec_a").alias("vec_id"))
        .unionAll(close.select(F.col("vec_b").alias("vec_id")))
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_close"))
    )
    pruned = close.select(F.col("vec_b").alias("vec_id")).distinct().withColumn(
        "_pruned", F.lit(True)
    )
    return (
        af.join(pruned, "vec_id", "left")
        .join(nc, "vec_id", "left")
        .select(
            "vec_id",
            F.col("k").alias("cluster"),
            F.col("_pruned").isNull().alias("kept"),
            F.coalesce("n_close", F.lit(0).cast("long")).alias("n_close"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------

CDC_W = 8  # rolling-hash window (chars)
CDC_DIV = 32  # boundary divisor: cut when hash % DIV == 0 (~32-char chunks)


def _cdc_oracle() -> str:
    w, dv = CDC_W, CDC_DIV
    return f"""
    WITH pos AS (
      SELECT doc_id, text, u.i AS p
      FROM documents, unnest(range(1, length(text) - {w} + 2)) AS u(i)
      WHERE length(text) >= {w}
    ), cuts AS (
      SELECT doc_id, p + {w} - 1 AS e
      FROM pos
      WHERE ('0x' || substr(md5(substr(text, CAST(p AS INT), {w})), 1, 8))::BIGINT
            % {dv} = 0
    ), ends AS (
      SELECT DISTINCT doc_id, e FROM (
        SELECT doc_id, e FROM cuts
        UNION ALL
        SELECT doc_id, CAST(length(text) AS BIGINT) AS e FROM documents
      )
    ), chunks AS (
      SELECT doc_id, e,
             COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1
               AS s
      FROM ends
    ), hashed AS (
      SELECT c.doc_id, c.s, c.e,
             md5(substr(d.text, CAST(c.s AS INT), CAST(c.e - c.s + 1 AS INT)))
               AS chash
      FROM chunks c JOIN documents d ON d.doc_id = c.doc_id
    ), freq AS (
      SELECT chash, CAST(COUNT(*) AS BIGINT) AS cnt FROM hashed GROUP BY chash
    )
    SELECT h.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(SUM(CASE WHEN f.cnt > 1 THEN h.e - h.s + 1 ELSE 0 END)
             AS BIGINT) AS dup_chars,
           CAST(MAX(h.e) AS BIGINT) AS total_chars,
           CAST(CASE WHEN MAX(h.e) = 0 THEN 0
                ELSE 1000 * SUM(CASE WHEN f.cnt > 1 THEN h.e - h.s + 1
                                     ELSE 0 END) // MAX(h.e) END AS BIGINT)
             AS dup_permille
    FROM hashed h JOIN freq f ON f.chash = h.chash
    GROUP BY h.doc_id
    """


@query("dedup_cdc_chunks", oracle=_cdc_oracle())
def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup (the LBFS rolling-hash cut rule —
    Muthitacharoen, Chen & Mazières SOSP'01 — whose modern production
    form is FastCDC, Xia et al. USENIX ATC'16): chunk boundaries fall
    AFTER any 8-char window whose hash % 32 == 0, so chunk identity is
    decided by CONTENT, not offset — an insertion near the head of a
    document re-chunks only up to the first boundary past the edit,
    and every later chunk keeps its exact hash. That shift-resistance
    is what the fixed-width ``curation_chunk_dedup_rewrite`` (C4-style
    8-word chunks) cannot give: a one-word prefix edit there shifts
    and re-keys EVERY downstream chunk. Output per document: chunk
    count, how many of its chunks appear elsewhere in the corpus
    (global multiset frequency > 1), duplicated chars, and the
    per-mille duplicated-byte ratio — the storage-dedup view of corpus
    redundancy next to the similarity views (MinHash/SimHash) and the
    span views (winnowing/ExactSubstr).

    Production notes in the docstring contract: FastCDC adds min/max
    chunk clamps and a gear table; both are boundary-rule refinements
    on this exact plan shape. Degenerates handled: docs shorter than
    the 8-char window (and empty docs) form one whole-doc chunk via
    the per-doc sentinel cut at position len.

    Scale shape: doc_id repartition BEFORE the position explode (the
    winnowing lesson — the one-row-group fixture would otherwise run
    every md5 on one task; parallelism must be decided on POST-explode
    volume), the cut filter drops ~31/32 of positions at the map, the
    chunk window and the text re-join are both on the SAME doc_id
    partitioning (no extra exchange), and the global chunk-frequency
    groupBy is the one content-keyed shuffle — it carries ~len/32
    chunk hashes per doc, partial-aggregated map-side. All arithmetic
    integer; md5 the only hash; no floats anywhere."""
    w, dv = CDC_W, CDC_DIV
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = t(spark, sf_dir, "documents").repartition(n_part, "doc_id")
    pos = d.filter(F.length("text") >= w).select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - w + 1)
        ).alias("p"),
    )
    h = md5_int(F.col("text").substr(F.col("p"), F.lit(w)), 8)
    # text rides ALONG both branches (cut rows + the per-doc sentinel)
    # so chunk substrings never re-join the corpus — a shared-lineage
    # re-join of `d` here resolved ambiguously under AQE and silently
    # dropped doc-final chunks; carrying the value column is also the
    # honest shuffle accounting (cut density 1/DIV => the end-row
    # shuffle carries ~len/32 copies of each doc, ~2x corpus bytes).
    cuts = pos.filter(h % dv == 0).select(
        "doc_id", "text", (F.col("p") + (w - 1)).cast("long").alias("e")
    )
    ends = cuts.unionAll(
        d.select("doc_id", "text", F.length("text").cast("long").alias("e"))
    ).dropDuplicates(["doc_id", "e"])
    wlag = W.partitionBy("doc_id").orderBy("e")
    chunks = ends.select(
        "doc_id",
        "text",
        "e",
        (F.coalesce(F.lag("e").over(wlag), F.lit(0).cast("long")) + 1).alias(
            "s"
        ),
    )
    hashed = chunks.select(
        "doc_id",
        "s",
        "e",
        F.md5(
            F.col("text").substr(
                F.col("s").cast("int"), (F.col("e") - F.col("s") + 1).cast("int")
            )
        ).alias("chash"),
    )
    freq = hashed.groupBy("chash").agg(F.count("*").cast("long").alias("cnt"))
    dup_chars = F.sum(
        F.when(F.col("cnt") > 1, F.col("e") - F.col("s") + 1).otherwise(0)
    ).cast("long")
    return (
        hashed.join(freq, "chash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            dup_chars.alias("dup_chars"),
            F.max("e").cast("long").alias("total_chars"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            "dup_chars",
            "total_chars",
            F.when(F.col("total_chars") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("1000 * dup_chars div total_chars").cast("long")
            )
            .alias("dup_permille"),
        )
    )
