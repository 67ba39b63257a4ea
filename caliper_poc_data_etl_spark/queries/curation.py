"""Corpus-curation operators for LLM training-data pipelines.

The north star's "operations a large-scale training-data pipeline
would need" beyond dedup/similarity/text-analysis: PII redaction,
repetition-based quality filtering (Gopher-style), deterministic
train/val/test splitting, stratified sampling, weighted source
mixing, and global fuzzy-dedup clustering (connected components over
near-dup pairs).

All batch paths are pure Column expressions (whole-stage codegen; no
Python) except the clustering loop, which is the standard iterative
join/agg idiom (see graph.py). Determinism is load-bearing: splits
and mixes hash stable keys (md5 agrees across engines and runs), so
re-running the pipeline on 100 TB assigns every document the same
split — a requirement for incremental corpus builds.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.dedup import _NGRAM_ORACLE, dedup_ngram_jaccard
from caliper_poc_data_etl_spark.queries.kernels import _TS_FMT_DUCK, _TS_FMT_SPARK, md5_int, topk
from caliper_poc_data_etl_spark.queries.registry import query, t

# Parenthesized (group 1) so regexp_extract_all's default group works
# on both engines. Java regex and RE2 agree on this subset (\d, \b,
# bounded quantifiers, character classes).
EMAIL_RE = r"([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})"
PHONE_RE = r"(\b\d{3}-\d{2,6}\b)"
IP_RE = r"(\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b)"


def redact_pii(col):
    """Redacted text Column: emails → <EMAIL>, IPv4 → <IP>, dashed
    phone numbers → <PHONE>. Email first (may contain digits/dots),
    then IP (dotted digit runs), then phone."""
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), IP_RE, "<IP>"),
        PHONE_RE,
        "<PHONE>",
    )


@query(
    "text_pii_redact",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com ph 555-01'
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                  || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
               AS raw
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{EMAIL_RE}', 1)) AS n_emails,
           len(regexp_extract_all(raw, '{PHONE_RE}', 1)) AS n_phones,
           len(regexp_extract_all(raw, '{IP_RE}', 1))    AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw, '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{IP_RE}', '<IP>', 'g'),
             '{PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM synth
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII redaction: emails / phone numbers / IPv4 addresses replaced
    with typed placeholders, plus per-kind match counts (the audit
    columns a compliance pass needs).

    The synthetic corpus contains no PII, so a deterministic PII
    suffix derived from ``doc_id`` is appended first — the redaction
    regexes then do real work and the oracle checks engine parity on
    the full redacted text. Redaction order is email → IP → phone
    (emails can contain digits/dots; IPs must be consumed before the
    phone pattern sees digit runs)."""
    d = t(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ph 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    s = d.select("doc_id", raw.alias("raw"))
    redacted = redact_pii(F.col("raw"))
    return s.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(EMAIL_RE))).alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(PHONE_RE))).alias("n_phones"),
        F.size(F.regexp_extract_all("raw", F.lit(IP_RE))).alias("n_ips"),
        redacted.alias("redacted"),
    )


@query(
    "text_repetition_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
      WHERE len(string_split_regex(trim(text), '\\s+')) >= 2
    ),
    feats AS (
      SELECT doc_id,
             len(tk) AS n_tokens,
             list_max(list_transform(list_distinct(tk),
                      x -> len(list_filter(tk, y -> y = x)))) AS top_tok_cnt,
             len(list_distinct(tk)) AS n_distinct,
             list_transform(range(1, len(tk)),
                            i -> tk[i] || ' ' || tk[i+1]) AS bg
      FROM toks
    )
    SELECT doc_id,
           ROUND(top_tok_cnt * 1.0 / n_tokens, 4) AS top_token_frac,
           ROUND(1.0 - n_distinct * 1.0 / n_tokens, 4) AS dup_token_ratio,
           ROUND(list_max(list_transform(list_distinct(bg),
                          x -> len(list_filter(bg, y -> y = x))))
                 * 1.0 / len(bg), 4) AS top_bigram_frac,
           (top_tok_cnt * 1.0 / n_tokens) <= 0.2
             AND (1.0 - n_distinct * 1.0 / n_tokens) <= 0.6 AS keep
    FROM feats
    """,
)
def text_repetition_stats(spark, sf_dir):
    """Repetition-based quality signals (Gopher/RefinedWeb-style):
    most-frequent-token fraction, duplicate-token ratio, most-frequent-
    bigram fraction, and a keep gate. All per-row array algebra —
    O(distinct×tokens) per document, zero shuffle, codegen-compiled."""
    d = t(spark, sf_dir, "documents")
    tk = F.col("tk")
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(tk),
            lambda x: F.size(F.filter(tk, lambda y: y == x)),
        )
    )
    bg = F.transform(
        F.sequence(F.lit(1), F.size(tk) - 1),
        lambda i: F.concat_ws(" ", F.element_at(tk, i), F.element_at(tk, i + 1)),
    )
    bgc = F.col("bg")
    top_bg_cnt = F.array_max(
        F.transform(
            F.array_distinct(bgc),
            lambda x: F.size(F.filter(bgc, lambda y: y == x)),
        )
    )
    top_frac = F.col("top_tok_cnt") / F.col("n_tokens")
    dup_ratio = 1.0 - F.col("n_distinct") / F.col("n_tokens")
    return (
        d.select("doc_id", F.split(F.trim(F.col("text")), "\\s+").alias("tk"))
        .filter(F.size(tk) >= 2)
        .select(
            "doc_id",
            F.size(tk).alias("n_tokens"),
            top_cnt.alias("top_tok_cnt"),
            F.size(F.array_distinct(tk)).alias("n_distinct"),
            bg.alias("bg"),
        )
        .select(
            "doc_id",
            F.round(top_frac, 4).alias("top_token_frac"),
            F.round(dup_ratio, 4).alias("dup_token_ratio"),
            F.round(top_bg_cnt / F.size(bgc), 4).alias("top_bigram_frac"),
            ((top_frac <= 0.2) & (dup_ratio <= 0.6)).alias("keep"),
        )
    )


# Hex-prefix thresholds on md5: 'cc' = 204/256 ≈ 0.797 (train),
# 'e6' = 230/256 ≈ 0.898 (val), rest test — the standard
# hash-a-stable-key split that stays identical across runs, engines,
# and incremental corpus additions.
@query(
    "sample_hash_split",
    oracle="""
    SELECT doc_id,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def sample_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (~80/10/10) by hashing the
    stable document key — no RNG, no seed plumbing; a document's split
    never changes as the corpus grows. Pure map stage at 100 TB."""
    d = t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "val")
        .otherwise("test")
        .alias("split"),
    )


STRATUM_SAMPLE_N = 10


@query(
    "sample_stratified_lang",
    oracle=f"""
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= {STRATUM_SAMPLE_N}
    """,
)
def sample_stratified_lang(spark, sf_dir):
    """Stratified sample: exactly N documents per language, chosen by
    hash order (deterministic reservoir). One per-stratum ``topk``: each
    partition keeps at most N rows per stratum before the shuffle
    (``WindowGroupLimit``), so a giant stratum never moves whole."""
    d = t(spark, sf_dir, "documents")
    return topk(
        d.select("doc_id", "lang"),
        ["lang"],
        [F.md5(F.col("doc_id").cast("string")), "doc_id"],
        STRATUM_SAMPLE_N,
        rank="sample_rank",
    )


# Source-mixing tiers: rate by src_num % 4 → 1.0 / 0.5 / 0.25 / 0.1.
# Keep-decision hashes (source, doc_id) so each source's subsample is
# independent and deterministic. '80'=128/256, '40'=64/256,
# '1a'=26/256≈0.102.
@query(
    "mix_weighted_sources",
    oracle="""
    WITH tagged AS (
      SELECT source,
             CAST(regexp_extract(source, 'src(\\d+)', 1) AS INTEGER) % 4 AS tier,
             substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 2) AS b
      FROM documents
    )
    SELECT source,
           CAST(CASE tier WHEN 0 THEN 1.0 WHEN 1 THEN 0.5
                          WHEN 2 THEN 0.25 ELSE 0.1 END AS DOUBLE) AS target_rate,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN tier = 0 OR (tier = 1 AND b < '80')
                          OR (tier = 2 AND b < '40')
                          OR (tier = 3 AND b < '1a')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM tagged
    GROUP BY source, tier
    """,
)
def mix_weighted_sources(spark, sf_dir):
    """Weighted dataset mixing: each source gets a target sampling
    rate; membership is decided by hashing (source, doc_id), so the
    mix is reproducible and incremental. This is the corpus-recipe
    operator (e.g. upweight curated sources, downsample crawl)."""
    d = t(spark, sf_dir, "documents")
    tier = (F.regexp_extract("source", r"src(\d+)", 1).cast("int") % 4).alias("tier")
    b = F.substring(
        F.md5(F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))),
        1,
        2,
    )
    tagged = d.select("source", tier, b.alias("b"))
    keep = (
        (F.col("tier") == 0)
        | ((F.col("tier") == 1) & (F.col("b") < "80"))
        | ((F.col("tier") == 2) & (F.col("b") < "40"))
        | ((F.col("tier") == 3) & (F.col("b") < "1a"))
    )
    rate = (
        F.when(F.col("tier") == 0, 1.0)
        .when(F.col("tier") == 1, 0.5)
        .when(F.col("tier") == 2, 0.25)
        .otherwise(0.1)
    )
    return tagged.groupBy("source", rate.alias("target_rate")).agg(
        F.count("*").alias("n_docs"),
        F.sum(keep.cast("long")).alias("n_kept"),
    )


@query(
    "dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_NGRAM_ORACLE}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
      SELECT doc_id AS node, doc_id AS comp FROM documents
      UNION
      SELECT e.dst AS node, r.comp
      FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id,
           CAST(MIN(comp) AS BIGINT) AS cluster_rep,
           MIN(comp) = node AS is_keeper
    FROM reach
    GROUP BY node
    """,
)
def dedup_cluster_cc(spark, sf_dir):
    """Global fuzzy-dedup clustering: near-dup pairs (3-gram Jaccard ≥
    0.8, the oracle-parity exact path) → connected components → one
    keeper per transitive duplicate group. This is the stage a
    pairwise dedup is incomplete without: A~B and B~C collapse to one
    keeper even though A~C was never emitted.

    Components via iterative min-label propagation (graph.py) — per
    round one equi-join + one group-by, lineage truncated per round;
    rounds bounded by cluster diameter (near-dup groups are
    near-cliques). Oracle: recursive-CTE reachability closure."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    nodes = t(spark, sf_dir, "documents").select("doc_id")
    from caliper_poc_data_etl_spark.graph import connected_components

    labels = connected_components(
        nodes, pairs, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_rep"),
        (F.col("comp") == F.col("node")).alias("is_keeper"),
    )


@query(
    "doc_length_pctl_filter",
    oracle="""
    SELECT d.doc_id, d.n_chars, ROUND(q.p90, 4) AS p90
    FROM documents d
    CROSS JOIN (SELECT quantile_cont(n_chars, 0.9) AS p90 FROM documents) q
    WHERE d.n_chars >= q.p90
    """,
)
def doc_length_pctl_filter(spark, sf_dir):
    """Corpus-relative length filter: keep documents at or above the
    corpus P90 of n_chars — thresholds in curation pipelines are
    usually distribution-relative, not absolute.

    The threshold is a broadcast 1-row aggregate crossJoined into the
    scan (module convention — no driver-side collect). Exact
    ``percentile`` here because the oracle needs bit-parity
    (linear-interpolation semantics match DuckDB's quantile_cont); the
    100 TB substitution is ``approx_percentile`` with the same plan
    shape."""
    d = t(spark, sf_dir, "documents")
    q = d.agg(F.expr("percentile(n_chars, 0.9)").alias("p90"))
    return (
        d.crossJoin(F.broadcast(q))
        .filter(F.col("n_chars") >= F.col("p90"))
        .select("doc_id", "n_chars", F.round("p90", 4).alias("p90"))
    )


@query(
    "curriculum_quality_order",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS n_distinct,
             length(regexp_replace(text, '[a-zA-Z ]', '', 'g')) * 1.0
               / length(text) AS symbol_ratio
      FROM documents
    ), scored AS (
      SELECT doc_id,
             ROUND(LEAST(n_tokens / 100.0, 1.0) * 0.4
                   + (n_distinct * 1.0 / n_tokens) * 0.4
                   + (1.0 - symbol_ratio) * 0.2, 4) AS quality
      FROM feats
    )
    SELECT doc_id,
           CAST(LEAST(FLOOR(quality * 10), 9) AS INT) AS phase,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY CAST(LEAST(FLOOR(quality * 10), 9) AS INT)
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS seq
    FROM scored
    """,
)
def curriculum_quality_order(spark, sf_dir):
    """Curriculum ordering: bucket documents into quality phases (the
    ``text_quality_score`` composite, value-bucketed into deciles) and
    assign a deterministic shuffled sequence within each phase
    (md5-keyed, so the order is engine- and run-stable) — the
    quality-ascending data ordering used in curriculum training.

    Value-based bucketing (``floor(quality*10)``) instead of
    ``ntile``/``percent_rank`` keeps the phase assignment embarrassingly
    parallel — no global sort anywhere; the only window partitions by
    phase (10 groups — at 100 TB the within-phase sequence would
    instead come from the distributed global-rank construction in
    ``window_ntile``)."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    symbol_ratio = F.length(
        F.regexp_replace("text", "[a-zA-Z ]", "")
    ) / F.length("text")
    quality = F.round(
        F.least(n_tokens / 100.0, F.lit(1.0)) * 0.4
        + (n_distinct / n_tokens) * 0.4
        + (1.0 - symbol_ratio) * 0.2,
        4,
    )
    phase = F.least(F.floor(quality * 10), F.lit(9)).cast("int")
    scored = d.select("doc_id", phase.alias("phase"))
    w = W.partitionBy("phase").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return scored.select(
        "doc_id", "phase", F.row_number().over(w).alias("seq")
    )


@query(
    "sample_bernoulli_hash",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 100 < 10
    """,
)
def sample_bernoulli_hash(spark, sf_dir):
    """Deterministic Bernoulli sampling (p=0.10) by content-free key
    hash: a row is in the sample iff an md5-derived integer of its id
    falls under the rate — reproducible across engines, runs, and
    partitionings (df.sample() is none of those), composable with the
    hash-split operator (same keyed-hash family, disjoint salts), and
    a pure pushdown-friendly filter: no shuffle, no state, no RNG
    seed to ship. The standard down-sampling primitive for corpus
    recipes and eval carve-outs."""
    d = t(spark, sf_dir, "documents")
    h = md5_int(F.col("doc_id").cast("string"), 8)
    return d.filter(h % 100 < 10).select("doc_id", "source")


@query(
    "sample_time_holdout",
    oracle="""
    WITH ranked AS (
      SELECT event_id, user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS r_end,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN r_end <= CAST(CEIL(n / 5.0) AS BIGINT)
                THEN 'eval' ELSE 'train' END AS split
    FROM ranked
    """,
)
def sample_time_holdout(spark, sf_dir):
    """Temporal train/eval split: each user's most recent ⌈20%⌉ of
    events become the held-out evaluation slice, the rest train — the
    leakage-safe split for anything sequential (a random split lets
    the model train on the future it will be evaluated on). Per-user,
    so every user appears in both slices; deterministic (ts,
    event_id) ordering makes the split reproducible run over run —
    the property that matters when the 100 TB corpus is re-split
    after every ingest.

    One window pass over the user-partitioned sort; compare
    ``sample_hash_split`` (the i.i.d. hash split) — the engine
    declares both split disciplines."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    ranked = e.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("r_end"),
        F.count("*").over(W.partitionBy("user_id")).alias("n"),
    )
    split = F.when(
        F.col("r_end") <= F.ceil(F.col("n") / 5.0).cast("long"), "eval"
    ).otherwise("train")
    return ranked.select("event_id", "user_id", split.alias("split"))


_KANON_K = 5


@query(
    "dq_k_anonymity",
    oracle=f"""
    WITH quasi AS (
      SELECT user_id % 10 AS user_bucket, event_type,
             CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(COUNT(*) FILTER (WHERE n < {_KANON_K}) AS BIGINT)
             AS n_violating_classes,
           CAST(SUM(n) FILTER (WHERE n < {_KANON_K}) AS BIGINT)
             AS n_rows_to_suppress,
           CAST(MIN(n) AS BIGINT) AS min_class_size,
           ROUND(COALESCE(SUM(n) FILTER (WHERE n < {_KANON_K}), 0) * 1.0
                 / SUM(n), 6) AS suppression_rate
    FROM quasi
    """,
)
def dq_k_anonymity(spark, sf_dir):
    """k-anonymity audit over a quasi-identifier tuple (user bucket ×
    event type × day): how many equivalence classes fall below k=5,
    how many rows would need suppression before release, and the
    resulting suppression rate — the privacy-governance gate that runs
    before any dataset leaves the boundary, next to
    ``text_pii_redact``'s content-level scrubbing. One hash
    aggregation over the quasi-identifier, one fixed-size rollup —
    privacy auditing at 100 TB costs a groupBy."""
    e = t(spark, sf_dir, "events")
    quasi = e.groupBy(
        (F.col("user_id") % 10).alias("user_bucket"),
        "event_type",
        F.to_date("ts").alias("day"),
    ).agg(F.count("*").alias("n"))
    below = F.col("n") < _KANON_K
    return quasi.agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum(below.cast("long")).alias("n_violating_classes"),
        F.sum(F.when(below, F.col("n"))).cast("long").alias("n_rows_to_suppress"),
        F.min("n").cast("long").alias("min_class_size"),
        F.round(
            F.coalesce(F.sum(F.when(below, F.col("n"))), F.lit(0))
            / F.sum("n"),
            6,
        ).alias("suppression_rate"),
    )


_ER_MOD = 7        # every 7th customer spawns a dirty variant record
_ER_BAND = 500     # acctbal blocking band width
_ER_MAXDIST = 3    # levenshtein acceptance threshold


@query(
    "er_blocked_name_match",
    oracle=f"""
    WITH dirty AS (
      SELECT c_custkey AS dirty_id,
             'cust ' || CAST(c_custkey AS VARCHAR) || 'x' AS dirty_name,
             c_nationkey,
             CAST(FLOOR(c_acctbal / {_ER_BAND}) AS BIGINT) AS bal_band
      FROM customer WHERE c_custkey % {_ER_MOD} = 0
    ),
    canon AS (
      SELECT c_custkey,
             'cust ' || CAST(c_custkey AS VARCHAR) AS norm_name,
             c_nationkey,
             CAST(FLOOR(c_acctbal / {_ER_BAND}) AS BIGINT) AS bal_band
      FROM customer
    ),
    scored AS (
      SELECT d.dirty_id, c.c_custkey AS matched_key,
             levenshtein(d.dirty_name, c.norm_name) AS dist
      FROM dirty d JOIN canon c
        ON c.c_nationkey = d.c_nationkey AND c.bal_band = d.bal_band
      WHERE levenshtein(d.dirty_name, c.norm_name) <= {_ER_MAXDIST}
    )
    SELECT dirty_id, matched_key, CAST(dist AS INT) AS dist,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY dirty_id
                                   ORDER BY dist, matched_key) AS rk
      FROM scored
    ) WHERE rk = 1
    """,
)
def er_blocked_name_match(spark, sf_dir):
    """Record linkage (entity resolution): dirty variant records —
    derived deterministically from every 7th customer, name corrupted
    by one trailing character — are matched back to the canonical registry WITHOUT
    any shared key, by the classic three-stage pipeline: NORMALIZE
    (lowercase canonical name form), BLOCK (nation × account-balance
    band — candidate pairs shrink from |dirty|×|canon| to the block
    products), VERIFY (levenshtein ≤ 3, best match per dirty record
    with deterministic tie-break). The missing-workload category this
    closes is data integration: dedupe-across-sources, customer-360
    joins, registry reconciliation.

    Scale shape: blocking is an equi-join on (nation, band) — the ER
    equivalent of LSH banding; the quadratic edit-distance only runs
    inside blocks. Skewed blocks (one giant band) are the hazard —
    AQE skew-join splits them; at 100 TB you'd add a second blocking
    pass on a different key (the multi-pass blocking the LSH ops
    already demonstrate). Levenshtein itself is integer-exact
    cross-engine (proven by fn_string_distance_pack)."""
    c = t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / _ER_BAND).cast("long")
    dirty = c.filter(F.col("c_custkey") % _ER_MOD == 0).select(
        F.col("c_custkey").alias("dirty_id"),
        F.concat(
            F.lit("cust "), F.col("c_custkey").cast("string"), F.lit("x")
        ).alias("dirty_name"),
        "c_nationkey",
        band.alias("bal_band"),
    )
    canon = c.select(
        "c_custkey",
        F.concat(F.lit("cust "), F.col("c_custkey").cast("string")).alias(
            "norm_name"
        ),
        "c_nationkey",
        band.alias("bal_band"),
    )
    dist = F.levenshtein("dirty_name", "norm_name")
    scored = (
        dirty.join(canon, ["c_nationkey", "bal_band"])
        .withColumn("dist", dist)
        .filter(F.col("dist") <= _ER_MAXDIST)
    )
    return (
        topk(scored, ["dirty_id"], ["dist", "c_custkey"], 1, rank="rk")
        .select(
            "dirty_id",
            F.col("c_custkey").alias("matched_key"),
            F.col("dist").cast("int").alias("dist"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


@query(
    "mix_temperature_sampling",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ), weights AS (
      SELECT source, n, sqrt(n) AS w FROM counts
    ), quotas AS (
      SELECT source,
             CAST(FLOOR(0.5 * (SELECT SUM(n) FROM counts)
                        * w / (SELECT SUM(w) FROM weights)) AS BIGINT) AS quota
      FROM weights
    ), ranked AS (
      SELECT d.doc_id, d.source,
             ROW_NUMBER() OVER (PARTITION BY d.source
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
               AS rn
      FROM documents d
    )
    SELECT r.doc_id, r.source
    FROM ranked r JOIN quotas q USING (source)
    WHERE r.rn <= q.quota
    """,
)
def mix_temperature_sampling(spark, sf_dir):
    """Temperature-flattened source mixing (T=2 → weight ∝ sqrt(n)):
    per-source quotas that up-weight small sources relative to
    proportional sampling — the corpus-recipe balancing step of every
    multi-source pretraining mix. sqrt is IEEE-correctly-rounded on
    both engines, so quotas match exactly (a general pow(n, 1/T) is
    only ~1-ulp and could flip a FLOOR at integer boundaries —
    documented limitation, not an accident).

    Scale shape: quotas are a broadcast few-row table; the per-source
    ranking is a partitioned window on the source key (md5-ordered, so
    the selection is deterministic and engine-stable)."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n"))
    weights = counts.select("source", "n", F.sqrt("n").alias("w"))
    totals = weights.agg(
        F.sum("n").alias("n_total"), F.sum("w").alias("w_total")
    )
    quotas = weights.crossJoin(F.broadcast(totals)).select(
        "source",
        F.floor(0.5 * F.col("n_total") * F.col("w") / F.col("w_total")).alias(
            "quota"
        ),
    )
    wr = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select("doc_id", "source", F.row_number().over(wr).alias("rn"))
    return (
        ranked.join(F.broadcast(quotas), "source")
        .filter(F.col("rn") <= F.col("quota"))
        .select("doc_id", "source")
    )


# First-digit expectations log10(1 + 1/d), precomputed as shared
# literals so neither engine's libm is in the comparison path.
BENFORD_EXPECTED = {
    1: 0.30103,
    2: 0.176091,
    3: 0.124939,
    4: 0.09691,
    5: 0.079181,
    6: 0.066947,
    7: 0.057992,
    8: 0.051153,
    9: 0.045757,
}


def _benford_oracle() -> str:
    case = " ".join(
        f"WHEN {d} THEN {p}" for d, p in BENFORD_EXPECTED.items()
    )
    return f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), counts AS (
      SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT SUM(n) AS total FROM counts)
    SELECT digit,
           CAST(n AS BIGINT) AS n,
           FLOOR(CAST(n AS DOUBLE) / (SELECT total FROM tot) * 1e4 + 0.5)
             / 1e4 AS share,
           CAST(CASE digit {case} END AS DOUBLE) AS benford_expected,
           FLOOR(ABS(CAST(n AS DOUBLE) / (SELECT total FROM tot)
                     - CASE digit {case} END) * 1e4 + 0.5) / 1e4 AS abs_dev
    FROM counts
    """


@query("dq_benford_digits", oracle=_benford_oracle())
def dq_benford_digits(spark, sf_dir):
    """Benford first-digit audit over order totals — the forensic
    data-quality screen for fabricated or truncated numeric columns
    (organic multiplicative data follows log10(1+1/d); uniform or
    hand-entered data does not). Emits per-digit counts, observed
    share, the Benford expectation, and the absolute deviation.

    Determinism: counts are exact integers; shares divide by the
    total in ONE identical IEEE chain and floor-round; the Benford
    expectations are shared literal constants (6 dp), so neither
    engine's libm log10 is in the comparison path. Scale: one scan,
    one 9-group aggregation, one broadcast total — nothing grows with
    data."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    bexp = F.create_map(
        *[
            x
            for d, p in BENFORD_EXPECTED.items()
            for x in (F.lit(d), F.lit(p))
        ]
    )[F.col("digit")]
    share_raw = F.col("n").cast("double") / F.col("total")
    r4 = lambda c: F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)  # noqa: E731
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        r4(share_raw).alias("share"),
        bexp.alias("benford_expected"),
        r4(F.abs(share_raw - bexp)).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# Order-insensitive table checksum (reconciliation primitive)
# ---------------------------------------------------------------------------


@query(
    "dq_table_checksum",
    oracle="""
    WITH rows_h AS (
      SELECT o_orderstatus,
             ('0x' || substr(md5(concat_ws('|',
                 CAST(o_orderkey AS VARCHAR),
                 CAST(o_custkey AS VARCHAR),
                 o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                 strftime(o_orderdate, '%Y-%m-%d'),
                 o_orderpriority)), 1, 15))::BIGINT AS h
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(h) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
    FROM rows_h GROUP BY o_orderstatus
    """,
)
def dq_table_checksum(spark, sf_dir):
    """Order-insensitive content checksum per partition group — the
    cross-system reconciliation primitive: after a migration, a CDC
    replay, or an engine swap, two sides agree iff per-group
    (n_rows, checksum) agree, with NO row ordering or co-location
    required. Each row serializes canonically (DECIMAL-formatted
    money, ISO dates, '|' separator), hashes through md5, and the
    group checksum is the plain SUM of 60-bit hash prefixes — a
    commutative fold, so it map-side combines and is independent of
    partitioning, task order, and merge order. The sum accumulates in
    DECIMAL(38,0) (38 digits hold 10¹² rows of 60-bit values) and is
    emitted as a string to stay integer-exact cross-engine.

    This query IS the mechanism the repo's own oracle gate uses
    (order-insensitive value hashing), declared as user-facing
    surface. One scan, one partial-agg groupBy; nothing grows with
    data but the scan."""
    o = t(spark, sf_dir, "orders")
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    h = md5_int(row, 15)
    return (
        o.select("o_orderstatus", h.alias("h"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Sequential Poisson (weighted priority) sampling
# ---------------------------------------------------------------------------

SPS_N = 200


@query(
    "sample_sequential_poisson",
    oracle=f"""
    WITH keyed AS (
      SELECT l_orderkey,
             CAST(l_linenumber AS INT) AS l_linenumber,
             CAST(l_quantity AS BIGINT) AS weight,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                                 CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, weight,
           CAST(hv // weight AS BIGINT) AS priority
    FROM keyed
    ORDER BY priority, l_orderkey, l_linenumber
    LIMIT {SPS_N}
    """,
)
def sample_sequential_poisson(spark, sf_dir):
    """Weighted (probability-proportional-to-size) sampling by
    sequential Poisson priorities (Ohlsson): each row draws a
    deterministic uniform from its key hash and competes on
    priority = uniform/weight; the N smallest priorities are the
    sample, so heavier rows win proportionally more often. The
    repo-standard deterministic variant: the uniform is a 60-bit md5
    prefix and the priority is one integer floor division — exact on
    both engines, no floating point, reproducible run-to-run.

    Scale shape: priorities are a narrow map-only projection; the
    selection is a global top-N = TakeOrderedAndProject (per-partition
    heaps of N, then one N-row merge on the driver) — no full sort, no
    shuffle of the data. This is the sampling scheme that replaces
    ``ORDER BY rand() LIMIT N`` (non-reproducible, full sort) in
    production pipelines."""
    li = t(spark, sf_dir, "lineitem")
    hv = md5_int(
        F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ),
        15,
    )
    keyed = li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        F.col("l_quantity").cast("long").alias("weight"),
        hv.alias("hv"),
    )
    return (
        keyed.select(
            "l_orderkey",
            "l_linenumber",
            "weight",
            F.expr("hv div weight").cast("long").alias("priority"),
        )
        .orderBy("priority", "l_orderkey", "l_linenumber")
        .limit(SPS_N)
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit
# ---------------------------------------------------------------------------

_FK_EDGES: list[tuple[str, str, str, str, str]] = [
    # (edge label, child table, child key, parent table, parent key)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
]


def _ref_edge_sql(label: str, child: str, ck: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{label}' AS fk_edge,
           CAST(COUNT(*) AS BIGINT) AS n_child,
           CAST(SUM(CASE WHEN c.{ck} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(SUM(CASE WHEN c.{ck} IS NOT NULL AND p.{pk} IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
           CAST(COUNT(DISTINCT CASE WHEN c.{ck} IS NOT NULL AND p.{pk} IS NULL
                               THEN c.{ck} END) AS BIGINT) AS n_orphan_keys
    FROM {child} c LEFT JOIN {parent} p ON c.{ck} = p.{pk}"""


def ref_integrity_frame(child_df, ck: str, parent_df, pk: str, label: str):
    """One FK edge's audit row: child rows, NULL keys, orphan rows,
    distinct orphan keys — via a single left join + conditional
    aggregate (exposed for tests to drive with constructed frames)."""
    parent = parent_df.select(F.col(pk).alias("__pk")).distinct()
    joined = child_df.select(F.col(ck).alias("__ck")).join(
        parent, F.col("__ck") == F.col("__pk"), "left"
    )
    orphan = F.col("__ck").isNotNull() & F.col("__pk").isNull()
    return joined.agg(
        F.lit(label).alias("fk_edge"),
        F.count("*").alias("n_child"),
        F.sum(F.when(F.col("__ck").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
        F.sum(F.when(orphan, 1).otherwise(0)).cast("long").alias("n_orphan"),
        F.countDistinct(F.when(orphan, F.col("__ck")))
        .cast("long")
        .alias("n_orphan_keys"),
    ).select("fk_edge", "n_child", "n_null", "n_orphan", "n_orphan_keys")


@query(
    "dq_referential_integrity",
    oracle="\n    UNION ALL\n".join(
        _ref_edge_sql(*edge) for edge in _FK_EDGES
    ),
)
def dq_referential_integrity(spark, sf_dir):
    """Referential-integrity audit across the star schema's FK edges:
    for each child→parent edge, count child rows, NULL keys, orphan
    rows (non-NULL key with no parent), and distinct orphan keys —
    the post-load validation gate every warehouse runs before
    publishing a batch (clean data legitimately reports zeros; the
    query is the gate, not the anomaly).

    Plan: each edge is one left join + conditional aggregate to a
    single row. Dimension parents (nation/customer/supplier/part)
    broadcast under AQE; the fact-fact edge (lineitem→orders) is the
    only real shuffle and co-partitions on the join key. The six
    single-row results union for one output."""
    dfs = {
        name: t(spark, sf_dir, name)
        for name in {"lineitem", "orders", "part", "supplier", "customer", "nation"}
    }
    frames = [
        ref_integrity_frame(dfs[child], ck, dfs[parent], pk, label)
        for label, child, ck, parent, pk in _FK_EDGES
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# ---------------------------------------------------------------------------
# Keyed snapshot diff (reconciliation over derived state)
# ---------------------------------------------------------------------------

SNAP_CUTOFF = "2024-01-16 00:00:00"


@query(
    "dq_snapshot_diff",
    oracle=f"""
    WITH a AS (
      SELECT user_id, event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vq
      FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '{SNAP_CUTOFF}'
      ) WHERE rn = 1
    ), b AS (
      SELECT user_id, event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vq
      FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ), d AS (
      SELECT CASE WHEN a.user_id IS NULL THEN 'added'
                  WHEN b.user_id IS NULL THEN 'removed'
                  WHEN a.event_type <> b.event_type THEN 'changed_type'
                  WHEN a.vq <> b.vq THEN 'changed_value'
                  ELSE 'unchanged' END AS diff_class
      FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    )
    SELECT diff_class, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM d GROUP BY diff_class
    """,
)
def dq_snapshot_diff(spark, sf_dir):
    """Keyed snapshot reconciliation: derive the latest-state table at
    two points in time (mid-month cutoff vs end of feed) and classify
    every key as added / removed / changed_type / changed_value /
    unchanged — the audit a warehouse runs to answer "what did this
    load actually change?" before publishing. Values floor-quantize to
    integer cents before comparison so the equality test is exact on
    both engines.

    Plan: each snapshot is one per-key window reduction (latest row
    wins), the diff is one full-outer join on the key, and the
    classification collapses to a 5-row aggregate. The two snapshot
    windows and the join all hash on user_id, so AQE reuses the
    partitioning end to end."""
    e = t(spark, sf_dir, "events")
    cutoff = F.lit(SNAP_CUTOFF).cast("timestamp")

    def snapshot(df):
        return (
            topk(df, ["user_id"], [F.desc("ts"), F.desc("event_id")], 1)
            .select(
                "user_id",
                "event_type",
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("vq"),
            )
        )

    a = snapshot(e.filter(F.col("ts") < cutoff)).select(
        F.col("user_id").alias("a_user"),
        F.col("event_type").alias("a_type"),
        F.col("vq").alias("a_vq"),
    )
    b = snapshot(e).select(
        F.col("user_id").alias("b_user"),
        F.col("event_type").alias("b_type"),
        F.col("vq").alias("b_vq"),
    )
    diff_class = (
        F.when(F.col("a_user").isNull(), "added")
        .when(F.col("b_user").isNull(), "removed")
        .when(F.col("a_type") != F.col("b_type"), "changed_type")
        .when(F.col("a_vq") != F.col("b_vq"), "changed_value")
        .otherwise("unchanged")
    )
    return (
        a.join(b, a.a_user == b.b_user, "full_outer")
        .select(diff_class.alias("diff_class"))
        .groupBy("diff_class")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Survivorship / golden-record construction
# ---------------------------------------------------------------------------


@query(
    "er_survivorship_golden_record",
    oracle=f"""
    WITH mode_t AS (
      SELECT user_id, event_type AS mode_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY COUNT(*) DESC, event_type) AS rn
        FROM events GROUP BY user_id, event_type
      ) WHERE rn = 1
    ), latest AS (
      SELECT user_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS last_value_centi
      FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ), agg AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             COUNT(DISTINCT event_type) AS n_types,
             strftime(MIN(ts), '{_TS_FMT_DUCK}') AS first_seen,
             strftime(MAX(ts), '{_TS_FMT_DUCK}') AS last_seen
      FROM events GROUP BY user_id
    )
    SELECT a.user_id, m.mode_type,
           l.last_value_centi,
           CAST(a.n_events AS BIGINT) AS n_events,
           CAST(a.n_types AS BIGINT) AS n_types,
           a.first_seen, a.last_seen
    FROM agg a JOIN mode_t m USING (user_id) JOIN latest l USING (user_id)
    """,
)
def er_survivorship_golden_record(spark, sf_dir):
    """Golden-record construction — the survivorship stage after
    entity resolution: collapse each entity's observations into one
    canonical row with per-column survival rules (most-frequent type
    with deterministic tiebreak, most-recent value, first/last seen,
    activity counts). This is what master-data-management pipelines
    publish; ``er_blocked_name_match`` finds the duplicates, this
    merges them.

    Plan: one count-groupBy + argmax window for the mode, one per-key
    window for latest, one plain aggregate — all hash-partitioned on
    the entity key, so the three branches co-partition and join
    without extra exchanges under AQE."""
    e = t(spark, sf_dir, "events")
    mode_t = topk(
        e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt")),
        ["user_id"],
        [F.desc("cnt"), "event_type"],
        1,
    ).select("user_id", F.col("event_type").alias("mode_type"))
    latest = (
        topk(e, ["user_id"], [F.desc("ts"), F.desc("event_id")], 1)
        .select(
            "user_id",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("last_value_centi"),
        )
    )
    agg = e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.date_format(F.min("ts"), _TS_FMT_SPARK).alias("first_seen"),
        F.date_format(F.max("ts"), _TS_FMT_SPARK).alias("last_seen"),
    )
    return agg.join(mode_t, "user_id").join(latest, "user_id").select(
        "user_id",
        "mode_type",
        "last_value_centi",
        "n_events",
        "n_types",
        "first_seen",
        "last_seen",
    )


# ---------------------------------------------------------------------------
# Epoch oversampling (mixing by integer repetition)
# ---------------------------------------------------------------------------


@query(
    "mix_epoch_oversample",
    oracle="""
    WITH ep AS (
      SELECT doc_id, source, n_chars,
             CAST(substr(source, 4) AS INT) % 3 + 1 AS epochs
      FROM documents
    )
    SELECT doc_id, source, CAST(epochs AS INT) AS epochs,
           CAST(u.i AS INT) AS copy_id,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM ep, unnest(range(1, epochs + 1)) AS u(i)
    """,
)
def mix_epoch_oversample(spark, sf_dir):
    """Epoch-based oversampling — the integer-repetition half of data
    mixing (the fractional half is ``mix_temperature_sampling``):
    each source gets an epoch count from the mixing recipe and every
    document materializes that many copies with a copy ordinal (the
    ordinal seeds per-epoch shuffling/augmentation downstream). The
    Doremi/Pile-style "epochs per source" knob as one explode.

    Plan: a generated-sequence explode — map-side only, no shuffle;
    output size is Σ epochs by construction and the ordinal column
    makes the blow-up auditable. At 100 TB the explode stays embedded
    in the scan stage and feeds the pack/shuffle stages directly."""
    d = t(spark, sf_dir, "documents")
    epochs = (F.substring("source", 4, 10).cast("int") % 3 + 1).cast("int")
    return (
        d.select(
            "doc_id",
            "source",
            epochs.alias("epochs"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .select(
            "doc_id",
            "source",
            "epochs",
            F.explode(F.sequence(F.lit(1), F.col("epochs"))).alias("copy_id"),
            "n_chars",
        )
        .select(
            "doc_id",
            "source",
            "epochs",
            F.col("copy_id").cast("int").alias("copy_id"),
            "n_chars",
        )
    )


# ---------------------------------------------------------------------------
# Feed freshness audit
# ---------------------------------------------------------------------------

_FRESH_SLA_SEC = 3600


@query(
    "dq_freshness_lag",
    oracle=f"""
    WITH feeds AS (
      SELECT event_type,
             MAX(epoch_us(ts) // 1000000) AS max_epoch,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY event_type
    ), anchor AS (
      SELECT MAX(max_epoch) AS global_max FROM feeds
    )
    SELECT f.event_type, f.n_rows,
           CAST(a.global_max - f.max_epoch AS BIGINT) AS lag_sec,
           (a.global_max - f.max_epoch) > {_FRESH_SLA_SEC} AS stale
    FROM feeds f CROSS JOIN anchor a
    """,
)
def dq_freshness_lag(spark, sf_dir):
    """Feed freshness audit: per feed (event type), the lag between
    its newest record and the newest record across all feeds, with an
    SLA flag — the staleness gate a warehouse evaluates before joining
    feeds (joining a fresh feed against a stale one silently produces
    as-of-yesterday results). Lags are integer epoch seconds; no
    rounding conventions.

    Plan: one partial-aggregated groupBy to a |feeds|-row frame; the
    global anchor is a 1-row aggregate of THAT frame, broadcast back —
    the scan is touched once."""
    e = t(spark, sf_dir, "events")
    feeds = e.groupBy("event_type").agg(
        F.max(F.unix_timestamp("ts")).alias("max_epoch"),
        F.count("*").cast("long").alias("n_rows"),
    )
    anchor = feeds.agg(F.max("max_epoch").alias("global_max"))
    return feeds.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        "n_rows",
        (F.col("global_max") - F.col("max_epoch"))
        .cast("long")
        .alias("lag_sec"),
        ((F.col("global_max") - F.col("max_epoch")) > _FRESH_SLA_SEC).alias(
            "stale"
        ),
    )


# ---------------------------------------------------------------------------
# Curation funnel report (end-to-end pipeline accounting)
# ---------------------------------------------------------------------------

_FUN_MIN_CHARS = 200
_FUN_LANGS = ("en", "de", "es", "fr")
_FUN_PREFIX = 40


@query(
    "curation_funnel_report",
    oracle=f"""
    WITH flags AS (
      SELECT doc_id, lang,
             n_chars >= {_FUN_MIN_CHARS} AS s2,
             lang IN {_FUN_LANGS!r} AS s3,
             substr(lower(trim(text)), 1, {_FUN_PREFIX}) AS pk
      FROM documents
    ), surv AS (
      SELECT doc_id, pk FROM flags WHERE s2 AND s3
    ), dedup AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY pk ORDER BY doc_id) AS rn
      FROM surv
    ), joined AS (
      SELECT f.s2, f.s3, COALESCE(d.rn = 1, FALSE) AS s4
      FROM flags f LEFT JOIN dedup d USING (doc_id)
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c1,
             CAST(COUNT(*) FILTER (WHERE s2) AS BIGINT) AS c2,
             CAST(COUNT(*) FILTER (WHERE s2 AND s3) AS BIGINT) AS c3,
             CAST(COUNT(*) FILTER (WHERE s2 AND s3 AND s4) AS BIGINT) AS c4
      FROM joined
    )
    SELECT u.stage, u.n_remaining, u.n_dropped FROM agg, LATERAL (
      VALUES ('1_ingested', c1, CAST(0 AS BIGINT)),
             ('2_min_length', c2, c1 - c2),
             ('3_lang_allowlist', c3, c2 - c3),
             ('4_prefix_dedup', c4, c3 - c4)
    ) AS u(stage, n_remaining, n_dropped)
    """,
)
def curation_funnel_report(spark, sf_dir):
    """End-to-end curation funnel accounting — the report every
    training-data pipeline publishes next to its output: how many
    documents survive each stage (ingest → minimum length → language
    allowlist → normalized-prefix dedup) and how many each stage
    dropped. The stages here are the engine's own graded operators
    composed (``doc_length_pctl_filter``, ``text_langid``'s label
    surface, ``text_dedup_prefix_key``), so the funnel is an
    integration query over proven parts rather than new semantics.

    Plan: ONE scan computes all per-doc stage flags; the dedup stage
    is one window over stage-3 survivors; the funnel collapses to a
    single 4-value aggregate unpivoted into labeled rows (the
    `stack` form) — nothing rescans per stage, which is what makes
    per-stage accounting affordable at 100 TB (5 sequential filtered
    counts would be 5 scans)."""
    d = t(spark, sf_dir, "documents")
    flags = d.select(
        "doc_id",
        (F.col("n_chars") >= _FUN_MIN_CHARS).alias("s2"),
        F.col("lang").isin(*_FUN_LANGS).alias("s3"),
        F.substring(F.lower(F.trim("text")), 1, _FUN_PREFIX).alias("pk"),
    )
    surv = flags.filter(F.col("s2") & F.col("s3")).select("doc_id", "pk")
    rn = F.row_number().over(W.partitionBy("pk").orderBy("doc_id"))
    dedup = surv.withColumn("rn", rn).select(
        "doc_id", (F.col("rn") == 1).alias("s4")
    )
    joined = flags.join(dedup, "doc_id", "left").select(
        "s2", "s3", F.coalesce("s4", F.lit(False)).alias("s4")
    )
    agg = joined.agg(
        F.count("*").cast("long").alias("c1"),
        F.sum(F.col("s2").cast("int")).cast("long").alias("c2"),
        F.sum((F.col("s2") & F.col("s3")).cast("int")).cast("long").alias("c3"),
        F.sum((F.col("s2") & F.col("s3") & F.col("s4")).cast("int"))
        .cast("long")
        .alias("c4"),
    )
    return agg.selectExpr(
        """stack(4,
             '1_ingested', c1, cast(0 as bigint),
             '2_min_length', c2, c1 - c2,
             '3_lang_allowlist', c3, c2 - c3,
             '4_prefix_dedup', c4, c3 - c4
           ) AS (stage, n_remaining, n_dropped)"""
    )


# ---------------------------------------------------------------------------
# Distribution drift bins (two-period comparison)
# ---------------------------------------------------------------------------

_DRIFT_CUTOFF = "1998-01-01 00:00:00"  # orders span 1995..2001


@query(
    "dq_drift_bins",
    oracle=f"""
    WITH q AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi,
             o_orderdate < TIMESTAMP '{_DRIFT_CUTOFF}' AS early
      FROM orders WHERE o_totalprice > 0
    )
    SELECT CAST(length(bin(centi)) - 1 AS INT) AS bucket_log2,
           CAST(SUM(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
           CAST(SUM(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS n_late
    FROM q GROUP BY 1
    """,
)
def dq_drift_bins(spark, sf_dir):
    """Distribution-drift monitoring data: the order-value histogram
    split into before/after-cutoff populations over shared log2
    buckets — the per-bin (n_early, n_late) pairs that PSI,
    chi-square, or KS statistics consume (each is one float pass over
    this table; the counts stay integer so the graded surface carries
    no rounding). Drift gates like this run before every model refresh
    and data publication.

    One scan, one conditional aggregate over the derived bucket —
    comparing two periods costs the same as profiling one."""
    o = t(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    early = F.col("o_orderdate") < F.lit(_DRIFT_CUTOFF).cast("timestamp")
    q = o.filter(F.col("o_totalprice") > 0).select(
        centi.alias("centi"), early.alias("early")
    )
    return q.groupBy(
        (F.length(F.bin("centi")) - 1).cast("int").alias("bucket_log2")
    ).agg(
        F.sum(F.col("early").cast("int")).cast("long").alias("n_early"),
        F.sum((~F.col("early")).cast("int")).cast("long").alias("n_late"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (fixed n per stratum)
# ---------------------------------------------------------------------------

STRAT_N = 5


@query(
    "sample_stratified_fixed_n",
    oracle=f"""
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= {STRAT_N}
    """,
)
def sample_stratified_fixed_n(spark, sf_dir):
    """Stratified sample with a FIXED quota per stratum (the
    eval-set / holdout construction next to `sample_sequential_poisson`'s
    weighted global sample): exactly min(n, |stratum|) documents per
    source, chosen by md5-hash priority so the draw is deterministic,
    uniform within the stratum, and stable under re-runs and
    repartitioning — no rand(), no seed plumbing. Scale shape: one
    hash projection + a per-stratum ``topk``, limited to n rows per
    stratum in each partition before the shuffle."""
    d = t(spark, sf_dir, "documents")
    return topk(
        d.select("doc_id", "source"),
        ["source"],
        [F.md5(F.col("doc_id").cast("string")), "doc_id"],
        STRAT_N,
        rank="rn",
    ).select("doc_id", "source", F.col("rn").cast("long").alias("rn"))


# ---------------------------------------------------------------------------
# C4-style global chunk dedup with document rewrite
# ---------------------------------------------------------------------------

LD_CHUNK_WORDS = 8
_LD_IDX_BASE = 100000  # doc-local chunk index < 1e5 by construction


@query(
    "curation_chunk_dedup_rewrite",
    oracle=f"""
    WITH ch AS MATERIALIZED (
      SELECT doc_id, u.i AS idx,
             array_to_string(
               list_slice(string_split(text, ' '),
                          CAST(u.i * {LD_CHUNK_WORDS} + 1 AS INT),
                          CAST(u.i * {LD_CHUNK_WORDS} + {LD_CHUNK_WORDS} AS INT)),
               ' ') AS chunk
      FROM documents,
           unnest(range(0, CAST(ceil(len(string_split(text, ' '))
                                     / {LD_CHUNK_WORDS}.0) AS BIGINT))) AS u(i)
    ),
    surv AS (
      SELECT chunk, MIN(doc_id * {_LD_IDX_BASE} + idx) AS mink
      FROM ch GROUP BY chunk
    ),
    kept AS (
      SELECT ch.doc_id, ch.idx, ch.chunk
      FROM ch JOIN surv ON ch.chunk = surv.chunk
       AND ch.doc_id * {_LD_IDX_BASE} + ch.idx = surv.mink
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id),
    ka AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             array_to_string(list(chunk ORDER BY idx), ' ') AS new_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(t.n_chunks AS BIGINT) AS n_chunks,
           CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(ka.new_text, '') AS new_text
    FROM tot t LEFT JOIN ka USING (doc_id)
    """,
)
def curation_chunk_dedup_rewrite(spark, sf_dir):
    """C4/RefinedWeb-style global line dedup with document REWRITE:
    documents split into 8-word chunks (the corpus has no newlines, so
    fixed-width word chunks stand in for lines); each distinct chunk
    keeps exactly its first occurrence corpus-wide (lowest
    (doc_id, idx)); every document is then reassembled from its
    surviving chunks in order. Unlike ``text_paragraph_dedup_ratio``
    (which only measures duplication), this emits the rewritten
    corpus — the actual curation transform C4 applies before
    training. Scale shape: explode → one hash-partitioned groupBy on
    the chunk text for survivorship → join back on the same key →
    per-doc reassembly; first-occurrence survivorship is a pure MIN
    aggregate (no windows), so every stage partial-aggregates."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    nchunks = F.ceil(F.size(words) / F.lit(LD_CHUNK_WORDS)).cast("int")
    ch = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nchunks - 1),
                lambda i: F.array_join(
                    F.slice(words, i * LD_CHUNK_WORDS + 1, LD_CHUNK_WORDS), " "
                ),
            )
        ).alias("idx", "chunk"),
    )
    key = F.col("doc_id") * _LD_IDX_BASE + F.col("idx")
    surv = ch.groupBy("chunk").agg(F.min(key).alias("mink"))
    kept = ch.join(surv, "chunk").filter(key == F.col("mink"))
    tot = ch.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    ka = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("new_text"),
    )
    return tot.join(ka, "doc_id", "left").select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("new_text"), F.lit("")).alias("new_text"),
    )


# ---------------------------------------------------------------------------
# Portable Soundex blocking for entity resolution
# ---------------------------------------------------------------------------

# American Soundex letter→digit classes (vowels/H/W/Y → 0).
_SDX_FROM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_SDX_TO = "01230120022455012623010202"


def _soundex_sql(col: str) -> str:
    """Portable Soundex as a translate + run-collapse chain — written
    once, pasted verbatim into BOTH engines (no backreferences: RE2 on
    the DuckDB side has none, so runs collapse per-digit). Documented
    simplification vs the classic algorithm: H/W are treated like
    vowels (run separators) rather than transparent."""
    s = f"translate(upper({col}), '{_SDX_FROM}', '{_SDX_TO}')"
    for d in range(7):
        s = f"regexp_replace({s}, '{d}{{2,}}', '{d}')"
    # drop the first letter's own code, remove vowel markers, pad to 3
    return (
        f"substr(upper({col}), 1, 1) || "
        f"rpad(substr(translate(substr({s}, 2), '0', ''), 1, 3), 3, '0')"
    )


@query(
    "er_soundex_block",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT w FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
        UNION ALL
        SELECT unnest(string_split(p_name, ' ')) AS w FROM part)
      WHERE length(w) >= 3
    ),
    coded AS (SELECT w, {_soundex_sql('w')} AS sdx FROM vocab)
    SELECT a.sdx, a.w AS w1, b.w AS w2,
           CAST(levenshtein(a.w, b.w) AS BIGINT) AS lev
    FROM coded a JOIN coded b ON a.sdx = b.sdx AND a.w < b.w
    """,
)
def er_soundex_block(spark, sf_dir):
    """Phonetic blocking for entity resolution: Soundex codes as the
    blocking key (the classic ER recipe — candidate pairs only WITHIN
    a block, never all-pairs), then Levenshtein distance as the
    verify stage on the candidates. Soundex is implemented portably
    (``_soundex_sql``) — one translate + per-digit run-collapse chain
    pasted verbatim into both engines, because DuckDB has no soundex
    builtin and RE2 has no backreferences; H/W are treated as run
    separators (documented simplification). Complements
    ``er_blocked_name_match`` (first-letter blocking): phonetic blocks
    catch sound-alike spellings that prefix blocks miss. Scale shape:
    the vocabulary extraction is one partial-aggregating DISTINCT;
    pairs form per block (Σ block², never n²), the same bucketed
    posture as every dedup family."""
    docs = t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    parts = t(spark, sf_dir, "part").select(
        F.explode(F.split(F.col("p_name"), " ")).alias("w")
    )
    vocab = (
        docs.unionByName(parts).filter(F.length("w") >= 3).distinct()
    )
    coded = vocab.select("w", F.expr(_soundex_sql("w")).alias("sdx"))
    a = coded.select(F.col("sdx"), F.col("w").alias("w1"))
    b = coded.select(F.col("sdx"), F.col("w").alias("w2"))
    return (
        a.join(b, "sdx")
        .filter(F.col("w1") < F.col("w2"))
        .select(
            "sdx",
            "w1",
            "w2",
            F.levenshtein("w1", "w2").cast("long").alias("lev"),
        )
    )


# ---------------------------------------------------------------------------
# One-pass column profiler
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
]


@query(
    "dq_column_profile",
    oracle=f"""
    WITH agg AS (
      SELECT COUNT(*) AS n_rows,
             {', '.join(
                 f'COUNT(DISTINCT {c}) AS d_{c}, '
                 f'SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS z_{c}'
                 for c in _PROFILE_COLS)}
      FROM orders
    )
    {' UNION ALL '.join(
        f"SELECT '{c}' AS column_name, CAST(d_{c} AS BIGINT) AS n_distinct, "
        f"CAST(z_{c} AS BIGINT) AS n_null, CAST(n_rows AS BIGINT) AS n_rows "
        f"FROM agg"
        for c in _PROFILE_COLS)}
    """,
)
def dq_column_profile(spark, sf_dir):
    """One-pass column profiler — the table-profiling primitive every
    DQ suite (Deequ, GE) runs first: per-column exact distinct count,
    null count, and row count over a SINGLE scan, unpivoted to one row
    per column. Multiple COUNT(DISTINCT) in one aggregate is the
    declared surface: Catalyst plans it as one Expand (row per
    distinct-column) + two-level aggregate — one scan, no per-column
    re-reads; the same plan DuckDB picks. Scale posture: Expand
    multiplies rows by |profiled columns| before the partial
    aggregate — for very wide tables the two-level
    ``agg_two_level_count_distinct`` rewrite per column-group caps
    the blowup; both shapes are declared."""
    o = t(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.countDistinct(F.col(c)).alias(f"d_{c}"))
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"z_{c}")
        )
    agg = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', d_{c}, z_{c}" for c in _PROFILE_COLS
    )
    return agg.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (column_name, n_distinct, n_null)"
        ),
        "n_rows",
    ).select(
        "column_name",
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Phonetic ER clustering: soundex block -> levenshtein verify -> CC
# ---------------------------------------------------------------------------

PHON_LEV_MAX = 2
PHON_ROUNDS = 4


def _phon_cluster_oracle() -> str:
    head = f"""
    WITH vocab AS (
      SELECT DISTINCT w FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
        UNION ALL
        SELECT unnest(string_split(p_name, ' ')) AS w FROM part)
      WHERE length(w) >= 3
    ),
    coded AS (SELECT w, {_soundex_sql('w')} AS sdx FROM vocab),
    matched AS (
      SELECT a.w AS w1, b.w AS w2
      FROM coded a JOIN coded b ON a.sdx = b.sdx AND a.w < b.w
      WHERE levenshtein(a.w, b.w) <= {PHON_LEV_MAX}
    ),
    edges AS MATERIALIZED (
      SELECT w1 AS src, w2 AS dst FROM matched
      UNION ALL
      SELECT w2, w1 FROM matched
    ),
    l0 AS (SELECT w, w AS lbl FROM vocab)"""
    steps = []
    for i in range(1, PHON_ROUNDS + 1):
        steps.append(f"""l{i} AS MATERIALIZED (
      SELECT l.w, least(l.lbl, COALESCE(MIN(n.lbl), l.lbl)) AS lbl
      FROM l{i-1} l
      LEFT JOIN edges e ON e.src = l.w
      LEFT JOIN l{i-1} n ON n.w = e.dst
      GROUP BY l.w, l.lbl
    )""")
    tail = f"""
    SELECT w, lbl AS cluster_label,
           CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT) AS cluster_size
    FROM l{PHON_ROUNDS}"""
    return head + ",\n    " + ",\n    ".join(steps) + tail


@query("er_phonetic_cluster_cc", oracle=_phon_cluster_oracle())
def er_phonetic_cluster_cc(spark, sf_dir):
    """The full fuzzy-ER composition as ONE declared operator:
    phonetic blocking (portable Soundex) → Levenshtein verify on the
    block candidates (≤ {PHON_LEV_MAX}) → connected components over
    the verified match graph by min-label propagation — the
    blocking/verify/cluster pipeline every MDM dedup deploys, with
    cluster id = lexicographic-min member so labels are
    engine-portable strings. The clustering is
    :func:`graph.connected_components`, capped at the oracle's
    {PHON_ROUNDS} rounds: it stops early once a round changes no
    label, and the pytest asserts the fixpoint is reached within the
    cap on this corpus, so both engines end on the same labels. The
    8th iterative operator (CC, PageRank, power iteration, k-means,
    SSSP, label propagation, k-core, this). Scale shape: candidates
    form per soundex block (Σ block², never n²); each round is one
    join + one min-groupBy, all hash-partitioned on the word key."""
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
    from caliper_poc_data_etl_spark.graph import connected_components

    labels = connected_components(
        vocab, matched, node_col="w", src_col="w1", dst_col="w2", max_iter=PHON_ROUNDS
    )
    return labels.select(
        F.col("node").alias("w"),
        F.col("comp").alias("cluster_label"),
        F.count(F.lit(1))
        .over(W.partitionBy("comp"))
        .cast("long")
        .alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# Blocklist curation gate
# ---------------------------------------------------------------------------

BLOCKLIST = ["spark", "merge", "window"]


@query(
    "curation_blocklist_filter",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '),
                w -> list_contains({BLOCKLIST!r}, w))) AS BIGINT)
             AS n_blocked,
           len(list_filter(string_split(text, ' '),
                w -> list_contains({BLOCKLIST!r}, w))) * 10
             >= len(string_split(text, ' ')) AS dropped
    FROM documents
    """,
)
def curation_blocklist_filter(spark, sf_dir):
    """Blocklist curation gate — the wordlist-based content filter
    (profanity/boilerplate/PII-keyword lists) every web-corpus
    pipeline runs: count blocked-token occurrences per document and
    drop documents whose blocked fraction crosses the threshold
    (≥ 10% here, tested by integer cross-multiplication — no float
    ratio). The blocklist is a LITERAL array on both sides (the
    production shape is a broadcast join against a list table —
    ``decontam_exact_substring`` declares that variant); counting
    uses a higher-order filter over the token array, zero shuffle,
    zero explode."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bl = F.array(*[F.lit(w) for w in BLOCKLIST])
    n_blocked = F.size(F.filter(toks, lambda w: F.array_contains(bl, w)))
    return d.select(
        "doc_id",
        n_blocked.cast("long").alias("n_blocked"),
        (n_blocked * 10 >= F.size(toks)).alias("dropped"),
    )


# ---------------------------------------------------------------------------
# Gopher quality-rule pack
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ["the", "a", "of", "to", "and"]
GOPHER_MIN_WORDS = 30
GOPHER_MIN_STOPWORDS = 1


@query(
    "curation_gopher_rules",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             length(replace(text, ' ', '')) AS n_word_chars,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains({GOPHER_STOPWORDS!r}, w))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_word_chars AS BIGINT) AS n_word_chars,
           CAST(n_stop AS BIGINT) AS n_stopwords,
           n_words >= {GOPHER_MIN_WORDS} AS pass_min_words,
           n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
             AS pass_mean_word_len,
           n_stop >= {GOPHER_MIN_STOPWORDS} AS pass_stopwords,
           n_words >= {GOPHER_MIN_WORDS}
             AND n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
             AND n_stop >= {GOPHER_MIN_STOPWORDS} AS keep
    FROM m
    """,
)
def curation_gopher_rules(spark, sf_dir):
    """Gopher quality rules (Rae et al. 2021, §A1.1) as a composite
    curation gate — the published heuristic stack most web-corpus
    pipelines start from: minimum word count, mean word length in
    [3, 10], and stop-word presence (the "contains common English
    words" rule), each emitted as its own flag plus the conjunctive
    keep decision. Mean word length is tested by integer
    cross-multiplication (3·n ≤ chars ≤ 10·n) so no float ratio
    crosses the engine boundary; thresholds are adapted to the
    synthetic corpus scale and declared as constants. Scale shape:
    pure per-row Column arithmetic over the token array — zero
    shuffle, the measurement composes with ``text_quality_score``'s
    continuous scoring and ``curation_funnel_report``'s accounting."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_words = F.size(toks)
    n_chars = F.length(F.regexp_replace(F.col("text"), " ", ""))
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(sw, w)))
    m = d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_chars.cast("long").alias("n_word_chars"),
        n_stop.cast("long").alias("n_stopwords"),
    )
    p_words = F.col("n_words") >= GOPHER_MIN_WORDS
    p_mwl = (F.col("n_word_chars") >= 3 * F.col("n_words")) & (
        F.col("n_word_chars") <= 10 * F.col("n_words")
    )
    p_stop = F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS
    return m.select(
        "doc_id",
        "n_words",
        "n_word_chars",
        "n_stopwords",
        p_words.alias("pass_min_words"),
        p_mwl.alias("pass_mean_word_len"),
        p_stop.alias("pass_stopwords"),
        (p_words & p_mwl & p_stop).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Declarative schema-contract validation
# ---------------------------------------------------------------------------

# (rule name, Spark violation predicate, DuckDB violation predicate) —
# predicates are null-safe: a NULL check result counts as a violation
# for value rules, and rule r01 is the explicit null check.
_CONTRACT_RULES = [
    (
        "r01_custkey_not_null",
        "o_custkey IS NULL",
        "o_custkey IS NULL",
    ),
    (
        "r02_totalprice_positive",
        "NOT coalesce(o_totalprice > 0, false)",
        "NOT COALESCE(o_totalprice > 0, FALSE)",
    ),
    (
        "r03_totalprice_upper_bound",
        "NOT coalesce(o_totalprice <= 400000, false)",
        "NOT COALESCE(o_totalprice <= 400000, FALSE)",
    ),
    (
        "r04_status_domain",
        "NOT coalesce(o_orderstatus IN ('O','F'), false)",
        "NOT COALESCE(o_orderstatus IN ('O','F'), FALSE)",
    ),
    (
        "r05_priority_format",
        "NOT coalesce(o_orderpriority rlike '^[1-5]-', false)",
        "NOT COALESCE(regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)",
    ),
    (
        "r06_date_range",
        "NOT coalesce(o_orderdate >= timestamp'1992-01-01' "
        "AND o_orderdate < timestamp'1999-01-01', false)",
        "NOT COALESCE(o_orderdate >= TIMESTAMP '1992-01-01' "
        "AND o_orderdate < TIMESTAMP '1999-01-01', FALSE)",
    ),
]


def _contract_oracle() -> str:
    agg = ",\n             ".join(
        f"COUNT(*) FILTER (WHERE {pred}) AS v{i}"
        for i, (_, _, pred) in enumerate(_CONTRACT_RULES, 1)
    )
    branches = "\n    UNION ALL ".join(
        f"""SELECT '{name}' AS rule, CAST(n AS BIGINT) AS n_checked,
               CAST(v{i} AS BIGINT) AS n_violations, v{i} = 0 AS passed
    FROM a"""
        for i, (name, _, _) in enumerate(_CONTRACT_RULES, 1)
    )
    return f"""
    WITH a AS (
      SELECT COUNT(*) AS n,
             {agg}
      FROM orders
    )
    {branches}
    """


@query("dq_schema_contract", oracle=_contract_oracle())
def dq_schema_contract(spark, sf_dir):
    """Declarative schema-contract validation — the Great-Expectations
    / dbt-test / Deequ shape: a table of named rules (null checks,
    value bounds, domain membership, format regex, date range), each
    graded in ONE shared scan via conditional aggregation, emitted as
    one row per rule with checked/violation counts and a pass flag.
    Rules are null-safe (a NULL value violates every value rule; the
    explicit null rule owns nullness), and the rule set includes
    genuinely-failing rules (the tight price bound, the O/F status
    domain) so the operator's discrimination is graded, not just its
    plumbing. Plan: a single parquet scan → one partial aggregate →
    a literal-array explode; zero joins, zero extra passes however
    many rules the contract carries. Companion to
    ``dq_constraint_check`` (which cross-checks aggregates against a
    second table) — this one is the per-column contract surface."""
    o = t(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.count_if(F.expr(pred)).alias(f"v{i}")
        for i, (_, pred, _) in enumerate(_CONTRACT_RULES, 1)
    ]
    a = o.agg(*aggs)
    rules = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col("n").cast("long").alias("n_checked"),
                F.col(f"v{i}").cast("long").alias("n_violations"),
            )
            for i, (name, _, _) in enumerate(_CONTRACT_RULES, 1)
        ]
    )
    return (
        a.select(F.explode(rules).alias("r"))
        .select(
            "r.rule",
            "r.n_checked",
            "r.n_violations",
            (F.col("r.n_violations") == 0).alias("passed"),
        )
    )


# ---------------------------------------------------------------------------
# A/B assignment + sample-ratio-mismatch (SRM) audit
# ---------------------------------------------------------------------------

SRM_CHI2_CRIT_MICRO = 3_841_459  # chi-square(1 df) 0.05 critical value


@query(
    "dq_ab_srm_check",
    oracle=f"""
    WITH exposed AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    assigned AS (
      SELECT event_type, user_id,
             CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10))
                       ::BIGINT % 100 < 50
                  THEN 1 ELSE 0 END AS is_a
      FROM exposed
    ),
    scoped AS (
      SELECT event_type AS scope, SUM(is_a) AS n_a,
             SUM(1 - is_a) AS n_b
      FROM assigned GROUP BY event_type
      UNION ALL
      SELECT 'all' AS scope, SUM(a), SUM(1 - a)
      FROM (SELECT DISTINCT user_id,
                   CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                        1, 10))::BIGINT % 100 < 50 THEN 1 ELSE 0 END AS a
            FROM events)
    )
    SELECT scope, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(((2*n_a - (n_a+n_b)) * (2*n_a - (n_a+n_b))
                 + (2*n_b - (n_a+n_b)) * (2*n_b - (n_a+n_b)))
                * 1000000 // (2 * (n_a + n_b)) AS BIGINT) AS chi2_micro,
           ((2*n_a - (n_a+n_b)) * (2*n_a - (n_a+n_b))
                 + (2*n_b - (n_a+n_b)) * (2*n_b - (n_a+n_b)))
                * 1000000 // (2 * (n_a + n_b)) > {SRM_CHI2_CRIT_MICRO}
             AS srm_flag
    FROM scoped
    """,
)
def dq_ab_srm_check(spark, sf_dir):
    """A/B experiment assignment + sample-ratio-mismatch audit — the
    first gate every experimentation platform runs: units are
    deterministically bucketed (md5 mod 100, 50/50 split — the
    ``ml_kfold_assign`` keyed-hash recipe), then the OBSERVED exposed
    populations per scope (each event type, plus overall) are tested
    against the designed ratio with a chi-square statistic carried as
    an exact integer micro-unit rational ((2a−t)² + (2b−t)²)/(2t) —
    no libm; the 0.05 critical value is a shared literal. An SRM flag
    on any scope means exposure is biased (logging loss, bot
    filtering, trigger asymmetry) and the experiment's readout is
    invalid. Plan: one distinct-projection, one groupBy per scope
    branch — integer end-to-end."""
    e = t(spark, sf_dir, "events")
    is_a = (md5_int(F.col("user_id").cast("string"), 10) % 100 < 50).cast("int")
    per_type = (
        e.select("event_type", "user_id")
        .distinct()
        .select(F.col("event_type").alias("scope"), is_a.alias("is_a"))
        .groupBy("scope")
        .agg(
            F.sum("is_a").alias("n_a"),
            F.sum(1 - F.col("is_a")).alias("n_b"),
        )
    )
    overall = (
        e.select("user_id")
        .distinct()
        .select(F.lit("all").alias("scope"), is_a.alias("is_a"))
        .groupBy("scope")
        .agg(
            F.sum("is_a").alias("n_a"),
            F.sum(1 - F.col("is_a")).alias("n_b"),
        )
    )
    chi2 = F.expr(
        "((2*n_a - (n_a+n_b)) * (2*n_a - (n_a+n_b))"
        " + (2*n_b - (n_a+n_b)) * (2*n_b - (n_a+n_b)))"
        " * 1000000 div (2 * (n_a + n_b))"
    )
    return (
        per_type.unionByName(overall)
        .select(
            "scope",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            chi2.cast("long").alias("chi2_micro"),
            (chi2 > SRM_CHI2_CRIT_MICRO).alias("srm_flag"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget corpus fill (global ordered cumsum, distributed form)
# ---------------------------------------------------------------------------

BUDGET_NUM = 3  # fill to 3/10 of total corpus tokens
BUDGET_DEN = 10


@query(
    "mix_token_budget_fill",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             len(string_split(lower(trim(text)), ' ')) AS n_tokens,
             len(list_distinct(string_split(lower(trim(text)), ' ')))
               AS distinct_words
      FROM documents WHERE trim(text) <> ''
    ),
    budget AS (
      SELECT SUM(n_tokens) * {BUDGET_NUM} // {BUDGET_DEN} AS b FROM docs
    ),
    ranked AS (
      SELECT doc_id, n_tokens, distinct_words,
             SUM(n_tokens) OVER (ORDER BY distinct_words DESC, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_tokens
      FROM docs
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(distinct_words AS BIGINT) AS distinct_words,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked CROSS JOIN budget
    WHERE cum_tokens <= budget.b
    """,
)
def mix_token_budget_fill(spark, sf_dir):
    """Token-budget corpus assembly — fill a fixed training-token
    budget (30% of the corpus here) with the highest-priority
    documents, priority = lexical diversity (distinct-word count,
    ties on doc_id): the dataset-assembly step between curation
    scores and the packed training set. The crux is a GLOBAL ordered
    cumulative sum with a budget cut — the naive form is one
    unpartitioned window over every row (single reducer, the
    ``window_ntile`` anti-pattern). The engine uses the distributed
    construction instead: range-repartition on the priority key,
    per-partition token totals → broadcast running offsets, local
    running sum + offset = exact global cumsum, budget filter applied
    per-partition. The budget itself rides as a broadcast 1-row
    scalar. The boundary is exact: the first document that would
    EXCEED the budget is excluded (strict ≤), pinned in pytest."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim(F.col("text"))), " ")
    docs = d.filter(F.trim(F.col("text")) != "").select(
        "doc_id",
        F.size(tk).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tk)).cast("long").alias("distinct_words"),
    )
    budget = docs.agg(
        F.expr(f"sum(n_tokens) * {BUDGET_NUM} div {BUDGET_DEN}").alias("b")
    )
    parts = docs.select(
        "*", (-F.col("distinct_words")).alias("neg")
    ).repartitionByRange(32, "neg", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    sizes = parts.groupBy("pid").agg(F.sum("n_tokens").alias("ptok"))
    # bounded-by-construction: window over <=32 partition-count rows
    w_off = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = sizes.select(
        "pid", F.coalesce(F.sum("ptok").over(w_off), F.lit(0)).alias("off")
    )
    w_local = (
        W.partitionBy("pid")
        .orderBy("neg", "doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        parts.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            "n_tokens",
            "distinct_words",
            (F.col("off") + F.sum("n_tokens").over(w_local)).alias(
                "cum_tokens"
            ),
        )
        .crossJoin(F.broadcast(budget))
        .filter(F.col("cum_tokens") <= F.col("b"))
        .select("doc_id", "n_tokens", "distinct_words", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# Blocking-quality report (reduction ratio / pairs completeness)
# ---------------------------------------------------------------------------

BLKQ_LEV = 2  # ground-truth match: levenshtein <= 2


@query(
    "er_blocking_quality_report",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT w FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
        UNION ALL
        SELECT unnest(string_split(p_name, ' ')) AS w FROM part)
      WHERE length(w) >= 3
    ),
    coded AS (SELECT w, {{SDX}} AS sdx FROM vocab),
    allp AS (
      SELECT a.w AS w1, b.w AS w2,
             levenshtein(a.w, b.w) <= {BLKQ_LEV} AS is_match,
             a.sdx = b.sdx AS same_block
      FROM coded a JOIN coded b ON a.w < b.w
    ),
    agg AS (
      SELECT COUNT(*) AS n_all,
             SUM(CASE WHEN same_block THEN 1 ELSE 0 END) AS n_cand,
             SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS n_true,
             SUM(CASE WHEN is_match AND same_block THEN 1 ELSE 0 END)
               AS n_found
      FROM allp
    ),
    nv AS (SELECT COUNT(*) AS n_words FROM vocab)
    SELECT CAST(nv.n_words AS BIGINT) AS n_words,
           CAST(n_all AS BIGINT) AS n_all_pairs,
           CAST(n_cand AS BIGINT) AS n_candidates,
           CAST(n_true AS BIGINT) AS n_true_matches,
           CAST(n_found AS BIGINT) AS n_found_in_block,
           CAST((n_all - n_cand) * 1000000 // n_all AS BIGINT)
             AS reduction_micro,
           CAST(CASE WHEN n_true > 0
                     THEN n_found * 1000000 // n_true ELSE -1 END
                AS BIGINT) AS recall_micro
    FROM agg CROSS JOIN nv
    """.replace("{SDX}", _soundex_sql("w")),
)
def er_blocking_quality_report(spark, sf_dir):
    """Blocking-quality report — the evaluation EVERY entity-
    resolution blocking scheme needs before it ships: REDUCTION RATIO
    (what fraction of the n² comparison space the blocks eliminate)
    and PAIRS COMPLETENESS (what fraction of true matches land in
    the same block, i.e. blocking recall), graded against exact
    ground truth (all-pairs levenshtein ≤ 2 — the deliberately
    quadratic oracle baseline over the bounded vocabulary universe,
    the same posture as ``dedup_ngram_jaccard`` for MinHash). Here
    the Soundex scheme of ``er_soundex_block`` is the scheme under
    test. Both ratios are floor-micro integers. At 100 TB the
    report runs on a SAMPLE of the universe (ground truth is
    quadratic by definition); the blocked pipeline itself never
    pays n² — that is exactly what the reduction ratio quantifies."""
    docs = t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    parts = t(spark, sf_dir, "part").select(
        F.explode(F.split(F.col("p_name"), " ")).alias("w")
    )
    vocab = docs.unionByName(parts).filter(F.length("w") >= 3).distinct()
    coded = vocab.select("w", F.expr(_soundex_sql("w")).alias("sdx"))
    a = coded.select(F.col("w").alias("w1"), F.col("sdx").alias("s1"))
    b = coded.select(F.col("w").alias("w2"), F.col("sdx").alias("s2"))
    allp = (
        a.join(b, F.col("w1") < F.col("w2"))
        .select(
            (F.levenshtein("w1", "w2") <= BLKQ_LEV).alias("is_match"),
            (F.col("s1") == F.col("s2")).alias("same_block"),
        )
    )
    nv = vocab.agg(F.count(F.lit(1)).alias("n_words"))
    agg = allp.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("same_block"), 1).otherwise(0)).alias("n_cand"),
        F.sum(F.when(F.col("is_match"), 1).otherwise(0)).alias("n_true"),
        F.sum(
            F.when(F.col("is_match") & F.col("same_block"), 1).otherwise(0)
        ).alias("n_found"),
    )
    return agg.crossJoin(F.broadcast(nv)).select(
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_all").cast("long").alias("n_all_pairs"),
        F.col("n_cand").cast("long").alias("n_candidates"),
        F.col("n_true").cast("long").alias("n_true_matches"),
        F.col("n_found").cast("long").alias("n_found_in_block"),
        F.expr("(n_all - n_cand) * 1000000 div n_all")
        .cast("long")
        .alias("reduction_micro"),
        F.when(
            F.col("n_true") > 0,
            F.expr("n_found * 1000000 div n_true"),
        )
        .otherwise(-1)
        .cast("long")
        .alias("recall_micro"),
    )


# ---------------------------------------------------------------------------
# Corpus-internal duplicated-span exact dedup with document rewrite
# ---------------------------------------------------------------------------

SPAN_K = 8  # span unit: k-word exact grams (Lee et al. use 50 BPE
# tokens on web text; 8 words matches this corpus' ~54-word documents
# and the LD_CHUNK_WORDS granularity of the chunk-rewrite stage)
# Survivorship key = doc_id * _SPAN_IDX_BASE + pos encodes lexicographic
# (doc_id, pos) min as a single BIGINT min. The base bounds the gram
# position, NOT just "by construction": a document with >= base words
# would mis-rank first-occurrence survivorship identically on both
# engines (hash-green yet wrong). 1e9 leaves headroom for
# any realistic document (1e9 words ≈ 6 GB of text in one row) while
# doc_id stays < 9.2e9 before BIGINT overflow; a fixture pin in
# tests/test_advice_r9_fixes.py asserts max(n_words) < base at both
# fixture SFs, the nonnegative-id pins' sibling.
_SPAN_IDX_BASE = 1_000_000_000


@query(
    "curation_span_dedup_rewrite",
    oracle=f"""
    WITH docs AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    ),
    ch AS MATERIALIZED (
      SELECT doc_id, u.i AS pos,
             array_to_string(
               list_slice(toks, CAST(u.i + 1 AS INT),
                          CAST(u.i + {SPAN_K} AS INT)), ' ') AS gram
      FROM docs,
           unnest(range(0, CAST(greatest(n_words - {SPAN_K - 1}, 0)
                                AS BIGINT))) AS u(i)
    ),
    surv AS (
      SELECT gram, MIN(doc_id * {_SPAN_IDX_BASE} + pos) AS mink
      FROM ch GROUP BY gram
    ),
    rem AS (
      SELECT ch.doc_id, ch.pos
      FROM ch JOIN surv ON ch.gram = surv.gram
      WHERE ch.doc_id * {_SPAN_IDX_BASE} + ch.pos <> surv.mink
    ),
    cov AS (
      SELECT DISTINCT doc_id, u.j
      FROM rem, unnest(range(pos, pos + {SPAN_K})) AS u(j)
    ),
    runs AS (
      SELECT doc_id, COUNT(*) AS n_removed,
             SUM(CASE WHEN prev IS NULL OR j - prev > 1 THEN 1 ELSE 0 END)
               AS n_dup_runs
      FROM (SELECT doc_id, j,
                   LAG(j) OVER (PARTITION BY doc_id ORDER BY j) AS prev
            FROM cov)
      GROUP BY doc_id
    ),
    pos_tbl AS (
      SELECT doc_id, u.j, toks[CAST(u.j + 1 AS INT)] AS w
      FROM docs, unnest(range(0, n_words)) AS u(j)
    ),
    kept AS (
      SELECT p.doc_id, p.j, p.w
      FROM pos_tbl p
      WHERE NOT EXISTS (SELECT 1 FROM cov c
                        WHERE c.doc_id = p.doc_id AND c.j = p.j)
    ),
    ka AS (
      SELECT doc_id, array_to_string(list(w ORDER BY j), ' ') AS new_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(d.n_words AS BIGINT) AS n_words,
           CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(COALESCE(r.n_dup_runs, 0) AS BIGINT) AS n_dup_runs,
           COALESCE(k.new_text, '') AS new_text
    FROM docs d
    LEFT JOIN runs r ON r.doc_id = d.doc_id
    LEFT JOIN ka k ON k.doc_id = d.doc_id
    """,
)
def curation_span_dedup_rewrite(spark, sf_dir):
    """Corpus-internal duplicated-SPAN exact dedup with document
    rewrite (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" — the ExactSubstr stage): every {SPAN_K}-
    word gram that occurs more than once corpus-wide keeps only its
    first occurrence (min (doc_id, pos) survivorship); every word
    position covered by a non-surviving duplicated gram is removed and
    each document is reassembled from its surviving words in order.
    This is the production stage between span DETECTION
    (``text_winnowing_fingerprint``) and fixed-boundary chunk rewrite
    (``curation_chunk_dedup_rewrite``): unlike the chunk stage it
    catches duplicated spans at ANY alignment (a doc that is a pure
    concatenation of two earlier docs empties completely — pinned in
    tests), and overlapping removed grams merge into maximal runs
    (``n_dup_runs`` counts them via a per-doc LAG gap scan). Pure
    integer/string ops — exact on both engines. Scale shape: sliding-
    window gram explode (narrow; ``toks`` materialized once per row so
    the regex split is not re-run per element), one hash-partitioned
    groupBy on the gram text for MIN survivorship (map-side combined),
    join back on the same key, position-coverage explode bounded by
    {SPAN_K}× the removed-gram count, distinct + left-anti join on
    (doc_id, position), and per-doc bounded windows/aggregates — never
    all-pairs, no driver collects; a hot gram (stopword run) salts
    like any skewed equi-key."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    toks = F.col("toks")
    n = F.size(toks)
    docs = d.select("doc_id", "toks", n.alias("n_words"))
    grams_arr = F.when(
        F.col("n_words") >= SPAN_K,
        F.transform(
            F.sequence(F.lit(0), F.col("n_words") - SPAN_K),
            lambda i: F.array_join(F.slice(toks, i + 1, SPAN_K), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ch = docs.select(
        "doc_id", F.posexplode(grams_arr).alias("pos", "gram")
    )
    key = F.col("doc_id") * _SPAN_IDX_BASE + F.col("pos")
    surv = ch.groupBy("gram").agg(F.min(key).alias("mink"))
    rem = ch.join(surv, "gram").filter(key != F.col("mink"))
    cov = rem.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + SPAN_K - 1)
        ).alias("j"),
    ).distinct()
    prev = F.lag("j").over(W.partitionBy("doc_id").orderBy("j"))
    runs = (
        cov.select("doc_id", "j", prev.alias("prev"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_removed"),
            F.sum(
                F.when(
                    F.col("prev").isNull()
                    | (F.col("j") - F.col("prev") > 1),
                    1,
                ).otherwise(0)
            ).alias("n_dup_runs"),
        )
    )
    pos_tbl = docs.select("doc_id", F.posexplode(toks).alias("j", "w"))
    kept = pos_tbl.join(cov, ["doc_id", "j"], "left_anti")
    ka = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("new_text")
    )
    return (
        docs.select("doc_id", "n_words")
        .join(runs, "doc_id", "left")
        .join(ka, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.coalesce(F.col("n_removed"), F.lit(0))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("n_dup_runs"), F.lit(0))
            .cast("long")
            .alias("n_dup_runs"),
            F.coalesce(F.col("new_text"), F.lit("")).alias("new_text"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted priority sampling (Duffield–Lund–Thorup) — deterministic
# ---------------------------------------------------------------------------

PRIORITY_SAMPLE_K = 100
_U52 = 1 << 52  # md5 13-hex-char prefix → 52 bits, exact in a DOUBLE


@query(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH wdocs AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS weight,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
               + 1 AS u52
      FROM documents
    ),
    pr AS (
      SELECT doc_id, weight, u52,
             (CAST(weight AS DOUBLE) / CAST(u52 AS DOUBLE)) * {_U52}.0
               AS prio
      FROM wdocs
    ),
    top AS (
      SELECT * FROM pr
      ORDER BY prio DESC, doc_id
      LIMIT {PRIORITY_SAMPLE_K + 1}
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY prio DESC, doc_id) AS rn,
             COALESCE(MAX(CASE WHEN rn0 = {PRIORITY_SAMPLE_K + 1}
                                THEN prio END) OVER (), 0.0) AS tau
      FROM (SELECT *,
                   ROW_NUMBER() OVER (ORDER BY prio DESC, doc_id) AS rn0
            FROM top)
    ),
    sampled AS (
      SELECT doc_id, weight, u52, rn,
             CAST(ROUND(GREATEST(CAST(weight AS DOUBLE), tau) * 1000000)
                  AS BIGINT) AS est_micro
      FROM ranked WHERE rn <= {PRIORITY_SAMPLE_K}
    ),
    tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS total_weight FROM wdocs)
    SELECT s.doc_id,
           s.weight,
           CAST(s.u52 AS BIGINT) AS u52,
           CAST(s.rn AS BIGINT) AS prio_rank,
           s.est_micro,
           CAST(SUM(s.est_micro) OVER () AS BIGINT) AS est_total_micro,
           t.total_weight,
           CAST(SUM(s.est_micro) OVER () // t.total_weight AS BIGINT)
             AS est_over_true_micro
    FROM sampled s, tot t
    """,
)
def sample_weighted_reservoir(spark, sf_dir):
    """Weighted reservoir via PRIORITY SAMPLING (Duffield, Lund &
    Thorup 2007) — the standard corpus downsampler the mixing pack
    lacked: sample k documents with probability increasing in weight
    (words per doc), carrying the UNBIASED per-item total-weight
    estimator max(wᵢ, τ) where τ is the (k+1)-th largest priority.
    Deterministic and cross-engine exact: each doc's uniform draw is
    an md5-derived 52-bit integer u (exactly representable in a
    DOUBLE), its priority is w/(u/2^52) computed as (w/u)·2^52 —
    one correctly-rounded IEEE division then an exact power-of-two
    scaling, so both engines produce BIT-IDENTICAL priorities and the
    top-k boundary can never flip (this is why priority sampling is
    chosen over A-ExpJ/A-Res here: their u^(1/w) / ln(u)/w keys go
    through pow/ln, whose last-ulp behavior differs between JVM and
    C libm — a rank-k boundary flip the hash gate would catch but a
    production run would silently suffer). est_over_true_micro grades
    the estimator: Σ max(w, τ) over the sample vs the true Σ w, ≈1e6
    when the sketch is honest (pinned in tests). τ ~ W/k in
    expectation, so est_micro stays far inside BIGINT. Scale shape:
    the top-(k+1) is a global ``topk`` → TakeOrderedAndProject
    (per-partition top-k, merged on the driver — the corpus never
    globally sorts and never shuffles); the windows run over the
    bounded (k+1)-row frame; the true total is one map-side-combined
    1-row aggregate broadcast back (whitelisted scalar shape)."""
    d = t(spark, sf_dir, "documents")
    wdocs = d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), "\\s+"))
        .cast("long")
        .alias("weight"),
        (md5_int(F.col("doc_id").cast("string"), 13) + 1).alias("u52"),
    )
    pr = wdocs.select(
        "*",
        (
            (F.col("weight").cast("double") / F.col("u52").cast("double"))
            * float(_U52)
        ).alias("prio"),
    )
    # The top k+1: the (k+1)-th row carries tau and is then dropped.
    top = topk(pr, [], [F.desc("prio"), "doc_id"], PRIORITY_SAMPLE_K + 1, rank="rn")
    w_all = W.orderBy(F.desc("prio"), "doc_id").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    ranked = top.select(
        "*",
        F.coalesce(
            F.max(
                F.when(F.col("rn") == PRIORITY_SAMPLE_K + 1, F.col("prio"))
            ).over(w_all),
            F.lit(0.0),
        ).alias("tau"),
    )
    sampled = ranked.filter(F.col("rn") <= PRIORITY_SAMPLE_K).select(
        "doc_id",
        "weight",
        "u52",
        F.col("rn").cast("long").alias("prio_rank"),
        F.round(
            F.greatest(F.col("weight").cast("double"), F.col("tau")) * 1000000
        )
        .cast("long")
        .alias("est_micro"),
    )
    tot = wdocs.agg(F.sum("weight").cast("long").alias("total_weight"))
    w_s = W.orderBy("prio_rank").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return sampled.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "weight",
        "u52",
        "prio_rank",
        "est_micro",
        F.sum("est_micro").over(w_s).cast("long").alias("est_total_micro"),
        "total_weight",
        F.expr("sum(est_micro) over () div total_weight")
        .cast("long")
        .alias("est_over_true_micro"),
    )


# ---------------------------------------------------------------------------
# Per-source weighted priority sampling — the group-wise variant
# ---------------------------------------------------------------------------

PRIORITY_SAMPLE_K_SRC = 10


@query(
    "sample_weighted_reservoir_per_source",
    oracle=f"""
    WITH wdocs AS (
      SELECT source, doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS weight,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
               + 1 AS u52
      FROM documents
    ),
    pr AS (
      SELECT *, (CAST(weight AS DOUBLE) / CAST(u52 AS DOUBLE)) * {_U52}.0
               AS prio
      FROM wdocs
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY prio DESC, doc_id) AS rn
      FROM pr
    ),
    tq AS (
      SELECT *,
             COALESCE(MAX(CASE WHEN rn = {PRIORITY_SAMPLE_K_SRC + 1}
                               THEN prio END)
                      OVER (PARTITION BY source), 0.0) AS tau
      FROM ranked WHERE rn <= {PRIORITY_SAMPLE_K_SRC + 1}
    ),
    sampled AS (
      SELECT source, doc_id, weight, CAST(u52 AS BIGINT) AS u52,
             CAST(rn AS BIGINT) AS prio_rank,
             CAST(ROUND(GREATEST(CAST(weight AS DOUBLE), tau) * 1000000)
                  AS BIGINT) AS est_micro
      FROM tq WHERE rn <= {PRIORITY_SAMPLE_K_SRC}
    ),
    tot AS (
      SELECT source, CAST(SUM(weight) AS BIGINT) AS src_total_weight
      FROM wdocs GROUP BY source
    )
    SELECT s.source, s.doc_id, s.weight, s.u52, s.prio_rank, s.est_micro,
           CAST(SUM(s.est_micro) OVER (PARTITION BY s.source) AS BIGINT)
             AS src_est_total_micro,
           t.src_total_weight,
           CAST(SUM(s.est_micro) OVER (PARTITION BY s.source)
                // t.src_total_weight AS BIGINT) AS est_over_true_micro
    FROM sampled s JOIN tot t ON t.source = s.source
    """,
)
def sample_weighted_reservoir_per_source(spark, sf_dir):
    """Per-SOURCE weighted priority sampling — the group-wise variant
    of ``sample_weighted_reservoir`` (k={PRIORITY_SAMPLE_K_SRC} docs
    per source, weight-proportional within each): the corpus-mixing
    downsampler that keeps every domain represented while still
    favoring heavy documents inside each domain. Same exactness
    recipe as the global variant (md5-derived 52-bit uniforms, one
    correctly-rounded IEEE division, exact power-of-two scale →
    bit-identical cross-engine priorities; per-source τ = the
    (k+1)-th priority; unbiased max(w, τ) per-source total
    estimator). Scale shape: ONE hash exchange on source, then
    per-partition rank-filter (the ``window_rank_topk_per_group``
    pattern — Spark's WindowGroupLimit pushes the rn ≤ k+1 filter
    below the full sort at execution); per-source totals are a
    map-side-combined groupBy joined back on the 20-key dimension —
    plain equi-joins, no NLJ. A pathologically hot source skews the
    rank exchange like any hot group key — salt-and-merge two-phase
    top-k is the documented mitigation, not needed at fixture
    cardinalities."""
    d = t(spark, sf_dir, "documents")
    wdocs = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), "\\s+"))
        .cast("long")
        .alias("weight"),
        (md5_int(F.col("doc_id").cast("string"), 13) + 1).alias("u52"),
    )
    pr = wdocs.select(
        "*",
        (
            (F.col("weight").cast("double") / F.col("u52").cast("double"))
            * float(_U52)
        ).alias("prio"),
    )
    w_src = (
        W.partitionBy("source")
        .orderBy(F.desc("prio"), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    # The top k+1 per source: the (k+1)-th row carries tau and is then dropped.
    ranked = topk(
        pr, ["source"], [F.desc("prio"), "doc_id"], PRIORITY_SAMPLE_K_SRC + 1, rank="rn"
    )
    tq = ranked.select(
        "*",
        F.coalesce(
            F.max(
                F.when(
                    F.col("rn") == PRIORITY_SAMPLE_K_SRC + 1, F.col("prio")
                )
            ).over(w_src),
            F.lit(0.0),
        ).alias("tau"),
    )
    sampled = tq.filter(F.col("rn") <= PRIORITY_SAMPLE_K_SRC).select(
        "source",
        "doc_id",
        "weight",
        "u52",
        F.col("rn").cast("long").alias("prio_rank"),
        F.round(
            F.greatest(F.col("weight").cast("double"), F.col("tau")) * 1000000
        )
        .cast("long")
        .alias("est_micro"),
    )
    tot = wdocs.groupBy("source").agg(
        F.sum("weight").cast("long").alias("src_total_weight")
    )
    w_est = W.partitionBy("source").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return sampled.join(tot, "source").select(
        "source",
        "doc_id",
        "weight",
        "u52",
        "prio_rank",
        "est_micro",
        F.sum("est_micro").over(w_est).cast("long").alias(
            "src_est_total_micro"
        ),
        "src_total_weight",
        F.expr(
            "sum(est_micro) over (partition by source) div src_total_weight"
        )
        .cast("long")
        .alias("est_over_true_micro"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance selection (hashed n-gram importance weights)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 8192  # hashed feature vocabulary (bounded, broadcastable)
DSIR_TOP = 50
_IR_MICRO = 1_000_000
_DSIR_TARGET_LANG = "en"


@query(
    "mix_importance_select",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(u.tok), 1, 13))::BIGINT % {DSIR_BUCKETS}
               AS fid
      FROM documents,
           unnest(string_split_regex(trim(text), '\\s+')) AS u(tok)
    ),
    ratio AS (
      SELECT fid,
             CAST(((SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                             THEN 1 ELSE 0 END) + 1) * {_IR_MICRO})
                  // (COUNT(*) + 1) AS BIGINT) AS r_micro
      FROM toks GROUP BY fid
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(SUM(r.r_micro) AS BIGINT) AS score_micro,
             CAST(COUNT(*) AS BIGINT) AS n_toks
      FROM toks t JOIN ratio r ON t.fid = r.fid
      GROUP BY t.doc_id
    ),
    ranked AS (
      SELECT doc_id, n_toks, score_micro,
             CAST(score_micro // n_toks AS BIGINT) AS mean_ratio_micro,
             ROW_NUMBER() OVER (ORDER BY score_micro // n_toks DESC,
                                         doc_id) AS rk
      FROM scored
    )
    SELECT CAST(rk AS BIGINT) AS rank, doc_id, n_toks, score_micro,
           mean_ratio_micro
    FROM ranked WHERE rk <= {DSIR_TOP}
    """,
)
def mix_importance_select(spark, sf_dir):
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023), linearized for deterministic cross-engine grading: score
    documents by how much their hashed-feature distribution resembles
    a target domain (here ``lang='en'``) relative to the raw pool,
    then keep the top-``DSIR_TOP``. Features are word tokens hashed to
    a ``DSIR_BUCKETS``-ary vocabulary (md5, the house cross-engine
    hash); each feature's importance ratio is the Laplace-smoothed
    occurrence ratio ``(cnt_target+1)·1e6 div (cnt_pool+1)`` — an
    exact positive-integer quotient, so no log-likelihood (ln is
    banned from the engine boundary) and no float ever enters the
    ranking. A document's score is the occurrence-weighted sum of its
    features' ratios; ranking is by per-token MEAN ratio (sum is
    length-biased), ties by doc_id. The published DSIR resamples from
    the weight distribution; this variant selects the head
    deterministically, which is the hash-gradeable equivalent (the
    sampling step is ``sample_weighted_reservoir`` composed on these
    weights). Empty text tokenizes to [''] (weight 1), the
    engine-faithful convention. Scale shape: two scans of the pruned
    (doc_id, lang, text) projection — one builds the ≤8192-row ratio
    dimension (map-side-combined groupBy on fid), which then
    BROADCASTS onto the token stream (no shuffle of the corpus by
    feature — hot stopword features would skew any fid-partitioned
    exchange); the per-doc score is one map-side-combined groupBy and
    the top-50 is TakeOrderedAndProject (never a global sort).
    Max ratio is 1e6 and scores are Σ n_toks·1e6, far inside BIGINT
    at any corpus scale."""
    d = t(spark, sf_dir, "documents")
    fid = md5_int(F.col("tok"), 13) % DSIR_BUCKETS
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("tok"),
    ).select("doc_id", "lang", fid.alias("fid"))
    # CASE WHEN (not a bare boolean cast): a feature occurring only in
    # NULL-lang documents must count 0 like the oracle's CASE — Spark's
    # sum over all-NULL would be NULL and silently poison r_micro.
    ratio = toks.groupBy("fid").agg(
        F.expr(
            f"((sum(case when lang = '{_DSIR_TARGET_LANG}' "
            f"then 1 else 0 end) + 1) "
            f"* {_IR_MICRO}) div (count(1) + 1)"
        ).alias("r_micro")
    )
    scored = (
        toks.join(F.broadcast(ratio), "fid")
        .groupBy("doc_id")
        .agg(
            F.sum("r_micro").cast("long").alias("score_micro"),
            F.count(F.lit(1)).cast("long").alias("n_toks"),
        )
    )
    mean = F.expr("score_micro div n_toks")
    ranked = scored.select(
        "doc_id",
        "n_toks",
        "score_micro",
        mean.cast("long").alias("mean_ratio_micro"),
    )
    top = ranked.orderBy(
        F.desc("mean_ratio_micro"), "doc_id"
    ).limit(DSIR_TOP)
    w_rk = W.orderBy(F.desc("mean_ratio_micro"), "doc_id")
    return top.select(
        F.row_number().over(w_rk).cast("long").alias("rank"),
        "doc_id",
        "n_toks",
        "score_micro",
        "mean_ratio_micro",
    )


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling design
# ---------------------------------------------------------------------------

NEYMAN_K = 1000


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH s AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_v,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS sum_v2
      FROM documents GROUP BY lang
    ),
    w AS (
      SELECT lang, n_docs,
             CAST(FLOOR(SQRT(CAST(n_docs * sum_v2 - sum_v * sum_v
                                  AS DOUBLE))) AS BIGINT) AS sigma_n
      FROM s
    ),
    wt AS (
      SELECT lang, n_docs, sigma_n, SUM(sigma_n) OVER () AS w_total
      FROM w
    ),
    alloc AS (
      -- Degenerate guard mirroring the Spark side: all-constant
      -- strata (w_total = 0) emit 0 rows; DuckDB's x // 0 is NULL,
      -- which would otherwise yield NULL-alloc rows the Spark form
      -- never produces.
      SELECT lang, n_docs, sigma_n,
             CAST(({NEYMAN_K} * sigma_n) // w_total AS BIGINT) AS base,
             CAST(({NEYMAN_K} * sigma_n) % w_total AS BIGINT) AS rem
      FROM wt WHERE w_total > 0
    ),
    fill AS (
      SELECT lang, n_docs, sigma_n, base, rem,
             {NEYMAN_K} - SUM(base) OVER () AS leftover,
             ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk
      FROM alloc
    )
    SELECT lang, n_docs, sigma_n,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM fill
    """,
)
def sample_neyman_allocation(spark, sf_dir):
    """Neyman-optimal stratified sample allocation: given a total
    budget of ``NEYMAN_K`` documents and strata = language, allocate
    n_h ∝ N_h·σ_h (minimum-variance allocation for estimating the
    mean of ``n_chars``). Cross-engine exact by two identities:
    N_h·σ_h = √(N_h·Σv² − (Σv)²) exactly (population σ), and IEEE-754
    REQUIRES sqrt to be correctly rounded — unlike ln/pow it is safe
    at the engine boundary, so FLOOR(SQRT(ss)) is bit-identical on
    JVM and C for the same BIGINT ss (both engines first round ss to
    the same DOUBLE). Rounding allocations to integers that sum to
    EXACTLY K uses the largest-remainder (Hamilton) method: floor
    quotas plus one for the strata with the largest remainders, ties
    by lang — deterministic on both engines with truncating division
    on positive operands. Degenerate all-constant strata (Σσ_n = 0)
    emit 0 rows rather than divide by zero (ANSI guard, the
    ``ml_quantile_drift`` precedent). Range pin: ss < 2^63 requires
    N_h·max(v) < 2^31.5 — ~3e8 char-weighted docs per stratum here
    (tested as a fixture pin); bigger corpora quantize v down by a
    power of two first, which scales σ exactly. Scale shape: one
    fact scan into a map-side-combined 5-row groupBy; every window
    runs over the 5-row stratum frame."""
    d = t(spark, sf_dir, "documents")
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_v"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("sum_v2"),
    )
    ss = F.col("n_docs") * F.col("sum_v2") - F.col("sum_v") * F.col("sum_v")
    w = s.select(
        "lang",
        "n_docs",
        F.floor(F.sqrt(ss.cast("double"))).cast("long").alias("sigma_n"),
    )
    w_all = W.orderBy("lang").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    alloc = w.select(
        "lang",
        "n_docs",
        "sigma_n",
        F.sum("sigma_n").over(w_all).alias("w_total"),
    ).where(F.col("w_total") > 0)
    alloc = alloc.select(
        "lang",
        "n_docs",
        "sigma_n",
        F.expr(f"({NEYMAN_K} * sigma_n) div w_total").alias("base"),
        F.expr(f"({NEYMAN_K} * sigma_n) % w_total").alias("rem"),
    )
    w_rk = W.orderBy(F.desc("rem"), "lang")
    fill = alloc.select(
        "*",
        (F.lit(NEYMAN_K) - F.sum("base").over(w_all)).alias("leftover"),
        F.row_number().over(w_rk).alias("rk"),
    )
    return fill.select(
        "lang",
        "n_docs",
        "sigma_n",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    )


# ---------------------------------------------------------------------------
# Fellegi–Sunter probabilistic record linkage
# ---------------------------------------------------------------------------

# Integer log-odds agreement/disagreement weights (scaled ~10*ln(m/u),
# fixed literals — no runtime log enters the score). Field weights
# reflect discriminating power: the head noun is part of the BLOCK, so
# the compared fields are adjective (name token 1), brand, and price
# proximity.
FS_W_NAME_AGREE, FS_W_NAME_DIS = 30, -6
FS_W_BRAND_AGREE, FS_W_BRAND_DIS = 24, -8
FS_W_PRICE_AGREE, FS_W_PRICE_DIS = 12, -4
FS_PRICE_TOL_CENTI = 1000  # "same price point": within 10.00
# Two-of-three rule: any two agreements score >= 30 - 8 + 12 = 24 (the
# weakest double), every single agreement tops out at 30 - 8 - 4 = 18.
FS_MATCH_THRESHOLD = 24


@query(
    "er_fellegi_sunter_match",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey, p_brand, p_type, p_size,
             CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS centi,
             split_part(p_name, ' ', 1) AS tok1,
             split_part(p_name, ' ', 2) AS tok2
      FROM part
      WHERE split_part(p_name, ' ', 2) <> ''
    ),
    pairs AS (
      SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
             CAST(a.tok1 = b.tok1 AS INT) AS name_agree,
             CAST(a.p_brand = b.p_brand AS INT) AS brand_agree,
             CAST(abs(a.centi - b.centi) <= {FS_PRICE_TOL_CENTI} AS INT)
               AS price_agree
      FROM p a JOIN p b
        ON a.p_type = b.p_type AND a.p_size = b.p_size
       AND a.tok2 = b.tok2 AND a.p_partkey < b.p_partkey
    )
    SELECT part_a, part_b,
           CAST(name_agree AS BIGINT) AS name_agree,
           CAST(brand_agree AS BIGINT) AS brand_agree,
           CAST(price_agree AS BIGINT) AS price_agree,
           CAST(CASE WHEN name_agree = 1 THEN {FS_W_NAME_AGREE}
                     ELSE {FS_W_NAME_DIS} END
              + CASE WHEN brand_agree = 1 THEN {FS_W_BRAND_AGREE}
                     ELSE {FS_W_BRAND_DIS} END
              + CASE WHEN price_agree = 1 THEN {FS_W_PRICE_AGREE}
                     ELSE {FS_W_PRICE_DIS} END AS BIGINT) AS fs_score
    FROM pairs
    WHERE CASE WHEN name_agree = 1 THEN {FS_W_NAME_AGREE}
               ELSE {FS_W_NAME_DIS} END
        + CASE WHEN brand_agree = 1 THEN {FS_W_BRAND_AGREE}
               ELSE {FS_W_BRAND_DIS} END
        + CASE WHEN price_agree = 1 THEN {FS_W_PRICE_AGREE}
               ELSE {FS_W_PRICE_DIS} END >= {FS_MATCH_THRESHOLD}
    """,
)
def er_fellegi_sunter_match(spark, sf_dir):
    """Fellegi–Sunter probabilistic record linkage — the canonical ER
    decision model the family's rule-based members lack:
    ``er_blocked_name_match`` / ``er_soundex_block`` emit candidates
    by a single fuzzy key; F-S SCORES each candidate pair by summing
    per-field log-odds agreement weights (here fixed integer literals
    ~10*ln(m/u) — no runtime log) and links pairs above a threshold.
    Fields: name adjective, brand, price proximity (within
    {FS_PRICE_TOL_CENTI} centi); threshold {FS_MATCH_THRESHOLD} =
    the two-of-three agreement rule.

    Scale shape: candidate pairs form only inside (head-noun, type,
    size) blocks — Sigma block^2, never n^2, the same bucketed posture
    as every dedup/ER member; the noun component keeps block keys
    vocabulary-sized so blocks stay bounded as the catalog grows. One
    scan, one self-equi-join on the block key, per-pair integer
    arithmetic; the comparison-vector bits ride along so a reviewer
    can audit WHY each pair linked (the F-S report shape)."""
    # Single-token names carry no blocking noun and are excluded
    # EXPLICITLY on both engines: DuckDB's split_part yields '' where
    # ANSI Spark's getItem(1) THROWS InvalidArrayIndex, so without a
    # shared guard a one-word p_name either crashes the job or joins
    # into an '' block, depending on the engine (the ml_psi_drift
    # NULL-date lesson; absent from the fixtures, pinned in pytest).
    # try_element_at gives the NULL-on-missing form; the filter then
    # matches the oracle's split_part(...) <> ''.
    p = (
        t(spark, sf_dir, "part")
        .select(
            "p_partkey",
            "p_brand",
            "p_type",
            "p_size",
            F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("centi"),
            F.split(F.col("p_name"), " ").getItem(0).alias("tok1"),
            F.try_element_at(F.split(F.col("p_name"), " "), F.lit(2)).alias(
                "tok2"
            ),
        )
        .filter(F.col("tok2").isNotNull() & (F.col("tok2") != ""))
    )
    a = p.select(*[F.col(c).alias(f"a_{c}") for c in p.columns])
    b = p.select(*[F.col(c).alias(f"b_{c}") for c in p.columns])
    pairs = a.join(
        b,
        (F.col("a_p_type") == F.col("b_p_type"))
        & (F.col("a_p_size") == F.col("b_p_size"))
        & (F.col("a_tok2") == F.col("b_tok2"))
        & (F.col("a_p_partkey") < F.col("b_p_partkey")),
    ).select(
        F.col("a_p_partkey").alias("part_a"),
        F.col("b_p_partkey").alias("part_b"),
        (F.col("a_tok1") == F.col("b_tok1")).cast("int").alias("name_agree"),
        (F.col("a_p_brand") == F.col("b_p_brand"))
        .cast("int")
        .alias("brand_agree"),
        (F.abs(F.col("a_centi") - F.col("b_centi")) <= FS_PRICE_TOL_CENTI)
        .cast("int")
        .alias("price_agree"),
    )
    score = (
        F.when(F.col("name_agree") == 1, F.lit(FS_W_NAME_AGREE)).otherwise(
            F.lit(FS_W_NAME_DIS)
        )
        + F.when(F.col("brand_agree") == 1, F.lit(FS_W_BRAND_AGREE)).otherwise(
            F.lit(FS_W_BRAND_DIS)
        )
        + F.when(F.col("price_agree") == 1, F.lit(FS_W_PRICE_AGREE)).otherwise(
            F.lit(FS_W_PRICE_DIS)
        )
    ).cast("long")
    return (
        pairs.withColumn("fs_score", score)
        .filter(F.col("fs_score") >= FS_MATCH_THRESHOLD)
        .select(
            "part_a",
            "part_b",
            F.col("name_agree").cast("long").alias("name_agree"),
            F.col("brand_agree").cast("long").alias("brand_agree"),
            F.col("price_agree").cast("long").alias("price_agree"),
            "fs_score",
        )
    )


# ---------------------------------------------------------------------------
# Deterministic round-robin source interleaving
# ---------------------------------------------------------------------------


@query(
    "mix_round_robin_interleave",
    oracle="""
    WITH pos AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
               AS src_pos
      FROM documents
    )
    SELECT doc_id, source,
           CAST(src_pos AS BIGINT) AS src_pos,
           CAST(ROW_NUMBER() OVER (ORDER BY src_pos, source, doc_id)
                AS BIGINT) AS global_pos
    FROM pos
    """,
)
def mix_round_robin_interleave(spark, sf_dir):
    """Deterministic round-robin source interleaving — the mixing
    ORDER the pack's other members don't cover:
    ``mix_weighted_sources`` / ``mix_token_budget_fill`` decide HOW
    MUCH of each source enters the mix, ``mix_epoch_oversample``
    repeats it; this op decides the SEQUENCE — cycle through sources
    taking each one's next document (order by (per-source position,
    source)), so a 1%-sized source is spread evenly through the
    stream instead of clumping, the interleave a sequential trainer
    wants when it cannot shuffle globally. Deterministic: per-source
    position by doc_id, global position by the round-robin key.

    Scale shape: one source-partitioned window (sources are the
    natural parallel unit), then the global position via the TWO-PASS
    RANGE-OFFSET form (the first
    form's ``Window.orderBy`` with no partitionBy collapsed the whole
    manifest onto one partition): range-repartition + local sort on
    the round-robin key (unique — doc_id breaks all ties, so range
    boundaries cannot split a key), per-RANGE-partition row_number,
    then each partition's global offset joins back as a broadcast
    #partitions-row cumulative-count table. No single partition ever
    holds the dataset; the offset table is partition-count-sized. The
    ranked frame is persisted so the count branch and the output
    branch see the SAME physical range boundaries (the bm25
    match-set-reuse precedent). Manifest-sized output by
    definition."""
    d = t(spark, sf_dir, "documents")
    w_src = W.partitionBy("source").orderBy("doc_id")
    pos = d.select(
        "doc_id",
        "source",
        F.row_number().over(w_src).cast("long").alias("src_pos"),
    )
    key = ["src_pos", "source", "doc_id"]
    w_pid = W.partitionBy("pid").orderBy(*key)
    ranked = (
        pos.repartitionByRange(*key)
        .withColumn("pid", F.spark_partition_id())
        .withColumn("rn_in", F.row_number().over(w_pid).cast("long"))
        .persist()
    )
    counts = ranked.groupBy("pid").agg(F.count("*").alias("cnt"))
    w_off = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "pid",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
        .cast("long")
        .alias("off"),
    )
    return ranked.join(F.broadcast(offsets), "pid").select(
        "doc_id",
        "source",
        "src_pos",
        (F.col("off") + F.col("rn_in")).alias("global_pos"),
    )


# ---------------------------------------------------------------------------
# Cross-table amount reconciliation
# ---------------------------------------------------------------------------

RECON_TOL_CENTI = 100  # flag mismatches beyond 1.00


@query(
    "dq_cross_table_reconciliation",
    oracle=f"""
    WITH l AS (
      SELECT l_orderkey,
             SUM(CAST(FLOOR(((l_extendedprice * (1 - l_discount))
                             * (1 + l_tax)) * 100 + 0.5) AS BIGINT))
               AS lines_centi,
             COUNT(*) AS n_lines
      FROM lineitem GROUP BY 1
    ),
    o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS hdr_centi
      FROM orders
    ),
    j AS (
      SELECT o_orderpriority, hdr_centi,
             COALESCE(lines_centi, 0) AS lines_centi,
             CASE WHEN n_lines IS NULL THEN 1 ELSE 0 END AS no_lines
      FROM o LEFT JOIN l ON o_orderkey = l_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(no_lines) AS BIGINT) AS n_no_lines,
           CAST(SUM(CASE WHEN abs(lines_centi - hdr_centi)
                              > {RECON_TOL_CENTI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
           CAST(MAX(abs(lines_centi - hdr_centi)) AS BIGINT)
             AS max_abs_diff_centi,
           CAST(SUM(lines_centi - hdr_centi) AS BIGINT) AS sum_diff_centi
    FROM j GROUP BY 1
    """,
)
def dq_cross_table_reconciliation(spark, sf_dir):
    """Cross-table AMOUNT reconciliation — the financial-close check
    the dq pack lacked: ``dq_referential_integrity`` proves the KEYS
    line up; this proves the MONEY does, recomputing each order's
    total from its lines (extendedprice * (1-discount) * (1+tax),
    centi-quantized per line exactly like an invoicing system) and
    reporting, per priority class: order count, headerless/lineless
    orders, mismatches beyond {RECON_TOL_CENTI} centi, worst and net
    drift. On this synthetic fixture every order mismatches (the
    generator doesn't reconcile headers to lines) — which is exactly
    what the report is FOR; the drift columns quantify it.

    Exactness: per-line amounts floor-quantize an identical IEEE
    product chain (identically parenthesized both engines), then all
    arithmetic is BIGINT centi. Scale shape: one map-side-combined
    groupBy on lineitem (the fact table's natural key), one
    orderkey-partitioned equi-join (co-partitioned shuffle), one
    bounded groupBy on priority; no window, no skew key (orderkeys
    are uniform)."""
    li = t(spark, sf_dir, "lineitem")
    line_centi = F.floor(
        ((F.col("l_extendedprice") * (1 - F.col("l_discount")))
         * (1 + F.col("l_tax")))
        * 100
        + F.lit(0.5)
    ).cast("long")
    l = li.groupBy("l_orderkey").agg(
        F.sum(line_centi).alias("lines_centi"), F.count("*").alias("n_lines")
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("hdr_centi"),
    )
    j = o.join(l, o["o_orderkey"] == l["l_orderkey"], "left").select(
        "o_orderpriority",
        "hdr_centi",
        F.coalesce(F.col("lines_centi"), F.lit(0)).alias("lines_centi"),
        F.when(F.col("n_lines").isNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "no_lines"
        ),
    )
    diff = F.col("lines_centi") - F.col("hdr_centi")
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("no_lines").cast("long").alias("n_no_lines"),
        F.sum(
            F.when(F.abs(diff) > RECON_TOL_CENTI, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_mismatch"),
        F.max(F.abs(diff)).cast("long").alias("max_abs_diff_centi"),
        F.sum(diff).cast("long").alias("sum_diff_centi"),
    )


@query(
    "curation_repeated_span_dedup",
    oracle=f"""
    WITH docs AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    ),
    ch AS MATERIALIZED (
      SELECT doc_id, u.i AS pos,
             array_to_string(
               list_slice(toks, CAST(u.i + 1 AS INT),
                          CAST(u.i + {SPAN_K} AS INT)), ' ') AS gram
      FROM docs,
           unnest(range(0, CAST(greatest(n_words - {SPAN_K - 1}, 0)
                                AS BIGINT))) AS u(i)
    ),
    dup AS (
      SELECT gram FROM ch GROUP BY gram HAVING COUNT(*) > 1
    ),
    cov AS (
      SELECT DISTINCT c.doc_id, u.j
      FROM ch c JOIN dup USING (gram),
           unnest(range(c.pos, c.pos + {SPAN_K})) AS u(j)
    ),
    flagged AS (
      SELECT doc_id, j,
             CASE WHEN LAG(j) OVER w IS NULL OR j - LAG(j) OVER w > 1
                  THEN 1 ELSE 0 END AS new_run
      FROM cov
      WINDOW w AS (PARTITION BY doc_id ORDER BY j)
    ),
    runs AS (
      SELECT doc_id, j,
             SUM(new_run) OVER (PARTITION BY doc_id ORDER BY j
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS span_seq
      FROM flagged
    ),
    spans AS (
      SELECT doc_id, span_seq, MIN(j) AS start_pos, MAX(j) AS end_pos,
             COUNT(*) AS span_words
      FROM runs GROUP BY doc_id, span_seq
    )
    SELECT s.doc_id,
           CAST(s.span_seq AS BIGINT) AS span_seq,
           CAST(s.start_pos AS BIGINT) AS start_pos,
           CAST(s.end_pos AS BIGINT) AS end_pos,
           CAST(s.span_words AS BIGINT) AS span_words,
           array_to_string(
             list_slice(d.toks, CAST(s.start_pos + 1 AS INT),
                        CAST(s.end_pos + 1 AS INT)), ' ') AS span_text
    FROM spans s JOIN docs d USING (doc_id)
    """,
)
def curation_repeated_span_dedup(spark, sf_dir):
    """Suffix-style repeated-span DETECTION (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    ExactSubstr's find stage): report every MAXIMAL duplicated span
    per document, via sorted k-gram anchors with extend-and-merge.
    A span repeated anywhere in the corpus (length ≥ k = {SPAN_K}
    words) contains a duplicated k-gram at every offset, so flagging
    each duplicated gram's k-word coverage and merging overlapping/
    adjacent coverage into maximal runs reconstructs the maximal
    repeated spans exactly — the fixed-k anchor equivalent of the
    paper's suffix-array longest-match walk, expressible as pure
    dataflow (group-by + window) where a suffix array is not.

    The exact big brother of ``curation_span_dedup_rewrite``: the
    rewrite op removes non-FIRST occurrences (survivorship); this one
    flags ALL occurrences of duplicated material — maximal intervals
    with their text — which is what a curation pipeline reviews or
    strips when the goal is "no k-gram appears twice anywhere",
    memorization-hardening rather than storage dedup. The property
    that removal of the flagged spans leaves NO duplicated k-gram in
    the corpus (grams re-formed within surviving contiguous segments)
    is pinned in tests/test_round17_ops.py.

    Scale shape: same skeleton as the rewrite op — sliding-window
    gram explode (narrow), one map-side-combined groupBy on gram text
    for the >1 count, join back on the same key, coverage explode
    bounded by k× duplicated-anchor count, and per-doc windows for
    the run merge (lag gap flag + running sum = interval merge in two
    scalar window passes over the SAME doc_id partitioning — one
    shuffle serves both plus the final span groupBy)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    toks = F.col("toks")
    docs = d.select("doc_id", "toks", F.size(toks).alias("n_words"))
    grams_arr = F.when(
        F.col("n_words") >= SPAN_K,
        F.transform(
            F.sequence(F.lit(0), F.col("n_words") - SPAN_K),
            lambda i: F.array_join(F.slice(toks, i + 1, SPAN_K), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ch = docs.select(
        "doc_id", F.posexplode(grams_arr).alias("pos", "gram")
    )
    dup = (
        ch.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("gram")
    )
    cov = (
        ch.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + SPAN_K - 1)
            ).alias("j"),
        )
        .distinct()
    )
    worder = W.partitionBy("doc_id").orderBy("j")
    wrun = worder.rowsBetween(W.unboundedPreceding, W.currentRow)
    new_run = F.when(
        F.lag("j").over(worder).isNull()
        | (F.col("j") - F.lag("j").over(worder) > 1),
        1,
    ).otherwise(0)
    runs = cov.select(
        "doc_id", "j", F.sum(new_run).over(wrun).alias("span_seq")
    )
    spans = runs.groupBy("doc_id", "span_seq").agg(
        F.min("j").alias("start_pos"),
        F.max("j").alias("end_pos"),
        F.count(F.lit(1)).alias("span_words"),
    )
    return spans.join(docs.select("doc_id", "toks"), "doc_id").select(
        "doc_id",
        F.col("span_seq").cast("long").alias("span_seq"),
        F.col("start_pos").cast("long").alias("start_pos"),
        F.col("end_pos").cast("long").alias("end_pos"),
        F.col("span_words").cast("long").alias("span_words"),
        F.array_join(
            F.slice(
                toks,
                F.col("start_pos").cast("int") + F.lit(1),
                F.col("span_words").cast("int"),
            ),
            " ",
        ).alias("span_text"),
    )
