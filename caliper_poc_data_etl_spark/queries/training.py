"""Training-data preparation operators.

The ops an LLM pretraining/RAG corpus build needs between curation
(curation.py) and tokenization: document chunking, token-budget
sequence packing, benchmark decontamination, TF-IDF term scoring,
inverted-index construction, plus the analytics staples the reference
never had (funnel analysis, histograms).

Scale notes (100 TB):

- ``chunk_documents`` is a pure per-row explode — zero shuffle; chunk
  count scales output linearly but each task streams its own rows.
- ``pack_sequences`` is the GPT-style token-stream packing. A single
  global running offset would serialize on one reducer, so packing is
  SHARDED: documents hash into independent shards and the running
  cumsum window partitions by shard — every shard packs in parallel
  and emits its own sequence space. This is how production packers
  scale (per-worker streams), and it is deterministic.
- ``decontam_ngram_overlap`` broadcasts the benchmark shingle set
  (benchmarks are tiny next to a crawl); the corpus side never
  shuffles its documents — only its exploded shingles join the
  broadcast, then a groupBy on doc_id (the natural key) counts hits.
- ``tfidf_top_terms`` / ``inverted_index_postings`` shuffle on term —
  the canonical document-frequency shape. The corpus-size scalar
  joins in as a broadcast 1-row frame (no driver-side ``.count()``
  action stitched into the plan).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.kernels import (
    _TS_FMT_SPARK,
    md5_int,
    topk,
    word_trigrams,
)
from caliper_poc_data_etl_spark.queries.registry import query, t

CHUNK_SIZE = 200
CHUNK_STRIDE = 150

PACK_SHARDS = 8
PACK_BUDGET = 2048


@query(
    "chunk_documents",
    oracle=f"""
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           substr(text, CAST(i * {CHUNK_STRIDE} + 1 AS BIGINT), {CHUNK_SIZE})
             AS chunk,
           CAST(len(substr(text, CAST(i * {CHUNK_STRIDE} + 1 AS BIGINT),
                           {CHUNK_SIZE})) AS INTEGER) AS chunk_len
    FROM documents,
         UNNEST(range(0, CAST(ceil(len(text) * 1.0 / {CHUNK_STRIDE}) AS BIGINT)))
           AS u(i)
    WHERE len(text) > 0
    """,
)
def chunk_documents(spark, sf_dir):
    """RAG-style chunking: fixed-size overlapping windows (200 chars,
    stride 150 → 50-char overlap) per document. Entirely per-row
    Column code (sequence + explode + substring) — no shuffle, runs in
    whole-stage codegen; at 100 TB each task chunks its own split."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_chunks = F.ceil(F.length("text") / F.lit(float(CHUNK_STRIDE))).cast("long")
    chunk = F.expr(
        f"substring(text, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_SIZE})"
    )
    return (
        d.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            chunk.alias("chunk"),
            F.length(chunk).alias("chunk_len"),
        )
    )


@query(
    "pack_sequences",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             doc_id % {PACK_SHARDS} AS shard,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    offs AS (
      SELECT doc_id, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM sized
    )
    SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR(cum_before / {PACK_BUDGET}) AS BIGINT) AS seq_id,
           CAST(cum_before % {PACK_BUDGET} AS BIGINT) AS seq_offset
    FROM offs
    """,
)
def pack_sequences(spark, sf_dir):
    """Token-stream sequence packing: lay documents end-to-end and
    assign each to the {budget}-token training sequence its start
    offset falls in — the standard pretraining packer, sharded so the
    running offset parallelizes (one window per shard, not one global
    single-partition window). Token counts are whitespace counts here;
    swap in the BPE-regex counter (text_token_count) for real runs."""
    d = t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = sized.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return offs.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(F.col("cum_before") / PACK_BUDGET).alias("seq_id"),
        (F.col("cum_before") % PACK_BUDGET).alias("seq_offset"),
    )


# Benchmark set: every 97th document plays the held-out eval set; the
# remaining corpus is checked for 3-gram overlap against it.
_DECONTAM_MOD = 97


@query(
    "decontam_ngram_overlap",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, s
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk) - 1),
                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
        FROM tk WHERE len(tk) >= 3
      )
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % {_DECONTAM_MOD} = 0),
    hits AS (
      SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT doc_id, s FROM sh WHERE doc_id % {_DECONTAM_MOD} <> 0) c
      JOIN bench USING (s)
      GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n, 0) AS n_overlap_shingles,
           COALESCE(h.n, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % {_DECONTAM_MOD} <> 0
    """,
)
def decontam_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents sharing any
    word-3-gram with a (synthetic) held-out benchmark set. The
    benchmark shingle set is tiny relative to the corpus, so it is
    broadcast — corpus documents never shuffle; only their exploded
    shingles meet the broadcast set, then hits aggregate on doc_id."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.trim(F.col("text")), r"\s+")
    shingled = d.select("doc_id", tk.alias("tk")).filter(F.size("tk") >= 3)
    sh = shingled.select(
        "doc_id", F.explode(F.array_distinct(word_trigrams("tk"))).alias("s")
    )
    bench = (
        sh.filter(F.col("doc_id") % _DECONTAM_MOD == 0).select("s").distinct()
    )
    hits = (
        sh.filter(F.col("doc_id") % _DECONTAM_MOD != 0)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        d.filter(F.col("doc_id") % _DECONTAM_MOD != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_overlap_shingles"),
            (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf,
           ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf
    FROM tf JOIN df USING (term), n
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC) <= 3
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Top-3 characteristic terms per document by smoothed TF-IDF.

    Ranking key is (tf DESC, df ASC, term) — integers, so the window
    order is engine-exact; the float score is output-only (rounded).
    The corpus-size scalar joins in as a broadcast one-row aggregate
    (a plan node, not a driver-side .count())."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        topk(
            tf.join(F.broadcast(df), "term").join(F.broadcast(n)),
            ["doc_id"],
            [F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()],
            3,
        )
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 4
            ).alias("tfidf"),
        )
    )


@query(
    "inverted_index_postings",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           array_to_string((list(doc_id ORDER BY doc_id))[1:10], ',')
             AS top_postings
    FROM tf
    GROUP BY term
    """,
)
def inverted_index_postings(spark, sf_dir):
    """Inverted-index build: term → document frequency, total term
    frequency, and the first 10 postings (doc ids, ascending). The
    full posting list at scale is the sorted collect per term —
    bounded here to a prefix so hot terms don't blow the row; the
    production sink would write the whole list per term-partition.
    The prefix is emitted comma-joined (STRING, not array<bigint>):
    the grading driver's pandas canonicalizer cannot hash list cells,
    so graded outputs keep every column scalar-typed."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return tf.groupBy("term").agg(
        F.count("*").alias("n_docs"),
        F.sum("tf").alias("total_tf"),
        F.array_join(
            F.transform(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 10),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("top_postings"),
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH mv AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS v
      FROM events GROUP BY user_id
    ),
    mc AS (
      SELECT e.user_id, MIN(e.ts) AS c
      FROM events e JOIN mv ON e.user_id = mv.user_id
      WHERE e.event_type = 'click' AND mv.v IS NOT NULL AND e.ts >= mv.v
      GROUP BY e.user_id
    ),
    mp AS (
      SELECT e.user_id, MIN(e.ts) AS p
      FROM events e JOIN mc ON e.user_id = mc.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= mc.c
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM mv WHERE v IS NOT NULL)
             AS n_viewed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mc) AS n_clicked_after_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mp) AS n_purchased_after_click
    """,
)
def funnel_conversion(spark, sf_dir):
    """Ordered event funnel: users who viewed → first click at/after
    the first view → first purchase at/after that click. Three
    aggregations on the same key (user_id) — co-partitioned, so the
    two joins reuse the hash partitioning; final counts cross-join as
    1-row frames."""
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    mv = (
        e.groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v"))
        .filter(F.col("v").isNotNull())
    )
    mc = (
        e.filter(F.col("event_type") == "click")
        .join(mv, "user_id")
        .filter(F.col("ts") >= F.col("v"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c"))
    )
    mp = (
        e.filter(F.col("event_type") == "purchase")
        .join(mc, "user_id")
        .filter(F.col("ts") >= F.col("c"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p"))
    )
    return (
        mv.agg(F.count("*").alias("n_viewed"))
        .crossJoin(mc.agg(F.count("*").alias("n_clicked_after_view")))
        .crossJoin(mp.agg(F.count("*").alias("n_purchased_after_click")))
    )


@query(
    "upsert_latest_state",
    oracle="""
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           event_type AS last_event_type,
           ROUND(value, 2) AS last_value
    FROM (
      SELECT user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def upsert_latest_state(spark, sf_dir):
    """Changelog → current-state materialization (the CDC upsert /
    MERGE read path): latest row per key wins; a terminal ``error``
    event acts as a tombstone that deletes the key from the state
    table. One window per key partition — the standard incremental-
    view compaction, shuffle bounded by key cardinality."""
    e = t(spark, sf_dir, "events")
    return (
        topk(e, ["user_id"], [F.desc("ts"), F.desc("event_id")], 1)
        .filter(F.col("event_type") != "error")
        .select(
            "user_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 2).alias("last_value"),
        )
    )


_CAP_PER_SOURCE = 40


@query(
    "sample_cap_per_source",
    oracle=f"""
    SELECT doc_id, source, sample_rank FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= {_CAP_PER_SOURCE}
    """,
)
def sample_cap_per_source(spark, sf_dir):
    """Per-domain document cap (the crawl-curation guard against one
    domain dominating the corpus): keep at most N docs per source,
    chosen by deterministic hash order so the cap is stable across
    runs and engines. Same shape as stratified sampling: a per-source
    ``topk``, so a giant source is cut to N rows per partition before
    the shuffle."""
    d = t(spark, sf_dir, "documents")
    return topk(
        d.select("doc_id", "source"),
        ["source"],
        [F.md5(F.col("doc_id").cast("string")), "doc_id"],
        _CAP_PER_SOURCE,
        rank="sample_rank",
    )


_HIST_WIDTH = 50_000


@query(
    "ts_user_trajectory",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_steps,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS trajectory
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def ts_user_trajectory(spark, sf_dir):
    """Per-session user trajectories: events within a session (30-min
    gap) concatenated in time order into one action string — the
    sequence-assembly step for behavioral/dialogue training data
    (composite of sessionization + ordered list collection). One
    shuffle on user_id; both windows and the group-by reuse that
    partitioning."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    # Strict > : the engine-wide session boundary convention (an exact
    # 30-min gap extends the session, matching F.session_window's
    # closed merge — see ts_session_window's docstring).
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ordered = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("ts").alias("ts"),
                    F.col("event_id").alias("event_id"),
                    F.col("event_type").alias("et"),
                )
            )
        ),
        lambda p: p["et"],
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_steps"),
        F.array_join(ordered, ">").alias("trajectory"),
    )


@query(
    "anomaly_zscore_events",
    oracle="""
    WITH stats AS (
      SELECT event_id, user_id, ts, value,
             AVG(value) OVER w AS mu,
             STDDEV_SAMP(value) OVER w AS sigma,
             COUNT(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id)
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           ROUND(value, 2) AS value,
           ROUND((value - mu) / sigma, 3) AS zscore
    FROM stats
    WHERE n >= 10 AND sigma > 0 AND abs((value - mu) / sigma) > 2.5
    """,
)
def anomaly_zscore_events(spark, sf_dir):
    """Per-key z-score outlier detection (the data-quality tripwire a
    telemetry/feature pipeline runs before training): events whose
    value deviates > 2.5σ from their user's distribution. One
    unordered analytic window per user — mean/stddev are partial-agg
    friendly, so at scale this is a two-pass groupBy-join shape with
    the same semantics."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    return (
        e.withColumn("mu", F.avg("value").over(w))
        .withColumn("sigma", F.stddev_samp("value").over(w))
        .withColumn("n", F.count("*").over(w))
        .withColumn("zscore_raw", (F.col("value") - F.col("mu")) / F.col("sigma"))
        .filter(
            (F.col("n") >= 10)
            & (F.col("sigma") > 0)
            & (F.abs(F.col("zscore_raw")) > 2.5)
        )
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
            F.round("value", 2).alias("value"),
            F.round("zscore_raw", 3).alias("zscore"),
        )
    )


@query(
    "hist_order_totals",
    oracle=f"""
    SELECT CAST(FLOOR(o_totalprice / {_HIST_WIDTH}) AS BIGINT) AS bucket,
           CAST(FLOOR(o_totalprice / {_HIST_WIDTH}) * {_HIST_WIDTH} AS DOUBLE)
             AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(AVG(o_totalprice), 2) AS avg_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def hist_order_totals(spark, sf_dir):
    """Equi-width histogram (the profiling primitive): fixed-width
    value buckets with per-bucket count and mean. Single hash agg on a
    derived key — map-side partials make this scan-bound at any
    scale."""
    o = t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / _HIST_WIDTH)
    return o.groupBy(
        bucket.alias("bucket"),
        (bucket * _HIST_WIDTH).cast("double").alias("bucket_lo"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


@query(
    "scd2_event_intervals",
    oracle="""
    SELECT user_id, event_id,
           ROUND(value, 2) AS value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    '%Y-%m-%d %H:%M:%S.%f') AS valid_to
    FROM events
    """,
)
def scd2_event_intervals(spark, sf_dir):
    """SCD-type-2 interval build: each per-user observation becomes a
    versioned row valid from its own timestamp until the next
    observation (NULL = current) — the standard history-table
    construction for CDC feeds, and the interval form consumed by
    as-of joins. One lead() over the per-user window; partitioned by
    user, so it parallelizes across users with a single shuffle."""
    from pyspark.sql.window import Window as W

    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value"),
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(F.lead("ts").over(w), fmt).alias("valid_to"),
    )


@query(
    "decontam_exact_substring",
    oracle=f"""
    WITH bench AS (
      SELECT doc_id AS bench_id, substr(trim(text), 10, 40) AS snippet
      FROM documents
      WHERE doc_id % {_DECONTAM_MOD} = 0 AND length(trim(text)) >= 50
    ), hits AS (
      SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM documents d JOIN bench b
        ON position(b.snippet IN d.text) > 0
      WHERE d.doc_id % {_DECONTAM_MOD} <> 0
      GROUP BY d.doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % {_DECONTAM_MOD} <> 0
    """,
)
def decontam_exact_substring(spark, sf_dir):
    """Verbatim-leak decontamination: flag corpus documents that
    contain any held-out benchmark SNIPPET as an exact substring —
    the stricter companion to ``decontam_ngram_overlap`` (token
    shingles tolerate reformatting; substring containment catches
    verbatim copies, the cangram-free check most eval-suite hygiene
    uses first).

    Plan: the snippet table is tiny (one 40-char probe per benchmark
    doc) and broadcast; the containment join is a deliberate
    broadcast nested-loop (corpus never shuffles) and hits aggregate
    on doc_id. At 100 TB the same shape holds — the NLJ cost is
    |corpus| × |snippets| string scans, which an Aho-Corasick
    mapInPandas would cut to |corpus| if the snippet set grew large."""
    d = t(spark, sf_dir, "documents")
    bench = (
        d.filter(
            (F.col("doc_id") % _DECONTAM_MOD == 0)
            & (F.length(F.trim("text")) >= 50)
        )
        .select(F.substring(F.trim("text"), 10, 40).alias("snippet"))
    )
    corpus = d.filter(F.col("doc_id") % _DECONTAM_MOD != 0)
    hits = (
        corpus.join(
            F.broadcast(bench), F.instr(corpus.text, bench.snippet) > 0
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH mv AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS v
      FROM events GROUP BY user_id
    ), mp AS (
      SELECT e.user_id, MIN(e.ts) AS p
      FROM events e JOIN mv ON e.user_id = mv.user_id
      WHERE e.event_type = 'purchase' AND mv.v IS NOT NULL AND e.ts >= mv.v
      GROUP BY e.user_id
    ), d AS (
      SELECT mp.user_id,
             CAST(epoch_us(mp.p) - epoch_us(mv.v) AS DOUBLE) AS dt_us
      FROM mp JOIN mv ON mp.user_id = mv.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           FLOOR(quantile_cont(dt_us, 0.5) / 1e6 * 1e3 + 0.5) / 1e3
             AS p50_sec,
           FLOOR(quantile_cont(dt_us, 0.9) / 1e6 * 1e3 + 0.5) / 1e3
             AS p90_sec,
           FLOOR(SUM(dt_us) / COUNT(*) / 1e6 * 1e3 + 0.5) / 1e3
             AS mean_sec
    FROM d
    """,
)
def funnel_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution (first view → first purchase at or
    after it): median/p90/mean seconds across converting users — the
    latency companion to funnel_conversion's counts. Both stage
    aggregations and the join key on user_id (one partitioning reused
    end-to-end); deltas are exact integer microseconds, so the mean's
    double SUM is order-independent (integer-valued, far below 2^53)
    and the percentile interpolation is engine-exact."""
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    mv = (
        e.groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v"))
        .filter(F.col("v").isNotNull())
    )
    mp = (
        e.filter(F.col("event_type") == "purchase")
        .join(mv, "user_id")
        .filter(F.col("ts") >= F.col("v"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p"))
    )
    d = mp.join(mv, "user_id").select(
        (F.unix_micros("p") - F.unix_micros("v")).cast("double").alias("dt_us")
    )
    r3 = lambda c: F.floor(c / 1e6 * 1e3 + F.lit(0.5)) / 1e3  # noqa: E731
    return d.agg(
        F.count("*").alias("n_converted"),
        r3(F.expr("percentile(dt_us, 0.5)")).alias("p50_sec"),
        r3(F.expr("percentile(dt_us, 0.9)")).alias("p90_sec"),
        r3(F.sum("dt_us") / F.count("*")).alias("mean_sec"),
    )


_CMS_ROWS = 4
_CMS_WIDTH = 64


def _cms_oracle() -> str:
    return f"""
    WITH cells AS (
      SELECT r.i AS hrow,
             ('0x' || substr(md5(r.i || ':' || user_id), 1, 15))::BIGINT
               % {_CMS_WIDTH} AS cell,
             user_id
      FROM events, unnest(range(0, {_CMS_ROWS})) AS r(i)
    ),
    sketch AS (
      SELECT hrow, cell, COUNT(*) AS c FROM cells GROUP BY hrow, cell
    ),
    keys AS (
      SELECT DISTINCT r.i AS hrow,
             ('0x' || substr(md5(r.i || ':' || user_id), 1, 15))::BIGINT
               % {_CMS_WIDTH} AS cell,
             user_id
      FROM events, unnest(range(0, {_CMS_ROWS})) AS r(i)
    ),
    est AS (
      SELECT k.user_id, MIN(s.c) AS est_count
      FROM keys k JOIN sketch s USING (hrow, cell)
      GROUP BY k.user_id
    ),
    truth AS (SELECT user_id, COUNT(*) AS true_count FROM events GROUP BY 1)
    SELECT e.user_id, CAST(e.est_count AS BIGINT) AS est_count,
           CAST(t.true_count AS BIGINT) AS true_count,
           CAST(e.est_count - t.true_count AS BIGINT) AS overcount
    FROM est e JOIN truth t USING (user_id)
    ORDER BY est_count DESC, user_id LIMIT 25
    """


@query("agg_countmin_heavy_hitters", oracle=_cms_oracle())
def agg_countmin_heavy_hitters(spark, sf_dir):
    """Count-Min-sketch heavy hitters: estimate per-key frequencies
    from a fixed 4×64 counter sketch (4
    engine-agnostic md5 hash rows; estimate = min over rows of the
    hashed cell's count) and report the top 25 keys by estimate next
    to their true counts. The sketch never exceeds d×w counters no
    matter the key cardinality — THE bounded-memory frequency
    structure for 100 TB streams, here built as a plain groupBy so the
    whole construction stays inside Tungsten.

    Plan: events explode ×4 into (row, cell) — map-side —
    then ONE aggregation builds the sketch (≤ 4×64
    rows, broadcast to the estimate join); the per-key estimate joins
    each distinct key's cells against the broadcast sketch. The CMS
    guarantee est ≥ true is pinned in pytest; the md5 hash family
    makes every cell index — and therefore every collision —
    engine-exact, so the whole sketch hash-matches the oracle."""
    e = t(spark, sf_dir, "events").select("user_id")
    cells = e.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("hrow"),
                        (
                            md5_int(
                                F.concat(
                                    F.lit(str(i)),
                                    F.lit(":"),
                                    F.col("user_id").cast("string"),
                                ),
                                15,
                            )
                            % _CMS_WIDTH
                        ).alias("cell"),
                    )
                    for i in range(_CMS_ROWS)
                ]
            )
        ).alias("rc"),
    ).select("user_id", "rc.hrow", "rc.cell")
    sketch = cells.groupBy("hrow", "cell").agg(F.count("*").alias("c"))
    keys = cells.distinct()
    est = (
        keys.join(F.broadcast(sketch), ["hrow", "cell"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est_count"))
    )
    truth = e.groupBy("user_id").agg(F.count("*").alias("true_count"))
    return (
        est.join(truth, "user_id")
        .select(
            "user_id",
            F.col("est_count").cast("long").alias("est_count"),
            F.col("true_count").cast("long").alias("true_count"),
            (F.col("est_count") - F.col("true_count"))
            .cast("long")
            .alias("overcount"),
        )
        .orderBy(F.desc("est_count"), "user_id")
        .limit(25)
    )


_BFS_SOURCE = 7
_BFS_MAX_DEPTH = 6

_BFS_EDGES_SQL = """
      SELECT DISTINCT src, dst FROM (
        SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
        UNION ALL
        SELECT doc_id, (doc_id * 13 + 2) % nn.n FROM documents, nn
        UNION ALL
        SELECT doc_id, (doc_id * 29 + 3) % nn.n FROM documents, nn
      ) WHERE src <> dst
"""


@query(
    "sql_recursive_cte_bfs",
    oracle=f"""
    WITH RECURSIVE nn AS (SELECT COUNT(*) AS n FROM documents),
    edges AS MATERIALIZED ({_BFS_EDGES_SQL}),
    walk(node, dist) AS (
      SELECT CAST(7 AS BIGINT), 0
      UNION ALL
      SELECT e.dst, w.dist + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.dist < 6
    ),
    mind AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
    SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(node) AS min_node, MAX(node) AS max_node
    FROM mind GROUP BY dist
    """,
)
def sql_recursive_cte_bfs(spark, sf_dir):
    """Recursive CTE (``WITH RECURSIVE``, Spark 4.x) breadth-first
    reachability over the synthetic link graph: all nodes within
    6 hops of doc 7, reported as
    nodes-per-shortest-distance. The recursion is authored as SQL TEXT
    on BOTH engines — the iterative-closure surface (org charts, BOM
    explosions, graph reachability) expressed declaratively instead of
    a driver loop; Catalyst unrolls the recursion with a per-step
    UNION the same way :func:`graph.pagerank` chains its iterations.

    The depth guard bounds the walk (out-degree 3 → ≤ 3^6
    path rows before the MIN collapse) — recursion over an unbounded
    cyclic graph without the guard would diverge on both engines."""
    docs = t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_bfs_documents")
    return spark.sql(
        f"""
        WITH RECURSIVE nn AS (
          SELECT COUNT(*) AS n FROM _bfs_documents
        ),
        edges AS ({_BFS_EDGES_SQL.replace("documents", "_bfs_documents")}),
        walk(node, dist) AS (
          SELECT CAST(7 AS BIGINT), 0
          UNION ALL
          SELECT e.dst, w.dist + 1
          FROM walk w JOIN edges e ON e.src = w.node
          WHERE w.dist < 6
        ),
        mind AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
        SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               MIN(node) AS min_node, MAX(node) AS max_node
        FROM mind GROUP BY dist
        """
    )


_BLOOM_BITS = 1 << 16   # m = 65536-bit filter
_BLOOM_K = 7            # hash functions


def _bloom_oracle() -> str:
    probes = ", ".join(
        f"('0x' || substr(md5({i} || ':' || o_custkey), 1, 15))::BIGINT"
        f" % {_BLOOM_BITS}"
        for i in range(_BLOOM_K)
    )
    member = ", ".join(
        f"('0x' || substr(md5({i} || ':' || c_custkey), 1, 15))::BIGINT"
        f" % {_BLOOM_BITS}"
        for i in range(_BLOOM_K)
    )
    return f"""
    WITH building AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
      SELECT DISTINCT u.b FROM building,
        unnest([{member}]) AS u(b)
    ),
    probe_keys AS (SELECT DISTINCT o_custkey FROM orders),
    probe_bits AS (
      SELECT o_custkey, u.b, ROW_NUMBER() OVER () AS rn FROM probe_keys,
        unnest([{probes}]) AS u(b)
    ),
    verdicts AS (
      SELECT p.o_custkey,
             (COUNT(*) FILTER (WHERE bits.b IS NOT NULL) = {_BLOOM_K})
               AS bloom_positive
      FROM probe_bits p LEFT JOIN bits ON bits.b = p.b
      GROUP BY p.o_custkey
    )
    SELECT v.o_custkey,
           v.bloom_positive,
           (b.c_custkey IS NOT NULL) AS actually_present,
           (v.bloom_positive AND b.c_custkey IS NULL) AS false_positive
    FROM verdicts v LEFT JOIN building b ON b.c_custkey = v.o_custkey
    """


@query("agg_bloom_filter_membership", oracle=_bloom_oracle())
def agg_bloom_filter_membership(spark, sf_dir):
    """Bloom-filter membership, engine-exact: build a 65,536-bit / 7-
    hash filter over the BUILDING-segment customer keys (the bit SET
    as one distinct-aggregation — a real bitset at scale, the set of
    set-bit positions here so the oracle can recompute it), probe
    every ordering customer, and report the bloom verdict next to
    ground truth with false positives flagged. The md5 hash family
    makes every bit position — and therefore every FP — identical
    across engines, so the filter's exact behavior is hash-match
    graded, not just its error rate.

    This is THE shuffle-pruning primitive at 100 TB: ship the
    kilobyte-scale filter to the fact table's scan instead of
    shuffling the fact table to a join — rows whose key fails the
    bloom never enter the exchange, and the FP fraction (graded here)
    is exactly the wasted traffic. Spark's own runtime row-group
    bloom pruning follows the same math; this operator declares it as
    queryable surface.

    Plan: filter build is one map-side explode (×7) + distinct on a
    dimension subset (broadcast-sized); probes explode ×7, join the
    broadcast bit set, and one groupBy checks all-7-bits-set."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")

    def positions(col):
        return F.array(
            *[
                md5_int(F.concat(F.lit(str(i)), F.lit(":"), col.cast("string")), 15)
                % _BLOOM_BITS
                for i in range(_BLOOM_K)
            ]
        )

    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bits = (
        building.select(F.explode(positions(F.col("c_custkey"))).alias("b"))
        .distinct()
        .withColumn("set_bit", F.lit(True))
    )
    probe_keys = o.select("o_custkey").distinct()
    probe_bits = probe_keys.select(
        "o_custkey", F.explode(positions(F.col("o_custkey"))).alias("b")
    )
    verdicts = (
        probe_bits.join(F.broadcast(bits), "b", "left")
        .groupBy("o_custkey")
        .agg(
            (F.sum(F.col("set_bit").isNotNull().cast("int")) == _BLOOM_K).alias(
                "bloom_positive"
            )
        )
    )
    truth = building.withColumn("present", F.lit(True)).select(
        F.col("c_custkey").alias("o_custkey"), "present"
    )
    return verdicts.join(F.broadcast(truth), "o_custkey", "left").select(
        "o_custkey",
        "bloom_positive",
        F.col("present").isNotNull().alias("actually_present"),
        (F.col("bloom_positive") & F.col("present").isNull()).alias(
            "false_positive"
        ),
    )


@query(
    "dq_constraint_check",
    oracle="""
    WITH m AS (
      SELECT
        (SELECT COUNT(*) FROM orders)                                  AS n_orders,
        (SELECT COUNT(o_custkey) FROM orders)                          AS n_custkey,
        (SELECT COUNT(DISTINCT o_orderkey) FROM orders)                AS n_distinct_key,
        (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)          AS n_nonpos_price,
        (SELECT COUNT(*) FROM orders o
          WHERE o.o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))          AS n_orphans,
        (SELECT COUNT(*) FROM orders
          WHERE o_orderstatus NOT IN ('F', 'O', 'P'))                  AS n_bad_status
    )
    SELECT 'completeness_custkey' AS constraint, 
           ROUND(n_custkey * 1.0 / n_orders, 6) AS metric,
           CAST(n_orders - n_custkey AS BIGINT) AS violations,
           n_custkey = n_orders AS passed FROM m
    UNION ALL
    SELECT 'uniqueness_orderkey',
           ROUND(n_distinct_key * 1.0 / n_orders, 6),
           CAST(n_orders - n_distinct_key AS BIGINT),
           n_distinct_key = n_orders FROM m
    UNION ALL
    SELECT 'range_totalprice_positive',
           ROUND(1.0 - n_nonpos_price * 1.0 / n_orders, 6),
           CAST(n_nonpos_price AS BIGINT),
           n_nonpos_price = 0 FROM m
    UNION ALL
    SELECT 'referential_custkey',
           ROUND(1.0 - n_orphans * 1.0 / n_orders, 6),
           CAST(n_orphans AS BIGINT),
           n_orphans = 0 FROM m
    UNION ALL
    SELECT 'domain_orderstatus',
           ROUND(1.0 - n_bad_status * 1.0 / n_orders, 6),
           CAST(n_bad_status AS BIGINT),
           n_bad_status = 0 FROM m
    """,
)
def dq_constraint_check(spark, sf_dir):
    """Declarative data-quality constraint suite (the Deequ/
    expectations shape): completeness, key uniqueness, value range,
    referential integrity, and domain membership, each emitted as one
    (constraint, metric, violations, passed) row — the nightly
    validation gate every 100 TB ingest runs before publishing a
    partition.

    Plan: ONE scan of orders — the broadcast customer-key left join
    runs inside the same stage, so the referential check is a
    conditional sum in the SAME aggregate as the other four counters
    (the first form union-ed five branches over a shared scalar
    frame, and each branch recomputed it: plan_audit showed scans=8
    where this docstring claimed one pass — the quantile-drift
    lesson applied here). The five report rows then come from
    exploding a literal 5-struct array over the single 1-row
    aggregate, never from re-running it. S6's malformed-row policy is
    the ingest-time cousin; this is the post-load gate."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    keys = c.select("c_custkey").distinct()
    joined = o.join(
        F.broadcast(keys), o.o_custkey == keys.c_custkey, "left"
    )
    # Null keys are a COMPLETENESS violation, not a referential one —
    # each dirty row trips exactly its own rule (pinned in pytest).
    m = joined.agg(
        F.count("*").alias("n_orders"),
        F.count("o_custkey").alias("n_custkey"),
        F.countDistinct("o_orderkey").alias("n_distinct_key"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("n_nonpos_price"),
        F.sum(
            (~F.col("o_orderstatus").isin("F", "O", "P")).cast("long")
        ).alias("n_bad_status"),
        F.sum(
            (
                F.col("o_custkey").isNotNull() & F.col("c_custkey").isNull()
            ).cast("long")
        ).alias("n_orphans"),
    )

    def row(name, metric, violations, passed):
        return F.struct(
            F.lit(name).alias("constraint"),
            F.round(metric, 6).alias("metric"),
            violations.cast("long").alias("violations"),
            passed.alias("passed"),
        )

    n, nc = F.col("n_orders"), F.col("n_custkey")
    nd, np_ = F.col("n_distinct_key"), F.col("n_nonpos_price")
    no, nb = F.col("n_orphans"), F.col("n_bad_status")
    report = F.array(
        row("completeness_custkey", nc / n, n - nc, nc == n),
        row("uniqueness_orderkey", nd / n, n - nd, nd == n),
        row("range_totalprice_positive", 1 - np_ / n, np_, np_ == 0),
        row("referential_custkey", 1 - no / n, no, no == 0),
        row("domain_orderstatus", 1 - nb / n, nb, nb == 0),
    )
    return m.select(F.explode(report).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# Training-batch manifest (epoch expansion → sequence packing)
# ---------------------------------------------------------------------------

_TBM_BUDGET = 2048  # tokens per packed sequence


@query(
    "training_batch_manifest",
    oracle=f"""
    WITH ep AS (
      SELECT doc_id, source,
             CAST(substr(source, 4) AS INT) % 3 + 1 AS epochs,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> x <> '')) AS n_tokens
      FROM documents
    ), expanded AS (
      SELECT doc_id, source, n_tokens, CAST(u.i AS INT) AS copy_id
      FROM ep, unnest(range(1, epochs + 1)) AS u(i)
    ), offs AS (
      SELECT source, doc_id, copy_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY copy_id, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM expanded
    ), placed AS (
      SELECT source, doc_id, copy_id, n_tokens,
             CAST(FLOOR(cum_before / {_TBM_BUDGET}) AS BIGINT) AS seq_id
      FROM offs
    )
    SELECT source, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_packed,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct_docs
    FROM placed GROUP BY source, seq_id
    """,
)
def training_batch_manifest(spark, sf_dir):
    """The training-data assembly manifest — the composition that
    turns a curated corpus into trainer input: epoch-expand each
    source by its mixing recipe (``mix_epoch_oversample``'s knob),
    order copies epoch-major so repeats of a document land in
    DIFFERENT packed sequences, then greedy-pack token counts into
    {_TBM_BUDGET}-token sequences by running offset
    (``pack_sequences``' cumsum placement). The manifest rows (one
    per packed sequence per source) are what a loader shards across
    data-parallel workers.

    Plan: one map-side epoch explode, one per-source running-sum
    window (source-partitioned — sources are the natural parallel
    unit), one groupBy. Per-sequence token totals and distinct-doc
    counts make over-repetition auditable at the sequence level."""
    d = t(spark, sf_dir, "documents")
    ep = d.select(
        "doc_id",
        "source",
        (F.substring("source", 4, 10).cast("int") % 3 + 1).alias("epochs"),
        F.size(
            F.filter(F.split(F.trim("text"), "\\s+"), lambda x: x != "")
        ).alias("n_tokens"),
    )
    expanded = ep.select(
        "doc_id",
        "source",
        "n_tokens",
        F.explode(F.sequence(F.lit(1), F.col("epochs"))).alias("copy_id"),
    )
    woff = (
        W.partitionBy("source")
        .orderBy("copy_id", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    placed = expanded.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(woff), F.lit(0)) / _TBM_BUDGET
        )
        .cast("long")
        .alias("seq_id"),
    )
    return placed.groupBy("source", "seq_id").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("n_tokens").cast("long").alias("tokens_packed"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.countDistinct("doc_id").cast("long").alias("n_distinct_docs"),
    )


# ---------------------------------------------------------------------------
# SFT loss-mask construction
# ---------------------------------------------------------------------------


@query(
    "training_span_loss_mask",
    oracle="""
    WITH tok AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(p AS BIGINT) AS prompt_tokens,
           CAST(n_tokens - p AS BIGINT) AS completion_tokens,
           repeat('0', CAST(p AS INT))
             || repeat('1', CAST(n_tokens - p AS INT)) AS loss_mask
    FROM (SELECT doc_id, n_tokens,
                 greatest(1, CAST(FLOOR(n_tokens / 3.0) AS BIGINT)) AS p
          FROM tok)
    """,
)
def training_span_loss_mask(spark, sf_dir):
    """SFT loss-mask construction — the supervised-fine-tuning data
    prep stage that marks which token positions contribute to the
    loss: the first third of each document stands in for the prompt
    (masked out, '0') and the remainder for the completion (trained,
    '1'), emitted as a position-aligned mask string plus the span
    counts the packer needs. Serialized as a string rather than an
    array<int> per the registry's array-canonicalization convention.
    Scale shape: pure per-row Column arithmetic and repeat() — zero
    shuffle, no explode; the mask length is bounded by the document's
    own token count."""
    d = t(spark, sf_dir, "documents")
    n = F.size(F.split(F.col("text"), " "))
    p = F.greatest(F.lit(1), F.floor(n / 3.0).cast("long"))
    tok = d.select(
        "doc_id", n.cast("long").alias("n_tokens"), p.alias("p")
    )
    return tok.select(
        "doc_id",
        "n_tokens",
        F.col("p").alias("prompt_tokens"),
        (F.col("n_tokens") - F.col("p")).alias("completion_tokens"),
        F.concat(
            F.repeat(F.lit("0"), F.col("p").cast("int")),
            F.repeat(F.lit("1"), (F.col("n_tokens") - F.col("p")).cast("int")),
        ).alias("loss_mask"),
    )


# ---------------------------------------------------------------------------
# Snake-draft balanced shard assignment
# ---------------------------------------------------------------------------

SNAKE_SHARDS = 8


@query(
    "training_shard_snake",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS r0
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, n_chars,
             CASE WHEN (r0 // {SNAKE_SHARDS}) % 2 = 0
                  THEN r0 % {SNAKE_SHARDS}
                  ELSE {SNAKE_SHARDS - 1} - (r0 % {SNAKE_SHARDS})
             END AS shard
      FROM ranked
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM assigned GROUP BY shard
    """,
)
def training_shard_snake(spark, sf_dir):
    """Size-balanced output sharding for training-data export — the
    loader-side fix for the long-tail-shard straggler: sort documents
    by size descending and deal them to N shards in a SNAKE draft
    (rounds alternate direction 0..7, 7..0), which bounds the
    per-shard size gap by one document. Hash-mod sharding balances
    counts, not bytes; greedy first-fit is inherently sequential —
    the snake draft is the distributed-friendly balancer because the
    assignment is pure rank arithmetic.

    The global rank uses the ``window_ntile`` construction, NOT a
    single-reducer global window: range-repartition on the sort key,
    per-partition counts → broadcast running offsets, global rank =
    offset + local row_number. Emits per-shard totals; the balance
    property (max−min spread ≤ max single doc) is pinned in pytest."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", (-F.col("n_chars")).alias("neg")
    )
    parts = d.repartitionByRange(32, "neg", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    sizes = parts.groupBy("pid").agg(F.count("*").alias("cnt"))
    # bounded-by-construction: window over <=32 partition-count rows
    w_off = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = sizes.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    w_local = W.partitionBy("pid").orderBy("neg", "doc_id")
    r0 = F.col("off") + F.row_number().over(w_local) - 1
    rnd = (r0 / SNAKE_SHARDS).cast("long")
    pos = r0 % SNAKE_SHARDS
    shard = F.when(rnd % 2 == 0, pos).otherwise(
        F.lit(SNAKE_SHARDS - 1) - pos
    )
    return (
        parts.join(F.broadcast(offsets), "pid")
        .select(
            shard.cast("long").alias("shard"), "doc_id", "n_chars"
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic epoch-wise shuffle + data-parallel assignment
# ---------------------------------------------------------------------------

SHUFFLE_EPOCHS = 3
DP_WORLD_SIZE = 8


@query(
    "training_epoch_shuffle_order",
    oracle=f"""
    WITH keyed AS (
      SELECT u.e AS epoch, doc_id,
             md5(CAST(u.e AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
               AS skey
      FROM documents, unnest(range(0, {SHUFFLE_EPOCHS})) AS u(e)
    ),
    ordered AS (
      SELECT epoch, doc_id,
             ROW_NUMBER() OVER (PARTITION BY epoch
                                ORDER BY skey, doc_id) AS position
      FROM keyed
    )
    SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
           CAST(position AS BIGINT) AS position,
           CAST((position - 1) % {DP_WORLD_SIZE} AS BIGINT) AS dp_rank,
           CAST((position - 1) // {DP_WORLD_SIZE} AS BIGINT) AS dp_step
    FROM ordered
    """,
)
def training_epoch_shuffle_order(spark, sf_dir):
    """Deterministic per-epoch shuffle manifest + data-parallel
    assignment — the reproducibility contract of a distributed
    dataloader: every trainer rank must independently derive the SAME
    global order for epoch e (resume-from-step, skip-batch debugging,
    and bitwise rerun all depend on it), and each document lands on
    rank ``(pos-1) % world`` at step ``(pos-1) // world``. The shuffle
    key is md5(epoch:doc_id) — seeded, content-independent, different
    every epoch (so repeats of a document meet different neighbors,
    the property ``training_batch_manifest``'s epoch-major order
    relies on), and identical on any engine that re-derives it.

    Complements the training pack: ``training_batch_manifest`` decides
    WHAT enters an epoch (mixing/packing), this decides the ORDER and
    the RANK; ``training_shard_snake`` balances export shards.

    Scale shape: the manifest is corpus x epochs rows by definition
    (written to the loader, never collected). Position assignment is a
    per-epoch global sort — Spark range-partitions the sort; the
    row_number window per epoch is the declarative form (at 100 TB
    you'd emit per-partition counts and add range offsets — two
    passes, same result; epochs parallelize independently either
    way). Everything else is per-row modular arithmetic."""
    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        F.explode(
            F.array(*[F.lit(e).cast("long") for e in range(SHUFFLE_EPOCHS)])
        ).alias("epoch"),
        "doc_id",
    ).withColumn(
        "skey",
        F.md5(
            F.concat_ws(":", F.col("epoch").cast("string"), F.col("doc_id").cast("string"))
        ),
    )
    w = W.partitionBy("epoch").orderBy("skey", "doc_id")
    pos = F.row_number().over(w).cast("long")
    return keyed.select(
        "epoch",
        "doc_id",
        pos.alias("position"),
    ).select(
        "epoch",
        "doc_id",
        "position",
        ((F.col("position") - 1) % DP_WORLD_SIZE).alias("dp_rank"),
        ((F.col("position") - 1) / DP_WORLD_SIZE).cast("long").alias("dp_step"),
    )


# ---------------------------------------------------------------------------
# Power-of-two length-bucketed batching
# ---------------------------------------------------------------------------

LB_BATCH_DOCS = 16  # documents per batch within a bucket


@query(
    "training_length_bucket_batches",
    oracle=f"""
    WITH n AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(CASE WHEN n_tokens <= 1 THEN 1
                       ELSE 1::BIGINT << CAST(length(bin(n_tokens - 1)) AS INT)
                  END AS BIGINT) AS bucket
      FROM n
    ),
    r AS (
      SELECT doc_id, n_tokens, bucket,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
      FROM b
    )
    SELECT doc_id, n_tokens, bucket,
           CAST((rn - 1) // {LB_BATCH_DOCS} AS BIGINT) AS batch_idx,
           CAST(bucket - n_tokens AS BIGINT) AS padding
    FROM r
    """,
)
def training_length_bucket_batches(spark, sf_dir):
    """Power-of-two length-bucketed batching — the dynamic-batching
    manifest a trainer's loader uses to bound padding waste: each
    document pads to the next power of two of its token count (the
    envelope guarantees padding < n_tokens, pinned in pytest), and
    batches of {LB_BATCH_DOCS} form WITHIN a bucket so every batch is
    rectangular. Complements the pack: ``pack_sequences``
    concatenates into fixed windows (no padding, loses example
    boundaries); bucketed batching keeps one example per row and pays
    bounded padding — the standard trade-off pair.

    Exactness: the bucket is pure integer bit arithmetic — next pow2
    via the binary-digit length (1 << len(bin(n-1)), the HLL rho
    idiom), no log. Scale shape: one scan, per-row token count, one
    bucket-partitioned window (buckets are the natural parallel unit,
    ~log(max_len) of them, each corpus-sized/|buckets| — at extreme
    skew a bucket's window range-partitions exactly like any sort)."""
    d = t(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.filter(F.split(F.trim("text"), "\\s+"), lambda x: x != "")
    ).cast("long")
    b = d.select("doc_id", n_tokens.alias("n_tokens")).withColumn(
        "bucket",
        F.when(F.col("n_tokens") <= 1, F.lit(1).cast("long")).otherwise(
            F.expr("shiftleft(1L, cast(length(bin(n_tokens - 1)) as int))")
        ),
    )
    w = W.partitionBy("bucket").orderBy("doc_id")
    rn = F.row_number().over(w).cast("long")
    # (rn-1)/{B}: both operands tiny, the double quotient is exact and
    # the truncation equals the oracle's // on nonnegatives
    return b.select(
        "doc_id",
        "n_tokens",
        "bucket",
        ((rn - 1) / LB_BATCH_DOCS).cast("long").alias("batch_idx"),
        (F.col("bucket") - F.col("n_tokens")).alias("padding"),
    )
