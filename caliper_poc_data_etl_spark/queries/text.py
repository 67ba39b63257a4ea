"""Text-analysis operators over ``documents.text`` (north-star §2B).

Language-ID, quality scoring, token counting, fingerprinting — all as
native Column expressions (regex/split/aggregate), so they run inside
whole-stage codegen at 100 TB; no Python in the hot path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.graph import iterate, truncate_lineage
from caliper_poc_data_etl_spark.queries.kernels import md5_int, word_trigrams
from caliper_poc_data_etl_spark.queries.registry import query, t

# A compact multi-language stopword table for the n-gram/stopword
# language heuristic (public common-word lists).
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "et", "des"],
}

# BPE-ish token pattern: word pieces or single non-space symbols.
# Parenthesized: Spark's regexp_extract_all extracts group 1.
TOKEN_PATTERN = "([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s])"


def _tokens(col):
    return F.split(F.trim(col), "\\s+")


@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           length(text)                                         AS n_chars_calc,
           len(string_split_regex(trim(text), '\\s+'))          AS n_tokens,
           len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS n_distinct_tokens,
           ROUND(length(replace(text, ' ', '')) * 1.0
                 / len(string_split_regex(trim(text), '\\s+')), 4) AS avg_token_len
    FROM documents
    """,
)
def text_stats(spark, sf_dir):
    """Length/token statistics — the quality-score building blocks."""
    d = t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")) / F.size(toks), 4
        ).alias("avg_token_len"),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS n_distinct,
             length(regexp_replace(text, '[a-zA-Z ]', '', 'g')) * 1.0
               / length(text) AS symbol_ratio
      FROM documents
    )
    SELECT doc_id,
           ROUND(LEAST(n_tokens / 100.0, 1.0) * 0.4
                 + (n_distinct * 1.0 / n_tokens) * 0.4
                 + (1.0 - symbol_ratio) * 0.2, 4) AS quality,
           CASE WHEN n_tokens >= 20 AND n_distinct * 1.0 / n_tokens >= 0.3
                THEN TRUE ELSE FALSE END AS keep
    FROM feats
    """,
)
def text_quality_score(spark, sf_dir):
    """Composite quality score (length / lexical diversity / symbol
    ratio) + a keep/drop gate — the standard pretraining-data filter."""
    d = t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    symbol_ratio = F.length(
        F.regexp_replace("text", "[a-zA-Z ]", "")
    ) / F.length("text")
    quality = (
        F.least(n_tokens / 100.0, F.lit(1.0)) * 0.4
        + (n_distinct / n_tokens) * 0.4
        + (1.0 - symbol_ratio) * 0.2
    )
    keep = (n_tokens >= 20) & ((n_distinct / n_tokens) >= 0.3)
    return d.select(
        "doc_id",
        F.round(quality, 4).alias("quality"),
        keep.alias("keep"),
    )


def _stopword_hits(tokens_col, words: list[str]):
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens_col, lambda x: F.array_contains(arr, x)))


@query(
    "text_langid",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                 x -> list_contains({LANG_STOPWORDS["en"]!r}, x))) AS hits_en,
             len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                 x -> list_contains({LANG_STOPWORDS["de"]!r}, x))) AS hits_de,
             len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                 x -> list_contains({LANG_STOPWORDS["es"]!r}, x))) AS hits_es,
             len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                 x -> list_contains({LANG_STOPWORDS["fr"]!r}, x))) AS hits_fr,
             regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') AS has_cjk
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN has_cjk THEN 'zh'
                WHEN hits_de > hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
                WHEN hits_es > hits_en AND hits_es >= hits_fr THEN 'es'
                WHEN hits_fr > hits_en THEN 'fr'
                ELSE 'en' END AS lang_guess
    FROM scored
    """,
)
def text_langid(spark, sf_dir):
    """Heuristic language ID: CJK codepoint detection + per-language
    stopword scoring (n-gram-free variant; the synthetic corpus shares
    one vocabulary so real discrimination is exercised by tests)."""
    d = t(spark, sf_dir, "documents")
    toks = _tokens(F.lower(F.col("text")))
    hits = {k: _stopword_hits(toks, v) for k, v in LANG_STOPWORDS.items()}
    has_cjk = F.col("text").rlike("[\\x{4e00}-\\x{9fff}]")
    guess = (
        F.when(has_cjk, "zh")
        .when(
            (hits["de"] > hits["en"])
            & (hits["de"] >= hits["es"])
            & (hits["de"] >= hits["fr"]),
            "de",
        )
        .when((hits["es"] > hits["en"]) & (hits["es"] >= hits["fr"]), "es")
        .when(hits["fr"] > hits["en"], "fr")
        .otherwise("en")
    )
    return d.select("doc_id", "lang", guess.alias("lang_guess"))


@query(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '{TOKEN_PATTERN}', 1)) AS bpe_ish_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS byte_est_tokens
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    """Token counting three ways: whitespace, BPE-ish regex pieces,
    bytes/4 estimate — the standard LLM-pipeline accounting columns."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_PATTERN))).alias(
            "bpe_ish_tokens"
        ),
        F.ceil(F.length("text") / 4.0).alias("byte_est_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))) AS fingerprint,
           md5(text) AS exact_hash
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprinting: exact hash + normalized (case/punct/
    whitespace-insensitive) content hash — md5 agrees across engines."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]", ""))).alias(
            "fingerprint"
        ),
        F.md5(F.col("text")).alias("exact_hash"),
    )


@query(
    "text_char_entropy",
    oracle="""
    WITH normed AS (
      SELECT doc_id, regexp_replace(text, '\\s', ' ', 'g') AS norm
      FROM documents WHERE length(text) > 0
    ), counted AS (
      SELECT doc_id, norm,
             list_sort(list_distinct(regexp_extract_all(norm, '.'))) AS dchars
      FROM normed
    )
    SELECT doc_id,
           length(norm) AS n_chars_norm,
           len(dchars) AS n_distinct_chars,
           ROUND(-list_sum(list_transform(dchars, c ->
               ((length(norm) - length(replace(norm, c, ''))) * 1.0 / length(norm))
               * log2((length(norm) - length(replace(norm, c, ''))) * 1.0
                      / length(norm)))), 4) AS entropy
    FROM counted
    """,
)
def text_char_entropy(spark, sf_dir):
    """Per-document character-level Shannon entropy — the cheap
    gibberish/boilerplate detector (natural text sits ~4 bits/char;
    base64 blobs and repeated padding land far off).

    Stays entirely in array algebra: distinct chars (sorted, so both
    engines sum the entropy terms in the same order) and a
    count-via-replace length trick per char — O(len·|alphabet|) inside
    whole-stage codegen, zero shuffle, no explode of one row per
    character (which would 5000× the row count before aggregating
    right back)."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    normed = d.select(
        "doc_id", F.regexp_replace("text", "\\s", " ").alias("norm")
    )
    counted = normed.select(
        "doc_id",
        "norm",
        F.array_sort(
            F.array_distinct(F.regexp_extract_all("norm", F.lit("(.)")))
        ).alias("dchars"),
    )
    n = F.length("norm")
    cnt = lambda c: n - F.length(F.replace(F.col("norm"), c))  # noqa: E731
    term = lambda c: (cnt(c).cast("double") / n) * F.log2(  # noqa: E731
        cnt(c).cast("double") / n
    )
    return counted.select(
        "doc_id",
        n.alias("n_chars_norm"),
        F.size("dchars").alias("n_distinct_chars"),
        F.round(
            -F.aggregate(
                "dchars", F.lit(0.0), lambda acc, c: acc + term(c)
            ),
            4,
        ).alias("entropy"),
    )


@query(
    "text_regex_extract",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '([0-9]+)', 1)) AS n_numbers,
           COALESCE(NULLIF(regexp_extract(text, '([0-9]+)', 1), ''), 'NA')
             AS first_number,
           len(regexp_extract_all(text, '([A-Z][a-z]+)', 1)) AS n_capitalized,
           len(regexp_extract_all(text, '(https?://[^ ]+)', 1)) AS n_urls
    FROM documents
    """,
)
def text_regex_extract(spark, sf_dir):
    """Regex extraction pack: occurrence counts + first-match capture
    (numbers, Capitalized words, URLs) — the structured-signal pass of
    a scrape-cleaning pipeline. Patterns stick to constructs with
    identical semantics in Java regex (Spark) and RE2 (DuckDB); empty
    no-match extracts are normalized to 'NA' on both engines."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("([0-9]+)"))).alias("n_numbers"),
        F.coalesce(
            F.nullif(F.regexp_extract("text", "([0-9]+)", 1), F.lit("")),
            F.lit("NA"),
        ).alias("first_number"),
        F.size(F.regexp_extract_all("text", F.lit("([A-Z][a-z]+)"))).alias(
            "n_capitalized"
        ),
        F.size(F.regexp_extract_all("text", F.lit("(https?://[^ ]+)"))).alias(
            "n_urls"
        ),
    )


@query(
    "text_ngram_shingles",
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    )
    SELECT doc_id,
           len(list_distinct(
             list_transform(range(1, len(tk) - 1),
                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
           )) AS n_distinct_shingles
    FROM tk
    WHERE len(tk) >= 3
    """,
)
def text_ngram_shingles(spark, sf_dir):
    """Distinct 3-gram word shingles per document — the MinHash input."""
    d = t(spark, sf_dir, "documents")
    n = F.size(F.array_distinct(word_trigrams("toks")))
    return (
        d.select("doc_id", _tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", n.alias("n_distinct_shingles"))
    )


_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that with "
    "as for on at by from not"
).split()


@query(
    "text_stopword_density",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE tok IN
             ({", ".join("'" + w + "'" for w in _STOPWORDS)})) AS BIGINT)
             AS n_stop,
           FLOOR(COUNT(*) FILTER (WHERE tok IN
             ({", ".join("'" + w + "'" for w in _STOPWORDS)})) * 1.0
             / COUNT(*) * 1e6 + 0.5) / 1e6 AS stop_ratio
    FROM toks GROUP BY doc_id
    """,
)
def text_stopword_density(spark, sf_dir):
    """Stopword density per document — one of the classic quality
    signals (near-zero density ⇒ keyword spam / boilerplate lists;
    near-one ⇒ degenerate text). The stopword set is a tiny literal
    IN-list compiled into the row predicate (at vocab scale it would
    broadcast) — tokenize → conditional count, one hash agg on
    doc_id."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    is_stop = F.col("tok").isin(_STOPWORDS)
    g = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(is_stop.cast("long")).alias("n_stop"),
    )
    return g.select(
        "doc_id",
        "n_tokens",
        "n_stop",
        (
            F.floor(F.col("n_stop") * 1.0 / F.col("n_tokens") * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("stop_ratio"),
    )


HASH_VEC_BUCKETS = 256


@query(
    "text_hashing_vectorizer",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ), b AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {HASH_VEC_BUCKETS}
               AS bucket,
             COUNT(*) AS c
      FROM toks GROUP BY doc_id, bucket
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS nnz,
           CAST(SUM(c * c) AS BIGINT) AS sq_norm,
           FLOOR(sqrt(CAST(SUM(c * c) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS l2
    FROM b GROUP BY doc_id
    """,
)
def text_hashing_vectorizer(spark, sf_dir):
    """Feature hashing (the hashing-trick vectorizer): tokens hash
    into {HASH_VEC_BUCKETS} buckets via an ENGINE-AGNOSTIC md5-prefix
    hash, per-document bucket counts form the sparse vector; graded
    outputs are the vector's nnz, exact integer squared norm, and l2
    norm — scalar projections of the full vector (the driver contract
    is scalar-only), with the bucket assignment itself proven by the
    hash match. Two hash aggs, both keyed on doc_id — the second
    reuses the first's partitioning. At 100 TB this replaces a vocab
    build entirely: no dictionary state, memory O(buckets)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    bucket = md5_int("tok", 8) % HASH_VEC_BUCKETS
    b = toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count("*").alias("c")
    )
    return b.groupBy("doc_id").agg(
        F.count("*").alias("nnz"),
        F.sum(F.col("c") * F.col("c")).alias("sq_norm"),
        (
            F.floor(
                F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("l2"),
    )


_PPL_FLOOR_LOGP = -13.815511  # ROUND(LN(1e-6), 6) — unseen-bigram backoff


@query(
    "text_perplexity_proxy",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ), bigrams AS (
      SELECT doc_id, tk[u.i] AS w1, tk[u.i + 1] AS w2
      FROM toks, unnest(range(1, len(tk))) AS u(i)
      WHERE len(tk) >= 2
    ), big_counts AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY w1, w2
    ), uni_counts AS (
      SELECT w1, SUM(c12) AS c1 FROM big_counts GROUP BY w1
    ), scored AS (
      SELECT b.doc_id,
             CAST(ROUND(LN(bc.c12 * 1.0 / uc.c1), 6) AS DECIMAL(18,6)) AS logp
      FROM bigrams b
      JOIN big_counts bc USING (w1, w2)
      JOIN uni_counts uc USING (w1)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           FLOOR(CAST(SUM(logp) AS DOUBLE) / COUNT(*) * 1e4 + 0.5) / 1e4
             AS avg_logp
    FROM scored GROUP BY doc_id
    """,
)
def text_perplexity_proxy(spark, sf_dir):
    """Per-document LM quality score: mean log-probability of the
    document's bigrams under the corpus's own bigram model — the
    CCNet/Gopher-style "perplexity filter" signal that separates
    fluent text from gibberish, computed without any external model.
    (Every bigram here appears in the corpus model by construction, so
    the 1e-6 backoff floor never fires on this data; the constant
    documents the convention for scoring NEW text against a frozen
    model.)

    Scale shape: the bigram LM is ONE aggregation over the corpus
    (c12), its denominator derives from c12 itself (no second corpus
    pass), and scoring re-joins the doc bigram stream on (w1,w2) —
    stop-word-headed bigrams are the skew case AQE's skew join splits.
    Cross-engine determinism: each bigram's log-prob is a pure
    function of two integer counts, rounded to 6 dp BEFORE the
    per-doc mean accumulates in DECIMAL(18,6)."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    toks = d.select("doc_id", tk.alias("tk")).filter(F.size("tk") >= 2)
    tkc = F.col("tk")
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(tkc) - 1),
                lambda i: F.struct(
                    F.element_at(tkc, i).alias("w1"),
                    F.element_at(tkc, i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    big_counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni_counts = big_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    logp = F.round(F.log(F.col("c12") / F.col("c1")), 6).cast("decimal(18,6)")
    return (
        bigrams.join(big_counts, ["w1", "w2"])
        .join(uni_counts, "w1")
        .select("doc_id", logp.alias("logp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            # DECIMAL-sum / COUNT division scale rules differ across
            # engines (the ts_resample_linear_interp divergence class):
            # cast the exact sum to double FIRST, then floor-round the
            # identical IEEE quotient on both sides.
            (
                F.floor(
                    F.sum("logp").cast("double")
                    / F.count("*")
                    * F.lit(1e4)
                    + F.lit(0.5)
                )
                / F.lit(1e4)
            ).alias("avg_logp"),
        )
    )


_BOILER_NGRAM = 8
_BOILER_DF = 5


@query(
    "text_boilerplate_shingle_ratio",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ), shingles AS (
      SELECT DISTINCT doc_id,
             array_to_string(tk[u.i : u.i + {_BOILER_NGRAM} - 1], ' ') AS sh
      FROM toks, unnest(range(1, len(tk) - {_BOILER_NGRAM} + 2)) AS u(i)
      WHERE len(tk) >= {_BOILER_NGRAM}
    ), df AS (
      SELECT sh, COUNT(*) AS n_docs FROM shingles GROUP BY sh
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) FILTER (WHERE df.n_docs >= {_BOILER_DF}) AS BIGINT)
             AS n_boiler,
           CAST(ROUND(COUNT(*) FILTER (WHERE df.n_docs >= {_BOILER_DF})
                 * 1.0 / COUNT(*), 4) AS DOUBLE) AS boiler_ratio
    FROM shingles s JOIN df USING (sh)
    GROUP BY s.doc_id
    """,
)
def text_boilerplate_shingle_ratio(spark, sf_dir):
    """Boilerplate contamination score: the fraction of each doc's
    distinct 8-gram shingles that recur in ≥5 documents — the
    RefinedWeb/C4-style repeated-passage signal (headers, footers,
    licence blocks) that line-level dedup catches in web corpora,
    expressed over shingles since this corpus has no line structure.
    Docs with high ratios are boilerplate-dominated and get dropped or
    trimmed before training.

    Scale shape: per-doc shingling is map-side; ONE aggregation
    builds the shingle document-frequency table; the scoring re-join
    shuffles on the shingle hash. The DISTINCT inside the shingle CTE
    bounds a doc's contribution to any shingle at 1, so a single
    pathological doc cannot inflate df."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    tkc = F.col("tk")
    shingles = (
        d.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= _BOILER_NGRAM)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(tkc) - _BOILER_NGRAM + 1),
                    lambda i: F.array_join(
                        F.slice(tkc, i, _BOILER_NGRAM), " "
                    ),
                )
            ).alias("sh"),
        )
        .distinct()
    )
    df = shingles.groupBy("sh").agg(F.count("*").alias("n_docs"))
    boiler = (F.col("n_docs") >= _BOILER_DF).cast("long")
    return (
        shingles.join(df, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(boiler).alias("n_boiler"),
            F.round(F.sum(boiler) / F.count("*"), 4)
            .cast("double")
            .alias("boiler_ratio"),
        )
    )


_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("spark", "hash", "window")
_BM25_TOPK = 20


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_QUERY)
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ), lens AS (
      SELECT doc_id, len(tk) AS dl FROM toks
    ), stats AS (
      SELECT COUNT(*) AS n_docs,
             FLOOR(AVG(dl) * 100 + 0.5) / 100 AS avgdl_q FROM lens
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS f
      FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
      WHERE tok IN ({terms})
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(*) AS n_t FROM tf GROUP BY tok
    ), scored AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ROUND(LN((stats.n_docs - df.n_t + 0.5) / (df.n_t + 0.5) + 1), 6)
               * (tf.f * ({_BM25_K1} + 1))
               / (tf.f + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * lens.dl
                  / stats.avgdl_q)),
             6) AS DECIMAL(18,6)) AS term_score
      FROM tf
      JOIN df USING (tok)
      JOIN lens USING (doc_id)
      CROSS JOIN stats
    )
    SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS bm25,
           CAST(COUNT(*) AS INT) AS n_query_terms_hit
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPK}
    """


@query("text_bm25_topk", oracle=_bm25_oracle())
def text_bm25_topk(spark, sf_dir):
    """BM25 retrieval scoring — the standard lexical ranker (tf
    saturation via k1, doc-length normalization via b) a step above
    raw TF-IDF (``tfidf_top_terms``): top-20 documents for a fixed
    3-term query. This is the retrieval half of RAG data prep: score,
    rank, keep the head.

    Scale shape: TWO corpus scans — the tf pass (only tokens MATCHING
    the query survive the explode, and each doc's length rides along
    as max(dl) so no separate per-doc length join is needed) and the
    corpus-stats pass (N and avgdl must see ALL docs, matching or
    not). The tf match set is persisted — term df derives from it by
    a 3-row groupBy instead of re-running the scan+explode, and its
    footprint is |query terms| × matching docs, the retrieval
    candidate set (the first form re-scanned the corpus for df, the
    length join, and stats: plan_audit showed scans=4). Cross-engine
    determinism: idf rounds to 6 dp before use (the perplexity
    convention), avgdl floor-quantizes to 2 dp, per-term scores round
    to 6 dp and sum in DECIMAL."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    stats = d.select(F.size(tk).alias("dl")).agg(
        F.count("*").alias("n_docs"),
        (F.floor(F.avg("dl") * 100 + F.lit(0.5)) / 100).alias("avgdl_q"),
    )
    tf = (
        d.select("doc_id", F.size(tk).alias("dl"), F.explode(tk).alias("tok"))
        .filter(F.col("tok").isin(*_BM25_QUERY))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("f"), F.max("dl").alias("dl"))
        .persist()
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("n_t"))
    idf = F.round(
        F.log(
            (F.col("n_docs") - F.col("n_t") + 0.5) / (F.col("n_t") + 0.5) + 1
        ),
        6,
    )
    norm = F.col("f") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl_q")
    )
    term_score = F.round(
        idf * (F.col("f") * (_BM25_K1 + 1)) / norm, 6
    ).cast("decimal(18,6)")
    return (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(
            F.sum("term_score").cast("double").alias("bm25"),
            F.count("*").cast("int").alias("n_query_terms_hit"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


@query(
    "text_readability_score",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             GREATEST(len(string_split_regex(trim(text), '\\s+')), 1) AS words,
             GREATEST(len(regexp_extract_all(text, '([.!?]+)', 1)), 1) AS sentences,
             GREATEST(len(regexp_extract_all(lower(text), '([aeiouy]+)', 1)), 1)
               AS syllables
      FROM documents
    )
    SELECT doc_id, words, sentences,
           FLOOR((206.835 - 1.015 * (words * 1.0 / sentences)
                          - 84.6 * (syllables * 1.0 / words)) * 100 + 0.5) / 100
             AS flesch
    FROM feats
    """,
)
def text_readability_score(spark, sf_dir):
    """Flesch-style readability: words/sentence and vowel-group
    syllable proxy — the classic document-complexity feature for
    quality filtering and curriculum staging. Regex counts in
    whole-stage codegen; zero shuffle."""
    d = t(spark, sf_dir, "documents")
    words = F.greatest(
        F.size(F.split(F.trim(F.col("text")), "\\s+")), F.lit(1)
    )
    sentences = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit("([.!?]+)"))), F.lit(1)
    )
    syllables = F.greatest(
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("([aeiouy]+)"))),
        F.lit(1),
    )
    raw = (
        F.lit(206.835)
        - 1.015 * (words.cast("double") / sentences)
        - 84.6 * (syllables.cast("double") / words)
    )
    # floor(x*100 + 0.5)/100 instead of round(x, 2): both engines
    # compute bit-identical doubles for `raw`, and floor of the same
    # double is deterministic — engine round() implementations disagree
    # exactly at .xx5 boundaries (one corpus doc hits one).
    flesch = F.floor(raw * 100 + 0.5) / 100
    return d.select(
        "doc_id",
        words.alias("words"),
        sentences.alias("sentences"),
        flesch.alias("flesch"),
    )


@query(
    "text_bigram_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ), bigrams AS (
      SELECT u.i AS pos, tk[u.i] AS w1, tk[u.i + 1] AS w2
      FROM toks, unnest(range(1, len(tk))) AS u(i)
      WHERE len(tk) >= 2
    ), big_counts AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY w1, w2
    ), uni_counts AS (
      SELECT w1, SUM(c12) AS c1 FROM big_counts GROUP BY w1
    )
    SELECT b.w1, b.w2, b.c12,
           ROUND(b.c12 * 1.0 / u.c1, 6) AS p_w2_given_w1
    FROM big_counts b JOIN uni_counts u USING (w1)
    WHERE b.c12 >= 20
    """,
)
def text_bigram_lm(spark, sf_dir):
    """Bigram conditional probabilities P(w2|w1) over the corpus — the
    classic count-based LM statistic (and the building block of PMI /
    collocation mining). Two hash aggregations; the unigram
    denominator derives from the bigram counts themselves (no second
    corpus pass) and joins back on w1 — skew on stop-words is the
    AQE-skew-join case, and the c12 floor keeps the output to the
    statistically meaningful tail."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    toks = d.select(tk.alias("tk")).filter(F.size("tk") >= 2)
    tkc = F.col("tk")
    bigrams = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(tkc) - 1),
                lambda i: F.struct(
                    F.element_at(tkc, i).alias("w1"),
                    F.element_at(tkc, i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    big_counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni_counts = big_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        big_counts.join(uni_counts, "w1")
        .filter(F.col("c12") >= 20)
        .select(
            "w1",
            "w2",
            "c12",
            F.round(F.col("c12") / F.col("c1"), 6).alias("p_w2_given_w1"),
        )
    )


VOCAB_SIZE = 200


@query(
    "text_tokenize_vocab_ids",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ), exploded AS (
      SELECT doc_id, u.i AS pos, tk[u.i] AS tok
      FROM toks, unnest(range(1, len(tk) + 1)) AS u(i)
    ), vocab AS (
      SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS tok_id
      FROM exploded GROUP BY tok
      ORDER BY COUNT(*) DESC, tok LIMIT {VOCAB_SIZE}
    )
    SELECT e.doc_id,
           array_to_string(list(COALESCE(v.tok_id, 0) ORDER BY e.pos), ',')
             AS token_ids,
           CAST(COUNT(*) FILTER (WHERE v.tok_id IS NULL) AS BIGINT) AS n_unk
    FROM exploded e LEFT JOIN vocab v USING (tok)
    GROUP BY e.doc_id
    """,
)
def text_tokenize_vocab_ids(spark, sf_dir):
    """Distributed tokenization against a learned vocabulary: build
    the top-{VOCAB_SIZE} token vocab (frequency-ranked, lexical
    tiebreak → deterministic ids), then map every document to its id
    sequence with 0 = UNK — the id-ification step between raw text
    and sequence packing.

    Scale shape: the vocab is tiny and BROADCAST into the token
    stream (documents never shuffle for the lookup); the id sequence
    reassembles per doc with the ordered-collect technique
    (collect_list of (pos, id) structs + array_sort), the engine's
    standard S14 pattern. The id sequence is emitted comma-joined
    (STRING, not array<int>) — the grading driver's pandas
    canonicalizer cannot hash list cells."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    exploded = d.select(
        "doc_id", F.posexplode(tk).alias("pos", "tok")
    )
    # Top-K FIRST via orderBy+limit (TakeOrderedAndProject — per-
    # partition heaps, no global sort), THEN the id-assigning window
    # over the K-row survivor set. A bare row_number over the full
    # distinct-token table would single-reduce the whole vocabulary.
    wv = W.orderBy(F.desc("c"), "tok")
    vocab = (
        exploded.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(VOCAB_SIZE)
        .withColumn("tok_id", F.row_number().over(wv))
        .select("tok", "tok_id")
    )
    pair = F.struct(F.col("pos"), F.coalesce("tok_id", F.lit(0)).alias("tid"))
    return (
        exploded.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(pair)),
                    lambda p: p["tid"].cast("string"),
                ),
                ",",
            ).alias("token_ids"),
            F.sum(F.col("tok_id").isNull().cast("long")).alias("n_unk"),
        )
    )


# ---------------------------------------------------------------------------
# Subword BPE tokenization
# ---------------------------------------------------------------------------

# Frozen merge table — the tokenizer-model artifact a production
# pipeline ships next to its checkpoints (learning it is an offline
# job; ENCODING against a fixed table is the hot path this operator
# declares). Priority order matters: merges apply rank 1 first.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("r", "e"),
    ("o", "n"),
    ("e", "r"),
    ("a", "t"),
    ("e", "n"),
    ("o", "r"),
    ("e", "s"),
    ("a", "l"),
    ("o", "u"),
    ("s", "t"),
    ("in", "g"),
    ("an", "d"),
    ("t", "o"),
    ("i", "s"),
    ("o", "f"),
    ("er", "s"),
    ("the", "r"),
    ("i", "t"),
    ("a", "s"),
    ("e", "d"),
]

# Within one rank, `replace` is left-to-right non-overlapping and the
# pattern's trailing space is CONSUMED, so a run of k same-rank pairs
# needs ~log2(k) sweeps ("ababab" merges 1st and 3rd pair on sweep 1).
# Three sweeps cover runs of up to 15 repeated pairs; anything longer
# degrades identically on both engines (same replace semantics), so
# cross-engine agreement is unconditional.
BPE_SWEEPS = 3

# ids: base chars a-z = 1..26, merge products 27.. in rank order; the
# word-boundary marker '|' never merges and never emits an id.
BPE_VOCAB: dict[str, int] = {chr(ord("a") + i): i + 1 for i in range(26)}
for _a, _b in BPE_MERGES:
    BPE_VOCAB[_a + _b] = len(BPE_VOCAB) + 1


def bpe_symbols_expr(col):
    """Encode a lowercase-text column into BPE symbols.

    The whole document is one spaced symbol string (' t h e | c a t ')
    with '|' as the un-mergeable word boundary, so encoding is a pure
    per-row expression chain — no explode, no regroup shuffle. Merges
    apply as rank-ordered single-pass literal replaces (BPE_SWEEPS
    sweeps each); this is the standard single-pass approximation of
    the iterative lowest-rank-first encoder, exact whenever later
    merges don't recreate earlier pairs (true for this table by
    construction) and deterministic regardless.
    """
    w = F.regexp_replace(F.regexp_replace(col, "[^a-z]+", "|"), "^\\||\\|$", "")
    s = F.concat(F.lit(" "), F.regexp_replace(w, "(.)", "$1 "))
    for a, b in BPE_MERGES:
        for _ in range(BPE_SWEEPS):
            s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    return F.split(F.trim(s), " ")


def _bpe_oracle() -> str:
    rep = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g')"
    for a, b in BPE_MERGES:
        for _ in range(BPE_SWEEPS):
            rep = f"replace({rep}, ' {a} {b} ', ' {a}{b} ')"
    case = " ".join(
        f"WHEN '{sym}' THEN {sid}" for sym, sid in BPE_VOCAB.items()
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(lower(text), '[^a-z]+', '|', 'g'),
                            '^\\||\\|$', '', 'g') AS w
      FROM documents
    ), enc AS (
      SELECT doc_id, string_split(trim({rep}), ' ') AS sy
      FROM base WHERE w <> ''
    ), subs AS (
      SELECT doc_id,
             list_filter(sy, x -> x <> '|') AS sub,
             len(list_filter(sy, x -> x = '|')) + 1 AS n_words
      FROM enc
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(len(sub) AS BIGINT) AS n_subwords,
           array_to_string(
             list_transform(sub,
               x -> CAST(COALESCE(CASE x {case} END, 0) AS VARCHAR)),
             ',') AS token_ids
    FROM subs
    """


@query("text_bpe_tokenize", oracle=_bpe_oracle())
def text_bpe_tokenize(spark, sf_dir):
    """Subword tokenization by a frozen BPE merge table — how training
    corpora are actually tokenized (whitespace vocab-ids,
    ``text_tokenize_vocab_ids``, is the baseline this closes the gap
    on). The merge table is the shipped model artifact; encoding
    applies it rank-ordered over a spaced symbol string with '|' as
    the un-mergeable word boundary, then maps symbols to vocabulary
    ids (a-z = 1..26, merge products 27+ in rank order).

    Scale shape: the entire encode is ONE narrow projection — no
    explode, no join, no shuffle; per-row cost is linear in document
    length and the plan is a single WholeStageCodegen map over the
    scan. The vocab lookup is a literal map expression, not a join.
    Cross-engine determinism: literal-string replaces with identical
    left-to-right non-overlapping semantics in both engines, so even
    the documented >15-repeated-pair degradation case agrees
    byte-for-byte. (A ``_spread`` repartition was measured here and
    reverted: the per-trial floor is the deep replace-chain
    expression analysis, not task parallelism — the shuffle bought
    nothing.)"""
    d = t(spark, sf_dir, "documents")
    vmap = F.create_map(
        *[x for sym, sid in BPE_VOCAB.items() for x in (F.lit(sym), F.lit(sid))]
    )
    syms = bpe_symbols_expr(F.lower(F.col("text")))
    # oracle's WHERE w <> '' parity: a letterless doc yields sy = ['']
    # after split(trim(' ')) — exclude exactly those rows. Filter
    # on the RAW text (lower(text) contains a letter ⇔ w <> '' ⇔
    # sy <> ['']) BEFORE the symbol chain: filtering on the computed
    # sy pushed a second copy of the whole replace chain into the
    # predicate (measured +1.5 s of the query's 2.2 s at sf0.1); the
    # raw-text predicate is scan-pushable and the chain now evaluates
    # once, in the projection. NULL note: rlike drops
    # NULL-text rows, which the old size(sy)-based exclusion kept
    # (size(NULL) = -1 non-ANSI) — that is an ORACLE-PARITY fix, not
    # just perf: the oracle's WHERE w <> '' never emits NULL-text
    # docs either (regexp_replace(NULL) is NULL).
    base = d.filter(F.lower(F.col("text")).rlike("[a-z]")).select(
        "doc_id", syms.alias("sy")
    )
    sub = F.filter(F.col("sy"), lambda x: x != "|")
    return base.select(
        "doc_id",
        (
            F.size(F.filter(F.col("sy"), lambda x: x == "|")) + 1
        ).cast("long").alias("n_words"),
        F.size(sub).cast("long").alias("n_subwords"),
        F.array_join(
            F.transform(
                sub,
                lambda x: F.coalesce(
                    F.element_at(vmap, x), F.lit(0)
                ).cast("string"),
            ),
            ",",
        ).alias("token_ids"),
    )


BPE_PAIR_TOPN = 30


def _bpe_pair_oracle() -> str:
    rep = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g')"
    for a, b in BPE_MERGES:
        for _ in range(BPE_SWEEPS):
            rep = f"replace({rep}, ' {a} {b} ', ' {a}{b} ')"
    return f"""
    WITH base AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(lower(text), '[^a-z]+', '|', 'g'),
                            '^\\||\\|$', '', 'g') AS w
      FROM documents
    ), enc AS (
      SELECT doc_id, string_split(trim({rep}), ' ') AS sy
      FROM base WHERE w <> ''
    ), pairs AS (
      SELECT sy[u.i] AS left_sym, sy[u.i + 1] AS right_sym
      FROM enc, unnest(range(1, len(sy))) AS u(i)
      WHERE sy[u.i] <> '|' AND sy[u.i + 1] <> '|'
    )
    SELECT left_sym, right_sym, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY left_sym, right_sym
    ORDER BY n DESC, left_sym, right_sym
    LIMIT {BPE_PAIR_TOPN}
    """


@query("text_bpe_pair_stats", oracle=_bpe_pair_oracle())
def text_bpe_pair_stats(spark, sf_dir):
    """The LEARNING side of BPE: adjacent symbol-pair frequencies over
    the corpus AFTER the frozen merges apply — exactly the statistic
    a BPE trainer computes to pick the next merge (the top row IS
    merge rank len(BPE_MERGES)+1). One such aggregation per learned
    merge is the whole training loop; declaring it as graded surface
    proves the engine can run that loop distributed.

    Scale shape: encode is the same zero-shuffle projection as
    text_bpe_tokenize; pairs explode linearly in token count and
    reduce through ONE partial-aggregated groupBy on (left, right) —
    the canonical word-count shape. Deterministic top-N via
    (count desc, pair asc)."""
    d = t(spark, sf_dir, "documents")
    sy = bpe_symbols_expr(F.lower(F.col("text")))
    # Letterless-doc filter on the RAW text (⇔ sy == ['']), same
    # rewrite as text_bpe_tokenize: keeps the replace chain out of the
    # pushed-down predicate so it evaluates once.
    enc = d.filter(F.lower(F.col("text")).rlike("[a-z]")).select(sy.alias("sy"))
    syc = F.col("sy")
    pairs = enc.select(
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.size(syc) - 1),
                    lambda i: F.struct(
                        F.element_at(syc, i).alias("left_sym"),
                        F.element_at(syc, i + 1).alias("right_sym"),
                    ),
                ),
                lambda p: (p["left_sym"] != "|") & (p["right_sym"] != "|"),
            )
        ).alias("p")
    ).select("p.left_sym", "p.right_sym")
    return (
        pairs.groupBy("left_sym", "right_sym")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "left_sym", "right_sym")
        .limit(BPE_PAIR_TOPN)
    )


# ---------------------------------------------------------------------------
# Paragraph/sentence-level duplication ratio
# ---------------------------------------------------------------------------

_PARA_MIN_CHARS = 20


@query(
    "text_paragraph_dedup_ratio",
    oracle=f"""
    WITH units AS (
      SELECT DISTINCT doc_id, trim(lower(u.p)) AS unit
      FROM documents,
           unnest(string_split_regex(text, '\\.\\s+')) AS u(p)
      WHERE length(trim(lower(u.p))) >= {_PARA_MIN_CHARS}
    ), freq AS (
      SELECT unit, COUNT(*) AS n_docs FROM units GROUP BY unit
    ), per_doc AS (
      SELECT u.doc_id,
             COUNT(*) AS n_units,
             SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS n_dup_units
      FROM units u JOIN freq f USING (unit)
      GROUP BY u.doc_id
    )
    SELECT doc_id, CAST(n_units AS BIGINT) AS n_units,
           CAST(n_dup_units AS BIGINT) AS n_dup_units
    FROM per_doc
    """,
)
def text_paragraph_dedup_ratio(spark, sf_dir):
    """Sub-document duplication audit: split each document into
    sentence/paragraph units, count how many of a document's units
    also appear in OTHER documents — the C4/RefinedWeb-style
    line-level dedup measurement that catches boilerplate whole-doc
    dedup misses (a doc can be 90% template with a unique header).
    Emitted as integer numerator/denominator (n_dup_units / n_units)
    so the ratio is exact.

    Plan: explode → distinct(doc, unit) → unit-frequency groupBy →
    join back on unit. Unit strings are the join key at this scale;
    a production run would md5 the unit first (same plan, narrower
    shuffle) — the repo's dedup_exact_normalized convention."""
    d = t(spark, sf_dir, "documents")
    units = (
        d.select(
            "doc_id",
            F.explode(F.split("text", "\\.\\s+")).alias("p"),
        )
        .select("doc_id", F.trim(F.lower("p")).alias("unit"))
        .filter(F.length("unit") >= _PARA_MIN_CHARS)
        .distinct()
    )
    freq = units.groupBy("unit").agg(F.count("*").alias("n_docs"))
    return (
        units.join(freq, "unit")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_units"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_units"),
        )
    )


# ---------------------------------------------------------------------------
# MOSS winnowing document fingerprints
# ---------------------------------------------------------------------------

WIN_K = 8  # k-gram length (chars)
WIN_W = 4  # winnowing window (hashes)


@query(
    "text_winnowing_fingerprint",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, text, u.i AS pos
      FROM documents, unnest(range(1, length(text) - {WIN_K} + 2)) AS u(i)
      WHERE length(text) >= {WIN_K + WIN_W - 1}
    ),
    hs AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(substr(text, CAST(pos AS INT), {WIN_K})), 1, 10))::BIGINT
               AS h
      FROM pos
    ),
    win AS (
      SELECT doc_id, pos, list(h) OVER w AS hl, list(pos) OVER w AS pl
      FROM hs
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING)
    ),
    sel AS (
      SELECT doc_id,
             pl[len(hl) - list_position(list_reverse(hl), list_min(hl)) + 1]
               AS fp_pos,
             list_min(hl) AS fp
      FROM win WHERE len(hl) = {WIN_W}
    )
    SELECT DISTINCT doc_id, CAST(fp_pos AS BIGINT) AS fp_pos,
           CAST(fp AS BIGINT) AS fp
    FROM sel
    """,
)
def text_winnowing_fingerprint(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k=8-char gram, slide a
    w=4 window over the hash sequence, and select the window minimum
    (rightmost on ties — the paper's robust-winnowing rule, expressed
    here as reverse+first-position so both engines pick the identical
    occurrence); duplicate selections collapse via DISTINCT. The
    guarantee: any shared substring of length ≥ k+w−1 produces at
    least one shared fingerprint, making this the local-context
    alternative to MinHash for plagiarism/near-dup detection.

    The per-window selection runs as SCALAR window aggregates, not
    per-position arrays (the earlier form
    materialized two w-length ``collect_list`` arrays at EVERY char
    position — w× the window-exec state and allocation for the same
    answer): (h, pos) packs into one long, ``key = h·2^22 +
    (2^22−1−pos)``, whose frame MINIMUM is exactly the
    robust-winnowing pick — min h first, and among equal h the
    largest pos (rightmost), because larger pos ⇒ smaller packed
    complement. h is 40 bits (10 hex chars) so the key fits 62 bits;
    the 22-bit position field caps docs at 4,194,303 chars (grams of
    longer docs would need a wider field — enforced nowhere because
    the corpus max is ~600 and a 100 TB web corpus shards documents
    long before 4 MB of contiguous text).

    Duplicate selections collapse via a LAG filter, not a hash
    distinct: within a doc the packed key is injective in pos, so
    each frame's argmin is unique, and a fingerprint occurrence can
    only be re-selected by CONSECUTIVE overlapping frames (if frames
    r and r+2 both pick position p, frame r+1's candidates are a
    subset of their union, all ≥ key[p], so it picks p too) — equal
    min_keys are contiguous in frame order, and `min_key !=
    lag(min_key)` is exactly DISTINCT with zero extra shuffle or
    aggregation state.

    Scale shape: the doc_id shuffle happens BEFORE the char-gram
    explode (explicit numPartitions from shuffle.partitions — the
    pre-explode input is tiny, so AQE would otherwise coalesce the
    fan-out stage onto one task and serialize all the hashing; the
    explode is the row-expander, so parallelism must be decided on
    the POST-explode volume), which also pre-satisfies both window
    passes — ONE exchange total, frames w-bounded, per-frame state
    two longs, no aggregate anywhere."""
    shift = 1 << 22  # packed-position field; > max doc length
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.length("text") >= WIN_K + WIN_W - 1)
        # The 22-bit position field fails LOUDLY past its
        # cap instead of silently corrupting fingerprints — assert_true
        # raises in-task on the first over-long document; it returns
        # NULL on pass, so the isNull() filter keeps every valid row
        # and the optimizer cannot prune the check.
        .filter(
            F.assert_true(
                F.length("text") < F.lit(shift),
                F.lit(
                    "text_winnowing_fingerprint: document exceeds the "
                    f"22-bit packed-position cap ({(1 << 22) - 1} chars); "
                    "shard long documents or widen the field"
                ),
            ).isNull()
        )
        .repartition(n_part, "doc_id")
    )
    pos = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - WIN_K + 1)).alias("pos"),
    )
    h = md5_int(F.col("text").substr(F.col("pos"), F.lit(WIN_K)), 10)
    key = h * F.lit(shift).cast("long") + (
        F.lit(shift - 1).cast("long") - F.col("pos")
    )
    hs = pos.select("doc_id", "pos", key.alias("key"))
    wspec = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WIN_W - 1)
    )
    worder = W.partitionBy("doc_id").orderBy("pos")
    win = hs.select(
        "doc_id",
        "pos",
        F.min("key").over(wspec).alias("min_key"),
        F.count(F.lit(1)).over(wspec).alias("n_frame"),
    ).filter(F.col("n_frame") == WIN_W)
    dedup = win.withColumn(
        "prev_key", F.lag("min_key").over(worder)
    ).filter(
        F.col("prev_key").isNull()
        | (F.col("prev_key") != F.col("min_key"))
    )
    return dedup.select(
        "doc_id",
        (
            F.lit(shift - 1).cast("long") - F.pmod("min_key", F.lit(shift))
        ).alias("fp_pos"),
        F.expr(f"min_key div {shift}L").cast("long").alias("fp"),
    )


# ---------------------------------------------------------------------------
# BPE trainer: learn the merge table itself (iterative)
# ---------------------------------------------------------------------------

BPE_TRAIN_ROUNDS = 3
_BPE_TRAIN_SWEEPS = 3


def _bpe_train_oracle() -> str:
    head = """
    WITH base AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(lower(text), '[^a-z]+', '|', 'g'),
                            '^\\||\\|$', '', 'g') AS w
      FROM documents
    ),
    e0 AS MATERIALIZED (
      SELECT doc_id, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s
      FROM base WHERE w <> ''
    )"""
    steps = []
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        rep = "e.s"
        for _ in range(_BPE_TRAIN_SWEEPS):
            rep = (
                f"replace({rep}, ' ' || m.a || ' ' || m.b || ' ', "
                f"' ' || m.a || m.b || ' ')"
            )
        steps.append(f"""p{r} AS (
      SELECT sy[u.i] AS a, sy[u.i + 1] AS b, COUNT(*) AS n
      FROM (SELECT string_split(trim(s), ' ') AS sy FROM e{r-1}) t,
           unnest(range(1, len(sy))) AS u(i)
      WHERE sy[u.i] <> '|' AND sy[u.i + 1] <> '|'
      GROUP BY 1, 2
    ), m{r} AS MATERIALIZED (
      SELECT {r} AS rank, a, b, n FROM p{r}
      ORDER BY n DESC, a, b LIMIT 1
    ), e{r} AS MATERIALIZED (
      SELECT e.doc_id, {rep} AS s FROM e{r-1} e, m{r} m
    )""")
    tail = "\n    UNION ALL ".join(
        f"SELECT CAST(rank AS BIGINT) AS rank, a AS left_sym, "
        f"b AS right_sym, CAST(n AS BIGINT) AS n FROM m{r}"
        for r in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    return head + ",\n    " + ",\n    ".join(steps) + "\n    " + tail


@query("text_bpe_train_merges", oracle=_bpe_train_oracle())
def text_bpe_train_merges(spark, sf_dir):
    """The BPE TRAINING loop itself — learn the first 3 merges from
    raw characters (``text_bpe_pair_stats`` declares one iteration's
    statistic; this runs the actual loop): each round counts adjacent
    symbol pairs corpus-wide, picks the argmax pair (count desc, pair
    asc — the deterministic tiebreak real trainers use), applies the
    merge to every document, and recounts. The learned table is what
    ``text_bpe_tokenize`` consumes frozen. 9th iterative operator.

    Plan per round: pair counts reduce through ONE partial-aggregated
    groupBy (the word-count shape); the argmax is a 1-ROW limit
    carried as a broadcast cross join into the merge application (a
    plan node, not a driver collect — the documented
    ``EXPECTED_SCALAR_BNLJ`` pattern); the merge applies as a
    per-row column replace, zero shuffle; localCheckpoint truncates
    the growing lineage. Overlapping-pair counting and left-to-right
    non-overlapping replace are the declared semantics, identical in
    both engines.

    The corpus is REPARTITIONED once before the loop (explicit
    numPartitions from shuffle.partitions): the driver fixture is one
    small parquet file and localCheckpoint PRESERVES its single
    partition, so every round's symbol split, pair explode, and merge
    replace otherwise run on ONE task for the whole training loop —
    the winnowing pre-explode lesson; measured ~267 s →
    ~13 s at sf0.1. One 5000-row shuffle buys 3 rounds × full-corpus
    parallelism; at 100 TB the input arrives multi-split and the
    repartition is a no-op by cost."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = t(spark, sf_dir, "documents")
    w = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]+", "|"),
        "^\\||\\|$",
        "",
    )
    docs = truncate_lineage(
        d.select(
            "doc_id",
            F.concat(F.lit(" "), F.regexp_replace(w, "(.)", "$1 ")).alias("s"),
        )
        .filter(F.trim("s") != "")
        .repartition(n_part, "doc_id")
    )
    merges = []

    def merge_round(docs, r):
        sy = F.split(F.trim(F.col("s")), " ")
        n_sy = F.size(sy)
        # Adjacent pairs as arrays_zip of two shifted slices — plain
        # (lambda-free) expressions. The earlier transform+filter
        # higher-order chain produced a pathological one-time codegen
        # compile inside the round-1 broadcast (measured 214 s of the
        # query's 457 s wall at sf0.1; the whole loop is ~13 s in this
        # form) and interpreted ~6× slower per pair even warm.
        pairs = (
            docs.select(
                F.explode(
                    F.arrays_zip(
                        F.slice(sy, 1, n_sy - 1).alias("a"),
                        F.slice(sy, 2, n_sy - 1).alias("b"),
                    )
                ).alias("p")
            )
            .select("p.a", "p.b")
            .filter((F.col("a") != "|") & (F.col("b") != "|"))
        )
        top = (
            pairs.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .select(F.lit(r).alias("rank"), "a", "b", "n")
        )
        applied = docs.crossJoin(F.broadcast(top))
        s = F.col("s")
        search = F.concat(F.lit(" "), F.col("a"), F.lit(" "), F.col("b"), F.lit(" "))
        repl = F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" "))
        for _ in range(_BPE_TRAIN_SWEEPS):
            s = F.replace(s, search, repl)
        merges.append(
            top.select(
                F.col("rank").cast("long").alias("rank"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.col("n").cast("long").alias("n"),
            )
        )
        return applied.select("doc_id", s.alias("s"))

    iterate(merge_round, docs, BPE_TRAIN_ROUNDS)
    return reduce(DataFrame.unionByName, merges)


# ---------------------------------------------------------------------------
# PMI collocation mining
# ---------------------------------------------------------------------------

PMI_MIN_C12 = 20
PMI_MICRO = 1_000_000


@query(
    "text_collocation_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT string_split(lower(trim(text)), ' ') AS tk
      FROM documents WHERE trim(text) <> ''
    ),
    uni AS MATERIALIZED (
      SELECT u.w, COUNT(*) AS c
      FROM toks, unnest(tk) AS u(w)
      GROUP BY u.w
    ),
    tot AS (SELECT SUM(c) AS n_tot FROM uni),
    big AS (
      SELECT tk[u.i] AS w1, tk[u.i + 1] AS w2, COUNT(*) AS c12
      FROM toks, unnest(range(1, len(tk))) AS u(i)
      WHERE len(tk) >= 2
      GROUP BY 1, 2
      HAVING COUNT(*) >= {PMI_MIN_C12}
    )
    SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS c12,
           CAST(u1.c AS BIGINT) AS c1, CAST(u2.c AS BIGINT) AS c2,
           CAST((b.c12 * t.n_tot * {PMI_MICRO}) // (u1.c * u2.c)
                AS BIGINT) AS lift_micro
    FROM big b
    JOIN uni u1 ON u1.w = b.w1
    JOIN uni u2 ON u2.w = b.w2
    CROSS JOIN tot t
    """,
)
def text_collocation_pmi(spark, sf_dir):
    """PMI collocation mining — which word pairs co-occur MORE than
    their unigram frequencies predict (the word2vec-style phrase
    detection statistic; log-free: since log is monotone, ranking by
    the inside-the-log lift ratio P(w1,w2)/(P(w1)P(w2)) =
    c12·N/(c1·c2) is equivalent, and the integer-floored micro-unit
    lift crosses engines exactly — no libm). Distinct from
    ``text_bigram_lm``: TRUE unigram counts from their own aggregation
    (not row-marginals of the bigram table), and a symmetric
    association score rather than a directional conditional.

    Plan: two partial-aggregating token groupBys (unigrams, bigrams);
    the tiny vocab table broadcasts back onto the thresholded bigram
    table twice, and the corpus token total rides along as a
    broadcast 1-row scalar — one data-sized shuffle per aggregation,
    nothing quadratic. BIGINT bound: c12·N·1e6 needs N² ≲ 9.2e12,
    fine through the graded SFs; at larger corpora drop PMI_MICRO to
    1e3 or compute the lift on per-million-token rates."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim(F.col("text"))), " ")
    toks = (
        d.filter(F.trim(F.col("text")) != "")
        .select(tk.alias("tk"))
    )
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("n_tot"))
    tkc = F.col("tk")
    big = (
        toks.filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(tkc) - 1),
                    lambda i: F.struct(
                        F.element_at(tkc, i).alias("w1"),
                        F.element_at(tkc, i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= PMI_MIN_C12)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        big.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.col("c1").cast("long").alias("c1"),
            F.col("c2").cast("long").alias("c2"),
            F.expr(
                f"(c12 * n_tot * {PMI_MICRO}) div (c1 * c2)"
            ).cast("long").alias("lift_micro"),
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction
# ---------------------------------------------------------------------------

RAKE_STOPWORDS = ("the", "a")
RAKE_MIN_OCC = 2
RAKE_MICRO = 1_000_000


def _rake_oracle() -> str:
    s = "' '||lower(trim(text))||' '"
    for sw in RAKE_STOPWORDS:
        for _ in range(3):
            s = f"replace({s}, ' {sw} ', ' | ')"
    return f"""
    WITH seg AS (
      SELECT {s} AS s FROM documents WHERE trim(text) <> ''
    ),
    ph AS (
      SELECT trim(p) AS p
      FROM seg, unnest(string_split(s, '|')) AS u(p)
      WHERE trim(p) <> ''
    ),
    phc AS MATERIALIZED (
      SELECT p, COUNT(*) AS n_occ FROM ph GROUP BY p
    ),
    wstat AS MATERIALIZED (
      SELECT u.w, COUNT(*) AS freq,
             SUM(len(string_split(ph.p, ' '))) AS deg
      FROM ph, unnest(string_split(ph.p, ' ')) AS u(w)
      GROUP BY u.w
    )
    SELECT c.p AS phrase, CAST(c.n_occ AS BIGINT) AS n_occ,
           CAST(SUM((ws.deg * {RAKE_MICRO}) // ws.freq) AS BIGINT)
             AS score_micro
    FROM phc c, unnest(string_split(c.p, ' ')) AS u(w)
    JOIN wstat ws ON ws.w = u.w
    WHERE c.n_occ >= {RAKE_MIN_OCC}
    GROUP BY c.p, c.n_occ
    """


@query("text_rake_keywords", oracle=_rake_oracle())
def text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free runs; each word scores deg/freq (degree
    = Σ length of phrase occurrences containing it, frequency = its
    occurrence count) and a phrase scores the sum of its words'
    scores — the classic unsupervised keyphrase ranker. Word scores
    are floored to integer micro-units BEFORE the phrase sum, so the
    ranking crosses engines exactly (the rational deg/freq never
    leaves integer arithmetic).

    Stopword segmentation is literal-replace sweeps on the spaced
    string (' the '→' | ', 3 sweeps per stopword for adjacent runs —
    the ``text_bpe_tokenize`` left-to-right replace recipe, identical
    semantics in both engines). Plan: phrase explode → two
    partial-aggregating groupBys (phrase counts, word stats); the
    tiny word-stat table broadcasts back onto phrase members. Zero
    windows, zero driver scalars — linear in corpus tokens."""
    d = t(spark, sf_dir, "documents")
    s = F.concat(F.lit(" "), F.lower(F.trim(F.col("text"))), F.lit(" "))
    for sw in RAKE_STOPWORDS:
        for _ in range(3):
            s = F.replace(s, F.lit(f" {sw} "), F.lit(" | "))
    ph = (
        d.filter(F.trim(F.col("text")) != "")
        .select(F.explode(F.split(s, "\\|")).alias("p0"))
        .select(F.trim("p0").alias("p"))
        .filter(F.col("p") != "")
    )
    phc = ph.groupBy("p").agg(F.count(F.lit(1)).alias("n_occ"))
    words = ph.select(
        "p",
        F.size(F.split(F.col("p"), " ")).alias("plen"),
        F.explode(F.split(F.col("p"), " ")).alias("w"),
    )
    wstat = words.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("deg"),
    )
    members = (
        phc.filter(F.col("n_occ") >= RAKE_MIN_OCC)
        .select("p", "n_occ", F.explode(F.split(F.col("p"), " ")).alias("w"))
    )
    return (
        members.join(F.broadcast(wstat), "w")
        .groupBy(F.col("p").alias("phrase"), "n_occ")
        .agg(
            F.sum(
                F.expr(f"(deg * {RAKE_MICRO}) div freq")
            ).cast("long").alias("score_micro")
        )
        .select(
            "phrase",
            F.col("n_occ").cast("long").alias("n_occ"),
            "score_micro",
        )
    )


# ---------------------------------------------------------------------------
# N-gram novelty (corpus redundancy growth per document)
# ---------------------------------------------------------------------------

NOVELTY_N = 3
NOVELTY_MICRO = 1_000_000


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk
      FROM documents WHERE len(string_split(lower(trim(text)), ' ')) >= {NOVELTY_N}
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             tk[u.i] || ' ' || tk[u.i + 1] || ' ' || tk[u.i + 2] AS g
      FROM toks, unnest(range(1, len(tk) - 1)) AS u(i)
    ),
    firsts AS (
      SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                * {NOVELTY_MICRO} // COUNT(*) AS BIGINT) AS novelty_micro
    FROM grams gr JOIN firsts f USING (g)
    GROUP BY gr.doc_id
    """,
)
def text_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty — what fraction of a document's
    distinct word 3-grams the corpus has NEVER seen in any earlier
    document (by doc_id order): the corpus-redundancy growth curve
    that tells a crawl pipeline when additional data stops adding
    information (and drops exact/near duplicates to ~0 novelty
    without any pairwise comparison). Plan: distinct (doc, gram)
    pairs → one groupBy for each gram's first-seeing document → one
    shuffle join back on the gram → per-doc conditional aggregate.
    Two data-sized shuffles, both on the gram key; nothing pairwise,
    nothing iterative — novelty of |corpus| docs costs the same as
    one exact-dedup pass. Duplicated fixture docs are PINNED at
    novelty 0 in pytest."""
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim(F.col("text"))), " ")
    toks = d.select("doc_id", tk.alias("tk")).filter(
        F.size("tk") >= NOVELTY_N
    )
    grams = toks.select(
        "doc_id", F.explode(word_trigrams("tk")).alias("g")
    ).distinct()
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr(f"(n_novel * {NOVELTY_MICRO}) div n_grams")
            .cast("long")
            .alias("novelty_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit — OLS slope in log-log space
# ---------------------------------------------------------------------------

ZIPF_TOP_N = 200


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    freq AS (
      SELECT tok, COUNT(*) AS f FROM tok WHERE tok <> '' GROUP BY tok
    ),
    ranked AS (
      SELECT tok, f,
             ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rnk
      FROM freq
    ),
    pts AS (
      SELECT CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
             CAST(ROUND(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM ranked WHERE rnk <= {ZIPF_TOP_N}
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           CAST(sx AS BIGINT) AS sum_lnrank_micro,
           CAST(sy AS BIGINT) AS sum_lnfreq_micro,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000
                                / CAST(n * sxx - sx * sx AS DOUBLE))
                          AS BIGINT)
           END AS slope_micro,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(ROUND((CAST(sy AS DOUBLE)
                                 - (CAST(n * sxy - sx * sy AS DOUBLE)
                                    / CAST(n * sxx - sx * sx AS DOUBLE))
                                   * CAST(sx AS DOUBLE)) / n)
                          AS BIGINT)
           END AS intercept_micro
    FROM s
    """,
)
def text_zipf_slope(spark, sf_dir):
    """Zipf's-law fit over the corpus token frequencies — OLS slope
    and intercept in log-log (rank, frequency) space, the classic
    corpus-health diagnostic (natural text slopes ≈ −1; synthetic or
    template-heavy corpora flatten). Tokens are whitespace-split
    (the text-family convention); ln(rank) / ln(freq) are
    micro-quantized BIGINTs so every sum is exact integer arithmetic
    — the two closed-form OLS divisions are the only doubles, computed
    with the identical expression shape on both engines (NULL when the
    x-variance denominator is 0, i.e. a single-token vocabulary).
    Bounds: with the top-{ZIPF_TOP_N} cap, n·Σxy ≤ 200·(200·5.3e6·2e7)
    < 2^63 — no overflow. Scale shape: one shuffle for token counts
    (map-side combined), then orderBy().limit({ZIPF_TOP_N}) — Spark's
    TakeOrdered, a parallel per-partition top-k + tiny merge, NOT a
    single-task global-window sort of the whole vocabulary (which
    grows with the corpus) — and the rank window runs over only the
    {ZIPF_TOP_N} surviving rows before a single-row aggregate; the
    corpus scan is map-only."""
    toks = (
        t(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), "\\s+")
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    top = freq.orderBy(F.col("f").desc(), F.col("tok")).limit(ZIPF_TOP_N)
    ranked = top.select(
        "f",
        F.row_number()
        .over(W.orderBy(F.col("f").desc(), F.col("tok")))
        .alias("rnk"),
    )
    pts = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")) * 1000000)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("f").cast("double")) * 1000000)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den_int = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = den_int.cast("double")
    null_long = F.lit(None).cast("long")
    return s.select(
        F.col("n").cast("long").alias("n_points"),
        F.col("sx").cast("long").alias("sum_lnrank_micro"),
        F.col("sy").cast("long").alias("sum_lnfreq_micro"),
        F.when(den_int == 0, null_long)
        .otherwise(F.round(num * 1000000 / den).cast("long"))
        .alias("slope_micro"),
        F.when(den_int == 0, null_long)
        .otherwise(
            F.round(
                (
                    F.col("sy").cast("double")
                    - (num / den) * F.col("sx").cast("double")
                )
                / F.col("n")
            ).cast("long")
        )
        .alias("intercept_micro"),
    )


# ---------------------------------------------------------------------------
# Quality-classifier inference as native columns (DCLM / FineWeb-edu shape)
# ---------------------------------------------------------------------------

_QC_BUCKETS = 256  # same feature space as text_hashing_vectorizer
# Fixed "trained" weights, one per hash bucket, published as a closed
# integer form both engines derive identically (stands in for loading a
# real classifier's weight table): w_b = ((b*1103515245 + 12345) % 2001)
# - 1000, an integer in [-1000, 1000] interpreted at 1e-3 scale.
_QC_LCG_A = 1103515245
_QC_LCG_C = 12345
_QC_MOD = 2001


def _qc_oracle() -> str:
    return f"""
    WITH weights AS (
      SELECT CAST(u.b AS BIGINT) AS bucket,
             CAST((u.b * {_QC_LCG_A} + {_QC_LCG_C}) % {_QC_MOD} - 1000
                  AS BIGINT) AS w
      FROM unnest(range(0, {_QC_BUCKETS})) AS u(b)
    ), toks AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_QC_BUCKETS}
               AS bucket
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
      )
    ), agg AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(w.w) AS BIGINT) AS w_sum
      FROM toks t JOIN weights w ON w.bucket = t.bucket
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, w_sum,
           FLOOR(1.0 / (1.0 + EXP(
               -(FLOOR(w_sum / (n_tokens * 1000.0) * 1e6 + 0.5) / 1e6)
             )) * 1e6 + 0.5) / 1e6 AS score
    FROM agg
    """


@query("text_quality_classifier_score", oracle=_qc_oracle())
def text_quality_classifier_score(spark, sf_dir):
    """Model-based quality-classifier inference as native columns —
    the DCLM / FineWeb-edu curation shape (a linear classifier over
    hashed bag-of-words features scores every document; the score
    gates what enters the training mix). Features are the
    ``text_hashing_vectorizer`` bucket space (256 buckets, md5-prefix
    hash); the "model" is a fixed weight vector derived from a public
    closed form (LCG over the bucket id — stands in for a trained
    model's broadcast weight table); score = sigmoid(w·x / n_tokens).

    Plan shape: per-token bucket → ONE
    broadcast join against the 256-row weight table (how a real
    model's weights load: a table, not an expression) → ONE hash
    aggregate on doc_id. No other shuffle anywhere; the weight join
    is map-side. At 100 TB this is a scan-shaped pipeline — inference
    cost rides the tokenizer explode, state is O(buckets).

    Cross-engine determinism: w_sum and n_tokens are exact integers;
    the logit floor-quantizes to 6 dp BEFORE the sigmoid (the
    bm25/perplexity transcendental convention, here with EXP) and the
    score floor-quantizes to 6 dp — FLOOR(x*1e6+0.5), never ROUND,
    whose decimal-half handling diverges between engines for exact
    halves like 1001/16000."""
    d = t(spark, sf_dir, "documents")
    weights = (
        spark.range(_QC_BUCKETS)
        .select(
            F.col("id").alias("bucket"),
            ((F.col("id") * _QC_LCG_A + _QC_LCG_C) % _QC_MOD - 1000).alias(
                "w"
            ),
        )
    )
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "tok"
        ),
    ).select(
        "doc_id",
        (md5_int("tok", 8) % _QC_BUCKETS).alias("bucket"),
    )
    agg = (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("w").alias("w_sum"),
        )
    )
    # FLOOR(x*1e6 + 0.5) quantization, NOT ROUND: both engines then run
    # the identical IEEE mult/add/floor sequence on the identical
    # double, where ROUND's decimal-boundary handling diverges between
    # Spark (BigDecimal HALF_UP on the binary expansion) and DuckDB for
    # exact-half logits like 1001/16000 (caught at sf0.1).
    logit6 = (
        F.floor(
            F.col("w_sum") / (F.col("n_tokens") * 1000.0) * 1e6 + F.lit(0.5)
        )
        / 1e6
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "w_sum",
        (
            F.floor(1.0 / (1.0 + F.exp(-logit6)) * 1e6 + F.lit(0.5)) / 1e6
        ).alias("score"),
    )
