"""Scalar function packs: string / date / math / array / map / JSON.

SURVEY.md §2B "Scalar fns" row — generalizes the reference's handful
of scalar ops (S10-S13) into the full built-in function surface. All
JVM-side ``pyspark.sql.functions``; zero Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.queries.kernels import milli
from caliper_poc_data_etl_spark.queries.registry import query, t


@query(
    "fn_string_pack",
    oracle="""
    SELECT c_custkey,
           length(c_name)                       AS name_len,
           upper(c_mktsegment)                  AS seg_upper,
           lower(c_mktsegment)                  AS seg_lower,
           substr(c_name, 10, 4)                AS name_mid,
           concat(c_mktsegment, '-', CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           trim('  ' || c_mktsegment || ' ')    AS trimmed,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
           replace(c_name, 'Customer', 'C')     AS short_name,
           split_part(c_name, '#', 2)           AS name_number,
           starts_with(c_name, 'Customer')      AS is_customer,
           contains(c_mktsegment, 'MACH')       AS has_mach
    FROM customer
    """,
)
def fn_string_pack(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.length("c_name").alias("name_len"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 10, 4).alias("name_mid"),
        F.concat_ws("-", "c_mktsegment", F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias(
            "trimmed"
        ),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
        F.regexp_replace("c_name", "Customer", "C").alias("short_name"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_number"),
        F.startswith(F.col("c_name"), F.lit("Customer")).alias("is_customer"),
        F.contains(F.col("c_mktsegment"), F.lit("MACH")).alias("has_mach"),
    )


@query(
    "fn_date_pack",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)     AS yr,
           CAST(month(o_orderdate) AS INT)    AS mth,
           CAST(day(o_orderdate) AS INT)      AS dy,
           CAST(quarter(o_orderdate) AS INT)  AS qtr,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT)
             AS days_since_1995,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
    FROM orders
    """,
)
def fn_date_pack(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mth"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).alias(
            "days_since_1995"
        ),
        F.date_format(F.last_day(F.col("o_orderdate").cast("date")), "yyyy-MM-dd").alias(
            "month_end"
        ),
    )


@query(
    "fn_math_pack",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(abs(l_discount - 0.05), 4)        AS abs_disc,
           CAST(ceil(l_extendedprice) AS BIGINT)   AS price_ceil,
           CAST(floor(l_extendedprice) AS BIGINT)  AS price_floor,
           ROUND(sqrt(l_quantity), 6)              AS qty_sqrt,
           ROUND(ln(l_extendedprice), 6)           AS price_ln,
           ROUND(log10(l_extendedprice), 6)        AS price_log10,
           ROUND(pow(l_quantity, 2), 2)            AS qty_sq,
           l_linenumber % 3                        AS line_mod,
           CAST(sign(l_discount - 0.05) AS INT)    AS disc_sign,
           ROUND(greatest(l_tax, l_discount), 4)   AS max_rate,
           ROUND(least(l_tax, l_discount), 4)      AS min_rate
    FROM lineitem
    WHERE l_orderkey % 101 = 0
    """,
)
def fn_math_pack(spark, sf_dir):
    """Scalar math-function pack, graded on a keyed deterministic
    sample (l_orderkey % 101 — the same rows on both engines): the
    check is per-row function parity, so its power is unchanged while
    the full-corpus row echo that dominated the sweep entry (~30 s of
    result comparison at sf0.1) disappears. The expressions still run
    corpus-wide in any real plan; the filter is a pushed-down scan
    predicate here."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 101 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("abs_disc"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
        (F.col("l_linenumber") % 3).alias("line_mod"),
        F.signum(F.col("l_discount") - 0.05).cast("int").alias("disc_sign"),
        F.round(F.greatest("l_tax", "l_discount"), 4).alias("max_rate"),
        F.round(F.least("l_tax", "l_discount"), 4).alias("min_rate"),
    )


@query(
    "fn_array_pack",
    oracle="""
    SELECT vec_id,
           len(embedding)                                          AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6)                  AS first_elem,
           ROUND(CAST(list_sum(embedding) AS DOUBLE), 4)           AS vec_sum,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6)           AS vec_max,
           ROUND(CAST(list_min(embedding) AS DOUBLE), 6)           AS vec_min,
           len(list_filter(embedding, x -> x > 0))                 AS n_positive,
           ROUND(CAST(list_sum(list_transform(embedding, x -> x * x)) AS DOUBLE), 4)
             AS sq_norm
    FROM embeddings
    """,
)
def fn_array_pack(spark, sf_dir):
    """Array transform/filter/aggregate over the embedding column —
    the native-Column path for vector math (no UDF)."""
    e = t(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    as_double = F.transform(vec, lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size(vec).alias("dim"),
        F.round(F.element_at(vec, 1).cast("double"), 6).alias("first_elem"),
        F.round(
            F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("vec_sum"),
        F.round(F.array_max(vec).cast("double"), 6).alias("vec_max"),
        F.round(F.array_min(vec).cast("double"), 6).alias("vec_min"),
        F.size(F.filter(vec, lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("sq_norm"),
    )


@query(
    "fn_json_pack",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS k_value,
           CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod,
           json_extract_string(props, '$.missing') AS missing_field
    FROM events
    """,
)
def fn_json_pack(spark, sf_dir):
    """JSON extraction over the events.props payload column."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.select(
        "event_id",
        k.alias("k_value"),
        (k % 10).alias("k_mod"),
        F.get_json_object("props", "$.missing").alias("missing_field"),
    )


@query(
    "fn_map_pack",
    oracle="""
    SELECT o_custkey, o_orderstatus AS status, COUNT(*) AS n
    FROM orders GROUP BY 1, 2
    """,
)
def fn_map_pack(spark, sf_dir):
    """Map construction + explosion round-trip: per-customer
    status→count map built with map_from_entries, then exploded back
    to rows — the oracle checks the scalars that survive the
    round-trip, so a broken map op can't hide."""
    o = t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey", "o_orderstatus").agg(F.count("*").alias("n"))
    mapped = per.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("o_orderstatus"), F.col("n")))
        ).alias("status_counts")
    )
    return mapped.select(
        "o_custkey", F.explode("status_counts").alias("status", "n")
    )


@query(
    "fn_conditional_pack",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
           CASE o_orderpriority WHEN '1-URGENT' THEN 1 ELSE 0 END AS is_urgent
    FROM orders
    """,
)
def fn_conditional_pack(spark, sf_dir):
    """CASE/WHEN, NULLIF, COALESCE — the S13 type-dispatch generalized."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")
        ).alias("status_label"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias(
            "is_urgent"
        ),
    )


@query(
    "agg_bit_aggregate_pack",
    oracle="""
    SELECT event_type,
           CAST(bit_or(event_id) AS BIGINT) AS id_bits_or,
           CAST(bit_and(event_id) AS BIGINT) AS id_bits_and,
           CAST(bit_xor(event_id) AS BIGINT) AS id_bits_xor,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def agg_bit_aggregate_pack(spark, sf_dir):
    """Bitwise aggregates (OR/AND/XOR fold over a key column) — the
    primitives behind bitmap presence masks and parity checksums.
    Commutative + associative, so map-side partials combine exactly
    regardless of partitioning (the same order-independence argument
    as integer SUM, but for bit algebra)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.bit_or("event_id").alias("id_bits_or"),
            F.bit_and("event_id").alias("id_bits_and"),
            F.bit_xor("event_id").alias("id_bits_xor"),
            F.count("*").alias("n"),
        )
    )


@query(
    "fn_hash_pack",
    oracle="""
    SELECT doc_id,
           md5(text) AS md5_hex,
           sha256(text) AS sha256_hex,
           md5(CAST(doc_id AS VARCHAR) || ':' || lang) AS keyed_md5
    FROM documents
    """,
)
def fn_hash_pack(spark, sf_dir):
    """Cryptographic hash surface (md5 / sha256 / keyed concat) — the
    engine-agnostic fingerprint functions every dedup and shard-split
    operator builds on (xxhash64 is faster but engine-specific; these
    are the portable tier, proven byte-identical cross-engine here).
    Row-local, codegen'd, zero shuffle."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
        F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("lang"))).alias(
            "keyed_md5"
        ),
    )


@query(
    "fn_format_pack",
    oracle="""
    SELECT o_orderkey,
           printf('%05d|%s', o_orderkey % 100000, o_orderstatus) AS tagged,
           lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS padded,
           translate(o_orderpriority, '-', ' ') AS spaced,
           repeat(o_orderstatus, 3) AS tripled,
           reverse(o_orderpriority) AS reversed
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def fn_format_pack(spark, sf_dir):
    """String formatting pack (printf-style format, pad, translate,
    repeat, reverse) — report/key-building scalar surface. Integer and
    string operands only: float printf formatting is locale/rounding
    territory and stays out of the parity contract."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    return o.select(
        "o_orderkey",
        F.format_string(
            "%05d|%s", F.col("o_orderkey") % 100000, F.col("o_orderstatus")
        ).alias("tagged"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("padded"),
        F.translate("o_orderpriority", "-", " ").alias("spaced"),
        F.repeat("o_orderstatus", 3).alias("tripled"),
        F.reverse("o_orderpriority").alias("reversed"),
    )


@query(
    "fn_datetime_extra_pack",
    oracle="""
    SELECT o_orderkey,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo,
           strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d')
             AS quarter_start
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def fn_datetime_extra_pack(spark, sf_dir):
    """Calendar scalar pack (month-end, quarter, day-of-year, ISO
    week, month arithmetic with end-of-month clamping, quarter
    truncation) — the date dimension surface beyond fn_date_pack.
    add_months and DuckDB's +INTERVAL MONTH share the same clamp
    convention (Jan 31 + 1 month = Feb 29), proven by the hash
    match."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.quarter(d).alias("qtr"),
        F.dayofyear(d).alias("doy"),
        F.weekofyear(d).alias("iso_week"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus3mo"),
        F.date_format(F.date_trunc("quarter", d), "yyyy-MM-dd").alias(
            "quarter_start"
        ),
    )


@query(
    "fn_string_distance_pack",
    oracle="""
    SELECT doc_id,
           CAST(levenshtein(substr(lower(trim(text)), 1, 16),
                            substr(lower(trim(text)), 17, 16)) AS INT)
             AS lev_halves,
           CAST(levenshtein(lang, 'en') AS INT) AS lev_lang,
           CAST(length(text) AS BIGINT) AS len
    FROM documents
    """,
)
def fn_string_distance_pack(spark, sf_dir):
    """Edit-distance scalar surface (levenshtein) — the verification
    primitive fuzzy-matching pipelines apply AFTER a blocking stage
    (never as an n² scan; see text_dedup_prefix_key for the blocking
    side). Exercised row-locally here: distance between a document's
    first two 16-char windows plus a constant-target distance —
    integer-exact cross-engine."""
    d = t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    return d.select(
        "doc_id",
        F.levenshtein(F.substring(norm, 1, 16), F.substring(norm, 17, 16)).alias(
            "lev_halves"
        ),
        F.levenshtein(F.col("lang"), F.lit("en")).alias("lev_lang"),
        F.length("text").alias("len"),
    )


@query(
    "fn_url_pack",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://ex-' || source || '.example.com/docs/' || doc_id
               || '?lang=' || lang || '&n=' || n_chars AS url
      FROM documents
    )
    SELECT doc_id, url,
           regexp_extract(url, '^https?://([^/]+)', 1) AS host,
           regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param,
           CAST(regexp_extract(url, '[?&]n=([^&]*)', 1) AS BIGINT) AS n_param
    FROM u
    """,
)
def fn_url_pack(spark, sf_dir):
    """URL parsing pack over synthesized per-document URLs: host,
    path, and query-parameter extraction — the web-corpus metadata
    columns (domain for source mixing, path for crawl dedup, params
    for tracker-param removal) every web-scale pipeline derives first.
    The Spark side uses the NATIVE ``parse_url`` expression (JVM
    codegen, java.net.URI semantics); the oracle mirrors with
    regexes, pinned equivalent for this URL shape."""
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://ex-"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&n="),
        F.col("n_chars").cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url("url", F.lit("QUERY"), F.lit("n"))
        .cast("long")
        .alias("n_param"),
    )


@query(
    "fn_higher_order_pack",
    oracle="""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)
               * 1000) AS BIGINT)) AS q
      FROM embeddings
    )
    SELECT vec_id,
           CAST(len(list_filter(q, x -> x > 0)) AS INT) AS n_positive,
           list_sum(list_transform(q, x -> abs(x)))::BIGINT AS l1_q,
           CAST(len(q) > 0 AND list_bool_and(list_transform(q,
             x -> abs(x) <= 1000)) AS BOOLEAN) AS all_small,
           CAST(list_bool_or(list_transform(q, x -> abs(x) > 500))
             AS BOOLEAN) AS any_large,
           list_sum(list_transform(list_zip(q[1:8], q[2:9]),
             p -> CASE WHEN (p[1] > 0) <> (p[2] > 0)
                  THEN 1 ELSE 0 END))::BIGINT AS head_sign_flips
    FROM base
    """,
)
def fn_higher_order_pack(spark, sf_dir):
    """Higher-order array functions as declared surface — transform,
    filter, exists, forall, aggregate (fold), zip_with — the lambda
    toolkit every array-valued column (embeddings, token lists,
    shingle sets) is processed with, all JVM-side codegen (the whole
    point: lambdas compile into the plan, they are NOT Python UDFs).
    Computed over integer-quantized embeddings so every result is
    engine-exact; the zip_with term counts sign flips between adjacent
    head components — the paired-lambda shape."""
    e = t(spark, sf_dir, "embeddings")
    q = milli("embedding")
    base = e.select("vec_id", q.alias("q"))
    qc = F.col("q")
    head, tail = F.slice(qc, 1, 8), F.slice(qc, 2, 8)
    flips = F.aggregate(
        F.zip_with(
            head,
            tail,
            lambda a, b: ((a > 0) != (b > 0)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return base.select(
        "vec_id",
        F.size(F.filter(qc, lambda x: x > 0)).alias("n_positive"),
        F.aggregate(
            F.transform(qc, lambda x: F.abs(x)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("l1_q"),
        ((F.size(qc) > 0) & F.forall(qc, lambda x: F.abs(x) <= 1000)).alias(
            "all_small"
        ),
        F.exists(qc, lambda x: F.abs(x) > 500).alias("any_large"),
        flips.alias("head_sign_flips"),
    )


@query(
    "fn_bitwise_pack",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS low_byte,
           o_orderkey | 4096 AS with_flag,
           xor(o_orderkey, 1365) AS xored,
           o_orderkey << 2 AS shl2,
           o_orderkey >> 3 AS shr3,
           CAST(bit_count(o_orderkey) AS INT) AS popcount
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def fn_bitwise_pack(spark, sf_dir):
    """Bitwise scalar pack (& | xor << >> popcount) — the flag-field
    and hash-manipulation toolkit (the SimHash/LSH operators use these
    internally; this declares them as public surface)."""
    k = F.col("o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .filter(k % 97 == 0)
        .select(
            "o_orderkey",
            k.bitwiseAND(F.lit(255)).alias("low_byte"),
            k.bitwiseOR(F.lit(4096)).alias("with_flag"),
            k.bitwiseXOR(F.lit(1365)).alias("xored"),
            F.shiftleft(k, 2).alias("shl2"),
            F.shiftright(k, 3).alias("shr3"),
            F.bit_count(k).alias("popcount"),
        )
    )


@query(
    "fn_regex_all_pack",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]*a[a-z]*')) AS INT)
             AS n_a_words,
           array_to_string(regexp_extract_all(text, '[a-z]*a[a-z]*')[1:5], ',')
             AS first_a_words,
           regexp_replace(text, '[aeiou]', '_', 'g') LIKE '%sp_rk%'
             AS mentions_spark_devoweled,
           regexp_matches(text, '\\b(scan|hash)\\b') AS has_scan_or_hash
    FROM documents
    """,
)
def fn_regex_all_pack(spark, sf_dir):
    """Global-regex scalar pack: regexp_extract_all (every match, not
    just the first — the tokenizer/NER-gazetteer workhorse),
    global regexp_replace, and boolean rlike — the remaining regex
    surface beyond ``text_regex_extract``'s first-match form. All
    JVM-side codegen; the match list is emitted count + first-5
    joined (scalar columns, driver-canonicalizer rule)."""
    d = t(spark, sf_dir, "documents")
    allm = F.expr("regexp_extract_all(text, '[a-z]*a[a-z]*', 0)")
    return d.select(
        "doc_id",
        F.size(allm).alias("n_a_words"),
        F.array_join(F.slice(allm, 1, 5), ",").alias("first_a_words"),
        F.regexp_replace("text", "[aeiou]", "_")
        .like("%sp_rk%")
        .alias("mentions_spark_devoweled"),
        F.col("text").rlike("\\b(scan|hash)\\b").alias("has_scan_or_hash"),
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured type (Spark 4)
# ---------------------------------------------------------------------------


@query(
    "fn_variant_pack",
    oracle="""
    WITH js AS (
      SELECT event_id,
             '{"meta":' || props || ',"t":"' || event_type ||
             '","ids":[' || CAST(user_id AS VARCHAR) || ',' ||
             CAST(event_id AS VARCHAR) || ']}' AS j
      FROM events
    )
    SELECT event_id,
           CAST(json_extract(j, '$.meta.k') AS INT) AS meta_k,
           json_extract_string(j, '$.t') AS t,
           CAST(json_extract(j, '$.ids[1]') AS BIGINT) AS second_id,
           CAST(json_array_length(json_extract(j, '$.ids')) AS INT) AS n_ids
    FROM js
    """,
)
def fn_variant_pack(spark, sf_dir):
    """The VARIANT semi-structured type (Spark 4's flagship
    lakehouse-JSON feature): ``parse_json`` ingests the document once
    into the binary variant encoding, and every ``variant_get`` is a
    typed path access on that encoding — the replacement for repeated
    ``get_json_object`` string re-parsing (``fn_json_pack`` declares
    that legacy path; this declares its successor). The fixture nests
    the events ``props`` JSON inside a constructed envelope so object,
    string, array-index, and array-length accesses all exercise.

    Pure-Column, zero shuffle; at scale the variant binary is what
    lands in parquet (shredded columns), so path access never touches
    a string parser on the hot path."""
    e = t(spark, sf_dir, "events")
    j = F.concat(
        F.lit('{"meta":'),
        F.col("props"),
        F.lit(',"t":"'),
        F.col("event_type"),
        F.lit('","ids":['),
        F.col("user_id").cast("string"),
        F.lit(","),
        F.col("event_id").cast("string"),
        F.lit("]}"),
    )
    v = F.parse_json(j)
    return e.select("event_id", v.alias("v")).select(
        "event_id",
        F.expr("cast(variant_get(v, '$.meta.k', 'int') as int)").alias("meta_k"),
        F.expr("variant_get(v, '$.t', 'string')").alias("t"),
        F.expr("cast(variant_get(v, '$.ids[1]', 'bigint') as bigint)").alias(
            "second_id"
        ),
        F.expr(
            "cast(array_size(variant_get(v, '$.ids', 'array<variant>')) as int)"
        ).alias("n_ids"),
    )


# ---------------------------------------------------------------------------
# Collation-aware comparison (Spark 4)
# ---------------------------------------------------------------------------


@query(
    "fn_collation_pack",
    oracle="""
    SELECT lower(o_orderpriority) AS prio_ci,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN lower(o_orderstatus) = 'o' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_open_ci
    FROM orders GROUP BY 1
    """,
)
def fn_collation_pack(spark, sf_dir):
    """Collation-aware string semantics (Spark 4's collation support):
    grouping and equality under the UTF8_LCASE collation — comparisons
    become case-insensitive WITHOUT rewriting every expression through
    lower() (the engine pushes collation into hashing, joins, and
    sorts; this is the warehouse-grade CI-compare surface). The output
    lowercases the group label only for cross-engine display parity —
    the GROUPING itself runs on the collated column, which is what the
    hash match certifies against the oracle's lower() formulation."""
    o = t(spark, sf_dir, "orders")
    ci = F.collate(F.col("o_orderpriority"), "UTF8_LCASE")
    status_ci = F.collate(F.col("o_orderstatus"), "UTF8_LCASE")
    return (
        o.groupBy(ci.alias("prio_grp"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(status_ci == F.lit("O"), 1).otherwise(0))
            .cast("long")
            .alias("n_open_ci"),
        )
        .select(
            F.lower(F.col("prio_grp").cast("string")).alias("prio_ci"),
            "n",
            "n_open_ci",
        )
    )


# ---------------------------------------------------------------------------
# ANSI-mode error-safe arithmetic pack (try_* family)
# ---------------------------------------------------------------------------


@query(
    "fn_try_pack",
    oracle="""
    SELECT event_id,
           CASE WHEN user_id % 5 = 0 THEN NULL
                ELSE CAST(FLOOR(value * 100) AS BIGINT) // (user_id % 5)
           END AS safe_div,
           CASE WHEN event_id % 16 > 7 THEN NULL
                ELSE 9223372036854775800 + event_id % 16 END AS safe_add,
           TRY_CAST(CASE WHEN event_id % 3 = 0
                         THEN 'x' || CAST(user_id AS STRING)
                         ELSE CAST(user_id AS STRING) END AS INT) AS safe_cast,
           string_split(event_type, ',')[2] AS safe_elem
    FROM events
    """,
)
def fn_try_pack(spark, sf_dir):
    """Spark's ANSI-mode error-safe function family — try_divide,
    try_add, try_cast, try_element_at. Spark 4 runs ANSI SQL by
    default (division by zero, integer overflow, bad casts, and
    out-of-bounds indexing all RAISE), and the try_* family is the
    declared per-expression opt-out that degrades to NULL instead —
    the lakehouse-ingest idiom for quarantining bad values without
    failing the job. The oracle twin states the equivalent guards
    explicitly (DuckDB's integer division and list indexing already
    yield NULL on zero/out-of-range; overflow needs a CASE guard;
    TRY_CAST is common to both). The overflow case is REAL: the probe
    value sits 8 below int64 max so half the residues overflow. Zero
    shuffle — pure per-row Column work."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.expr(
            "try_divide(CAST(FLOOR(value * 100) AS BIGINT), user_id % 5)"
        )
        .cast("long")
        .alias("safe_div"),
        F.expr("try_add(9223372036854775800L, event_id % 16)").alias(
            "safe_add"
        ),
        F.expr(
            "try_cast(CASE WHEN event_id % 3 = 0 "
            "THEN concat('x', CAST(user_id AS STRING)) "
            "ELSE CAST(user_id AS STRING) END AS INT)"
        ).alias("safe_cast"),
        F.expr("try_element_at(split(event_type, ','), 2)").alias(
            "safe_elem"
        ),
    )


# ---------------------------------------------------------------------------
# Geospatial: grid-bucketed point-in-box join
# ---------------------------------------------------------------------------

# Synthetic geography in integer centi-degrees: every event becomes a
# point, every nation a rectangular region. Identical construction on
# both sides (part of the declared semantics).
_GEO_POINT_SQL = """
  SELECT event_id,
         (user_id * 7919) % 18000 - 9000 AS lat_c,
         (event_id * 104729) % 36000 - 18000 AS lon_c
  FROM events
"""
_GEO_BOX_SQL = """
  SELECT n_nationkey AS box_id,
         ((n_nationkey * 3571) % 15000) - 9000 AS lat_lo,
         ((n_nationkey * 3571) % 15000) - 9000 + 2400 AS lat_hi,
         ((n_nationkey * 7927) % 30000) - 18000 AS lon_lo,
         ((n_nationkey * 7927) % 30000) - 18000 + 4800 AS lon_hi
  FROM nation
"""
GEO_CELL = 1200  # grid cell size in centi-degrees


@query(
    "geo_grid_point_in_box",
    oracle=f"""
    WITH pts AS ({_GEO_POINT_SQL}),
    boxes AS ({_GEO_BOX_SQL})
    SELECT p.event_id, b.box_id,
           CAST(p.lat_c AS BIGINT) AS lat_c, CAST(p.lon_c AS BIGINT) AS lon_c
    FROM pts p JOIN boxes b
      ON p.lat_c >= b.lat_lo AND p.lat_c < b.lat_hi
     AND p.lon_c >= b.lon_lo AND p.lon_c < b.lon_hi
    """,
)
def geo_grid_point_in_box(spark, sf_dir):
    """Geospatial containment join — points-in-regions — executed as
    the GRID-BUCKETED plan every spatial engine uses at scale: points
    key to their grid cell, each region explodes to the (bounded) set
    of cells its bounding box covers, the join is a plain EQUI-join on
    the cell key, and an exact containment re-filter removes the
    cell-overlap false positives. The oracle states the naive
    theta-join semantics; the pytest pins ZERO nested-loop joins in
    the executed plan (the ``join_interval_bucketed`` recipe lifted to
    2D). Coordinates are integer centi-degrees end to end. Scale
    shape: cost is |points| + Σ cells(region) with per-cell locality —
    never |points| × |regions|; skewed cells (cities) salt exactly
    like any hot equi-join key."""
    t(spark, sf_dir, "events").createOrReplaceTempView("events_geo_r7")
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation_geo_r7")
    pts = spark.sql(
        _GEO_POINT_SQL.replace("FROM events", "FROM events_geo_r7")
    ).withColumn(
        "cell_lat", F.floor(F.col("lat_c") / GEO_CELL)
    ).withColumn("cell_lon", F.floor(F.col("lon_c") / GEO_CELL))
    boxes = spark.sql(
        _GEO_BOX_SQL.replace("FROM nation", "FROM nation_geo_r7")
    )
    box_cells = boxes.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("lat_lo") / GEO_CELL),
                F.floor((F.col("lat_hi") - 1) / GEO_CELL),
            )
        ).alias("cell_lat"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("lon_lo") / GEO_CELL),
                F.floor((F.col("lon_hi") - 1) / GEO_CELL),
            )
        ).alias("cell_lon"),
    )
    joined = pts.join(box_cells, ["cell_lat", "cell_lon"]).filter(
        (F.col("lat_c") >= F.col("lat_lo"))
        & (F.col("lat_c") < F.col("lat_hi"))
        & (F.col("lon_c") >= F.col("lon_lo"))
        & (F.col("lon_c") < F.col("lon_hi"))
    )
    return joined.select(
        "event_id",
        "box_id",
        F.col("lat_c").cast("long").alias("lat_c"),
        F.col("lon_c").cast("long").alias("lon_c"),
    ).distinct()


# ---------------------------------------------------------------------------
# Geospatial: nearest POI by exact integer squared distance
# ---------------------------------------------------------------------------

_GEO_POI_SQL = """
  SELECT s_suppkey AS poi_id,
         ((s_suppkey * 4241) % 18000) - 9000 AS plat,
         ((s_suppkey * 9001) % 36000) - 18000 AS plon
  FROM supplier
"""


@query(
    "geo_nearest_poi",
    oracle=f"""
    WITH pts AS ({_GEO_POINT_SQL}),
    pois AS ({_GEO_POI_SQL}),
    scored AS (
      SELECT p.event_id, q.poi_id,
             (p.lat_c - q.plat) * (p.lat_c - q.plat)
             + (p.lon_c - q.plon) * (p.lon_c - q.plon) AS d2
      FROM pts p JOIN pois q ON true
    )
    SELECT event_id,
           CAST(arg_min(poi_id, d2 * 100 + poi_id) AS BIGINT) AS poi_id,
           CAST(MIN(d2) AS BIGINT) AS d2
    FROM scored WHERE event_id % 7 = 0 GROUP BY event_id
    """,
)
def geo_nearest_poi(spark, sf_dir):
    """Nearest-POI assignment — every point labeled with its closest
    point-of-interest by EXACT integer squared planar distance
    (centi-degree coordinates; ties break on poi_id via the composite
    d2·100+id ordering key, valid because poi_id < 100). The POI side
    is broadcast (the realistic shape: POI catalogs are
    dimension-sized) and the argmin is a map-side-combining min_by —
    the corpus never shuffles. At true scale the broadcast scan
    becomes the grid-pruned candidate join of
    ``geo_grid_point_in_box`` (probe only nearby cells) — both plans
    are declared; this one is exact and the grid one is the pruning
    recipe."""
    t(spark, sf_dir, "events").createOrReplaceTempView("events_geo_r7")
    t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_geo_r7")
    pts = spark.sql(
        _GEO_POINT_SQL.replace("FROM events", "FROM events_geo_r7")
    )
    pois = spark.sql(
        _GEO_POI_SQL.replace("FROM supplier", "FROM supplier_geo_r7")
    )
    d2 = (F.col("lat_c") - F.col("plat")) * (F.col("lat_c") - F.col("plat")) + (
        F.col("lon_c") - F.col("plon")
    ) * (F.col("lon_c") - F.col("plon"))
    # Graded on a keyed deterministic sample (event_id % 7, both
    # engines): the argmin logic has identical power
    # per sampled event, without the 100k-row echo comparison.
    scored = (
        pts.filter(F.pmod(F.col("event_id"), F.lit(7)) == 0)
        .crossJoin(F.broadcast(pois))
        .select("event_id", "poi_id", d2.alias("d2"))
    )
    return scored.groupBy("event_id").agg(
        F.expr("min_by(poi_id, d2 * 100 + poi_id)").cast("long").alias("poi_id"),
        F.min("d2").cast("long").alias("d2"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) interleave key
# ---------------------------------------------------------------------------

ZORDER_BITS = 16


def _z_expr(shift_fn) -> str:
    """Bit-interleave expression; shift_fn renders a shift for the
    target dialect (Spark: shiftleft/shiftright fns; DuckDB: << >>)."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(shift_fn(f"(({shift_fn('x', -i)}) & 1)", 2 * i))
        terms.append(shift_fn(f"(({shift_fn('y', -i)}) & 1)", 2 * i + 1))
    return " + ".join(terms)


def _z_spark(e: str, n: int) -> str:
    return f"shiftright({e}, {-n})" if n < 0 else f"shiftleft({e}, {n})"


def _z_duck(e: str, n: int) -> str:
    return f"({e} >> {-n})" if n < 0 else f"({e} << {n})"


@query(
    "fn_zorder_key",
    oracle=f"""
    WITH xy AS (
      SELECT o_orderkey,
             o_orderkey % {1 << ZORDER_BITS} AS x,
             CAST(FLOOR(o_totalprice) AS BIGINT) % {1 << ZORDER_BITS} AS y
      FROM orders
    )
    SELECT o_orderkey, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST({_z_expr(_z_duck)} AS BIGINT) AS zkey
    FROM xy
    """,
)
def fn_zorder_key(spark, sf_dir):
    """Z-order (Morton) curve key — bit-interleave two 16-bit
    dimensions into one 32-bit sort key, the primitive behind
    Delta/Iceberg Z-ORDER clustering: sorting by zkey keeps rows
    close in BOTH dimensions physically adjacent, so parquet min/max
    row-group pruning (NOTES_r05 "Sort-order data-skipping demo"
    measured the single-column version) works for predicates on
    EITHER column — the multi-dimensional generalization of the
    sorted layout. Pure bit arithmetic (32 shift-mask-shift terms,
    unrolled identically on both engines); the layout write itself is
    ``repartitionByRange(zkey) + sortWithinPartitions``, as that
    measurement did for the date key."""
    o = t(spark, sf_dir, "orders")
    xy = o.select(
        "o_orderkey",
        (F.col("o_orderkey") % (1 << ZORDER_BITS)).alias("x"),
        (F.floor("o_totalprice").cast("long") % (1 << ZORDER_BITS)).alias("y"),
    )
    return xy.select(
        "o_orderkey",
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.expr(_z_expr(_z_spark)).cast("long").alias("zkey"),
    )


# ---------------------------------------------------------------------------
# Business-day arithmetic pack (closed-form, calendar-free)
# ---------------------------------------------------------------------------

_BD_ANCHOR = "1992-01-06"  # a Monday; dow = days-since-anchor mod 7


@query(
    "fn_business_days_pack",
    oracle=f"""
    WITH d AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day,
             CAST(o_orderdate AS DATE)
               + INTERVAL ((o_orderkey % 20) + 1) DAY AS ship,
             date_diff('day', DATE '{_BD_ANCHOR}',
                       CAST(o_orderdate AS DATE)) AS n,
             date_diff('day', DATE '{_BD_ANCHOR}',
                       CAST(o_orderdate AS DATE)
                         + INTERVAL ((o_orderkey % 20) + 1) DAY) AS ns
      FROM orders
    )
    SELECT o_orderkey,
           strftime(day, '%Y-%m-%d') AS day,
           CAST(n % 7 AS BIGINT) AS dow,
           n % 7 < 5 AS is_business,
           strftime(day + to_days(CAST(CASE
             WHEN n % 7 = 4 THEN 3 WHEN n % 7 = 5 THEN 2 ELSE 1
           END AS INT)), '%Y-%m-%d') AS next_business,
           CAST((5 * ((ns // 7)) + least(ns % 7, 5))
                - (5 * ((n // 7)) + least(n % 7, 5)) AS BIGINT)
             AS bdays_to_ship
    FROM d
    """,
)
def fn_business_days_pack(spark, sf_dir):
    """Business-day arithmetic — the SLA/settlement-date family every
    BI layer needs, done CLOSED-FORM (no calendar table, no loop):
    with n = days since a known anchor Monday, B(d) = 5·(n div 7) +
    min(n mod 7, 5) counts business days from the anchor, so
    business-days-between(a, b) = B(b) − B(a) is pure integer
    arithmetic, exact for any span; next-business-day is a 3-case
    dow jump (Fri→+3, Sat→+2, else +1). All quantities non-negative
    so div semantics agree engine-to-engine; holidays would enter as
    a broadcast calendar-dim join exactly like
    ``ts_calendar_dim_join`` — deliberately out of this closed form.
    Zero-shuffle projection over the scan."""
    o = t(spark, sf_dir, "orders")
    day = F.col("o_orderdate").cast("date")
    ship = F.date_add(day, (F.col("o_orderkey") % 20 + 1).cast("int"))
    n = F.datediff(day, F.lit(_BD_ANCHOR))
    ns = F.datediff(ship, F.lit(_BD_ANCHOR))
    dow = n % 7
    bindex = lambda m: 5 * F.expr(  # noqa: E731
        f"({m}) div 7"
    ) + F.least(F.expr(f"({m}) % 7"), F.lit(5))
    jump = (
        F.when(dow == 4, 3).when(dow == 5, 2).otherwise(1)
    )
    d = o.select(
        "o_orderkey",
        day.alias("day_d"),
        n.alias("n"),
        ns.alias("ns"),
        dow.alias("dow_i"),
        jump.alias("jump"),
    )
    return d.select(
        "o_orderkey",
        F.date_format("day_d", "yyyy-MM-dd").alias("day"),
        F.col("dow_i").cast("long").alias("dow"),
        (F.col("dow_i") < 5).alias("is_business"),
        F.date_format(
            F.date_add(F.col("day_d"), F.col("jump").cast("int")),
            "yyyy-MM-dd",
        ).alias("next_business"),
        (bindex("ns") - bindex("n")).cast("long").alias("bdays_to_ship"),
    )


# ---------------------------------------------------------------------------
# Geohash cell encoding — bit-interleaved base32 spatial index key
# ---------------------------------------------------------------------------

GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
GEOHASH_PRECISION = 5  # 25 bits: 13 longitude + 12 latitude


def _geohash_int_expr(div: str) -> str:
    """The 25-bit interleaved geohash integer from ilon (13 bits) and
    ilat (12 bits), as pure integer div/mod arithmetic. ``div`` is the
    engine's integer-division token ('//' DuckDB, 'div' Spark)."""
    terms = []
    for p in range(25):
        if p % 2 == 0:
            src, k = "ilon", 12 - p // 2
        else:
            src, k = "ilat", 11 - (p - 1) // 2
        terms.append(f"(({src} {div} {2 ** k}) % 2) * {2 ** (24 - p)}")
    return " + ".join(terms)


def _geohash_char_expr(div: str) -> str:
    """Base32 string from the 25-bit integer ``g`` — five substr
    lookups into the geohash alphabet."""
    chars = [
        f"substr('{GEOHASH_ALPHABET}', "
        f"CAST((g {div} {32 ** (4 - j)}) % 32 AS INT) + 1, 1)"
        for j in range(GEOHASH_PRECISION)
    ]
    return "concat(" + ", ".join(chars) + ")"


@query(
    "geo_geohash_encode",
    oracle=f"""
    WITH pts AS (
      SELECT event_id,
             (user_id * 7919) % 18000 - 9000 AS lat_c,
             (event_id * 104729) % 36000 - 18000 AS lon_c
      FROM events
    ),
    cells AS (
      SELECT event_id,
             (lon_c + 18000) * 8192 // 36000 AS ilon,
             (lat_c + 9000) * 4096 // 18000 AS ilat
      FROM pts
    ),
    g AS (
      SELECT event_id, {_geohash_int_expr('//')} AS g FROM cells
    )
    SELECT {_geohash_char_expr('//')} AS geohash,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MIN(g) AS BIGINT) AS cell_code
    FROM g GROUP BY geohash
    """,
)
def geo_geohash_encode(spark, sf_dir):
    """Geohash encoding — the standard bit-interleaved base32 spatial
    index key (precision 5 = 25 bits, longitude first), over the same
    synthetic centi-degree geography as ``geo_grid_point_in_box``.
    The whole encode is integer div/mod arithmetic GENERATED once and
    rendered for each engine's integer-division token, so the
    cross-engine hash is exact; no UDF, fully inside whole-stage
    codegen. Assumes nonnegative user_id/event_id (sign-preserving %
    would push lat_c/lon_c out of range, and DuckDB // floors while
    Spark div truncates on negative operands) — pinned against the
    fixtures in tests/test_advice_r8_fixes.py. Geohash prefixes are the
    production spatial-join / dedup-bucketing key: equal prefixes ⇒
    nearby (the Z-order curve ``fn_zorder_key`` generalizes). Scale
    shape: map-only encode + one map-side-combined group-by on the cell
    key."""
    pts = t(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("user_id") * 7919) % 18000 - 9000).alias("lat_c"),
        ((F.col("event_id") * 104729) % 36000 - 18000).alias("lon_c"),
    )
    cells = pts.select(
        "event_id",
        F.expr("(lon_c + 18000) * 8192 div 36000").alias("ilon"),
        F.expr("(lat_c + 9000) * 4096 div 18000").alias("ilat"),
    )
    g = cells.select(
        "event_id", F.expr(_geohash_int_expr("div")).alias("g")
    )
    return (
        g.select(F.expr(_geohash_char_expr("div")).alias("geohash"), "event_id", "g")
        .groupBy("geohash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.min("event_id").cast("long").alias("min_event_id"),
            F.min("g").cast("long").alias("cell_code"),
        )
    )


# ---------------------------------------------------------------------------
# Hilbert curve key — the jump-free companion to fn_zorder_key
# ---------------------------------------------------------------------------

HILBERT_BITS = 16


def _hilbert_stage_exprs(s: int, div: str) -> list[str]:
    """One Hilbert xy2d iteration (the classic Wikipedia recurrence)
    at scale ``s``, as pure integer div/mod SQL over the running state
    columns (cx, cy, hd). ``div`` is the engine's integer-division
    token ('//' DuckDB, 'div' Spark). rx/ry are the s-bits of the
    rotated coordinates; the quadrant digit is (3·rx) XOR ry; the
    rotation/reflection updates the running frame.

    The new coordinates are built from the MASKED low parts
    (``cx % s`` / ``cy % s``): the already-consumed high bits are never
    re-read, and masking keeps the ``s-1 − coord`` reflection
    nonnegative (the invariant cx,cy < s holds after each stage, so
    the next stage's ``div s/2 % 2`` reads the true top remaining
    bit). Skipping the mask leaves stale high bits that silently
    corrupt LOWER levels identically on both engines — a class the
    cross-engine hash cannot catch; the pytest replica and the
    adjacency property test pin it instead."""
    rx = f"((cx {div} {s}) % 2)"
    ry = f"((cy {div} {s}) % 2)"
    lx = f"(cx % {s})"
    ly = f"(cy % {s})"
    digit = f"CASE WHEN {rx} = 1 THEN 3 - {ry} ELSE {ry} END"
    new_d = f"hd + {s * s} * ({digit}) AS hd"
    new_x = (
        f"CASE WHEN {ry} = 1 THEN {lx} "
        f"WHEN {rx} = 1 THEN {s - 1} - {ly} ELSE {ly} END AS cx"
    )
    new_y = (
        f"CASE WHEN {ry} = 1 THEN {ly} "
        f"WHEN {rx} = 1 THEN {s - 1} - {lx} ELSE {lx} END AS cy"
    )
    return [new_d, new_x, new_y]


def _hilbert_oracle() -> str:
    stages = []
    prev = "xy"
    for lvl in range(HILBERT_BITS):
        s = 1 << (HILBERT_BITS - 1 - lvl)
        exprs = ", ".join(_hilbert_stage_exprs(s, "//"))
        stages.append(
            f"s{lvl} AS (SELECT o_orderkey, x, y, {exprs} FROM {prev})"
        )
        prev = f"s{lvl}"
    return f"""
    WITH xy AS (
      SELECT o_orderkey,
             o_orderkey % {1 << HILBERT_BITS} AS x,
             CAST(FLOOR(o_totalprice) AS BIGINT) % {1 << HILBERT_BITS} AS y,
             o_orderkey % {1 << HILBERT_BITS} AS cx,
             CAST(FLOOR(o_totalprice) AS BIGINT) % {1 << HILBERT_BITS} AS cy,
             CAST(0 AS BIGINT) AS hd
      FROM orders
    ),
    {', '.join(stages)}
    SELECT o_orderkey, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST(hd AS BIGINT) AS hkey
    FROM {prev}
    """


@query("fn_hilbert_key", oracle=_hilbert_oracle())
def fn_hilbert_key(spark, sf_dir):
    """Hilbert curve key — map two 16-bit dimensions onto the
    65536×65536 Hilbert curve's position, the locality-clustering
    companion to ``fn_zorder_key`` on the same (o_orderkey,
    o_totalprice) inputs. Unlike Z-order, the Hilbert curve has NO
    jump discontinuities: consecutive curve positions are always
    4-adjacent cells, so range scans over the sorted layout touch
    tighter spatial neighborhoods (the comparative locality metric —
    total Manhattan travel along the curve — is pinned Hilbert <
    Z-order in tests/test_round11_ops.py). The classic xy2d recurrence
    (rotate/reflect per bit level) is unrolled into {HILBERT_BITS}
    chained projections of pure integer div/mod CASE arithmetic,
    GENERATED once and rendered per engine ('div' vs '//'), so the
    cross-engine hash is exact and everything stays inside whole-stage
    codegen; the chain stays 16 separate narrow projections (each
    state column is referenced multiple times by non-cheap CASEs, so
    CollapseProject keeps them — no exponential expression blowup).
    Assumes nonnegative inputs like ``fn_zorder_key`` — pinned against
    both fixture dirs in tests/test_round11_ops.py (the geohash pin's
    sibling: DuckDB // floors, Spark div truncates on negatives). Scale shape: map-only; the clustering
    write is ``repartitionByRange(hkey) + sortWithinPartitions``
    exactly as the Z-order docstring describes."""
    o = t(spark, sf_dir, "orders")
    df = o.selectExpr(
        "o_orderkey",
        f"o_orderkey % {1 << HILBERT_BITS} AS x",
        f"CAST(FLOOR(o_totalprice) AS BIGINT) % {1 << HILBERT_BITS} AS y",
        f"o_orderkey % {1 << HILBERT_BITS} AS cx",
        f"CAST(FLOOR(o_totalprice) AS BIGINT) % {1 << HILBERT_BITS} AS cy",
        "CAST(0 AS BIGINT) AS hd",
    )
    for lvl in range(HILBERT_BITS):
        s = 1 << (HILBERT_BITS - 1 - lvl)
        df = df.selectExpr(
            "o_orderkey", "x", "y", *_hilbert_stage_exprs(s, "div")
        )
    return df.selectExpr(
        "o_orderkey",
        "CAST(x AS BIGINT) AS x",
        "CAST(y AS BIGINT) AS y",
        "CAST(hd AS BIGINT) AS hkey",
    )
