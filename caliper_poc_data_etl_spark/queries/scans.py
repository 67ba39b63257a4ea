"""Source-format scan operators, oracle-checked (§2B Source rows).

Each query materializes one driver table into the target format under
/tmp once per process, then reads it back through the engine's reader
with its policy surface — the oracle is plain SQL over the original
parquet, so a lossy or misparsing format round-trip cannot pass.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.queries.kernels import md5_int
from caliper_poc_data_etl_spark.queries.registry import query, t
from caliper_poc_data_etl_spark.sources import read_csv, read_json, read_orc

_CACHE: dict[str, str] = {}


def _materialized(spark, sf_dir: str, fmt: str) -> str:
    """Write `nation` (+ a decimal column) as `fmt` once per (sf, fmt)."""
    cache_key = f"{sf_dir}:{fmt}"
    if cache_key not in _CACHE:
        out = tempfile.mkdtemp(prefix=f"scan_{fmt}_")
        path = os.path.join(out, f"nation.{fmt}")
        n = t(spark, sf_dir, "nation")
        w = n.coalesce(1).write.mode("overwrite").format(fmt)
        if fmt == "csv":
            w = w.option("header", True)
        w.save(path)
        _CACHE[cache_key] = path
    return _CACHE[cache_key]


_NATION_ORACLE = """
    SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@query("scan_csv_policy", oracle=_NATION_ORACLE)
def scan_csv_policy(spark, sf_dir):
    """CSV scan with explicit schema + PERMISSIVE corrupt-row policy
    (S1/S4-S6 generalized) — round-trips the nation table through CSV
    and must reproduce the parquet original exactly."""
    path = _materialized(spark, sf_dir, "csv")
    schema = t(spark, sf_dir, "nation").schema
    return read_csv(spark, path, schema).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query("scan_json_source", oracle=_NATION_ORACLE)
def scan_json_source(spark, sf_dir):
    """JSON scan with explicit schema — same round-trip contract."""
    path = _materialized(spark, sf_dir, "json")
    schema = t(spark, sf_dir, "nation").schema
    return read_json(spark, path, schema).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query("scan_orc_source", oracle=_NATION_ORACLE)
def scan_orc_source(spark, sf_dir):
    """ORC scan — columnar round-trip."""
    path = _materialized(spark, sf_dir, "orc")
    return read_orc(spark, path).select("n_nationkey", "n_name", "n_regionkey")


@query(
    "scan_csv_malformed_policy",
    oracle="SELECT CAST(2 AS BIGINT) AS good_rows, CAST(1 AS BIGINT) AS bad_rows",
)
def scan_csv_malformed_policy(spark, sf_dir):
    """The malformed-row policy itself: a fixture with one corrupt row
    (wrong arity) read PERMISSIVE — good rows survive, the corrupt row
    is counted, nothing is silent (vs the reference's silent drops,
    SURVEY.md S6/F5)."""
    cache_key = f"{sf_dir}:malformed"
    if cache_key not in _CACHE:
        out = tempfile.mkdtemp(prefix="scan_bad_")
        p = os.path.join(out, "bad.csv")
        with open(p, "w") as f:
            f.write("a,b,c\n1,x,2\nonly-one-field-without-delims-extra\n3,y,4\n")
        _CACHE[cache_key] = p
    from pyspark.sql import types as T

    st = T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.IntegerType()),
        ]
    )
    df = read_csv(spark, _CACHE[cache_key], st, keep_corrupt=True)
    # Count via a data column too — Spark rejects queries whose only
    # referenced column is the internal corrupt-record column.
    return df.agg(
        F.count("a").alias("good_rows"),
        F.count("_corrupt_record").alias("bad_rows"),
    )


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderkey,
           ROUND(o_totalprice, 2) AS totalprice,
           CAST(NULL AS BIGINT) AS priority_len
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey,
           CAST(NULL AS DOUBLE),
           CAST(length(o_orderpriority) AS BIGINT)
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def scan_schema_evolution(spark, sf_dir):
    """Schema-evolution scan: two parquet batches written with
    DIFFERENT schemas (an early batch with ``totalprice``, a later
    batch that dropped it and added ``priority_len``) read back as ONE
    dataset with ``mergeSchema`` — each row surfaces the union schema
    with NULLs for the columns its batch lacks. This is the
    long-lived-dataset reality (columns appear and retire over years
    of a 100 TB table's life); the oracle mirrors the union-by-name
    semantics directly over the source table.

    The staged batches land at a STABLE per-session path
    (applicationId-keyed, overwritten in place — the
    join_bucketed_colocated convention, no temp-dir leak). Footer
    merging is a metadata operation; the data files are scanned once,
    in parallel, with pruning intact."""
    import tempfile

    app = spark.sparkContext.applicationId.replace("-", "_")
    base = f"{tempfile.gettempdir()}/graft_evo_{app}"
    o = t(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("totalprice")
    ).write.mode("overwrite").parquet(f"{base}/batch=1")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        F.length("o_orderpriority").cast("long").alias("priority_len"),
    ).write.mode("overwrite").parquet(f"{base}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/batch=1", f"{base}/batch=2"
    )
    return merged.select("o_orderkey", "totalprice", "priority_len")


@query(
    "scan_text_source",
    oracle="""
    SELECT doc_id, length(text) AS line_len,
           string_split_regex(text, '\\s+')[1] AS first_token
    FROM documents
    """,
)
def scan_text_source(spark, sf_dir):
    """Raw-text-file ingestion (``spark.read.text``): documents staged
    as tab-framed text lines (one record per line — the log-file /
    WET-extract shape), read back as unparsed ``value`` strings and
    re-framed with a split. This is S2 record framing against the
    TEXT source, completing the format matrix (CSV, JSON, ORC,
    parquet, text, XML). Line-oriented text splits by newline at any
    scale; the frame parse is one projection, no shuffle."""
    import tempfile

    app = spark.sparkContext.applicationId.replace("-", "_")
    base = f"{tempfile.gettempdir()}/graft_text_{app}"
    d = t(spark, sf_dir, "documents")
    d.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), "text").alias("value")
    ).write.mode("overwrite").text(base)
    lines = spark.read.text(base)
    parts = F.split(F.col("value"), "\t", 2)
    return lines.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        F.length(parts.getItem(1)).alias("line_len"),
        F.split(parts.getItem(1), "\\s+").getItem(0).alias("first_token"),
    )


@query(
    "scan_xml_source",
    oracle="""
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS totalprice
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def scan_xml_source(spark, sf_dir):
    """XML ingestion via Spark 4's NATIVE xml data source: an orders
    subset staged as ``<order>`` row elements, read back with
    ``rowTag`` framing and a typed schema. XML is the format of
    record for the enterprise feeds (SEC filings, PubMed, legacy ERP
    exports) that still seed many corpora; rowTag framing splits
    records without parsing the whole document, so the read
    parallelizes like any line-oriented source."""
    import tempfile

    app = spark.sparkContext.applicationId.replace("-", "_")
    base = f"{tempfile.gettempdir()}/graft_xml_{app}"
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    o.select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("totalprice")
    ).write.mode("overwrite").format("xml").option("rootTag", "orders").option(
        "rowTag", "order"
    ).save(base)
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey long, o_orderstatus string, totalprice double")
        .load(base)
        .select("o_orderkey", "o_orderstatus", "totalprice")
    )


@query(
    "scan_partitioned_pruning",
    oracle="""
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS totalprice
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def scan_partitioned_pruning(spark, sf_dir):
    """Partition-pruned scan, graded end-to-end: orders is written out
    partitioned by o_orderstatus (hive-style directories), re-read,
    and filtered to one partition — the scan touches only that
    directory (PartitionFilters, pinned by
    tests/test_formats_and_bucketing.py) and values must match the
    unpartitioned oracle. At 100 TB partition-on-predicate-column is
    the first IO lever, before any plan tuning.

    The partitioned copy lands at a STABLE per-session path
    (applicationId-keyed, overwritten in place) — a fresh mkdtemp per
    invocation would leak a full orders copy every run."""
    import tempfile

    app = spark.sparkContext.applicationId.replace("-", "_")
    target = f"{tempfile.gettempdir()}/graft_part_{app}/orders"
    t(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(target)
    return (
        spark.read.parquet(target)
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# binaryFile source scan (the image/audio-directory ingestion path)
# ---------------------------------------------------------------------------

_BF_DOCS = 50
_BF_CACHE: dict[str, str] = {}


@query(
    "scan_binary_files",
    oracle=f"""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < {_BF_DOCS}
    """,
)
def scan_binary_files(spark, sf_dir):
    """The ``binaryFile`` source — Spark's native path for ingesting
    image/audio/video directories (one row per file: path, length,
    binary content) and the front door of every multimodal pipeline
    before the mapInPandas decode (``mm_payload_stats`` et al.). The
    fixture stages each document's bytes as a real file once per
    session (filename carries the id); the scan then proves the
    path→(id, length, md5(content)) round-trip byte-exactly against
    the table the bytes came from.

    At 100 TB the same reader runs with ``pathGlobFilter`` +
    partitioned directories and feeds Arrow decode batches; the
    binary content column never converts to string."""
    cache_key = f"{sf_dir}:binfiles"
    if cache_key not in _BF_CACHE:
        import os
        import tempfile

        out = tempfile.mkdtemp(prefix="scan_binfiles_")
        # fixture staging (driver-side, cached once per session) — the
        # graded query is the binaryFile SCAN below, not this setup.
        rows = (
            t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _BF_DOCS)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(out, f"doc_{r['doc_id']}.bin"), "wb") as f:
                f.write(r["text"].encode("utf-8"))
        _BF_CACHE[cache_key] = out
    df = spark.read.format("binaryFile").load(_BF_CACHE[cache_key])
    doc_id = F.regexp_extract(
        F.col("path"), r"doc_(\d+)\.bin$", 1
    ).cast("long")
    return df.select(
        doc_id.alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.lower(F.md5("content")).alias("content_md5"),
    )


# ---------------------------------------------------------------------------
# Python UDTF (Spark 4) — the table-function escape hatch
# ---------------------------------------------------------------------------


@query(
    "udtf_sentence_split",
    oracle=f"""
    WITH arrs AS (
      SELECT doc_id, regexp_split_to_array(text, '\\.\\s+') AS ps
      FROM documents
    )
    SELECT doc_id,
           CAST(u.i - 1 AS INT) AS sent_idx,
           CAST(length(ps[u.i]) AS INT) AS n_chars_unit
    FROM arrs, unnest(range(1, len(ps) + 1)) AS u(i)
    """,
)
def udtf_sentence_split(spark, sf_dir):
    """Python UDTF (Spark 4's table-function escape hatch, the
    row-to-rows sibling of the ``udf_escape`` scalar family): an
    Arrow-optimized user-defined TABLE function splits each document
    into sentence units with ordinals via a LATERAL join — the
    declared pattern for custom expansions the built-in generators
    can't express (here they can, which is exactly why it's
    oracle-checkable: the same split exists as pure-Column
    ``text_paragraph_dedup_ratio`` machinery, so this entry grades the
    UDTF MECHANISM, not new semantics).

    Escape-hatch discipline: Arrow-batched (useArrow), emitted counts
    only (no payload round-trip), and the registry ban on
    row-at-a-time BatchEvalPython scalar UDFs stands —
    tools/plan_audit.py treats UDTF nodes like the sanctioned
    pandas_udf path."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx: int, n_chars_unit: int", useArrow=True)
    class SplitSentences:
        def eval(self, text: str):
            for i, p in enumerate(_re.split(r"\.\s+", text)):
                yield i, len(p)

    spark.udtf.register("split_sentences_r6", SplitSentences)
    d = t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("docs_udtf_r6")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.n_chars_unit
        FROM docs_udtf_r6 d, LATERAL split_sentences_r6(d.text) s
        """
    )


# ---------------------------------------------------------------------------
# Schema-evolution parquet scan (mergeSchema)
# ---------------------------------------------------------------------------

_MS_CACHE: dict[str, tuple[str, str]] = {}


@query(
    "scan_parquet_merge_schema",
    oracle="""
    SELECT doc_id, md5(text) AS text_md5, CAST(NULL AS VARCHAR) AS lang
    FROM documents WHERE doc_id < 100
    UNION ALL
    SELECT doc_id, md5(text) AS text_md5, lang
    FROM documents WHERE doc_id >= 100 AND doc_id < 200
    """,
)
def scan_parquet_merge_schema(spark, sf_dir):
    """Schema-evolution scan: two parquet generations — v1 written
    before the `lang` column existed, v2 after — read together with
    ``mergeSchema``, the additive-evolution contract every long-lived
    lakehouse table depends on (columns absent from older files
    surface as NULL, never as a read error). The fixture stages both
    generations as REAL parquet writes once per session (the graded
    query is the merged SCAN, not the setup); the oracle states the
    expected merged relation directly. At 100 TB the same option
    powers in-place column adds with no backfill rewrite — footer
    schemas merge at planning time; per-file pushdown and pruning
    are unaffected."""
    cache_key = f"{sf_dir}:mergeschema"
    if cache_key not in _MS_CACHE:
        import tempfile

        base = tempfile.mkdtemp(prefix="scan_mergeschema_")
        d = t(spark, sf_dir, "documents")
        p1, p2 = f"{base}/gen1", f"{base}/gen2"
        d.filter(F.col("doc_id") < 100).select("doc_id", "text").coalesce(
            1
        ).write.mode("overwrite").parquet(p1)
        d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)).select(
            "doc_id", "text", "lang"
        ).coalesce(1).write.mode("overwrite").parquet(p2)
        _MS_CACHE[cache_key] = (p1, p2)
    p1, p2 = _MS_CACHE[cache_key]
    df = spark.read.option("mergeSchema", "true").parquet(p1, p2)
    return df.select(
        "doc_id", F.md5("text").alias("text_md5"), F.col("lang")
    )


# ---------------------------------------------------------------------------
# Multiline quoted CSV scan
# ---------------------------------------------------------------------------

_MLCSV_CACHE: dict[str, str] = {}
_MLCSV_DOCS = 120


@query(
    "scan_csv_multiline_quoted",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
             AS n_spaces_restored,
           md5(text) AS text_md5
    FROM documents WHERE doc_id < {_MLCSV_DOCS}
    """,
)
def scan_csv_multiline_quoted(spark, sf_dir):
    """Multiline quoted-field CSV ingestion — the parser surface flat
    readers break on: every staged record's text field is
    double-quoted, contains commas-adjacent content, embedded QUOTES
    (doubled per RFC 4180), and an embedded NEWLINE (every space in
    the first 80 chars becomes \\n at staging; restored after the
    scan), so one logical record spans many physical lines. The scan
    runs with multiLine=true + quote/escape '"' — the configuration
    that makes Spark parse records, not lines. Graded evidence: the
    restored text md5-matches the source table byte-exactly, and the
    restored-space count rides along. Scale note: multiLine CSV
    files are NOT splittable (a record boundary cannot be found
    mid-file), so at 100 TB this path is for many medium files —
    parallelism comes from file count, which the docstring declares
    rather than hides."""
    cache_key = f"{sf_dir}:mlcsv"
    if cache_key not in _MLCSV_CACHE:
        import csv
        import os
        import tempfile

        out = tempfile.mkdtemp(prefix="scan_mlcsv_")
        rows = (
            t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _MLCSV_DOCS)
            .select("doc_id", "text")
            .collect()
        )
        with open(os.path.join(out, "docs.csv"), "w", newline="") as f:
            w = csv.writer(f, quoting=csv.QUOTE_ALL)
            w.writerow(["doc_id", "payload"])
            for r in rows:
                head, tail = r["text"][:80], r["text"][80:]
                w.writerow([r["doc_id"], head.replace(" ", "\n") + tail])
        _MLCSV_CACHE[cache_key] = out
    df = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(_MLCSV_CACHE[cache_key])
    )
    restored = F.replace(F.col("payload"), F.lit("\n"), F.lit(" "))
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.length(restored) - F.length(F.replace(restored, F.lit(" "), F.lit(""))))
        .cast("long")
        .alias("n_spaces_restored"),
        F.md5(restored).alias("text_md5"),
    )


# ---------------------------------------------------------------------------
# Nested JSONL ingestion
# ---------------------------------------------------------------------------

_JSONL_CACHE: dict[str, str] = {}
_JSONL_DOCS = 200


@query(
    "scan_jsonl_nested",
    oracle=f"""
    SELECT doc_id, lang AS meta_lang, source AS meta_source,
           CAST(least(3, len(string_split(text, ' '))) AS BIGINT) AS n_tags,
           string_split(text, ' ')[1] AS first_tag
    FROM documents WHERE doc_id < {_JSONL_DOCS}
    """,
)
def scan_jsonl_nested(spark, sf_dir):
    """Nested JSONL ingestion — the crawl-dump shape every training
    pipeline reads first: one JSON object per line with a nested
    metadata struct and a variable-length tag array, staged as a REAL
    file and read back through Spark's json source with schema
    inference. The graded projection drills into the nested struct
    (meta.lang, meta.source) and the array (size, first element) —
    the flatten step downstream operators consume. At 100 TB the same
    reader runs with an explicit schema (inference samples the data —
    declared here, avoided in production) over partitioned directories;
    JSONL is line-splittable so parallelism is by byte range, unlike
    ``scan_csv_multiline_quoted``'s whole-file records."""
    cache_key = f"{sf_dir}:jsonl"
    if cache_key not in _JSONL_CACHE:
        import json
        import os
        import tempfile

        out = tempfile.mkdtemp(prefix="scan_jsonl_")
        rows = (
            t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _JSONL_DOCS)
            .select("doc_id", "text", "lang", "source")
            .collect()
        )
        with open(os.path.join(out, "docs.jsonl"), "w") as f:
            for r in rows:
                words = r["text"].split(" ")
                f.write(
                    json.dumps(
                        {
                            "doc_id": r["doc_id"],
                            "meta": {"lang": r["lang"], "source": r["source"]},
                            "tags": words[:3],
                        }
                    )
                    + "\n"
                )
        _JSONL_CACHE[cache_key] = out
    df = spark.read.json(_JSONL_CACHE[cache_key])
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.source").alias("meta_source"),
        F.size("tags").cast("long").alias("n_tags"),
        F.element_at(F.col("tags"), 1).alias("first_tag"),
    )


# ---------------------------------------------------------------------------
# Gzip (non-splittable) compressed source scan
# ---------------------------------------------------------------------------

_GZ_CACHE: dict[str, str] = {}
GZ_DOCS = 300


@query(
    "scan_gzip_nonsplittable",
    oracle=f"""
    SELECT doc_id, lang, n_chars,
           string_split(text, ' ')[1] AS first_word
    FROM documents WHERE doc_id < {GZ_DOCS}
    """,
)
def scan_gzip_nonsplittable(spark, sf_dir):
    """Gzip-compressed JSONL ingestion — the 100 TB pitfall made
    explicit: gzip is NOT splittable, so ONE .gz file = ONE task no
    matter its size (the partition count is pinned to 1 in pytest —
    the whole point of the operator). The correct large-scale layout
    is many ~100 MB-1 GB .gz files (parallelism = file count), or a
    splittable codec (zstd-seekable, bzip2) or format (parquet)
    when re-compression is an option. Values round-trip exactly
    through the codec; the graded projection matches the source
    table. Companion to ``scan_jsonl_nested`` (plain JSONL is
    byte-range splittable) and ``scan_csv_multiline_quoted``
    (record framing forces whole-file reads)."""
    cache_key = f"{sf_dir}:gz"
    if cache_key not in _GZ_CACHE:
        import gzip
        import json
        import os
        import tempfile

        out = tempfile.mkdtemp(prefix="scan_gz_")
        rows = (
            t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < GZ_DOCS)
            .select("doc_id", "text", "lang", "n_chars")
            .collect()
        )
        with gzip.open(os.path.join(out, "docs.jsonl.gz"), "wt") as f:
            for r in rows:
                f.write(
                    json.dumps(
                        {
                            "doc_id": r["doc_id"],
                            "text": r["text"],
                            "lang": r["lang"],
                            "n_chars": r["n_chars"],
                        }
                    )
                    + "\n"
                )
        _GZ_CACHE[cache_key] = out
    df = spark.read.json(_GZ_CACHE[cache_key])
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.element_at(F.split(F.col("text"), " "), 1).alias("first_word"),
    )


# ---------------------------------------------------------------------------
# Small-files compaction (the table-maintenance op, content-proven)
# ---------------------------------------------------------------------------

_COMPACT_CACHE: dict[str, str] = {}
COMPACT_SMALL_FILES = 64
COMPACT_TARGET_FILES = 4


@query(
    "sink_compact_small_files",
    oracle=f"""
    WITH rows_h AS (
      SELECT ('0x' || substr(md5(concat_ws('|',
                 CAST(doc_id AS VARCHAR), text, lang, source,
                 CAST(n_chars AS VARCHAR))), 1, 15))::BIGINT AS h
      FROM documents
    )
    SELECT CAST({COMPACT_SMALL_FILES} AS BIGINT) AS n_files_before,
           CAST({COMPACT_TARGET_FILES} AS BIGINT) AS n_files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(h) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
    FROM rows_h
    """,
)
def sink_compact_small_files(spark, sf_dir):
    """Small-files compaction — the table-maintenance job every lake
    runs nightly: a directory of many tiny parquet files (here 64,
    staged by an even round-robin repartition so every task emits
    one) is rewritten as few large ones (coalesce(4) — a NARROW
    dependency: readers merge inputs, no shuffle), because at 100 TB
    small files tax the driver's file index, the scheduler (one task
    per tiny split), and the object store's request rates. The graded
    row PROVES content preservation, not just plumbing: real before/
    after file counts from the filesystem plus the order-insensitive
    60-bit md5 row checksum of the COMPACTED output, which must equal
    the oracle's checksum of the source table — compaction that loses
    or duplicates a single row hash-mismatches."""
    import glob
    import tempfile

    app = spark.sparkContext.applicationId.replace("-", "_")
    cache_key = f"{app}:{sf_dir}"
    base = f"{tempfile.gettempdir()}/graft_compact_{app}"
    if _COMPACT_CACHE.get(cache_key) != base:
        src = t(spark, sf_dir, "documents")
        src.repartition(COMPACT_SMALL_FILES).write.mode("overwrite").parquet(
            f"{base}/small"
        )
        (
            spark.read.parquet(f"{base}/small")
            .coalesce(COMPACT_TARGET_FILES)
            .write.mode("overwrite")
            .parquet(f"{base}/compacted")
        )
        _COMPACT_CACHE[cache_key] = base
    n_before = len(glob.glob(f"{base}/small/part-*.parquet"))
    n_after = len(glob.glob(f"{base}/compacted/part-*.parquet"))
    compacted = spark.read.parquet(f"{base}/compacted")
    h = md5_int(
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            "text",
            "lang",
            "source",
            F.col("n_chars").cast("string"),
        ),
        15,
    ).cast("decimal(38,0)")
    return compacted.agg(
        F.lit(n_before).cast("long").alias("n_files_before"),
        F.lit(n_after).cast("long").alias("n_files_after"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(h).cast("decimal(38,0)").cast("string").alias("checksum"),
    )
