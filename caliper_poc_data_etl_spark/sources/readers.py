"""Readers: parquet / CSV / JSON with explicit schemas and row policies.

Reference parity notes:

- The reference reads whole files into heap and validates rows with a
  regex, silently dropping non-matching rows (``etl.js:22,73-74``).
  Spark's CSV datasource replaces that with splittable scans plus a
  *named* policy: ``dropmalformed`` (reference-faithful silent drop) or
  ``permissive`` (corrupt rows observable in ``_corrupt_record`` — the
  engine default, because silent loss is how the reference lost 80% of
  its output at 100k rows, SURVEY.md F5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

CORRUPT_COL = "_corrupt_record"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan; Catalyst pushes predicates/projection into it."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    header: bool = True,
    mode: str = "permissive",
    keep_corrupt: bool = False,
) -> DataFrame:
    """CSV scan with an explicit schema and malformed-row policy.

    ``mode='dropmalformed'`` reproduces the reference's
    validate-by-regex-and-drop semantics (``etl.js:73-74``) without the
    silence being mandatory; ``mode='permissive'`` (default) keeps bad
    rows visible. With ``keep_corrupt=False`` corrupt rows are filtered
    out but the filter is an explicit, observable plan node.

    Spark restriction to know: on the permissive path, a query that
    prunes every DATA column (e.g. a bare ``df.count()``) is rejected
    by Spark ("queries from raw CSV files are disallowed when the
    referenced columns only include the internal corrupt record
    column") — reference a data column or use ``dropmalformed`` for
    pure row counting.
    """
    mode = mode.lower()
    if mode not in {"permissive", "dropmalformed", "failfast"}:
        raise ValueError(f"unknown CSV mode: {mode}")
    read_schema = schema
    if mode == "permissive":
        read_schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
        )
    df = (
        spark.read.schema(read_schema)
        .option("header", header)
        .option("mode", mode.upper())
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )
    if mode == "permissive" and not keep_corrupt:
        df = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    return df


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same pushdown/pruning properties as parquet."""
    return spark.read.orc(path)


def read_text(
    spark: SparkSession, path: str, *, whole_text: bool = False
) -> DataFrame:
    """Raw line scan (``value: string``) — the substrate for the
    regex-fidelity parser (sources/fidelity.py) and for any custom
    record format. ``whole_text=True`` reads one row per file (the
    reference's whole-file read, etl.js:22 — anti-pattern at scale,
    provided for parity experiments only). NB: must be the reader
    keyword — a generic .option("wholetext", ...) is silently ignored
    by the text source."""
    return spark.read.text(path, wholetext=whole_text)


def apply_fixture_confs(spark: SparkSession) -> None:
    """Runtime-settable SQL confs the driver parquet fixtures require,
    applied to the CALLER's session so readers work from any vanilla
    SparkSession (a grading driver, a notebook), not only
    :func:`session.get_spark`:

    - ``nanosAsLong``: TIMESTAMP(NANOS) columns otherwise throw
      ``PARQUET_TYPE_ILLEGAL``;
    - ``session.timeZone=UTC``: the NTZ→LTZ ``ts`` cast in
      :func:`normalize_ts` interprets naive values in the session
      timezone, and unix_micros / F.window bucketing / date_format all
      read the session zone — the DuckDB oracle interprets the same
      naive parquet values as UTC, so any other zone (DST gaps,
      fractional offsets) silently diverges.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-fatal: older/newer Spark without the conf


def normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize the fixtures' ``ts`` encodings to TIMESTAMP (LTZ, µs).

    - bigint (TIMESTAMP(NANOS) read under ``nanosAsLong``): exact
      integer division to micros — nanos exceed 2^53, float math would
      corrupt them; micro truncation matches DuckDB's native precision.
    - timestamp_ntz (TIMESTAMP(MICROS, isAdjustedToUTC=false)): cast to
      LTZ so event-time watermarks and epoch functions accept it. The
      cast reads the session timezone, which
      :func:`apply_fixture_confs` pins to UTC — making the stored
      naive value, the internal epoch, and every formatted output
      agree unconditionally (in a DST zone they would not).

    Shared by the batch reader (:func:`sf_table`) and the streaming
    reader (streaming/events.read_event_stream) so the encodings
    cannot drift between the two paths.
    """
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Parquet schema cache, keyed on the table path and the file's
# modification time and size (see :func:`schema_cache_key`). METADATA
# only — the stand-in for the table schemas a real deployment declares
# in its metastore instead of re-inferring from footers on every query.
# ``spark.read.parquet(path)`` runs a driver-side footer-read job per
# call (~85 ms/table here), paid by EVERY bench trial and correctness
# run; with the schema supplied, resolution is pure plan construction
# (~25 ms). Same class as Spark's own session-wide FileStatusCache
# (file listings): no DATA is cached — every action still scans the
# parquet bytes — and the cache dies with the process. The cached
# schema is exactly what inference produced for that path under the
# fixture confs, so read semantics are identical by construction.
_SCHEMA_CACHE: dict[tuple, T.StructType] = {}


def schema_cache_key(path: str) -> tuple:
    """``(path, st_mtime_ns, st_size)``: a file rewritten in place (e.g.
    with an added column) gets a new key, so its schema is inferred
    again instead of served stale. One ``os.stat`` per lookup. A path
    ``os.stat`` cannot reach (a remote URI, or a missing path that the
    read itself then reports) is keyed on the path alone."""
    try:
        st = os.stat(path)
    except OSError:
        return (path, None, None)
    return (path, st.st_mtime_ns, st.st_size)


def sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-provided parquet table from a scale-factor dir,
    with ``ts`` normalized (see :func:`normalize_ts`) and the required
    session confs applied to the caller's session
    (:func:`apply_fixture_confs`)."""
    apply_fixture_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = schema_cache_key(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    return normalize_ts(df)


def sf_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all driver tables and register them as temp views."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = sf_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
