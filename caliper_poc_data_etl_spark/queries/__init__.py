"""Declared query/operator registry — the engine's public query surface.

Every operator from SURVEY.md §2 lands here as a :class:`Query`: a
Spark DataFrame builder plus (where SQL-expressible) a DuckDB oracle
twin. The driver executes both at sf0.01 and compares row count +
schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- double-typed aggregates are rounded on both sides (floating-point
  summation order differs between engines and across Spark partitions);
- integer aggregates are cast to BIGINT on the DuckDB side (DuckDB
  widens integer sums to INT128, Spark to BIGINT);
- timestamps in outputs are formatted to strings on both sides.
"""

from __future__ import annotations

from caliper_poc_data_etl_spark.queries.registry import (  # noqa: F401
    QUERIES,
    Query,
    query,
    spark_queries,
    oracle_queries,
)

# Importing the modules populates the registry; registration order is
# this import order.
from caliper_poc_data_etl_spark.queries import (  # noqa: F401, E402
    caliper,
    relational,
    windows,
    scalars,
    dedup,
    similarity,
    text,
    timeseries,
    streaming_replay,
    multimodal_q,
    udf_escape,
    scans,
    curation,
    training,
    skewed,
    graphs,
    ml,
)
