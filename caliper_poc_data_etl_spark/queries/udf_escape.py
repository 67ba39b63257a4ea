"""The documented UDF escape hatch (SURVEY.md §2B last row).

Engine policy: **no Python on the hot path** — every shipped operator
is native Column/SQL (tools/plan_audit.py enforces no BatchEvalPython
anywhere). When user logic genuinely cannot be expressed in Columns,
the sanctioned escape hatch is an Arrow-batched ``pandas_udf`` (or
``mapInPandas`` for many-to-many shapes — see ``multimodal.py``):
vectorized over record batches, ~10-100× faster than row-at-a-time
``F.udf``, and visible in plans as ArrowEvalPython.

The example below is intentionally one we ALSO have natively
(`kernels.dot`): the pandas_udf twin is oracle-checked against
DuckDB, and the pytest suite asserts it agrees with the native path —
demonstrating the hatch without ever needing it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F, types as T

from caliper_poc_data_etl_spark.queries.registry import query, t


@F.pandas_udf(T.DoubleType())
def vector_norm_udf(emb: pd.Series) -> pd.Series:
    """Vectorized L2 norm over array<float> — one numpy call per Arrow
    batch, not one Python call per row."""
    import numpy as np

    return emb.map(lambda v: float(np.sqrt(np.dot(v, v))))


_GROUPED_SCHEMA = T.StructType(
    [
        T.StructField("label", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("var_trace", T.DoubleType()),
    ]
)


def _label_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    mat = np.stack(pdf["embedding"].to_numpy())
    return pd.DataFrame(
        {
            "label": [int(pdf["label"].iloc[0])],
            "n": [len(pdf)],
            "var_trace": [float(np.round(mat.var(axis=0, ddof=1).sum(), 3))],
        }
    )


@query(
    "udf_grouped_label_var",
    oracle="""
    WITH comp AS (
      SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings,
           unnest(range(1, CAST(len(embedding) AS BIGINT) + 1)) AS t(i)
    ),
    per_dim AS (
      SELECT label, pos, VAR_SAMP(val) AS v, COUNT(*) AS n
      FROM comp GROUP BY label, pos
    )
    SELECT label, MIN(n) AS n, ROUND(SUM(v), 3) AS var_trace
    FROM per_dim GROUP BY label
    """,
)
def udf_grouped_label_var(spark, sf_dir):
    """The GROUPED Pandas escape hatch (``applyInPandas``): whole-group
    numpy — here the per-label total embedding variance (trace of the
    covariance matrix), the cluster-dispersion health metric.

    Each label's vectors arrive as one pandas DataFrame (Arrow
    transfer); at scale group size must fit an executor's memory —
    that is the documented contract of grouped-Pandas ops, and why the
    per-dimension native formulation (the oracle's shape) is preferred
    when the statistic decomposes. Oracle-checked: numpy's ddof=1
    variance agrees with SQL VAR_SAMP to the rounded precision."""
    e = t(spark, sf_dir, "embeddings")
    return e.select("label", "embedding").groupBy("label").applyInPandas(
        _label_stats, _GROUPED_SCHEMA
    )


@query(
    "udf_vector_norm",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(CAST(list_dot_product(embedding, embedding) AS DOUBLE)), 4)
             AS norm
    FROM embeddings
    """,
)
def udf_vector_norm(spark, sf_dir):
    """The escape hatch in action: ArrowEvalPython (pandas_udf) norm,
    oracle-checked; the native-Column twin lives in similarity.py."""
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.round(vector_norm_udf("embedding"), 4).alias("norm")
    )
