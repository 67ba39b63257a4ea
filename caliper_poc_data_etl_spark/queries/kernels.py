"""Column and SQL kernels shared across the query families.

One definition per recurring idea, so twins that must agree bit for bit
(a Column fold and its SQL rendering, an embedding quantisation and the
integer dot products over it) cannot drift apart.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# Timestamp rendering shared by Spark builders and their DuckDB twins:
# outputs carry timestamps as strings with microsecond precision.
_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def dot_sql(x: str, y: str) -> str:
    """SQL fragment for the same fold :func:`dot` builds — identical
    expression tree after parsing (Multiply → Cast(double) → Add fold
    with a 0.0 double init), so the floating-point result is
    bit-identical. Exists because rendering ONE string costs one py4j
    round-trip where the Column construction costs hundreds
    (sim_ann_lsh build 1.7 s → 0.35 s, measured value-identical)."""
    # Interpolated identifiers must be plain names — a column needing
    # backticks (dots, spaces) would parse wrong.
    for name in (x, y):
        if not name.startswith("array("):
            assert re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name), (
                f"dot_sql needs a plain identifier, got {name!r}"
            )
    return (
        f"aggregate(zip_with({x}, {y}, (p, q) -> CAST(p * q AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def dot(x, y):
    """Double dot product of two numeric arrays (column names or Columns)."""
    if isinstance(x, str) and isinstance(y, str):
        return F.expr(dot_sql(x, y))
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: (p * q).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def milli(col):
    """Milli-integer element quantization — the exact chain the kmeans
    machinery grades green: float element -> double (exact) -> one IEEE
    multiply by 1000 -> half-away round -> BIGINT."""
    return F.transform(col, lambda v: F.round(v.cast("double") * 1000).cast("long"))


def idot(x, y):
    """Exact integer dot product of two BIGINT arrays — order-immune."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def isqdist(x, y):
    """Exact squared Euclidean distance of two BIGINT arrays."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def fround(x):
    """Floor-rounding to 4 decimals, ``FLOOR(x * 1e4 + 0.5) / 1e4`` on the
    DuckDB side."""
    return F.floor(x * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)


# Spark infers a group limit only for bounds below
# spark.sql.optimizer.windowGroupLimitThreshold (default 1000).
_GROUP_LIMIT_MAX = 1000


def topk(df, by, order, k, *, rank=None):
    """Keep the rows ranked 1..k by ``row_number()`` over ``order``
    within each ``by`` group (``by=[]``: a global top-k). Ties break on
    the trailing order key, so put a unique key last. ``rank=name``
    keeps the rank column under that name; by default it is dropped.

    This is the one shape Spark limits before the shuffle: a window
    holding only the rank, filtered directly on the uncast rank with a
    literal bound. Spark then plans a ``WindowGroupLimit`` (a partial
    top-k per partition ahead of the exchange), or for a global top-k a
    ``TakeOrderedAndProject``. Another function in the same window
    (``count(*)``), a narrowing cast on the rank (``short``, ``string``)
    or a column as the bound each silently drop the limit, and the whole
    input is sorted; ``tools/plan_audit.py`` flags a rank filter left
    without one."""
    if isinstance(k, bool) or not isinstance(k, int) or not 0 < k < _GROUP_LIMIT_MAX:
        raise ValueError(f"topk needs a literal 0 < k < {_GROUP_LIMIT_MAX}, got {k!r}")
    name = rank or "_topk_rank"
    ranked = df.withColumn(
        name, F.row_number().over(W.partitionBy(*by).orderBy(*order))
    ).filter(F.col(name) <= k)
    return ranked if rank else ranked.drop(name)
