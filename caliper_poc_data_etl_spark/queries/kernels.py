"""Column and SQL kernels shared across the query families.

One definition per recurring idea, so twins that must agree bit for bit
(a Column fold and its SQL rendering, an embedding quantisation and the
integer dot products over it, a Spark hash and its DuckDB oracle, the
LSH bit packs of a production path and its parity twin) cannot drift
apart.
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


def md5_int(col, hex_digits):
    """The engine-agnostic integer hash: the first ``hex_digits`` hex
    digits of ``md5(col)`` as a BIGINT, non-negative up to 15 digits.
    DuckDB's twin is ``('0x' || substr(md5(x), 1, n))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, hex_digits), 16, 10).cast("long")


def word_trigrams(toks):
    """Word 3-grams of the token-array column named ``toks``, in order
    and with repeats: ``tk[i] tk[i+1] tk[i+2]`` for i = 1..size-2.
    The array needs at least 3 tokens (for 2, ``sequence(1, 0)`` counts
    down and indexes element 0), so callers filter ``size >= 3``.
    ``toks`` must be a materialised column: an inline ``split()`` inside
    the lambda re-runs its regex on every element access."""
    tk = F.col(toks)
    return F.transform(
        F.sequence(F.lit(1), F.size(tk) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(tk, i),
            F.element_at(tk, i + 1),
            F.element_at(tk, i + 2),
        ),
    )


def sign_bits(conds):
    """Pack SQL boolean conditions into one BIGINT, condition i → bit i
    (a 64th condition sets the sign bit), as one parsed expression:
    one py4j round-trip however many bits. The bits are disjoint, so
    ``|`` gives the value ``+`` would, and it cannot overflow under
    ANSI."""
    return F.expr(
        " | ".join(
            f"(CAST(CASE WHEN {c} THEN 1 ELSE 0 END AS BIGINT) << {i})"
            for i, c in enumerate(conds)
        )
    )


def flip_probes(bucket, n_bits):
    """Multi-probe set of the BIGINT bucket column named ``bucket``: the
    bucket, then the ``n_bits`` buckets one bit flip away from it."""
    b = F.col(bucket)
    return F.array(
        b, *[b.bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(n_bits)]
    )


def bucket_pairs(df, keys, member):
    """Distinct ``(a, b)`` pairs, ``a < b``, of the ``member`` values
    that share a ``keys`` bucket. One groupBy collects each bucket's
    sorted members and every member pairs with those after it, so no
    self-join recomputes ``df``; cost scales with Σ bucket², LSH's
    intrinsic cost. A one-member bucket yields nothing, and a pair two
    buckets share appears once."""
    m = F.col("_members")
    pairs = F.transform(
        m,
        lambda x, i: F.transform(
            F.slice(m, i + 2, F.size(m)),
            lambda y: F.struct(x.alias("a"), y.alias("b")),
        ),
    )
    return (
        df.groupBy(*keys)
        .agg(F.array_sort(F.collect_set(member)).alias("_members"))
        .filter(F.size(m) >= 2)
        .select(F.explode(F.flatten(pairs)).alias("_pair"))
        .select("_pair.a", "_pair.b")
        .distinct()
    )


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
