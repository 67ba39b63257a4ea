"""Multimodal column convention + operators (north-star §2B).

The reference has no media surface (SURVEY.md §2A — CSV/JSON text
only); this module defines how a 100 TB multimodal corpus is laid out
and processed in the engine:

- **Layout**: media is an opaque ``binary`` payload column plus a
  typed ``meta`` struct (kind/format/dims/sample_rate). Payloads ride
  in parquet next to their metadata; decode happens late, inside
  Arrow-batched Pandas UDFs, never on the driver.
- **Plumbing is real, decode is stubbed**: this container has no
  image/audio codecs, so ``decode_media_real`` import-tries PIL and
  raises ``NotImplementedError`` otherwise. The deterministic fake
  decoder (bytes → "pixels") exercises the exact same mapInPandas
  batch shapes, schemas and partitioning the real one would use.
- **Scale posture**: mapInPandas streams Arrow record batches
  (bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``), so
  executor memory is bounded by batch size × payload size, not
  partition size. Frame sampling is pure Column code (binary
  substring) — no Python at all.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

MEDIA_META = T.StructType(
    [
        T.StructField("kind", T.StringType()),         # image | audio | video | text
        T.StructField("format", T.StringType()),       # png/wav/mp4/txt/...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)


def documents_as_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's ``documents`` table to the media layout
    (payload = utf-8 bytes). Lets every multimodal operator run — and
    be oracle-checked — on shared testdata that has no binary table."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    meta = F.struct(
        F.lit("text").alias("kind"),
        F.lit("txt").alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("n_frames"),
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        meta.alias("meta"),
    )


PAYLOAD_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("head_byte", T.IntegerType()),
    ]
)


def payload_stats(media: DataFrame) -> DataFrame:
    """Per-payload byte stats via mapInPandas — the canonical Arrow
    batch shape every real decoder follows (iterator of pandas
    DataFrames in, iterator out; one output row per input row)."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "payload_md5": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "head_byte": payloads.map(
                        lambda b: int(b[0]) if len(b) else -1
                    ).astype("int32"),
                }
            )

    return media.mapInPandas(batches, PAYLOAD_STATS_SCHEMA)


PIXEL_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("mean_pixel", T.DoubleType()),
        T.StructField("min_pixel", T.IntegerType()),
        T.StructField("max_pixel", T.IntegerType()),
    ]
)


def fake_decode_pixel_features(media: DataFrame) -> DataFrame:
    """Deterministic FAKE decoder: treats payload bytes as an 8-bit
    grayscale pixel buffer and extracts numpy-vectorized features.
    Stands in for image decode (same batch shape / schema contract);
    swap the body for PIL/libvips via :func:`decode_media_real` where
    codecs exist."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = np.frombuffer(bytes(payload), dtype=np.uint8)
                out.append(
                    (
                        mid,
                        int(px.size),
                        float(px.mean()) if px.size else 0.0,
                        int(px.min()) if px.size else -1,
                        int(px.max()) if px.size else -1,
                    )
                )
            yield pd.DataFrame(
                out, columns=["media_id", "n_pixels", "mean_pixel", "min_pixel", "max_pixel"]
            )

    return media.mapInPandas(batches, PIXEL_FEATURES_SCHEMA)


def decode_media_real(media: DataFrame) -> DataFrame:  # pragma: no cover
    """Real image decode — requires PIL, which this container does not
    ship. The Spark-side contract (mapInPandas over MEDIA_SCHEMA →
    PIXEL_FEATURES_SCHEMA) is identical to the fake path above."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "image codecs not available in this environment; use "
            "fake_decode_pixel_features for the plumbing-equivalent path"
        ) from exc

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io

        import numpy as np
        import pandas as pd
        from PIL import Image

        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = np.asarray(Image.open(io.BytesIO(bytes(payload))).convert("L"))
                out.append(
                    (mid, int(px.size), float(px.mean()), int(px.min()), int(px.max()))
                )
            yield pd.DataFrame(
                out, columns=["media_id", "n_pixels", "mean_pixel", "min_pixel", "max_pixel"]
            )

    return media.mapInPandas(batches, PIXEL_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, frame_bytes: int, every_n: int = 2) -> DataFrame:
    """Split each payload into fixed-size "frames" and keep every Nth
    one — the video-frame-sampling access pattern, expressed entirely
    in Column code (binary substring over a generated index), so it
    runs in whole-stage codegen with zero Python.

    Output: (media_id, frame_idx, frame: binary). Empty payloads emit
    zero rows — without the guard, ``sequence(0, -1)`` yields the
    descending array [0, -1] and a spurious empty frame_idx=0 row.
    """
    n_frames = F.ceil(F.length("payload") / F.lit(frame_bytes)).cast("int")
    idx = F.when(
        n_frames > 0,
        F.filter(
            F.sequence(F.lit(0), n_frames - 1),
            lambda i: i % every_n == F.lit(0),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return (
        media.select(
            "media_id",
            "payload",
            F.explode(idx).alias("frame_idx"),
        )
        .select(
            "media_id",
            "frame_idx",
            F.expr(f"substring(payload, frame_idx * {frame_bytes} + 1, {frame_bytes})").alias(
                "frame"
            ),
        )
    )


def resize_pixels(media: DataFrame, factor: int = 4) -> DataFrame:
    """"Resize" the fake pixel buffer by striding (every ``factor``-th
    byte) — the downsample access pattern as a vectorized Pandas UDF.
    Output keeps MEDIA_SCHEMA so resizes compose with other ops."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            pdf = pdf.copy()
            pdf["payload"] = pdf["payload"].map(
                lambda b: bytes(np.frombuffer(bytes(b), dtype=np.uint8)[::factor].tobytes())
            )
            yield pdf

    return media.mapInPandas(batches, media.schema)


AHASH_BITS = 60  # 60 bits (not 64): value stays positive in signed
AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("ahash", T.LongType()),
    ]
)


def ahash_60bit(media: DataFrame) -> DataFrame:
    """Average-hash perceptual fingerprint over the payload's first
    ``AHASH_BITS`` bytes: bit i is set when byte i exceeds the mean of
    those bytes (integer form: ``byte_i * 60 > sum``). This is the
    classic aHash construction with "pixels" = leading payload bytes —
    swap the ``frombuffer`` line for a real decode+resize (PIL/ffmpeg)
    and the hash, banding, and Hamming-verify stages downstream are
    unchanged. 60 bits, not 64, so the value is positive in BOTH
    engines' signed BIGINT — no two's-complement edge cases in the
    XOR/popcount math.

    Arrow-batched mapInPandas; payloads shorter than AHASH_BITS bytes
    are dropped (a real decoder rejects truncated media the same way).
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        def one(b: bytes) -> int | None:
            if len(b) < AHASH_BITS:
                return None
            px = np.frombuffer(bytes(b[:AHASH_BITS]), dtype=np.uint8).astype(
                np.int64
            )
            bits = px * AHASH_BITS > int(px.sum())
            h = 0
            for bit in bits:
                h = (h << 1) | int(bit)
            return h

        for pdf in it:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ahash": pdf["payload"].map(one),
                }
            )
            yield out[out["ahash"].notna()].astype({"ahash": "int64"})

    return media.mapInPandas(batches, AHASH_SCHEMA)


# ---------------------------------------------------------------------------
# pHash (DCT perceptual hash) — integer-exact 8x8 DCT-II
# ---------------------------------------------------------------------------

PHASH_SIDE = 8
PHASH_PIXELS = PHASH_SIDE * PHASH_SIDE  # 64 "pixels" = leading payload bytes
_PHASH_COS_SCALE = 1 << 15

# Integer-scaled DCT-II basis, C[u*8+x] = round(cos((2x+1)*u*pi/16) * 2^15).
# Generated ONCE here with math.cos at import time and embedded verbatim in
# the oracle SQL (queries/multimodal_q.py), so both engines share the SAME
# integer table — transcendental parity by construction, never at runtime.
# Coefficient magnitude bound: |D[u][v]| <= 8*8*255*2^15*2^15 ~ 1.75e13,
# comfortably inside BIGINT.
def _phash_cos_table() -> list[int]:
    import math

    return [
        int(math.floor(math.cos((2 * x + 1) * u * math.pi / 16) * _PHASH_COS_SCALE + 0.5))
        for u in range(PHASH_SIDE)
        for x in range(PHASH_SIDE)
    ]


PHASH_COS = _phash_cos_table()

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash_hi", T.LongType()),
        T.StructField("phash_lo", T.LongType()),
        T.StructField("n_bits_set", T.LongType()),
        T.StructField("dc_coeff", T.LongType()),
        T.StructField("median_coeff", T.LongType()),
    ]
)


def phash_dct64(media: DataFrame) -> DataFrame:
    """DCT perceptual hash over the payload's first 64 bytes as an 8x8
    grayscale "image": separable integer 2-D DCT-II with the
    :data:`PHASH_COS` basis (exact int64 matrix products, no floats),
    bit i = coefficient i exceeds the lower median (33rd-smallest is
    index 32 1-based; strictly-greater keeps <=32 bits set, so both
    halves fit unsigned in a signed BIGINT). The 64-bit hash is split
    into two 32-bit BIGINT halves (hi = bits 63..32 by u-major
    coefficient index) — no two's-complement edge cases. Swap the
    frombuffer line for a real decode+resize (PIL) and the hash and
    downstream Hamming stages are unchanged, exactly like
    :func:`ahash_60bit`. Payloads shorter than 64 bytes are dropped
    (truncated media). Arrow-batched mapInPandas; per-row cost is two
    fixed 8x8 integer matmuls."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        C = np.array(PHASH_COS, dtype=np.int64).reshape(PHASH_SIDE, PHASH_SIDE)

        def one(b: bytes):
            if len(b) < PHASH_PIXELS:
                return None
            p = (
                np.frombuffer(bytes(b[:PHASH_PIXELS]), dtype=np.uint8)
                .astype(np.int64)
                .reshape(PHASH_SIDE, PHASH_SIDE)
            )
            t = C @ p  # T[u][y] = sum_x C[u][x] * p[x][y]
            d = t @ C.T  # D[u][v] = sum_y T[u][y] * C[v][y]
            flat = d.reshape(-1)
            med = int(np.sort(flat)[31])
            bits = flat > med
            hi = sum(1 << (i - 32) for i in range(32, 64) if bits[i])
            lo = sum(1 << i for i in range(32) if bits[i])
            return (hi, lo, int(bits.sum()), int(flat[0]), med)

        for pdf in it:
            rows = [
                (mid, *r)
                for mid, r in zip(pdf["media_id"], pdf["payload"].map(one))
                if r is not None
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "phash_hi",
                    "phash_lo",
                    "n_bits_set",
                    "dc_coeff",
                    "median_coeff",
                ],
            )

    return media.mapInPandas(batches, PHASH_SCHEMA)
