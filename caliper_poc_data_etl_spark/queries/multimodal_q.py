"""Multimodal operators graded through the oracle.

``documents.text`` adapted to the binary media layout (payload =
utf-8 bytes) so the mapInPandas decode plumbing is checked against
plain SQL over the same bytes. ASCII-only properties (head_byte,
md5) agree between text and blob on this corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.multimodal import (
    AHASH_BITS,
    ahash_60bit,
    documents_as_media,
    fake_decode_pixel_features,
    payload_stats,
    sample_frames,
)
from caliper_poc_data_etl_spark.multimodal import PHASH_COS, phash_dct64, PHASH_PIXELS
from caliper_poc_data_etl_spark.queries.registry import query

FRAME_BYTES = 64


@query(
    "mm_payload_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,
           ord(substr(text, 1, 1)) AS head_byte
    FROM documents
    """,
)
def mm_payload_stats(spark, sf_dir):
    """Arrow-batched mapInPandas over binary payloads vs SQL over the
    same bytes — the canonical decode batch shape, oracle-checked."""
    return payload_stats(documents_as_media(spark, sf_dir)).withColumn(
        "head_byte", F.col("head_byte").cast("int")
    )


@query(
    "mm_frame_sample",
    oracle=f"""
    WITH f AS (
      SELECT doc_id AS media_id,
             CAST(ceil(octet_length(encode(text)) / {FRAME_BYTES}.0) AS INT) AS n_frames,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    )
    SELECT media_id, CAST(i AS INT) AS frame_idx,
           CAST(LEAST({FRAME_BYTES}, n_bytes - i * {FRAME_BYTES}) AS INT) AS frame_len
    FROM f, unnest(range(0, n_frames)) AS u(i)
    WHERE i % 2 = 0
    """,
)
def mm_frame_sample(spark, sf_dir):
    """Pure-Column frame sampling (binary substring over generated
    indexes) — zero Python; projected to frame lengths so the oracle
    compares scalars."""
    frames = sample_frames(documents_as_media(spark, sf_dir), FRAME_BYTES, every_n=2)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.length("frame").cast("int").alias("frame_len"),
    )


@query(
    "mm_audio_energy",
    oracle=f"""
    WITH f AS (
      SELECT doc_id AS media_id,
             CAST(ceil(octet_length(encode(text)) / {FRAME_BYTES}.0) AS INT)
               AS n_frames,
             hex(encode(text)) AS hx
      FROM documents
      WHERE octet_length(encode(text)) > 0
    ),
    frames AS (
      SELECT media_id, CAST(i AS INT) AS frame_idx,
             substr(hx, CAST(i * {FRAME_BYTES} * 2 + 1 AS BIGINT),
                    {FRAME_BYTES} * 2) AS fhx
      FROM f, unnest(range(0, n_frames)) AS u(i)
    ),
    samples AS (
      SELECT media_id, frame_idx,
             list_transform(range(1, CAST(len(fhx) / 2 AS BIGINT) + 1),
               j -> ('0x' || substr(fhx, (j - 1) * 2 + 1, 2))::BIGINT) AS s
      FROM frames
    )
    SELECT media_id, frame_idx,
           CAST(len(s) AS INT) AS n_samples,
           ROUND(list_sum(s) * 1.0 / len(s), 3) AS mean_sample,
           ROUND(sqrt(list_sum(list_transform(s, x -> x * x)) * 1.0 / len(s)), 3)
             AS rms
    FROM samples
    """,
)
def mm_audio_energy(spark, sf_dir):
    """Audio-feature access pattern: fixed-size frames over a binary
    payload, per-frame sample mean and RMS energy — entirely
    pure-Column (hex → per-byte parse → integer aggregate), zero
    Python, so it runs in codegen and parallelizes with the scan.

    Integer sums keep the math engine-exact; the single double
    division + sqrt at the end is IEEE-identical across engines, so
    the oracle hash-matches. Swap the hex parse for a real PCM decoder
    (mapInPandas) when samples are 16-bit/compressed — the frame
    plumbing stays the same."""
    frames = sample_frames(documents_as_media(spark, sf_dir), FRAME_BYTES, every_n=1)
    hx = F.hex(F.col("frame"))
    samples = F.transform(
        F.sequence(F.lit(1), F.length("frame")),
        lambda j: F.conv(F.substring(hx, (j - 1) * 2 + 1, 2), 16, 10).cast("long"),
    )
    s = F.col("s")
    n = F.size(s)
    ssum = F.aggregate(s, F.lit(0).cast("long"), lambda acc, x: acc + x)
    sqsum = F.aggregate(s, F.lit(0).cast("long"), lambda acc, x: acc + x * x)
    return (
        frames.select(
            "media_id",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            samples.alias("s"),
        )
        .select(
            "media_id",
            "frame_idx",
            n.cast("int").alias("n_samples"),
            F.round(ssum / n, 3).alias("mean_sample"),
            F.round(F.sqrt(sqsum / n), 3).alias("rms"),
        )
    )


@query(
    "mm_pixel_features",
    oracle="""
    WITH b AS (
      SELECT doc_id AS media_id,
             octet_length(encode(text)) AS n,
             hex(encode(text)) AS hx
      FROM documents
    ), px AS (
      SELECT media_id, n,
             list_transform(range(1, n + 1),
               i -> ('0x' || substr(hx, CAST((i - 1) * 2 + 1 AS BIGINT), 2))
                      ::BIGINT) AS p
      FROM b
    )
    SELECT media_id,
           CAST(n AS BIGINT) AS n_pixels,
           CASE WHEN n > 0 THEN list_sum(p) * 1.0 / n ELSE 0.0 END
             AS mean_pixel,
           CAST(CASE WHEN n > 0 THEN list_min(p) ELSE -1 END AS INT)
             AS min_pixel,
           CAST(CASE WHEN n > 0 THEN list_max(p) ELSE -1 END AS INT)
             AS max_pixel
    FROM px
    """,
)
def mm_pixel_features(spark, sf_dir):
    """Deterministic fake image decode (bytes→pixels) via mapInPandas —
    the REAL Arrow-batched binary-decode plumbing (numpy over payload
    bytes) — now oracle-checked against a pure-SQL decode of the SAME
    bytes (hex → per-byte parse → aggregate), the mm_audio_energy
    treatment.

    Cross-engine determinism without any rounding: pixel values are
    uint8 integers, so numpy's pairwise-summed .mean() accumulates
    exact integers in float64 (sums far below 2^53) and the final
    division is the one IEEE op — bit-identical to the oracle's
    list_sum(p)/n. min/max are integers; empty payloads emit
    (0, 0.0, -1, -1) on both sides."""
    return fake_decode_pixel_features(documents_as_media(spark, sf_dir))


_AHASH_BANDS = 4
_AHASH_BAND_BITS = 15  # 4 × 15 = 60 bits
_AHASH_MAX_HAMMING = 8


# The banding mirrors as a UNION ALL over the fixed band count —
# plain portable SQL.
def _ahash_oracle() -> str:
    bands = "\n      UNION ALL\n".join(
        f"""      SELECT media_id, ahash, {j} AS band_idx,
             (ahash >> {(_AHASH_BANDS - 1 - j) * _AHASH_BAND_BITS}) & 32767
               AS band_val FROM hashed"""
        for j in range(_AHASH_BANDS)
    )
    return f"""
    WITH bytes AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx
      FROM documents WHERE octet_length(encode(text)) >= {AHASH_BITS}
    ), px AS (
      SELECT media_id,
             list_transform(range(1, {AHASH_BITS} + 1),
               i -> ('0x' || substr(hx, (i - 1) * 2 + 1, 2))::BIGINT) AS b
      FROM bytes
    ), hashed AS (
      SELECT media_id,
             CAST(list_sum(list_transform(range(1, {AHASH_BITS} + 1),
               i -> CASE WHEN b[i] * {AHASH_BITS} > list_sum(b)
                    THEN (1::BIGINT << ({AHASH_BITS} - i)) ELSE 0 END))
               AS BIGINT) AS ahash
      FROM px
    ), bands AS (
{bands}
    ), cand AS (
      SELECT DISTINCT a.media_id AS ma, b.media_id AS mb,
             a.ahash AS ha, b.ahash AS hb
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.media_id < b.media_id
    ), near AS (
      SELECT ma, mb FROM cand
      WHERE bit_count(xor(ha, hb)) <= {_AHASH_MAX_HAMMING}
    ), partner_counts AS (
      SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_near FROM (
        SELECT ma AS media_id FROM near
        UNION ALL SELECT mb FROM near
      ) GROUP BY media_id
    )
    SELECT h.media_id, h.ahash, COALESCE(p.n_near, 0) AS n_near
    FROM hashed h LEFT JOIN partner_counts p USING (media_id)
    """


@query("mm_ahash_hamming_neardup", oracle=_ahash_oracle())
def mm_ahash_hamming_neardup(spark, sf_dir):
    """Perceptual-hash near-duplicate detection over binary media:
    aHash fingerprints (Arrow-batched numpy over the payload —
    :func:`multimodal.ahash_60bit`), LSH-style band blocking (4×15-bit
    bands; Hamming-≤8 pairs must agree exactly on ≥1 band, pigeonhole
    over 60/4 > 8/… guarantees recall for distance ≤ 3 and
    probabilistically above), then exact Hamming verification with
    ``bit_count(xor)`` on candidates only. Output: each media's hash
    and its near-duplicate partner count.

    This is the image-dedup pipeline shape (pHash/aHash → banded
    blocking → Hamming verify) with the decode stubbed to raw bytes;
    the hash stage is REAL mapInPandas plumbing and the oracle
    recomputes the identical fingerprint byte-for-byte in SQL, so the
    whole operator hash-matches cross-engine."""
    media = documents_as_media(spark, sf_dir).filter(
        F.length("payload") >= AHASH_BITS
    )
    hashed = ahash_60bit(media)
    band_structs = [
        F.struct(
            F.lit(j).alias("band_idx"),
            (
                F.shiftright(
                    F.col("ahash"), (_AHASH_BANDS - 1 - j) * _AHASH_BAND_BITS
                ).bitwiseAND(F.lit(32767))
            ).alias("band_val"),
        )
        for j in range(_AHASH_BANDS)
    ]
    bands = hashed.select(
        "media_id", "ahash", F.explode(F.array(*band_structs)).alias("b")
    ).select("media_id", "ahash", "b.band_idx", "b.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("ma"),
            F.col("b.media_id").alias("mb"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    near = cand.filter(
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= _AHASH_MAX_HAMMING
    )
    partners = (
        near.select(F.col("ma").alias("media_id"))
        .unionAll(near.select(F.col("mb").alias("media_id")))
        .groupBy("media_id")
        .agg(F.count("*").alias("n_near"))
    )
    return hashed.join(partners, "media_id", "left").select(
        "media_id",
        "ahash",
        F.coalesce("n_near", F.lit(0).cast("long")).alias("n_near"),
    )


_CUT_THRESHOLD = 4  # mean-byte jump (≈ p90 of frame deltas) that flags a cut


@query(
    "mm_video_scene_cuts",
    oracle=f"""
    WITH f AS (
      SELECT doc_id AS media_id,
             CAST(ceil(octet_length(encode(text)) / {FRAME_BYTES}.0) AS INT)
               AS n_frames,
             hex(encode(text)) AS hx
      FROM documents WHERE octet_length(encode(text)) > 0
    ), frames AS (
      SELECT media_id, CAST(i AS INT) AS idx,
             substr(hx, CAST(i * {FRAME_BYTES} * 2 + 1 AS BIGINT),
                    {FRAME_BYTES} * 2) AS fhx
      FROM f, unnest(range(0, n_frames)) AS u(i)
    ), sums AS (
      SELECT media_id, idx,
             list_sum(list_transform(range(1, CAST(len(fhx)/2 AS BIGINT) + 1),
               j -> ('0x' || substr(fhx, (j-1)*2+1, 2))::BIGINT)) AS s,
             CAST(len(fhx)/2 AS BIGINT) AS n
      FROM frames
    ), lagged AS (
      SELECT media_id, idx, s, n,
             LAG(s) OVER w AS ps, LAG(n) OVER w AS pn
      FROM sums WINDOW w AS (PARTITION BY media_id ORDER BY idx)
    ), cuts AS (
      SELECT media_id, idx,
             (ps IS NOT NULL AND
              abs(s * pn - ps * n) > {_CUT_THRESHOLD} * n * pn) AS is_cut
      FROM lagged
    )
    SELECT media_id,
           CAST(COUNT(*) AS INT) AS n_frames,
           CAST(COUNT(*) FILTER (WHERE is_cut) AS INT) AS n_cuts,
           CAST(MIN(CASE WHEN is_cut THEN idx END) AS INT) AS first_cut_idx
    FROM cuts GROUP BY media_id
    """,
)
def mm_video_scene_cuts(spark, sf_dir):
    """Scene-cut detection over framed binary media: per-frame mean
    intensity (byte mean as the luma stand-in), a cut wherever the
    mean jumps more than the threshold between consecutive frames —
    the shot-segmentation primitive every video-training pipeline runs
    before clip sampling (``mm_frame_sample`` picks WITHIN the shots
    this op finds). Pure-Column hex parsing like ``mm_audio_energy``;
    swap the byte mean for a real decoded-luma mean and the framing,
    lag, and thresholding stages are unchanged.

    Integer-exact everywhere: the unequal last frame makes the mean a
    rational s/n, so the jump test cross-multiplies —
    |s·pn − ps·n| > T·n·pn — and no division ever happens; the
    oracle agrees bit-for-bit with no rounding convention."""
    frames = sample_frames(documents_as_media(spark, sf_dir), FRAME_BYTES, every_n=1)
    hx = F.hex(F.col("frame"))
    samples = F.transform(
        F.sequence(F.lit(1), F.length("frame")),
        lambda j: F.conv(F.substring(hx, (j - 1) * 2 + 1, 2), 16, 10).cast("long"),
    )
    sums = frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("idx"),
        F.aggregate(samples, F.lit(0).cast("long"), lambda a, x: a + x).alias("s"),
        F.length("frame").cast("long").alias("n"),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("media_id").orderBy("idx")
    lagged = sums.select(
        "media_id",
        "idx",
        "s",
        "n",
        F.lag("s").over(w).alias("ps"),
        F.lag("n").over(w).alias("pn"),
    )
    is_cut = F.col("ps").isNotNull() & (
        F.abs(F.col("s") * F.col("pn") - F.col("ps") * F.col("n"))
        > _CUT_THRESHOLD * F.col("n") * F.col("pn")
    )
    return (
        lagged.withColumn("is_cut", is_cut)
        .groupBy("media_id")
        .agg(
            F.count("*").cast("int").alias("n_frames"),
            F.sum(F.col("is_cut").cast("int")).cast("int").alias("n_cuts"),
            F.min(F.when(F.col("is_cut"), F.col("idx")))
            .cast("int")
            .alias("first_cut_idx"),
        )
    )


# ---------------------------------------------------------------------------
# Audio silence segmentation (gaps-and-islands over frame energy)
# ---------------------------------------------------------------------------

_SIL_FRAME_BYTES = 64
_SIL_MEANSQ = 9800  # silent iff mean-square energy < threshold


@query(
    "mm_audio_silence_segments",
    oracle=f"""
    WITH f AS (
      SELECT doc_id AS media_id,
             CAST(ceil(octet_length(encode(text)) / {_SIL_FRAME_BYTES}.0)
               AS INT) AS n_frames,
             hex(encode(text)) AS hx
      FROM documents
      WHERE octet_length(encode(text)) > 0
    ), frames AS (
      SELECT media_id, CAST(i AS INT) AS frame_idx,
             substr(hx, CAST(i * {_SIL_FRAME_BYTES} * 2 + 1 AS BIGINT),
                    {_SIL_FRAME_BYTES} * 2) AS fhx
      FROM f, unnest(range(0, n_frames)) AS u(i)
    ), en AS (
      SELECT media_id, frame_idx,
             list_sum(list_transform(
               list_transform(range(1, CAST(len(fhx) / 2 AS BIGINT) + 1),
                 j -> ('0x' || substr(fhx, (j - 1) * 2 + 1, 2))::BIGINT),
               x -> x * x)) AS sq,
             CAST(len(fhx) / 2 AS BIGINT) AS n
      FROM frames
    ), sil AS (
      SELECT media_id, frame_idx,
             frame_idx - ROW_NUMBER() OVER (PARTITION BY media_id
                                            ORDER BY frame_idx) AS grp
      FROM en WHERE sq < n * {_SIL_MEANSQ}
    ), seg AS (
      SELECT media_id, grp,
             CAST(COUNT(*) AS BIGINT) AS seg_len,
             MIN(frame_idx) AS seg_start
      FROM sil GROUP BY media_id, grp
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(seg_len) AS BIGINT) AS n_silent_frames,
           CAST(MAX(seg_len) AS BIGINT) AS longest_run,
           CAST(MIN(seg_start) AS INT) AS first_silent_idx
    FROM seg GROUP BY media_id
    """,
)
def mm_audio_silence_segments(spark, sf_dir):
    """Silence segmentation over framed audio: frames whose
    mean-square sample energy falls below a threshold are silent, and
    consecutive silent frames merge into segments (gaps-and-islands on
    frame index) — the trim/split primitive of every speech pipeline
    (VAD front-ends do exactly this with a learned threshold).

    The threshold test is pure integer (sum-of-squares < n·T — no
    division, no sqrt), the framing is the shared pure-Column
    ``sample_frames`` plumbing (zero Python, codegen all the way), and
    the islands trick is one per-media window — so the whole operator
    is frame-scan + one narrow shuffle on media_id. Swap the byte
    parse for a PCM decoder at the energy step; everything downstream
    is unchanged."""
    from caliper_poc_data_etl_spark.multimodal import (
        documents_as_media,
        sample_frames,
    )

    frames = sample_frames(
        documents_as_media(spark, sf_dir), _SIL_FRAME_BYTES, every_n=1
    )
    hx = F.hex(F.col("frame"))
    samples = F.transform(
        F.sequence(F.lit(1), F.length("frame")),
        lambda j: F.conv(F.substring(hx, (j - 1) * 2 + 1, 2), 16, 10).cast("long"),
    )
    en = frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.aggregate(samples, F.lit(0).cast("long"), lambda a, x: a + x * x).alias(
            "sq"
        ),
        F.length("frame").cast("long").alias("n"),
    )
    sil = en.filter(F.col("sq") < F.col("n") * _SIL_MEANSQ).select(
        "media_id",
        "frame_idx",
        (
            F.col("frame_idx")
            - F.row_number().over(
                W.partitionBy("media_id").orderBy("frame_idx")
            )
        ).alias("grp"),
    )
    seg = sil.groupBy("media_id", "grp").agg(
        F.count("*").alias("seg_len"), F.min("frame_idx").alias("seg_start")
    )
    return seg.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum("seg_len").cast("long").alias("n_silent_frames"),
        F.max("seg_len").cast("long").alias("longest_run"),
        F.min("seg_start").cast("int").alias("first_silent_idx"),
    )


# ---------------------------------------------------------------------------
# DCT perceptual hash (pHash) over binary media
# ---------------------------------------------------------------------------

_PHASH_COS_SQL = "[" + ", ".join(str(c) for c in PHASH_COS) + "]"


@query(
    "mm_phash_dct",
    oracle=f"""
    WITH cost AS (
      -- the integer cos basis as a COLUMN: inlining the 64-literal
      -- list inside the DCT lambdas made DuckDB rebuild it per
      -- element access (measured 38.5 s -> 0.6 s at sf0.1,
      -- result-identical)
      SELECT {_PHASH_COS_SQL} AS C
    ), bytes AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx
      FROM documents WHERE octet_length(encode(text)) >= {PHASH_PIXELS}
    ), px AS (
      SELECT media_id, C,
             list_transform(range(1, {PHASH_PIXELS} + 1),
               i -> ('0x' || substr(hx, CAST((i - 1) * 2 + 1 AS BIGINT), 2))::BIGINT)
               AS b
      FROM bytes CROSS JOIN cost
    ), rowdct AS (
      SELECT media_id, C, b,
             list_transform(range(0, 64), uy ->
               list_sum(list_transform(range(0, 8), x ->
                 C[CAST((uy // 8) * 8 + x + 1 AS BIGINT)]
                 * b[CAST(x * 8 + (uy % 8) + 1 AS BIGINT)]))) AS tt
      FROM px
    ), coldct AS (
      SELECT media_id,
             list_transform(range(0, 64), uv ->
               list_sum(list_transform(range(0, 8), y ->
                 C[CAST((uv % 8) * 8 + y + 1 AS BIGINT)]
                 * tt[CAST((uv // 8) * 8 + y + 1 AS BIGINT)]))) AS d
      FROM rowdct
    ), med AS (
      SELECT media_id, d, list_sort(d)[32] AS med FROM coldct
    )
    SELECT media_id,
           CAST(list_sum(list_transform(range(32, 64), i ->
             CASE WHEN d[CAST(i + 1 AS BIGINT)] > med
                  THEN (1::BIGINT << CAST(i - 32 AS INT)) ELSE 0 END))
             AS BIGINT) AS phash_hi,
           CAST(list_sum(list_transform(range(0, 32), i ->
             CASE WHEN d[CAST(i + 1 AS BIGINT)] > med
                  THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END))
             AS BIGINT) AS phash_lo,
           CAST(len(list_filter(d, v -> v > med)) AS BIGINT) AS n_bits_set,
           CAST(d[1] AS BIGINT) AS dc_coeff,
           CAST(med AS BIGINT) AS median_coeff
    FROM med
    """,
)
def mm_phash_dct(spark, sf_dir):
    """pHash — the DCT perceptual hash (``mm_ahash_hamming_neardup``'s
    robust sibling: aHash thresholds raw pixels, pHash thresholds the
    low-frequency DCT spectrum, so it survives brightness/contrast
    shifts a real image pipeline sees). "Pixels" = the payload's first
    64 bytes as an 8x8 grayscale tile (the documented fake-decode
    stand-in; a real decoder resizes to 8x8 and the rest is
    unchanged). The 2-D DCT-II runs in EXACT int64 arithmetic against
    the integer-scaled cosine table :data:`multimodal.PHASH_COS`
    (generated once at import and embedded verbatim in this oracle —
    transcendental parity by construction); bit i = coefficient i
    above the lower median. Output: the hash as two 32-bit halves (no
    sign edge cases), bit count, DC coefficient and the median — the
    fields a Hamming-banding stage (exactly the aHash one) consumes.

    Scale shape: Arrow-batched mapInPandas, two fixed 8x8 integer
    matmuls per row (numpy over the batch), embarrassingly parallel,
    zero shuffle; memory bounded by Arrow batch size. Cites the mm
    layout contract in multimodal.py (payload binary + typed meta)."""
    media = documents_as_media(spark, sf_dir).filter(
        F.length("payload") >= PHASH_PIXELS
    )
    return phash_dct64(media)
