"""Semantic tests for the round-9 continuation batch
(queries/dedup.py, training.py, curation.py, multimodal_q.py,
similarity.py): pure-Python replicas of all five operators plus
the property/fixture pins the cross-engine hash cannot provide (the r8
Hilbert lesson: arithmetic that is generated identically for both
engines needs an INDEPENDENT replica and an algebraic property)."""

from __future__ import annotations

import hashlib
import math

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.multimodal import (
    PHASH_COS,
    PHASH_PIXELS,
    _PHASH_COS_SCALE,
)
from caliper_poc_data_etl_spark.queries import QUERIES
from caliper_poc_data_etl_spark.queries.dedup import (
    DECONTAM_COS_THRESHOLD,
    DECONTAM_EVAL_VEC_MOD,
)
from caliper_poc_data_etl_spark.queries.training import DP_WORLD_SIZE, SHUFFLE_EPOCHS
from caliper_poc_data_etl_spark.queries.curation import (
    FS_MATCH_THRESHOLD,
    FS_PRICE_TOL_CENTI,
    FS_W_BRAND_AGREE,
    FS_W_BRAND_DIS,
    FS_W_NAME_AGREE,
    FS_W_NAME_DIS,
    FS_W_PRICE_AGREE,
    FS_W_PRICE_DIS,
)


def _fetch(sf_dir: str, sql: str):
    con = duckdb.connect()
    return con.execute(sql.format(sf=sf_dir)).fetchall()


# ---------------------------------------------------------------------------
# decontam_embedding_cosine
# ---------------------------------------------------------------------------


def _dot_engine_order(a: np.ndarray, b: np.ndarray) -> float:
    """Engine-faithful dot: float32 products (both engines multiply
    the raw FLOAT elements) accumulated left-to-right in double."""
    prods = (a * b).astype(np.float64)  # float32 multiply, then widen
    acc = 0.0
    for p in prods:
        acc += float(p)
    return acc


class TestDecontamEmbeddingCosine:
    def test_python_replica(self, spark, sf_dir):
        rows = _fetch(
            sf_dir,
            "SELECT vec_id, embedding FROM '{sf}/embeddings.parquet' ORDER BY vec_id",
        )
        vecs = {vid: np.array(emb, dtype=np.float32) for vid, emb in rows}
        norms = {
            vid: math.sqrt(_dot_engine_order(v, v)) for vid, v in vecs.items()
        }
        ev = [v for v in vecs if v % DECONTAM_EVAL_VEC_MOD == 0]
        tr = [v for v in vecs if v % DECONTAM_EVAL_VEC_MOD != 0]
        want = {}
        for t_id in tr:
            hits = []
            for e_id in ev:
                cos = _dot_engine_order(vecs[t_id], vecs[e_id]) / (
                    norms[t_id] * norms[e_id]
                )
                if cos >= DECONTAM_COS_THRESHOLD:
                    hits.append((cos, e_id))
            if hits:
                best = max(hits, key=lambda h: (h[0], -h[1]))
                want[t_id] = (len(hits), best[1], round(best[0], 4))
        got = {
            r["train_id"]: (
                r["n_eval_matches"],
                r["best_eval_id"],
                round(r["best_cosine"], 4),
            )
            for r in QUERIES["decontam_embedding_cosine"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == want
        assert len(got) > 0  # fixture pin: threshold flags something

    def test_no_eval_vectors_in_output(self, spark, sf_dir):
        out = QUERIES["decontam_embedding_cosine"].spark(spark, sf_dir).collect()
        for r in out:
            assert r["train_id"] % DECONTAM_EVAL_VEC_MOD != 0
            assert r["best_eval_id"] % DECONTAM_EVAL_VEC_MOD == 0


# ---------------------------------------------------------------------------
# training_epoch_shuffle_order
# ---------------------------------------------------------------------------


class TestTrainingEpochShuffleOrder:
    def _replica(self, doc_ids):
        rows = []
        for e in range(SHUFFLE_EPOCHS):
            keyed = sorted(
                doc_ids,
                key=lambda d: (
                    hashlib.md5(f"{e}:{d}".encode()).hexdigest(),
                    d,
                ),
            )
            for pos, d in enumerate(keyed, start=1):
                rows.append(
                    (
                        e,
                        d,
                        pos,
                        (pos - 1) % DP_WORLD_SIZE,
                        (pos - 1) // DP_WORLD_SIZE,
                    )
                )
        return sorted(rows)

    def test_python_replica(self, spark, sf_dir):
        doc_ids = [
            r[0]
            for r in _fetch(sf_dir, "SELECT doc_id FROM '{sf}/documents.parquet'")
        ]
        want = self._replica(doc_ids)
        got = sorted(
            (r["epoch"], r["doc_id"], r["position"], r["dp_rank"], r["dp_step"])
            for r in QUERIES["training_epoch_shuffle_order"]
            .spark(spark, sf_dir)
            .collect()
        )
        assert got == want

    def test_each_epoch_is_a_permutation_and_orders_differ(self, spark, sf_dir):
        out = QUERIES["training_epoch_shuffle_order"].spark(spark, sf_dir).collect()
        by_epoch: dict[int, dict[int, int]] = {}
        for r in out:
            by_epoch.setdefault(r["epoch"], {})[r["doc_id"]] = r["position"]
        assert sorted(by_epoch) == list(range(SHUFFLE_EPOCHS))
        n = len(by_epoch[0])
        for e, order in by_epoch.items():
            assert sorted(order.values()) == list(range(1, n + 1))
        # the whole point of per-epoch keys: epochs see different orders
        assert by_epoch[0] != by_epoch[1] != by_epoch[2]

    def test_dp_ranks_balanced(self, spark, sf_dir):
        out = QUERIES["training_epoch_shuffle_order"].spark(spark, sf_dir).collect()
        counts: dict[tuple[int, int], int] = {}
        for r in out:
            counts[(r["epoch"], r["dp_rank"])] = (
                counts.get((r["epoch"], r["dp_rank"]), 0) + 1
            )
        for e in range(SHUFFLE_EPOCHS):
            per_rank = [counts.get((e, k), 0) for k in range(DP_WORLD_SIZE)]
            assert max(per_rank) - min(per_rank) <= 1


# ---------------------------------------------------------------------------
# er_fellegi_sunter_match
# ---------------------------------------------------------------------------


class TestErFellegiSunterMatch:
    def test_python_replica(self, spark, sf_dir):
        rows = _fetch(
            sf_dir,
            "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice "
            "FROM '{sf}/part.parquet'",
        )
        recs = []
        for pk, name, brand, ptype, size, price in rows:
            toks = name.split(" ")
            recs.append(
                (
                    pk,
                    toks[0],
                    toks[1] if len(toks) > 1 else None,
                    brand,
                    ptype,
                    size,
                    math.floor(price * 100 + 0.5),
                )
            )
        blocks: dict[tuple, list] = {}
        for r in recs:
            blocks.setdefault((r[4], r[5], r[2]), []).append(r)
        want = set()
        for key, members in blocks.items():
            if key[2] is None:
                continue
            members = sorted(members)
            for i, a in enumerate(members):
                for b in members[i + 1 :]:
                    na = int(a[1] == b[1])
                    ba = int(a[3] == b[3])
                    pa = int(abs(a[6] - b[6]) <= FS_PRICE_TOL_CENTI)
                    score = (
                        (FS_W_NAME_AGREE if na else FS_W_NAME_DIS)
                        + (FS_W_BRAND_AGREE if ba else FS_W_BRAND_DIS)
                        + (FS_W_PRICE_AGREE if pa else FS_W_PRICE_DIS)
                    )
                    if score >= FS_MATCH_THRESHOLD:
                        want.add((a[0], b[0], na, ba, pa, score))
        got = {
            (
                r["part_a"],
                r["part_b"],
                r["name_agree"],
                r["brand_agree"],
                r["price_agree"],
                r["fs_score"],
            )
            for r in QUERIES["er_fellegi_sunter_match"].spark(spark, sf_dir).collect()
        }
        assert got == want
        assert len(got) > 0  # fixture pin: some pairs link at this SF

    def test_threshold_is_the_two_of_three_rule(self, spark, sf_dir):
        # Every linked pair has >= 2 agreeing fields, and every
        # single-agreement score is below the threshold algebraically.
        singles = [
            FS_W_NAME_AGREE + FS_W_BRAND_DIS + FS_W_PRICE_DIS,
            FS_W_NAME_DIS + FS_W_BRAND_AGREE + FS_W_PRICE_DIS,
            FS_W_NAME_DIS + FS_W_BRAND_DIS + FS_W_PRICE_AGREE,
        ]
        assert all(s < FS_MATCH_THRESHOLD for s in singles)
        doubles = [
            FS_W_NAME_AGREE + FS_W_BRAND_AGREE + FS_W_PRICE_DIS,
            FS_W_NAME_AGREE + FS_W_BRAND_DIS + FS_W_PRICE_AGREE,
            FS_W_NAME_DIS + FS_W_BRAND_AGREE + FS_W_PRICE_AGREE,
        ]
        assert all(s >= FS_MATCH_THRESHOLD for s in doubles)
        out = QUERIES["er_fellegi_sunter_match"].spark(spark, sf_dir).collect()
        for r in out:
            assert r["name_agree"] + r["brand_agree"] + r["price_agree"] >= 2


# ---------------------------------------------------------------------------
# mm_phash_dct
# ---------------------------------------------------------------------------


def _phash_replica(payload: bytes):
    """Plain-Python pHash (no numpy): the independent replica."""
    if len(payload) < PHASH_PIXELS:
        return None
    p = [[payload[x * 8 + y] for y in range(8)] for x in range(8)]
    C = [[PHASH_COS[u * 8 + x] for x in range(8)] for u in range(8)]
    t = [
        [sum(C[u][x] * p[x][y] for x in range(8)) for y in range(8)]
        for u in range(8)
    ]
    d = [
        [sum(C[v][y] * t[u][y] for y in range(8)) for v in range(8)]
        for u in range(8)
    ]
    flat = [d[u][v] for u in range(8) for v in range(8)]
    med = sorted(flat)[31]
    bits = [v > med for v in flat]
    hi = sum(1 << (i - 32) for i in range(32, 64) if bits[i])
    lo = sum(1 << i for i in range(32) if bits[i])
    return hi, lo, sum(bits), flat[0], med


class TestMmPhashDct:
    def test_cos_table_regenerates(self):
        # Pin the table to its definition: round-half-up of
        # cos((2x+1) u pi / 16) * 2^15, DC row all +2^15.
        for u in range(8):
            for x in range(8):
                want = math.floor(
                    math.cos((2 * x + 1) * u * math.pi / 16) * _PHASH_COS_SCALE
                    + 0.5
                )
                assert PHASH_COS[u * 8 + x] == want
        assert PHASH_COS[:8] == [_PHASH_COS_SCALE] * 8

    def test_python_replica(self, spark, sf_dir):
        docs = _fetch(
            sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'"
        )
        want = {}
        for doc_id, text in docs:
            r = _phash_replica(text.encode("utf-8"))
            if r is not None:
                want[doc_id] = r
        got = {
            r["media_id"]: (
                r["phash_hi"],
                r["phash_lo"],
                r["n_bits_set"],
                r["dc_coeff"],
                r["median_coeff"],
            )
            for r in QUERIES["mm_phash_dct"].spark(spark, sf_dir).collect()
        }
        assert got == want
        assert len(got) > 0

    def test_bit_count_bounded_and_halves_unsigned(self, spark, sf_dir):
        out = QUERIES["mm_phash_dct"].spark(spark, sf_dir).collect()
        for r in out:
            # strictly-above-lower-median keeps at most 32 bits set,
            # and each 32-bit half stays nonnegative in signed BIGINT
            assert 0 <= r["n_bits_set"] <= 32
            assert 0 <= r["phash_hi"] < (1 << 32)
            assert 0 <= r["phash_lo"] < (1 << 32)

    def test_brightness_shift_robustness(self):
        # The pHash property aHash lacks: adding a constant to every
        # pixel moves ONLY the DC coefficient (row u=0 of the basis is
        # constant, every other row sums to ~0 exactly in the integer
        # table: sum of C[u][x] over x is 0 for odd u and tiny for
        # even u — the AC bit pattern is invariant).
        base = bytes(range(64))
        shifted = bytes(min(255, b + 16) for b in base)
        r0 = _phash_replica(base)
        r1 = _phash_replica(shifted)
        # AC bits identical <=> hashes agree outside bit 0 (the DC bit)
        assert r0[0] == r1[0]  # hi half has no DC bit
        assert (r0[1] | 1) == (r1[1] | 1)

    def test_constant_payload_degenerate(self):
        # Constant tile: every AC coefficient is 0 (odd-u basis rows
        # sum to 0 exactly; even rows cancel pairwise), median 0, so
        # only the DC bit can be set.
        r = _phash_replica(bytes([7] * 64))
        hi, lo, nbits, dc, med = r
        assert hi == 0 and lo == 1 and nbits == 1
        assert med == 0
        assert dc == 7 * 64 * _PHASH_COS_SCALE * _PHASH_COS_SCALE


# ---------------------------------------------------------------------------
# embed_residual_quantize
# ---------------------------------------------------------------------------


def _quant(vals, scale):
    if scale == 0:
        return [0] * len(vals)
    return [
        int(max(-127, min(127, math.floor(v / scale + 0.5)))) for v in vals
    ]


class TestEmbedResidualQuantize:
    def test_python_replica(self, spark, sf_dir):
        rows = _fetch(
            sf_dir,
            "SELECT vec_id, embedding FROM '{sf}/embeddings.parquet'",
        )
        want = {}
        for vid, emb in rows:
            x = [float(np.float32(v)) for v in emb]
            s1 = max(abs(v) for v in x) / 127.0
            q1 = _quant(x, s1)
            r = [xi - qi * s1 for xi, qi in zip(x, q1)]
            s2 = max(abs(v) for v in r) / 127.0
            q2 = _quant(r, s2)
            want[vid] = (
                round(s1, 6),
                round(s2, 8),
                sum(q1),
                sum(q2),
                sum(q * q for q in q1),
                sum(q * q for q in q2),
            )
        got = {
            r["vec_id"]: (
                round(r["scale1"], 6),
                round(r["scale2"], 8),
                r["q1_sum"],
                r["q2_sum"],
                r["q1_sq_sum"],
                r["q2_sq_sum"],
            )
            for r in QUERIES["embed_residual_quantize"].spark(spark, sf_dir).collect()
        }
        assert set(got) == set(want)
        for vid in want:
            g, w = got[vid], want[vid]
            assert g[2:] == w[2:], vid  # integer checksums exact
            assert g[0] == pytest.approx(w[0], abs=1e-6)
            assert g[1] == pytest.approx(w[1], abs=1e-8)

    def test_residual_refinement_shrinks_error(self, sf_dir):
        # The point of the second level: 2-stage reconstruction error
        # is strictly smaller than 1-stage wherever the residual is
        # nonzero (replica-side check; the graded output carries the
        # integer code checksums, not the float errors).
        rows = _fetch(
            sf_dir, "SELECT vec_id, embedding FROM '{sf}/embeddings.parquet' LIMIT 100"
        )
        improved = 0
        for _vid, emb in rows:
            x = [float(np.float32(v)) for v in emb]
            s1 = max(abs(v) for v in x) / 127.0
            q1 = _quant(x, s1)
            r = [xi - qi * s1 for xi, qi in zip(x, q1)]
            s2 = max(abs(v) for v in r) / 127.0
            q2 = _quant(r, s2)
            e1 = sum(v * v for v in r)
            e2 = sum((v - q * s2) ** 2 for v, q in zip(r, q2))
            assert e2 <= e1 + 1e-18
            if e2 < e1:
                improved += 1
        assert improved > 90  # refinement is real, not a no-op

    def test_zero_and_constant_vectors_degenerate(self, spark, tmp_path):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "vec_id": [1, 2],
                "embedding": [
                    np.zeros(8, dtype=np.float32),
                    np.full(8, 2.5, dtype=np.float32),
                ],
                "label": [0, 1],
            }
        )
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            str(tmp_path / "embeddings.parquet")
        )
        out = {
            r["vec_id"]: r
            for r in QUERIES["embed_residual_quantize"]
            .spark(spark, str(tmp_path))
            .collect()
        }
        # zero vector: both scales 0, all codes 0 (the scale guard)
        z = out[1]
        assert z["scale1"] == 0.0 and z["scale2"] == 0.0
        assert z["q1_sum"] == 0 and z["q2_sum"] == 0 and z["q1_sq_sum"] == 0
        # constant vector: every dim quantizes to exactly 127,
        # residual exactly 0 (2.5/ (2.5/127) = 127 exact), level 2 idle
        c = out[2]
        assert c["q1_sum"] == 8 * 127 and c["q1_sq_sum"] == 8 * 127 * 127
        assert c["scale2"] == 0.0 and c["q2_sum"] == 0


class TestErFellegiSunterSingleTokenGuard:
    def test_single_token_names_excluded_on_both_engines(self, spark, tmp_path):
        # DuckDB split_part -> '' vs Spark getItem -> NULL for a
        # one-word p_name: without the shared explicit guard the ''
        # rows would block together on one engine and vanish on the
        # other. Synthetic catalog: two single-token parts that agree
        # on everything must produce NO pair; two-token twins must.
        rows = [
            (1, "widget", "Brand#1", "ECONOMY", 5, 100.0),
            (2, "widget", "Brand#1", "ECONOMY", 5, 100.5),
            (3, "red gear", "Brand#2", "SMALL", 7, 200.0),
            (4, "red gear", "Brand#2", "SMALL", 7, 200.5),
        ]
        spark.createDataFrame(
            rows,
            "p_partkey long, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
        ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
        out = QUERIES["er_fellegi_sunter_match"].spark(spark, str(tmp_path))
        got = {(r["part_a"], r["part_b"]) for r in out.collect()}
        assert got == {(3, 4)}
        # and the oracle agrees on the same synthetic catalog
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW part AS SELECT * FROM "
            f"read_parquet('{tmp_path}/part.parquet/*.parquet')"
        )
        oracle_rows = con.execute(
            QUERIES["er_fellegi_sunter_match"].oracle
        ).fetchall()
        assert {(r[0], r[1]) for r in oracle_rows} == {(3, 4)}
