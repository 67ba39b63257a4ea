"""Semantic tests for the round-9 continuation batch 2
(queries/relational.py, timeseries.py,
curation.py, streaming_replay.py, similarity.py): pure-Python replicas plus property/degenerate
pins for all five operators."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import duckdb
import pytest
from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.queries import QUERIES
from caliper_poc_data_etl_spark.queries.timeseries import (
    DENSITY_MIN_NBR,
    PATH_LEN,
    PATH_TOPK,
)
from caliper_poc_data_etl_spark.queries.relational import (
    HLL_ALPHA_MILLI,
    HLL_LC_CUTOFF_MILLI,
    HLL_LC_MILLI,
    HLL_M,
    HLL_R_CAP,
    HLL_W_BITS,
)
from caliper_poc_data_etl_spark.queries.curation import RECON_TOL_CENTI


def _fetch(sf_dir: str, sql: str):
    con = duckdb.connect()
    return con.execute(sql.format(sf=sf_dir)).fetchall()


# ---------------------------------------------------------------------------
# agg_hll_md5_parity
# ---------------------------------------------------------------------------


def _hll_replica(pairs):
    regs: dict[str, dict[int, int]] = defaultdict(dict)
    nb: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for et, uid in set(pairs):
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:13], 16)
        bkt, w = h % HLL_M, h // HLL_M
        rho = (HLL_W_BITS + 1) if w == 0 else (HLL_W_BITS + 1) - w.bit_length()
        regs[et][bkt] = max(regs[et].get(bkt, 0), rho)
        nb[et][bkt] += 1
    out = {}
    for et, r in regs.items():
        zs = sum(1 << (HLL_W_BITS + 1 - m) for m in r.values()) + (
            HLL_M - len(r)
        ) * (1 << (HLL_W_BITS + 1))
        inv = min(((1 << (HLL_W_BITS + 1)) * 1000) // zs, HLL_R_CAP)
        raw = HLL_ALPHA_MILLI * HLL_M * HLL_M * inv // 1000
        v_zero = HLL_M - len(r)
        if v_zero > 0 and raw <= HLL_LC_CUTOFF_MILLI:
            est = HLL_M * HLL_LC_MILLI[v_zero - 1]
        else:
            est = raw
        out[et] = (
            sum(nb[et].values()),
            est,
            len(r),
            sum(m * (b + 1) for b, m in r.items()),
        )
    return out


class TestAggHllMd5Parity:
    def test_python_replica(self, spark, sf_dir):
        pairs = _fetch(
            sf_dir,
            "SELECT event_type, user_id FROM '{sf}/events.parquet'",
        )
        want = _hll_replica(pairs)
        got = {
            r["event_type"]: (
                r["n_exact"],
                r["hll_est_milli"],
                r["n_buckets_hit"],
                r["register_checksum"],
            )
            for r in QUERIES["agg_hll_md5_parity"].spark(spark, sf_dir).collect()
        }
        assert got == want

    def test_estimate_within_sketch_error(self, spark, sf_dir):
        # With the linear-counting small-range branch the estimator
        # is tight in the fixture regime (LC error ~sqrt(m)/m scale);
        # allow ~3x the m=64 standard error (13%).
        out = QUERIES["agg_hll_md5_parity"].spark(spark, sf_dir).collect()
        assert len(out) > 0
        for r in out:
            est = r["hll_est_milli"] / 1000.0
            assert est == pytest.approx(r["n_exact"], rel=0.4)

    def test_registers_merge_across_shards(self, sf_dir):
        # Mergeability: HLL of a union = elementwise max of registers.
        pairs = _fetch(
            sf_dir, "SELECT event_type, user_id FROM '{sf}/events.parquet'"
        )
        half_a = [p for p in pairs if p[1] % 2 == 0]
        half_b = [p for p in pairs if p[1] % 2 == 1]
        whole = _hll_replica(pairs)
        merged: dict[str, dict[int, int]] = defaultdict(dict)
        for half in (half_a, half_b):
            for et, uid in set(half):
                h = int(hashlib.md5(str(uid).encode()).hexdigest()[:13], 16)
                bkt, w = h % HLL_M, h // HLL_M
                rho = (
                    (HLL_W_BITS + 1)
                    if w == 0
                    else (HLL_W_BITS + 1) - w.bit_length()
                )
                merged[et][bkt] = max(merged[et].get(bkt, 0), rho)
        for et in whole:
            checksum = sum(m * (b + 1) for b, m in merged[et].items())
            assert checksum == whole[et][3]


# ---------------------------------------------------------------------------
# funnel_path_topk
# ---------------------------------------------------------------------------


class TestFunnelPathTopk:
    def test_python_replica(self, spark, sf_dir):
        rows = _fetch(
            sf_dir,
            "SELECT user_id, event_type, ts, event_id FROM '{sf}/events.parquet'",
        )
        by_user: dict[int, list] = defaultdict(list)
        for uid, et, ts, eid in rows:
            by_user[uid].append((ts, eid, et))
        counts: dict[str, int] = defaultdict(int)
        for uid, evs in by_user.items():
            evs.sort()
            path = ">".join(e[2] for e in evs[:PATH_LEN])
            counts[path] += 1
        want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:PATH_TOPK]
        got = [
            (r["path"], r["n_users"])
            for r in QUERIES["funnel_path_topk"].spark(spark, sf_dir).collect()
        ]
        assert sorted(got, key=lambda kv: (-kv[1], kv[0])) == want

    def test_paths_have_expected_arity(self, spark, sf_dir):
        out = QUERIES["funnel_path_topk"].spark(spark, sf_dir).collect()
        assert 0 < len(out) <= PATH_TOPK
        for r in out:
            assert 1 <= len(r["path"].split(">")) <= PATH_LEN
            assert r["n_users"] >= 1


# ---------------------------------------------------------------------------
# mix_round_robin_interleave
# ---------------------------------------------------------------------------


class TestMixRoundRobinInterleave:
    def test_python_replica(self, spark, sf_dir):
        rows = _fetch(
            sf_dir, "SELECT doc_id, source FROM '{sf}/documents.parquet'"
        )
        by_src: dict[str, list[int]] = defaultdict(list)
        for did, src in rows:
            by_src[src].append(did)
        entries = []
        for src, dids in by_src.items():
            for p, did in enumerate(sorted(dids), start=1):
                entries.append((p, src, did))
        entries.sort()
        want = {
            did: (src, p, g + 1) for g, (p, src, did) in enumerate(entries)
        }
        got = {
            r["doc_id"]: (r["source"], r["src_pos"], r["global_pos"])
            for r in QUERIES["mix_round_robin_interleave"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == want

    def test_interleave_properties(self, spark, sf_dir):
        out = QUERIES["mix_round_robin_interleave"].spark(spark, sf_dir).collect()
        n = len(out)
        # global_pos is a permutation of 1..n
        assert sorted(r["global_pos"] for r in out) == list(range(1, n + 1))
        # round p of every source precedes round p+1 of every source:
        # the interleave key is (src_pos, source)
        by_global = sorted(out, key=lambda r: r["global_pos"])
        seen_rounds = [r["src_pos"] for r in by_global]
        assert seen_rounds == sorted(seen_rounds)
        # within a source, document order is preserved
        per_src_positions: dict[str, list[int]] = defaultdict(list)
        for r in by_global:
            per_src_positions[r["source"]].append(r["src_pos"])
        for src, poss in per_src_positions.items():
            assert poss == sorted(poss)
        # every source appears exactly once in round 1: the head of the
        # stream holds one document from each source
        first_round = [r for r in by_global[: len(per_src_positions)]]
        assert {r["source"] for r in first_round} == set(per_src_positions)


# ---------------------------------------------------------------------------
# anomaly_grid_density_events
# ---------------------------------------------------------------------------


class TestAnomalyGridDensityEvents:
    def test_python_replica(self, spark, sf_dir):
        rows = _fetch(
            sf_dir, "SELECT user_id, ts FROM '{sf}/events.parquet'"
        )
        cells: dict[tuple[int, int], int] = defaultdict(int)
        for uid, ts in rows:
            cells[(uid, ts.hour)] += 1
        want = {}
        for (uid, h), n in cells.items():
            nbr = sum(
                cells.get((uid, hh), 0) for hh in (h - 1, h, h + 1)
            )
            if nbr < DENSITY_MIN_NBR:
                want[(uid, h)] = (n, nbr)
        got = {
            (r["user_id"], r["hour"]): (r["n_cell"], r["n_nbr"])
            for r in QUERIES["anomaly_grid_density_events"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == want
        assert len(got) > 0

    def test_isolated_event_is_noise(self, spark, tmp_path):
        # One user: a dense morning block and a single isolated
        # midnight event — only the midnight cell is noise.
        rows = []
        eid = 0
        for m in range(6):
            rows.append((eid, f"2024-01-01 09:{m:02d}:00", 1, "click", 1.0, "{}"))
            eid += 1
        rows.append((eid, "2024-01-03 00:30:00", 1, "click", 1.0, "{}"))
        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
        out = QUERIES["anomaly_grid_density_events"].spark(spark, str(tmp_path))
        got = [(r["user_id"], r["hour"], r["n_cell"], r["n_nbr"]) for r in out.collect()]
        assert got == [(1, 0, 1, 1)]


# ---------------------------------------------------------------------------
# dq_cross_table_reconciliation
# ---------------------------------------------------------------------------


class TestDqCrossTableReconciliation:
    def test_python_replica(self, spark, sf_dir):
        lines = _fetch(
            sf_dir,
            "SELECT l_orderkey, l_extendedprice, l_discount, l_tax "
            "FROM '{sf}/lineitem.parquet'",
        )
        orders = _fetch(
            sf_dir,
            "SELECT o_orderkey, o_orderpriority, o_totalprice "
            "FROM '{sf}/orders.parquet'",
        )
        lsum: dict[int, int] = defaultdict(int)
        lcount: dict[int, int] = defaultdict(int)
        for ok, ext, disc, tax in lines:
            lsum[ok] += math.floor(((ext * (1 - disc)) * (1 + tax)) * 100 + 0.5)
            lcount[ok] += 1
        agg: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0, 0])
        for ok, prio, total in orders:
            hdr = math.floor(total * 100 + 0.5)
            lc = lsum.get(ok, 0)
            d = lc - hdr
            a = agg[prio]
            a[0] += 1
            a[1] += 1 if ok not in lcount else 0
            a[2] += 1 if abs(d) > RECON_TOL_CENTI else 0
            a[3] = max(a[3], abs(d))
            a[4] += d
        got = {
            r["o_orderpriority"]: (
                r["n_orders"],
                r["n_no_lines"],
                r["n_mismatch"],
                r["max_abs_diff_centi"],
                r["sum_diff_centi"],
            )
            for r in QUERIES["dq_cross_table_reconciliation"]
            .spark(spark, sf_dir)
            .collect()
        }
        want = {p: tuple(a) for p, a in agg.items()}
        assert got == want

    def test_reconciled_fixture_reports_clean(self, spark, tmp_path):
        # A header that EQUALS its line recompute must not be flagged
        # (the report's clean path, absent from the driver fixture).
        line = (1, 1, 1, 1, 1.0, 200.0, 0.1, 0.05, "N", "O", "1995-01-01 00:00:00")
        hdr_centi = math.floor(((200.0 * 0.9) * 1.05) * 100 + 0.5)
        spark.createDataFrame(
            [line],
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, "
            "l_shipdate string",
        ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp")).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "lineitem.parquet"))
        spark.createDataFrame(
            [(1, "1-URGENT", hdr_centi / 100.0)],
            "o_orderkey long, o_orderpriority string, o_totalprice double",
        ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
        out = QUERIES["dq_cross_table_reconciliation"].spark(spark, str(tmp_path))
        rows = out.collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["n_orders"] == 1 and r["n_mismatch"] == 0 and r["n_no_lines"] == 0
        assert r["max_abs_diff_centi"] <= RECON_TOL_CENTI


# ---------------------------------------------------------------------------
# stream_hll_distinct_replay
# ---------------------------------------------------------------------------


class TestStreamHllDistinctReplay:
    def test_replay_matches_batch_replica(self, spark, sf_dir):
        # The replayed streaming state must equal the from-scratch
        # batch computation: per-day registers -> same estimator as
        # agg_hll_md5_parity (max-merge across micro-batches is the
        # HLL shard merge).
        rows = _fetch(
            sf_dir, "SELECT user_id, ts FROM '{sf}/events.parquet'"
        )
        regs: dict[str, dict[int, int]] = defaultdict(dict)
        for uid, ts in rows:
            day = ts.strftime("%Y-%m-%d 00:00:00")
            h = int(hashlib.md5(str(uid).encode()).hexdigest()[:13], 16)
            bkt, w = h % HLL_M, h // HLL_M
            rho = (HLL_W_BITS + 1) if w == 0 else (HLL_W_BITS + 1) - w.bit_length()
            regs[day][bkt] = max(regs[day].get(bkt, 0), rho)
        want = {}
        for day, r in regs.items():
            zs = sum(1 << (HLL_W_BITS + 1 - m) for m in r.values()) + (
                HLL_M - len(r)
            ) * (1 << (HLL_W_BITS + 1))
            inv = min(((1 << (HLL_W_BITS + 1)) * 1000) // zs, HLL_R_CAP)
            raw = HLL_ALPHA_MILLI * HLL_M * HLL_M * inv // 1000
            v = HLL_M - len(r)
            est = HLL_M * HLL_LC_MILLI[v - 1] if v > 0 and raw <= HLL_LC_CUTOFF_MILLI else raw
            want[day] = (est, len(r), sum(m * (b + 1) for b, m in r.items()))
        got = {
            r["window_start"]: (
                r["hll_est_milli"],
                r["n_buckets_hit"],
                r["register_checksum"],
            )
            for r in QUERIES["stream_hll_distinct_replay"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == want
        assert len(got) > 1  # multiple day windows in the fixture


class TestHllIntegralDivision:
    def test_double_division_class_is_real_and_avoided(self, spark):
        # Regression pin for the estimator's `div` (not `/`) choice:
        # the numerator 2^47*1000 exceeds 2^53, so a double `/` rounds
        # the operand BEFORE dividing. zs=69 is a concrete witness
        # (reachable: 64 registers summing 2^(47-m_j) can hit 69) —
        # float division lands one above the exact floor.
        num = (1 << (HLL_W_BITS + 1)) * 1000
        zs = 69
        assert int(float(num) / zs) == num // zs + 1  # the broken path
        got = (
            spark.range(1)
            .selectExpr(f"{num}L div {zs}L as q")
            .collect()[0]["q"]
        )
        assert got == num // zs  # Spark integral div matches the oracle's //


# ---------------------------------------------------------------------------
# embed_jl_projection_parity
# ---------------------------------------------------------------------------


class TestEmbedJlProjectionParity:
    def test_python_replica(self, spark, sf_dir):
        import numpy as np

        from caliper_poc_data_etl_spark.queries.similarity import (
            JL_K,
            JL_MICRO,
            JL_SIGNS,
        )

        rows = _fetch(
            sf_dir, "SELECT vec_id, embedding FROM '{sf}/embeddings.parquet'"
        )
        want = {}
        for vid, emb in rows:
            xm = [
                math.floor(float(np.float32(v)) * JL_MICRO + 0.5) for v in emb
            ]
            ms = [
                sum(x * s for x, s in zip(xm, JL_SIGNS[j])) for j in range(JL_K)
            ]
            want[vid] = (ms[0], ms[1], ms[2], ms[3], sum(m * m for m in ms))
        got = {
            r["vec_id"]: (
                r["proj0_micro"],
                r["proj1_micro"],
                r["proj2_micro"],
                r["proj3_micro"],
                r["l2sq_micro"],
            )
            for r in QUERIES["embed_jl_projection_parity"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == want

    def test_jl_norm_preservation(self, sf_dir):
        # E[||Px||^2] = K * ||x||^2 for +-1 sign projections; over the
        # fixture the mean ratio must sit near 1 (the lemma's content —
        # the cross-engine hash proves parity, not geometry).
        import numpy as np

        from caliper_poc_data_etl_spark.queries.similarity import JL_K, JL_SIGNS

        rows = _fetch(
            sf_dir, "SELECT embedding FROM '{sf}/embeddings.parquet'"
        )
        S = np.array(JL_SIGNS, dtype=np.float64)
        ratios = []
        for (emb,) in rows:
            x = np.array(emb, dtype=np.float64)
            nx = float(x @ x)
            if nx == 0:
                continue
            p = S @ x
            ratios.append(float(p @ p) / (JL_K * nx))
        mean_ratio = sum(ratios) / len(ratios)
        assert 0.8 < mean_ratio < 1.2

    def test_sign_matrix_regenerates(self):
        import hashlib

        from caliper_poc_data_etl_spark.queries.similarity import JL_D, JL_K, JL_SIGNS

        for j in range(JL_K):
            for d in range(JL_D):
                want = (
                    1
                    if int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[0], 16)
                    % 2
                    == 0
                    else -1
                )
                assert JL_SIGNS[j][d] == want
