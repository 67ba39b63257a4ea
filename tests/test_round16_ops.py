"""Semantic tests for the round-10 ops (queries/streaming_replay.py, timeseries.py, relational.py):
pure-Python replicas plus the properties the cross-engine hash cannot
prove — SCD2 interval algebra, sketch mergeability, rank accuracy, and
the stream-static replay's agreement with its batch twin."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import duckdb

from caliper_poc_data_etl_spark.queries import QUERIES
from caliper_poc_data_etl_spark.queries.relational import KLL_K


def _fetch(sf_dir: str, sql: str):
    con = duckdb.connect()
    return con.execute(sql.format(sf=sf_dir)).fetchall()


# ---------------------------------------------------------------------------
# scd2_dimension_history
# ---------------------------------------------------------------------------


def _scd2_replica(rows):
    """Pure-Python change-collapse + tombstone-close over
    (user_id, event_type, ts, event_id) rows."""
    by_user: dict[int, list] = defaultdict(list)
    for uid, etype, ts, eid in rows:
        by_user[uid].append((ts, eid, etype))
    out = []
    for uid, evs in by_user.items():
        evs.sort()
        chg = []
        prev = None
        for ts, eid, etype in evs:
            if prev is None or etype != prev:
                chg.append((ts, eid, etype))
            prev = etype
        for i, (ts, eid, etype) in enumerate(chg):
            valid_to = chg[i + 1][0] if i + 1 < len(chg) else None
            if etype == "error":
                continue
            out.append((uid, etype, i + 1, ts, valid_to))
    return out


class TestScd2DimensionHistory:
    def test_python_replica(self, spark, sf_dir):
        rows = _fetch(
            sf_dir,
            "SELECT user_id, event_type, ts, event_id "
            "FROM '{sf}/events.parquet'",
        )
        fmt = "%Y-%m-%d %H:%M:%S.%f"
        want = {
            (uid, seq): (etype, vf.strftime(fmt), vt.strftime(fmt) if vt else None)
            for uid, etype, seq, vf, vt in _scd2_replica(rows)
        }
        got = {
            (r["user_id"], r["version_seq"]): (
                r["event_type"],
                r["valid_from"],
                r["valid_to"],
            )
            for r in QUERIES["scd2_dimension_history"].spark(spark, sf_dir).collect()
        }
        assert got == want
        assert len(got) > 0

    def test_interval_algebra(self, spark, sf_dir):
        # THE invariants (VERDICT r9 demand #4): per key — intervals
        # never overlap, never gap, at most one open row; a key whose
        # history ends in a tombstone has no open row; consecutive
        # versions always change the attribute.
        out = QUERIES["scd2_dimension_history"].spark(spark, sf_dir).collect()
        by_user: dict[int, list] = defaultdict(list)
        for r in out:
            by_user[r["user_id"]].append(r)
        rows = _fetch(
            sf_dir,
            "SELECT user_id, event_type, ts, event_id "
            "FROM '{sf}/events.parquet'",
        )
        last_type: dict[int, str] = {}
        for uid, etype, ts, eid in sorted(rows, key=lambda x: (x[0], x[2], x[3])):
            last_type[uid] = etype
        for uid, versions in by_user.items():
            versions.sort(key=lambda r: r["version_seq"])
            open_rows = [v for v in versions if v["valid_to"] is None]
            assert len(open_rows) <= 1, uid
            assert last_type[uid] != "error" or not open_rows, uid
            for v in versions:
                assert v["is_current"] == (v["valid_to"] is None)
                if v["valid_to"] is not None:
                    assert v["valid_from"] < v["valid_to"], (uid, v)
            # adjacency (no gap/overlap) holds between versions whose
            # seqs are consecutive (a dropped tombstone between two
            # surviving versions legitimately leaves a closed gap —
            # the key did not exist there)
            for a, b in zip(versions, versions[1:]):
                if b["version_seq"] == a["version_seq"] + 1:
                    assert a["valid_to"] == b["valid_from"], (uid, a, b)
                    assert a["event_type"] != b["event_type"], (uid, a, b)

    def test_collapse_vs_observation_scd2(self, spark, sf_dir):
        # The dimension build must never have MORE versions than the
        # observation-level scd2, and strictly fewer when any user
        # repeats an event_type consecutively (this fixture does).
        dim = QUERIES["scd2_dimension_history"].spark(spark, sf_dir).count()
        obs = QUERIES["scd2_event_intervals"].spark(spark, sf_dir).count()
        assert dim < obs


# ---------------------------------------------------------------------------
# agg_kll_quantile_sketch
# ---------------------------------------------------------------------------


def _u52(key) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:13], 16)


def _level(n: int, k: int = KLL_K) -> int:
    m = (n + k - 1) // k
    return 0 if m <= 1 else (m - 1).bit_length()


def _survivors(rows, level):
    thr = 1 << (52 - level)
    return [r for r in rows if _u52(r[1]) < thr]


def _decile_answers(rows):
    """(decile -> est_centi, level, n_surv) replica of the sketch."""
    n = len(rows)
    level = _level(n)
    surv = sorted(_survivors(rows, level))
    n_surv = len(surv)
    w_total = n_surv << level
    pw = 1 << level
    answers = {}
    for d in range(1, 10):
        target = (d * w_total + 9) // 10
        rn = (target + pw - 1) // pw
        answers[d] = surv[rn - 1][0]
    return answers, level, n_surv


class TestAggKllQuantileSketch:
    def _rows(self, sf_dir):
        raw = _fetch(
            sf_dir,
            "SELECT o_orderkey, o_totalprice FROM '{sf}/orders.parquet'",
        )
        return [(int(math.floor(p * 100 + 0.5)), k) for k, p in raw]

    def test_python_replica(self, spark, sf_dir):
        rows = self._rows(sf_dir)
        answers, level, n_surv = _decile_answers(rows)
        out = QUERIES["agg_kll_quantile_sketch"].spark(spark, sf_dir).collect()
        assert len(out) == 9
        for r in out:
            assert r["est_centi"] == answers[r["decile"]]
            assert r["level"] == level
            assert r["n_survivors"] == n_surv
            assert r["w_total"] == n_surv << level
            assert r["n_rows"] == len(rows)

    def test_fixed_size(self, spark, sf_dir):
        # The whole point vs the centi-grid summary: survivors bounded
        # by ~k regardless of n or the value domain (expected in
        # (k/2, k]; deterministic fixture pinned under 2k).
        rows = self._rows(sf_dir)
        _, level, n_surv = _decile_answers(rows)
        assert n_surv < 2 * KLL_K
        assert len(rows) <= (KLL_K << level)

    def test_exact_mergeability(self, sf_dir):
        # sketch(A ∪ B) == merge(sketch(A), sketch(B)): survival
        # predicates are nested across levels, so re-subsampling the
        # parts' survivor sets to the union's level reproduces the
        # union's survivor set EXACTLY — the HLL shard-merge analog.
        rows = self._rows(sf_dir)
        a = [r for r in rows if r[1] % 2 == 0]
        b = [r for r in rows if r[1] % 2 == 1]
        la, lb = _level(len(a)), _level(len(b))
        lu = _level(len(rows))
        assert lu >= max(la, lb)
        merged = _survivors(_survivors(a, la) + _survivors(b, lb), lu)
        direct = _survivors(rows, lu)
        assert sorted(merged) == sorted(direct)

    def test_rank_accuracy(self, spark, sf_dir):
        # Each decile estimate's TRUE rank must sit within the
        # uniform-sample bound of its target (generous 4σ envelope —
        # deterministic fixture, no flake).
        rows = self._rows(sf_dir)
        values = sorted(v for v, _ in rows)
        n = len(values)
        _, _, n_surv = _decile_answers(rows)
        tol = 4 * math.sqrt(0.25 / n_surv)
        out = QUERIES["agg_kll_quantile_sketch"].spark(spark, sf_dir).collect()
        import bisect

        for r in out:
            lo = bisect.bisect_left(values, r["est_centi"]) / n
            hi = bisect.bisect_right(values, r["est_centi"]) / n
            q = r["decile"] / 10
            # distance from the target quantile to the est value's
            # true rank INTERVAL (value may repeat)
            err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
            assert err <= tol, (r["decile"], err, tol)


# ---------------------------------------------------------------------------
# stream_static_enrich_replay
# ---------------------------------------------------------------------------


class TestStreamStaticEnrichReplay:
    def test_replay_matches_batch_twin(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from caliper_poc_data_etl_spark.queries.registry import t

        got = {
            (r["window_start"], r["n_name"]): (r["n"], r["total_value"])
            for r in QUERIES["stream_static_enrich_replay"]
            .spark(spark, sf_dir)
            .collect()
        }
        dim = (
            t(spark, sf_dir, "customer")
            .join(
                t(spark, sf_dir, "nation"),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .select("c_custkey", "n_name")
        )
        e = t(spark, sf_dir, "events")
        batch = (
            e.join(dim, e["user_id"] == dim["c_custkey"])
            .groupBy(F.window("ts", "1 hour").alias("w"), "n_name")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "n_name",
                "n",
                "total_value",
            )
        )
        want = {
            (r["window_start"], r["n_name"]): (r["n"], r["total_value"])
            for r in batch.collect()
        }
        assert got == want
        assert len(got) > 0

    def test_every_event_user_enriched(self, spark, sf_dir):
        # events.user_id ⊆ customer.c_custkey in the fixtures, so the
        # inner enrichment join must lose no events: Σ n == |events|.
        out = QUERIES["stream_static_enrich_replay"].spark(spark, sf_dir).collect()
        total = sum(r["n"] for r in out)
        (n_events,) = _fetch(
            sf_dir, "SELECT COUNT(*) FROM '{sf}/events.parquet'"
        )[0]
        assert total == n_events


# ---------------------------------------------------------------------------
# stream_quantile_hist_replay
# ---------------------------------------------------------------------------


class TestStreamQuantileHistReplay:
    def test_python_replica(self, spark, sf_dir):
        # Pure-Python replica: log2-centi histogram per tumbling hour,
        # p50/p90 as integer rank queries over cumulative buckets.
        rows = _fetch(
            sf_dir, "SELECT ts, value FROM '{sf}/events.parquet'"
        )
        hists: dict = {}
        for ts, value in rows:
            w0 = ts.replace(minute=0, second=0, microsecond=0)
            centi = int(math.floor(value * 100 + 0.5))
            b = 0 if centi <= 0 else centi.bit_length()
            hists.setdefault(w0, defaultdict(int))[b] += 1
        want = {}
        for w0, h in hists.items():
            n = sum(h.values())
            for q in (5, 9):
                target = (q * n + 9) // 10
                cum = 0
                for b in sorted(h):
                    cum += h[b]
                    if cum >= target:
                        lo = 0 if b == 0 else 1 << (b - 1)
                        want[(w0.strftime("%Y-%m-%d %H:%M:%S"), q)] = (
                            b,
                            lo,
                            n,
                        )
                        break
        got = {
            (r["window_start"], r["q_decile"]): (
                r["bucket_idx"],
                r["bucket_lo_centi"],
                r["n"],
            )
            for r in QUERIES["stream_quantile_hist_replay"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == want
        assert len(got) > 0

    def test_bucket_bound_property(self, spark, sf_dir):
        # The HDR trade the docstring claims: the true quantile value
        # lies in [bucket_lo, 2*bucket_lo) for every picked bucket
        # (multiplicative error bounded by the bucket step), and the
        # picked bucket's cumulative mass reaches the rank target.
        rows = _fetch(
            sf_dir, "SELECT ts, value FROM '{sf}/events.parquet'"
        )
        by_w: dict = {}
        for ts, value in rows:
            w0 = ts.replace(minute=0, second=0, microsecond=0)
            by_w.setdefault(w0.strftime("%Y-%m-%d %H:%M:%S"), []).append(
                int(math.floor(value * 100 + 0.5))
            )
        out = (
            QUERIES["stream_quantile_hist_replay"].spark(spark, sf_dir).collect()
        )
        for r in out:
            vals = sorted(by_w[r["window_start"]])
            n = len(vals)
            assert r["n"] == n
            target = (r["q_decile"] * n + 9) // 10
            true_q = vals[target - 1]
            lo = r["bucket_lo_centi"]
            hi = 1 if lo == 0 else lo * 2
            assert lo <= true_q < hi, (r, true_q)
