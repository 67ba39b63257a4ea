"""Semantic tests for the round-8 batch (family modules under queries/): python /
numpy replicas for MMR diverse selection, PMI collocation mining, and
the declarative schema contract."""

from __future__ import annotations

from collections import Counter

import duckdb
import numpy as np

from caliper_poc_data_etl_spark.queries import QUERIES
from caliper_poc_data_etl_spark.queries.similarity import (
    MMR_CAND,
    MMR_K,
    MMR_W_DIV,
    MMR_W_REL,
)
from caliper_poc_data_etl_spark.queries.text import PMI_MICRO, PMI_MIN_C12


def _duck(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings", "customer", "orders",
              "part", "lineitem", "nation", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.sql(sql).fetchall()


class TestMmrSelect:
    def _numpy_mmr(self, sf_dir):
        rows = _duck(
            "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id", sf_dir
        )
        ids = [r[0] for r in rows]
        z = {
            i: np.array([round(float(x) * 1000) for x in e], dtype=np.int64)
            for i, e in rows
        }
        qid = ids[0]
        rel = sorted(
            ((int(z[qid] @ z[i]), i) for i in ids if i != qid),
            key=lambda t: (-t[0], t[1]),
        )[:MMR_CAND]
        relmap = {i: r for r, i in rel}
        cand = [i for _, i in rel]
        picked = []
        expect = []
        for rank in range(1, MMR_K + 1):
            best = None
            for c in cand:
                if c in picked:
                    continue
                ms = max((int(z[c] @ z[s]) for s in picked), default=0)
                score = (
                    MMR_W_REL * relmap[c]
                    if not picked
                    else MMR_W_REL * relmap[c] - MMR_W_DIV * ms
                )
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, score)
            picked.append(best[1])
            expect.append((rank, best[1], relmap[best[1]], best[2]))
        return expect

    def test_python_replica(self, spark, sf_dir):
        expect = self._numpy_mmr(sf_dir)
        got = sorted(
            (r["sel_rank"], r["vec_id"], r["rel"], r["score"])
            for r in QUERIES["sim_mmr_select"].spark(spark, sf_dir).collect()
        )
        assert got == expect

    def test_diversity_changes_the_selection(self, spark, sf_dir):
        """MMR must differ from plain top-k relevance — otherwise the
        diversity term is inert on this corpus."""
        rows = QUERIES["sim_mmr_select"].spark(spark, sf_dir).collect()
        mmr_ids = [r["vec_id"] for r in sorted(rows, key=lambda r: r["sel_rank"])]
        by_rel = [r["vec_id"] for r in sorted(rows, key=lambda r: (-r["rel"], r["vec_id"]))]
        # the first pick is pure relevance by definition
        assert mmr_ids[0] == by_rel[0]
        # scores are non-increasing in selection order only for ties of
        # construction; the real invariant: every later pick's MMR score
        # was maximal among the then-remaining candidates (replica above
        # proves it); here just pin that the set is not the naive top-5
        top5 = self._top5_relevance(sf_dir)
        assert set(mmr_ids) != top5 or mmr_ids != sorted(top5)

    def _top5_relevance(self, sf_dir):
        rows = _duck(
            "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id", sf_dir
        )
        ids = [r[0] for r in rows]
        z = {
            i: np.array([round(float(x) * 1000) for x in e], dtype=np.int64)
            for i, e in rows
        }
        qid = ids[0]
        rel = sorted(
            ((int(z[qid] @ z[i]), i) for i in ids if i != qid),
            key=lambda t: (-t[0], t[1]),
        )
        return {i for _, i in rel[:MMR_K]}


class TestCollocationPmi:
    def test_counter_replica(self, spark, sf_dir):
        docs = [
            r[0]
            for r in _duck("SELECT text FROM documents", sf_dir)
            if r[0].strip()
        ]
        uni: Counter = Counter()
        big: Counter = Counter()
        for d in docs:
            tk = d.strip().lower().split(" ")
            uni.update(tk)
            big.update(zip(tk, tk[1:]))
        n_tot = sum(uni.values())
        expect = {}
        for (w1, w2), c12 in big.items():
            if c12 >= PMI_MIN_C12:
                lift = (c12 * n_tot * PMI_MICRO) // (uni[w1] * uni[w2])
                expect[(w1, w2)] = (c12, uni[w1], uni[w2], lift)
        got = {
            (r["w1"], r["w2"]): (r["c12"], r["c1"], r["c2"], r["lift_micro"])
            for r in QUERIES["text_collocation_pmi"].spark(spark, sf_dir).collect()
        }
        assert got == expect and expect

    def test_lift_orders_association(self, spark, sf_dir):
        """A pair's lift must exceed 0 and the statistic discriminates:
        not all lifts equal (some pairs genuinely collocate more)."""
        rows = QUERIES["text_collocation_pmi"].spark(spark, sf_dir).collect()
        lifts = [r["lift_micro"] for r in rows]
        assert all(v > 0 for v in lifts)
        assert len(set(lifts)) > 1


class TestSchemaContract:
    def test_python_replica(self, spark, sf_dir):
        rows = _duck(
            "SELECT o_custkey, o_totalprice, o_orderstatus,"
            " o_orderpriority, o_orderdate FROM orders",
            sf_dir,
        )
        import datetime
        import re

        lo = datetime.datetime(1992, 1, 1)
        hi = datetime.datetime(1999, 1, 1)
        n = len(rows)
        v = dict.fromkeys(range(1, 7), 0)
        for ck, tp, st, pr, od in rows:
            if ck is None:
                v[1] += 1
            if not (tp is not None and tp > 0):
                v[2] += 1
            if not (tp is not None and tp <= 400000):
                v[3] += 1
            if st not in ("O", "F"):
                v[4] += 1
            if pr is None or not re.match(r"^[1-5]-", pr):
                v[5] += 1
            if not (od is not None and lo <= od < hi):
                v[6] += 1
        names = [
            "r01_custkey_not_null",
            "r02_totalprice_positive",
            "r03_totalprice_upper_bound",
            "r04_status_domain",
            "r05_priority_format",
            "r06_date_range",
        ]
        expect = {
            name: (n, v[i], v[i] == 0) for i, name in enumerate(names, 1)
        }
        got = {
            r["rule"]: (r["n_checked"], r["n_violations"], r["passed"])
            for r in QUERIES["dq_schema_contract"].spark(spark, sf_dir).collect()
        }
        assert got == expect

    def test_contract_discriminates(self, spark, sf_dir):
        """The rule set must contain both passing and failing rules —
        an all-green (or all-red) contract grades only plumbing."""
        rows = QUERIES["dq_schema_contract"].spark(spark, sf_dir).collect()
        passed = {r["rule"]: r["passed"] for r in rows}
        assert any(passed.values()) and not all(passed.values())


class TestModePack:
    def test_counter_replica(self, spark, sf_dir):
        rows = _duck(
            "SELECT l_returnflag, CAST(l_quantity AS BIGINT) FROM lineitem",
            sf_dir,
        )
        by_flag = {}
        for f, q in rows:
            by_flag.setdefault(f, []).append(q)
        expect = {}
        for f, qs in by_flag.items():
            cnt = Counter(qs)
            mode_qty, mode_n = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            s = sorted(qs)
            n = len(s)
            med = (
                float(s[n // 2])
                if n % 2
                else (s[n // 2 - 1] + s[n // 2]) / 2.0
            )
            expect[f] = (mode_qty, mode_n, med)
        got = {
            r["l_returnflag"]: (r["mode_qty"], r["mode_n"], r["median_qty"])
            for r in QUERIES["agg_mode_pack"].spark(spark, sf_dir).collect()
        }
        assert got == expect


class TestShardSnake:
    def test_python_replica_and_balance(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.training import SNAKE_SHARDS

        rows = _duck("SELECT doc_id, n_chars FROM documents", sf_dir)
        ranked = sorted(rows, key=lambda r: (-r[1], r[0]))
        shards = {}
        for r0, (doc_id, n_chars) in enumerate(ranked):
            rnd, pos = divmod(r0, SNAKE_SHARDS)
            shard = pos if rnd % 2 == 0 else SNAKE_SHARDS - 1 - pos
            st = shards.setdefault(shard, [0, 0, 10**18])
            st[0] += 1
            st[1] += n_chars
            st[2] = min(st[2], doc_id)
        expect = {s: tuple(v) for s, v in shards.items()}
        got = {
            r["shard"]: (r["n_docs"], r["total_chars"], r["min_doc"])
            for r in QUERIES["training_shard_snake"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # snake balance: spread bounded by one max-sized document
        totals = [v[1] for v in got.values()]
        max_doc = max(n for _, n in rows)
        assert max(totals) - min(totals) <= max_doc
        # and strictly tighter than the naive worst case
        assert max(totals) - min(totals) < sum(n for _, n in rows) // SNAKE_SHARDS


class TestRakeKeywords:
    def test_python_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.text import (
            RAKE_MICRO,
            RAKE_MIN_OCC,
            RAKE_STOPWORDS,
        )

        docs = [
            r[0]
            for r in _duck("SELECT text FROM documents", sf_dir)
            if r[0].strip()
        ]
        phrases = []
        for d in docs:
            s = " " + d.strip().lower() + " "
            for sw in RAKE_STOPWORDS:
                for _ in range(3):
                    s = s.replace(f" {sw} ", " | ")
            for p in s.split("|"):
                p = p.strip()
                if p:
                    phrases.append(p)
        phc = Counter(phrases)
        freq: Counter = Counter()
        deg: Counter = Counter()
        for p in phrases:
            ws = p.split(" ")
            for w in ws:
                freq[w] += 1
                deg[w] += len(ws)
        expect = {}
        for p, n_occ in phc.items():
            if n_occ >= RAKE_MIN_OCC:
                score = sum(
                    (deg[w] * RAKE_MICRO) // freq[w] for w in p.split(" ")
                )
                expect[p] = (n_occ, score)
        got = {
            r["phrase"]: (r["n_occ"], r["score_micro"])
            for r in QUERIES["text_rake_keywords"].spark(spark, sf_dir).collect()
        }
        assert got == expect and expect

    def test_no_stopwords_in_phrases(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.text import RAKE_STOPWORDS

        rows = QUERIES["text_rake_keywords"].spark(spark, sf_dir).collect()
        for r in rows:
            assert not set(r["phrase"].split(" ")) & set(RAKE_STOPWORDS)


class TestRocPoints:
    def test_numpy_replica_and_monotonicity(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.ml import ROC_LABEL_SPLIT, ROC_MICRO

        rows = _duck("SELECT embedding[1], label FROM embeddings", sf_dir)
        scored = [
            (round(float(e) * 1000), 1 if lab >= ROC_LABEL_SPLIT else 0)
            for e, lab in rows
        ]
        p = sum(y for _, y in scored)
        n = len(scored) - p
        per = {}
        for s, y in scored:
            c = per.setdefault(s, [0, 0])
            c[0] += 1
            c[1] += y
        expect = {}
        tp = fp = 0
        for s in sorted(per, reverse=True):
            cnt, pos = per[s]
            tp += pos
            fp += cnt - pos
            expect[s] = (
                tp, fp, p - tp, n - fp,
                (tp * ROC_MICRO) // p, (fp * ROC_MICRO) // n,
            )
        got = {
            r["threshold"]: (
                r["tp"], r["fp"], r["fn"], r["tn"],
                r["tpr_micro"], r["fpr_micro"],
            )
            for r in QUERIES["ml_roc_points"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # curve sanity: monotone non-decreasing tp/fp as threshold drops
        ts = sorted(got, reverse=True)
        for a, b in zip(ts, ts[1:]):
            assert got[b][0] >= got[a][0] and got[b][1] >= got[a][1]
        last = got[ts[-1]]
        assert last[0] == p and last[1] == n


class TestKfoldAssign:
    def test_partition_and_balance(self, spark, sf_dir):
        import hashlib

        from caliper_poc_data_etl_spark.queries.ml import KFOLD_K

        rows = _duck("SELECT vec_id, label FROM embeddings", sf_dir)
        expect = {}
        for vid, lab in rows:
            fold = int(hashlib.md5(str(vid).encode()).hexdigest()[:10], 16) % KFOLD_K
            key = (fold, lab)
            st = expect.setdefault(key, [0, 10**18, 0])
            st[0] += 1
            st[1] = min(st[1], vid)
            st[2] += vid
        expect = {k: tuple(v) for k, v in expect.items()}
        got = {
            (r["fold"], r["label"]): (r["n"], r["min_vec"], r["id_sum"])
            for r in QUERIES["ml_kfold_assign"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # folds partition the corpus and are usably balanced
        totals = [0] * KFOLD_K
        for (fold, _), (cnt, _, _) in got.items():
            totals[fold] += cnt
        assert sum(totals) == len(rows)
        assert max(totals) <= 2 * min(totals)


class TestPitFeatureStore:
    def test_python_replica(self, spark, sf_dir):
        import math

        rows = _duck(
            "SELECT user_id, ts, event_id, event_type, value FROM events",
            sf_dir,
        )
        by_user = {}
        for uid, ts, eid, et, val in rows:
            by_user.setdefault(uid, []).append((ts, eid, et, val))
        expect = {}
        for uid, evs in by_user.items():
            evs.sort()
            lc = lv = -1
            for ts, eid, et, val in evs:
                v = math.floor(val * 100 + 0.5)
                if et == "click":
                    lc = v
                elif et == "view":
                    lv = v
                elif et == "purchase":
                    expect[eid] = (uid, lc, lv)
        got = {
            r["event_id"]: (
                r["user_id"], r["last_click_centi"], r["last_view_centi"]
            )
            for r in QUERIES["join_pit_feature_store"].spark(spark, sf_dir).collect()
        }
        assert got == expect and expect

    def test_no_future_leakage(self, spark, sf_dir):
        """A purchase occurring BEFORE any click/view for its user must
        carry the -1 sentinel, never a later value."""
        rows = _duck(
            "SELECT user_id, ts, event_id, event_type FROM events "
            "WHERE event_type IN ('purchase','click','view')",
            sf_dir,
        )
        first_feat = {}
        purchases = []
        for uid, ts, eid, et in rows:
            if et == "purchase":
                purchases.append((uid, ts, eid))
            else:
                if uid not in first_feat or ts < first_feat[uid]:
                    first_feat[uid] = ts
        early = {
            eid
            for uid, ts, eid in purchases
            if uid not in first_feat or ts < first_feat[uid]
        }
        got = {
            r["event_id"]: (r["last_click_centi"], r["last_view_centi"])
            for r in QUERIES["join_pit_feature_store"].spark(spark, sf_dir).collect()
        }
        for eid in early:
            assert got[eid] == (-1, -1)


class TestRollingSlope:
    def test_numpy_replica(self, spark, sf_dir):
        import datetime
        import math

        from caliper_poc_data_etl_spark.queries.windows import SLOPE_MICRO, SLOPE_WIN

        rows = _duck(
            "SELECT event_type, CAST(ts AS DATE), value FROM events", sf_dir
        )
        daily = {}
        anchor = datetime.date(2024, 1, 1)
        for et, d, v in rows:
            key = (et, d)
            daily[key] = daily.get(key, 0) + math.floor(v * 100 + 0.5)
        by_type = {}
        for (et, d), y in daily.items():
            by_type.setdefault(et, []).append(((d - anchor).days, d, y))
        expect = {}
        for et, pts in by_type.items():
            pts.sort()
            for i in range(SLOPE_WIN - 1, len(pts)):
                frame = pts[i - SLOPE_WIN + 1 : i + 1]
                n = len(frame)
                sx = sum(x for x, _, _ in frame)
                sy = sum(y for _, _, y in frame)
                sxy = sum(x * y for x, _, y in frame)
                sxx = sum(x * x for x, _, _ in frame)
                num, den = n * sxy - sx * sy, n * sxx - sx * sx
                expect[(et, pts[i][1].isoformat())] = (
                    num, den, (num * SLOPE_MICRO) // den,  # python // floors
                )
        got = {
            (r["event_type"], r["day"]): (
                r["slope_num"], r["slope_den"], r["slope_micro"]
            )
            for r in QUERIES["window_rolling_slope"].spark(spark, sf_dir).collect()
        }
        assert got == expect and expect
        # slopes must discriminate (both signs appear across the month)
        assert any(v[0] > 0 for v in got.values())
        assert any(v[0] < 0 for v in got.values())


class TestNdcgEval:
    def test_numpy_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.ml import (
            NDCG_K,
            NDCG_QUERIES,
            _ndcg_weights,
        )

        ws = _ndcg_weights()
        rows = _duck(
            "SELECT vec_id, label, embedding FROM embeddings ORDER BY vec_id",
            sf_dir,
        )
        z = {
            vid: (lab, np.array([round(float(x) * 1000) for x in e],
                                dtype=np.int64))
            for vid, lab, e in rows
        }
        qids = [vid for vid, _, _ in rows[:NDCG_QUERIES]]
        expect = {}
        for q in qids:
            ql, qe = z[q]
            scored = sorted(
                (
                    (-int(qe @ ce), cid,
                     2 if cl == ql else (1 if abs(cl - ql) == 1 else 0))
                    for cid, (cl, ce) in z.items()
                    if cid != q
                ),
            )[:NDCG_K]
            rels = [r for _, _, r in scored]
            dcg = sum(r * ws[i] for i, r in enumerate(rels))
            idcg = sum(r * ws[i] for i, r in enumerate(sorted(rels, reverse=True)))
            ndcg = (dcg * 1_000_000) // idcg if idcg > 0 else -1
            expect[q] = (dcg, idcg, ndcg)
        got = {
            r["q_vec"]: (r["dcg"], r["idcg"], r["ndcg_micro"])
            for r in QUERIES["ml_ndcg_eval"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # NDCG is a [0,1] ratio and the retrieval is non-degenerate
        assert all(v[2] == -1 or 0 <= v[2] <= 1_000_000 for v in got.values())
        assert any(v[2] > 0 for v in got.values())


class TestM4Downsample:
    def test_python_replica(self, spark, sf_dir):
        import math

        rows = _duck(
            "SELECT event_type, ts, event_id, value FROM events", sf_dir
        )
        groups = {}
        for et, ts, eid, v in rows:
            bucket = ts.replace(minute=0, second=0, microsecond=0)
            cv = math.floor(v * 100 + 0.5)
            key = (et, bucket.strftime("%Y-%m-%d %H:%M:%S"))
            g = groups.setdefault(key, [])
            g.append((ts, eid, cv))
        expect = {}
        for key, g in groups.items():
            g.sort()
            vals = [cv for _, _, cv in g]
            expect[key] = (len(g), g[0][2], g[-1][2], min(vals), max(vals))
        got = {
            (r["event_type"], r["bucket"]): (
                r["n"], r["first_centi"], r["last_centi"],
                r["min_centi"], r["max_centi"],
            )
            for r in QUERIES["ts_m4_downsample"].spark(spark, sf_dir).collect()
        }
        assert got == expect and expect


class TestAbSrmCheck:
    def test_python_replica(self, spark, sf_dir):
        import hashlib

        from caliper_poc_data_etl_spark.queries.curation import SRM_CHI2_CRIT_MICRO

        rows = _duck("SELECT DISTINCT event_type, user_id FROM events", sf_dir)
        users = {u for _, u in rows}

        def is_a(u):
            return int(hashlib.md5(str(u).encode()).hexdigest()[:10], 16) % 100 < 50

        scopes = {}
        for et, u in rows:
            a, b = scopes.setdefault(et, [0, 0])
            if is_a(u):
                scopes[et][0] += 1
            else:
                scopes[et][1] += 1
        scopes["all"] = [
            sum(1 for u in users if is_a(u)),
            sum(1 for u in users if not is_a(u)),
        ]
        expect = {}
        for sc, (a, b) in scopes.items():
            tn = a + b
            chi2 = (((2 * a - tn) ** 2 + (2 * b - tn) ** 2) * 1_000_000) // (2 * tn)
            expect[sc] = (a, b, chi2, chi2 > SRM_CHI2_CRIT_MICRO)
        got = {
            r["scope"]: (r["n_a"], r["n_b"], r["chi2_micro"], r["srm_flag"])
            for r in QUERIES["dq_ab_srm_check"].spark(spark, sf_dir).collect()
        }
        assert got == expect

    def test_balanced_assignment_passes(self, spark, sf_dir):
        """md5 bucketing at these populations must NOT trip SRM — a
        tripped flag would mean the hash itself is biased."""
        rows = QUERIES["dq_ab_srm_check"].spark(spark, sf_dir).collect()
        assert rows and not any(r["srm_flag"] for r in rows)


class TestIntervalOverlap:
    def test_theta_replica_and_plan(self, spark, sf_dir):
        rows = _duck(
            "SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) "
            "FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-01-01'",
            sf_dir,
        )
        import datetime

        iv = [
            (k, c, d, d + datetime.timedelta(days=(k % 7) + 1))
            for k, c, d in rows
        ]
        expect = set()
        for ak, ac, as_, ae in iv:
            if ac % 2 != 0:
                continue
            for bk, bc, bs, be in iv:
                if bc % 2 != 1:
                    continue
                if as_ < be and bs < ae:
                    expect.add(
                        (ak, bk, (min(ae, be) - max(as_, bs)).days)
                    )
        df = QUERIES["join_interval_overlap"].spark(spark, sf_dir)
        got = {
            (r["a_key"], r["b_key"], r["overlap_days"]) for r in df.collect()
        }
        assert got == expect and expect
        # the executed plan must be the bucketed equi-join, not a
        # nested loop over |A|x|B|
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_overlap_positive(self, spark, sf_dir):
        rows = QUERIES["join_interval_overlap"].spark(spark, sf_dir).collect()
        assert all(1 <= r["overlap_days"] <= 7 for r in rows)


class TestLiftGainDeciles:
    def test_python_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.ml import LIFT_MICRO

        rows = _duck("SELECT embedding[1], label FROM embeddings", sf_dir)
        per = {}
        for e, lab in rows:
            s = round(float(e) * 1000)
            y = 1 if lab >= 5 else 0
            c = per.setdefault(s, [0, 0])
            c[0] += 1
            c[1] += y
        nt = sum(c[0] for c in per.values())
        pt = sum(c[1] for c in per.values())
        dec = {}
        cw = 0
        for s in sorted(per, reverse=True):
            n, pos = per[s]
            cw += n
            d = (10 * (cw - 1)) // nt
            c = dec.setdefault(d, [0, 0])
            c[0] += n
            c[1] += pos
        expect = {}
        cn = cp = 0
        for d in sorted(dec):
            n, pos = dec[d]
            cn += n
            cp += pos
            expect[d] = (n, pos, cp, (cp * nt * LIFT_MICRO) // (cn * pt))
        got = {
            r["decile"]: (r["n"], r["pos"], r["cum_pos"], r["lift_micro"])
            for r in QUERIES["ml_lift_gain_deciles"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # gains make sense: last decile's lift is exactly the base rate
        # (cumulative over everything), and the deciles discriminate
        # (synthetic embedding[1] carries no guaranteed signal, so the
        # top decile may sit on either side of 1.0)
        last = max(got)
        assert got[last][3] == LIFT_MICRO
        assert len({v[3] for v in got.values()}) > 1


class TestGzipScan:
    def test_single_partition_and_roundtrip(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.scans import GZ_DOCS

        df = QUERIES["scan_gzip_nonsplittable"].spark(spark, sf_dir)
        # gzip is not splittable: one file -> ONE input partition
        assert df.rdd.getNumPartitions() == 1
        expect = {
            r[0]: (r[1], r[2], r[3].split(" ")[0])
            for r in _duck(
                f"SELECT doc_id, lang, n_chars, text FROM documents "
                f"WHERE doc_id < {GZ_DOCS}",
                sf_dir,
            )
        }
        got = {
            r["doc_id"]: (r["lang"], r["n_chars"], r["first_word"])
            for r in df.collect()
        }
        assert got == expect


class TestF1ThresholdPick:
    def test_exhaustive_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.ml import LIFT_MICRO, ROC_LABEL_SPLIT

        rows = _duck("SELECT embedding[1], label FROM embeddings", sf_dir)
        per = {}
        for e, lab in rows:
            s = round(float(e) * 1000)
            y = 1 if lab >= ROC_LABEL_SPLIT else 0
            c = per.setdefault(s, [0, 0])
            c[0] += 1
            c[1] += y
        p = sum(c[1] for c in per.values())
        best = None
        tp = fp = 0
        for s in sorted(per, reverse=True):
            n, pos = per[s]
            tp += pos
            fp += n - pos
            fn = p - tp
            f1 = (2 * tp) / (2 * tp + fp + fn)
            key = (-f1, s)
            if best is None or key < best[0]:
                best = (key, s, tp, fp, fn,
                        (2 * tp * LIFT_MICRO) // (2 * tp + fp + fn))
        [r] = QUERIES["ml_f1_threshold_pick"].spark(spark, sf_dir).collect()
        assert (
            r["threshold"], r["tp"], r["fp"], r["fn"], r["f1_micro"]
        ) == best[1:]


class TestTouchAttribution:
    def test_python_replica(self, spark, sf_dir):
        rows = _duck(
            "SELECT user_id, ts, event_id, event_type FROM events "
            "WHERE event_type IN ('view','click','purchase')",
            sf_dir,
        )
        by_user = {}
        for uid, ts, eid, et in rows:
            tag = 1 if et == "purchase" else 0
            by_user.setdefault(uid, []).append((ts, tag, eid, et))
        credits = {}
        for uid, evs in by_user.items():
            evs.sort()
            first = last = None
            for ts, tag, eid, et in evs:
                if et in ("view", "click"):
                    if first is None:
                        first = et
                    last = et
                else:
                    for model, ch in (
                        ("first_touch", first or "none"),
                        ("last_touch", last or "none"),
                    ):
                        credits[(model, ch)] = credits.get((model, ch), 0) + 1
        got = {
            (r["model"], r["channel"]): r["credits"]
            for r in QUERIES["window_touch_attribution"].spark(spark, sf_dir).collect()
        }
        assert got == credits and credits
        # both models distribute the same conversion total
        tot_first = sum(v for (m, _), v in got.items() if m == "first_touch")
        tot_last = sum(v for (m, _), v in got.items() if m == "last_touch")
        assert tot_first == tot_last > 0


class TestHitsScores:
    def test_python_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.graphs import _LP_GEN
        from caliper_poc_data_etl_spark.queries.graphs import HITS_ROUNDS, HITS_SCALE

        ids = [r[0] for r in _duck("SELECT vec_id FROM embeddings", sf_dir)]
        n = len(ids)
        edges = set()
        for i in ids:
            for a, b in _LP_GEN:
                j = (i * a + b) % n
                if i != j:
                    edges.add((i, j))
        h = dict.fromkeys(ids, HITS_SCALE)
        a = None
        for _ in range(HITS_ROUNDS):
            a = dict.fromkeys(ids, 0)
            for s, d in edges:
                a[d] += h[s]
            m = max(a.values())
            a = {k: v * HITS_SCALE // m for k, v in a.items()}
            h = dict.fromkeys(ids, 0)
            for s, d in edges:
                h[s] += a[d]
            m = max(h.values())
            h = {k: v * HITS_SCALE // m for k, v in h.items()}
        got = {
            r["vec_id"]: (r["hub_micro"], r["auth_micro"])
            for r in QUERIES["graph_hits_scores"].spark(spark, sf_dir).collect()
        }
        assert got == {i: (h[i], a[i]) for i in ids}
        # normalization holds: max score is exactly the scale
        assert max(v[0] for v in got.values()) == HITS_SCALE
        assert max(v[1] for v in got.values()) == HITS_SCALE


class TestNgramNovelty:
    def test_python_replica_and_dup_docs_zero(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.text import NOVELTY_MICRO, NOVELTY_N

        rows = _duck("SELECT doc_id, text FROM documents ORDER BY doc_id", sf_dir)
        grams_by_doc = {}
        for did, text in rows:
            tk = text.strip().lower().split(" ")
            if len(tk) < NOVELTY_N:
                continue
            grams_by_doc[did] = {
                " ".join(tk[i : i + NOVELTY_N])
                for i in range(len(tk) - NOVELTY_N + 1)
            }
        first = {}
        for did in sorted(grams_by_doc):
            for g in grams_by_doc[did]:
                first.setdefault(g, did)
        expect = {}
        for did, gs in grams_by_doc.items():
            novel = sum(1 for g in gs if first[g] == did)
            expect[did] = (
                len(gs), novel, (novel * NOVELTY_MICRO) // len(gs)
            )
        got = {
            r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_micro"])
            for r in QUERIES["text_ngram_novelty"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # exact-duplicate fixture docs must score 0 novelty
        by_text = {}
        for did, text in rows:
            by_text.setdefault(text, []).append(did)
        dup_later = [
            ds[1] for ds in by_text.values()
            if len(ds) > 1 and ds[1] in got
        ]
        # byte-duplicate docs (when the SF has them) must score 0
        assert all(got[d][2] == 0 for d in dup_later)
        # novelty is a [0, 1] micro ratio and discriminates
        assert all(0 <= v[2] <= 1_000_000 for v in got.values())
        assert len({v[2] for v in got.values()}) > 1


class TestPeriodOverPeriod:
    def test_python_replica(self, spark, sf_dir):
        import datetime
        import math

        from caliper_poc_data_etl_spark.queries.timeseries import (
            POP_LAG_DAYS,
            POP_MICRO,
        )

        rows = _duck(
            "SELECT CAST(o_orderdate AS DATE), o_totalprice FROM orders",
            sf_dir,
        )
        daily = {}
        for d, p in rows:
            daily[d] = daily.get(d, 0) + math.floor(p * 100 + 0.5)
        expect = {}
        for d, cur in daily.items():
            prev = daily.get(d - datetime.timedelta(days=POP_LAG_DAYS))
            if prev is None:
                expect[d.isoformat()] = (cur, None, None, None)
            else:
                delta = cur - prev
                expect[d.isoformat()] = (
                    cur, prev, delta, (delta * POP_MICRO) // prev
                )
        got = {
            r["day"]: (
                r["cur_centi"], r["prev_centi"],
                r["delta_centi"], r["pct_micro"],
            )
            for r in QUERIES["ts_period_over_period"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # both directions of movement appear over 7 years
        deltas = [v[2] for v in got.values() if v[2] is not None]
        assert any(x > 0 for x in deltas) and any(x < 0 for x in deltas)


class TestRegressionMetrics:
    def test_python_replica(self, spark, sf_dir):
        import datetime
        import math

        from caliper_poc_data_etl_spark.queries.ml import REG_LAG

        rows = _duck(
            "SELECT event_type, CAST(ts AS DATE), value FROM events", sf_dir
        )
        daily = {}
        for et, d, v in rows:
            daily[(et, d)] = daily.get((et, d), 0) + math.floor(v)
        expect = {}
        by_type = {}
        for (et, d), y in daily.items():
            prev = daily.get((et, d - datetime.timedelta(days=REG_LAG)))
            if prev is not None:
                by_type.setdefault(et, []).append((y, prev))
        for et, pairs in by_type.items():
            n = len(pairs)
            sy = sum(y for y, _ in pairs)
            syy = sum(y * y for y, _ in pairs)
            sae = sum(abs(y - p) for y, p in pairs)
            sse = sum((y - p) ** 2 for y, p in pairs)
            ss_tot_n = n * syy - sy * sy
            r2_num = ss_tot_n - n * sse
            expect[et] = (
                n, sae, sse, (sae * 1_000_000) // n, ss_tot_n, r2_num,
                (r2_num * 1000) // ss_tot_n,
            )
        got = {
            r["event_type"]: (
                r["n"], r["abs_err_sum"], r["sq_err_sum"], r["mae_micro"],
                r["ss_tot_n"], r["r2_num"], r["r2_milli"],
            )
            for r in QUERIES["ml_regression_metrics"].spark(spark, sf_dir).collect()
        }
        assert got == expect and expect
        # r2 is bounded above by 1.0 (1000 milli) always
        assert all(v[6] <= 1000 for v in got.values())


class TestPersonalizedPagerank:
    def test_python_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.graphs import _LP_GEN
        from caliper_poc_data_etl_spark.queries.graphs import (
            PPR_DAMP_DEN,
            PPR_DAMP_NUM,
            PPR_ROUNDS,
            PPR_SCALE,
        )

        ids = [r[0] for r in _duck("SELECT vec_id FROM embeddings", sf_dir)]
        n = len(ids)
        seed = min(ids)
        edges = set()
        for i in ids:
            for a, b in _LP_GEN:
                j = (i * a + b) % n
                if i != j:
                    edges.add((i, j))
        deg = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        r = {i: (PPR_SCALE if i == seed else 0) for i in ids}
        tele = PPR_SCALE * (PPR_DAMP_DEN - PPR_DAMP_NUM) // PPR_DAMP_DEN
        for _ in range(PPR_ROUNDS):
            mass = dict.fromkeys(ids, 0)
            for s, d in edges:
                mass[d] += r[s] // deg[s]
            r = {
                i: (PPR_DAMP_NUM * mass[i]) // PPR_DAMP_DEN
                + (tele if i == seed else 0)
                for i in ids
            }
        got = {
            row["vec_id"]: row["ppr_micro"]
            for row in QUERIES["graph_personalized_pagerank"].spark(spark, sf_dir).collect()
        }
        assert got == r
        # personalization: the seed's neighborhood outranks the tail
        assert got[seed] > 0
        nonzero = [v for v in got.values() if v > 0]
        assert 0 < len(nonzero) < len(ids)


class TestAbChi2Outcome:
    def test_python_replica(self, spark, sf_dir):
        import hashlib

        rows = _duck(
            "SELECT user_id, event_type FROM events", sf_dir
        )
        users = {u for u, _ in rows}
        pc = {}
        for u, et in rows:
            if et == "purchase":
                pc[u] = pc.get(u, 0) + 1
        s = sorted(pc.values())
        m = len(s)
        med = s[m // 2] if m % 2 else (s[m // 2 - 1] + s[m // 2]) / 2
        conv = {u for u, c in pc.items() if c > med}

        def is_a(u):
            return int(hashlib.md5(str(u).encode()).hexdigest()[:10], 16) % 100 < 50

        a = sum(1 for u in users if is_a(u) and u in conv)
        b = sum(1 for u in users if is_a(u) and u not in conv)
        c = sum(1 for u in users if not is_a(u) and u in conv)
        d = sum(1 for u in users if not is_a(u) and u not in conv)
        num = (a + b + c + d) * (a * d - b * c) ** 2
        den = (a + b) * (c + d) * (a + c) * (b + d)
        chi2 = 0 if den == 0 else (num // den) * 1_000_000 + (num % den) * 1_000_000 // den
        [r] = QUERIES["ml_ab_chi2_outcome"].spark(spark, sf_dir).collect()
        assert (
            r["conv_a"], r["nonconv_a"], r["conv_b"], r["nonconv_b"],
            r["chi2_micro"], r["significant"],
        ) == (a, b, c, d, chi2, chi2 > 3841459 if den else False)
        # all four cells populated: the relative conversion threshold
        # guarantees a non-degenerate table
        assert min(a, b, c, d) >= 0 and (a + c) > 0 and (b + d) > 0


class TestPrCurvePoints:
    def test_numpy_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.ml import ROC_LABEL_SPLIT

        rows = _duck("SELECT embedding[1], label FROM embeddings", sf_dir)
        per = {}
        for e, lab in rows:
            s = round(float(e) * 1000)
            y = 1 if lab >= ROC_LABEL_SPLIT else 0
            c = per.setdefault(s, [0, 0])
            c[0] += 1
            c[1] += y
        p = sum(c[1] for c in per.values())
        expect = {}
        tp = fp = 0
        for s in sorted(per, reverse=True):
            n, pos = per[s]
            tp += pos
            fp += n - pos
            expect[s] = (
                tp, fp,
                (tp * 1_000_000) // (tp + fp), (tp * 1_000_000) // p,
            )
        got = {
            r["threshold"]: (
                r["tp"], r["fp"], r["precision_micro"], r["recall_micro"]
            )
            for r in QUERIES["ml_pr_curve_points"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # recall is monotone non-decreasing as the threshold drops and
        # reaches exactly 1.0 at the loosest threshold
        ts_ = sorted(got, reverse=True)
        rec = [got[s][3] for s in ts_]
        assert all(a <= b for a, b in zip(rec, rec[1:]))
        assert rec[-1] == 1_000_000


class TestSeasonalAdjustedAnomaly:
    def test_python_replica(self, spark, sf_dir):
        import datetime
        import math
        import statistics

        rows = _duck(
            "SELECT event_type, CAST(ts AS DATE), value FROM events", sf_dir
        )
        anchor = datetime.date(2024, 1, 1)
        daily = {}
        for et, d, v in rows:
            daily[(et, d)] = daily.get((et, d), 0) + math.floor(v * 100 + 0.5)
        seas_sum = {}
        for (et, d), v in daily.items():
            dow = (d - anchor).days % 7
            s = seas_sum.setdefault((et, dow), [0, 0])
            s[0] += v
            s[1] += 1
        expected = {k: s[0] // s[1] for k, s in seas_sum.items()}
        adj = {
            (et, d): v - expected[(et, (d - anchor).days % 7)]
            for (et, d), v in daily.items()
        }
        by_type = {}
        for (et, d), a in adj.items():
            by_type.setdefault(et, []).append(a)
        med2 = {et: round(2 * statistics.median(v)) for et, v in by_type.items()}
        dev2 = {k: abs(2 * a - med2[k[0]]) for k, a in adj.items()}
        dev_by_type = {}
        for (et, _), dv in dev2.items():
            dev_by_type.setdefault(et, []).append(dv)
        mad4 = {
            et: round(2 * statistics.median(v)) for et, v in dev_by_type.items()
        }
        expect = {
            (et, d.isoformat()): (
                (d - anchor).days % 7,
                daily[(et, d)],
                expected[(et, (d - anchor).days % 7)],
                adj[(et, d)],
                2 * dev2[(et, d)] > 3 * mad4[et],
            )
            for (et, d) in daily
        }
        got = {
            (r["event_type"], r["day"]): (
                r["dow"], r["daily_centi"], r["expected_centi"],
                r["adjusted_centi"], r["is_anomaly"],
            )
            for r in QUERIES["ts_anomaly_seasonal_adjusted"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # the detector flags a strict minority of days (or none)
        flags = sum(1 for v in got.values() if v[4])
        assert flags < len(got) // 2


class TestTokenBudgetFill:
    def test_python_replica_and_boundary(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.curation import BUDGET_DEN, BUDGET_NUM

        rows = _duck("SELECT doc_id, text FROM documents", sf_dir)
        docs = []
        for did, text in rows:
            if not text.strip():
                continue
            tk = text.strip().lower().split(" ")
            docs.append((did, len(tk), len(set(tk))))
        budget = sum(n for _, n, _ in docs) * BUDGET_NUM // BUDGET_DEN
        docs.sort(key=lambda r: (-r[2], r[0]))
        expect = {}
        cum = 0
        boundary_doc = None
        for did, n, dw in docs:
            cum += n
            if cum > budget:
                boundary_doc = did
                break
            expect[did] = (n, dw, cum)
        got = {
            r["doc_id"]: (r["n_tokens"], r["distinct_words"], r["cum_tokens"])
            for r in QUERIES["mix_token_budget_fill"].spark(spark, sf_dir).collect()
        }
        assert got == expect and expect
        # exact boundary: the doc that would exceed the budget is OUT
        assert boundary_doc is not None and boundary_doc not in got
        assert max(v[2] for v in got.values()) <= budget


class TestCompactSmallFiles:
    def test_content_preserved_and_counts(self, spark, sf_dir):
        import hashlib

        from caliper_poc_data_etl_spark.queries.scans import (
            COMPACT_SMALL_FILES,
            COMPACT_TARGET_FILES,
        )

        rows = _duck(
            "SELECT doc_id, text, lang, source, n_chars FROM documents",
            sf_dir,
        )
        total = 0
        for did, text, lang, source, nc in rows:
            payload = f"{did}|{text}|{lang}|{source}|{nc}"
            total += int(hashlib.md5(payload.encode()).hexdigest()[:15], 16)
        [r] = QUERIES["sink_compact_small_files"].spark(spark, sf_dir).collect()
        assert r["n_files_before"] == COMPACT_SMALL_FILES
        assert r["n_files_after"] == COMPACT_TARGET_FILES
        assert r["n_rows"] == len(rows)
        assert r["checksum"] == str(total)


class TestZorderKey:
    def test_python_replica_and_locality(self, spark, sf_dir):
        import math

        from caliper_poc_data_etl_spark.queries.scalars import ZORDER_BITS

        rows = _duck("SELECT o_orderkey, o_totalprice FROM orders", sf_dir)

        def interleave(x, y):
            z = 0
            for i in range(ZORDER_BITS):
                z |= ((x >> i) & 1) << (2 * i)
                z |= ((y >> i) & 1) << (2 * i + 1)
            return z

        mask = (1 << ZORDER_BITS) - 1
        expect = {
            k: (k % (mask + 1),
                math.floor(p) % (mask + 1),
                interleave(k % (mask + 1), math.floor(p) % (mask + 1)))
            for k, p in rows
        }
        got = {
            r["o_orderkey"]: (r["x"], r["y"], r["zkey"])
            for r in QUERIES["fn_zorder_key"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # locality property: sorting by zkey co-locates BOTH dims —
        # mean |Δx| + |Δy| between zkey-neighbors must beat the
        # x-sorted layout's mean |Δy| jump on dimension y
        by_z = sorted(got.values(), key=lambda t: t[2])
        by_x = sorted(got.values())
        jump_z = sum(
            abs(a[0] - b[0]) + abs(a[1] - b[1])
            for a, b in zip(by_z, by_z[1:])
        ) / (len(by_z) - 1)
        jump_x = sum(
            abs(a[0] - b[0]) + abs(a[1] - b[1])
            for a, b in zip(by_x, by_x[1:])
        ) / (len(by_x) - 1)
        assert jump_z < jump_x


class TestModularityScore:
    def test_python_replica_and_q(self, spark, sf_dir):
        from fractions import Fraction

        from caliper_poc_data_etl_spark.queries.graphs import _LP_GEN
        from caliper_poc_data_etl_spark.queries.graphs import MOD_MICRO

        rows = _duck("SELECT vec_id, label FROM embeddings", sf_dir)
        lab = dict(rows)
        ids = list(lab)
        n = len(ids)
        eu = set()
        for i in ids:
            for a, b in _LP_GEN:
                j = (i * a + b) % n
                if i != j:
                    eu.add((i, j))
        both = eu | {(d, s) for s, d in eu}
        T = len(both)
        within = {}
        degsum = {}
        for s, d in both:
            c = lab[s]
            degsum[c] = degsum.get(c, 0) + 1
            if lab[s] == lab[d]:
                within[c] = within.get(c, 0) + 1
        nc = {}
        for i in ids:
            nc[lab[i]] = nc.get(lab[i], 0) + 1
        expect = {}
        q_exact = Fraction(0)
        for c in degsum:
            w = within.get(c, 0)
            num = MOD_MICRO * (T * w - degsum[c] ** 2)
            expect[c] = (nc[c], w, degsum[c], num // (T * T))
            q_exact += Fraction(T * w - degsum[c] ** 2, T * T)
        got = {
            r["label"]: (
                r["n_nodes"], r["within_both"], r["deg_sum"],
                r["contrib_micro"],
            )
            for r in QUERIES["graph_modularity_score"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # Q is a valid modularity: within [-1, 1]
        assert -1 <= q_exact <= 1


class TestBootstrapCi:
    def test_python_replica(self, spark, sf_dir):
        import hashlib
        import math

        from caliper_poc_data_etl_spark.queries.ml import (
            BOOT_B,
            BOOT_HI_RANK,
            BOOT_LO_RANK,
            BOOT_MICRO,
        )

        rows = _duck(
            "SELECT CAST(ts AS DATE), value FROM events", sf_dir
        )
        daily = {}
        for d, v in rows:
            daily[d] = daily.get(d, 0) + math.floor(v * 100 + 0.5)
        vals = [daily[d] for d in sorted(daily)]
        n = len(vals)
        means = []
        for b in range(BOOT_B):
            tot = 0
            for i in range(n):
                pick = int(
                    hashlib.md5(f"{b}_{i}".encode()).hexdigest()[:10], 16
                ) % n
                tot += vals[pick]
            means.append(((tot * BOOT_MICRO) // n, b))
        means.sort()
        lo = means[BOOT_LO_RANK - 1][0]
        hi = means[BOOT_HI_RANK - 1][0]
        obs = (sum(vals) * BOOT_MICRO) // n
        [r] = QUERIES["ml_bootstrap_ci_mean"].spark(spark, sf_dir).collect()
        assert (
            r["n_days"], r["b_replicas"], r["observed_micro"],
            r["ci_lo_micro"], r["ci_hi_micro"],
        ) == (n, BOOT_B, obs, lo, hi)
        # a real interval: lo < hi and the observed mean inside it
        assert lo < hi and lo <= obs <= hi


class TestBlockingQuality:
    def test_python_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.curation import BLKQ_LEV

        rows = _duck(
            "SELECT DISTINCT w FROM ("
            "SELECT unnest(string_split(text, ' ')) AS w FROM documents "
            "UNION ALL "
            "SELECT unnest(string_split(p_name, ' ')) AS w FROM part) "
            "WHERE length(w) >= 3",
            sf_dir,
        )
        words = sorted(r[0] for r in rows)

        def soundex(w):
            # replica of _soundex_sql: translate + per-digit collapse,
            # H/W treated as vowels (run separators)
            table = {}
            for chars, d in (
                ("BFPV", "1"), ("CGJKQSXZ", "2"), ("DT", "3"), ("L", "4"),
                ("MN", "5"), ("R", "6"), ("AEIOUYHW", "0"),
            ):
                for ch in chars:
                    table[ch] = d
            up = w.upper()
            coded = "".join(table.get(c, c) for c in up)
            import re as _re

            for d in range(7):
                coded = _re.sub(f"{d}{{2,}}", str(d), coded)
            tail = coded[1:].replace("0", "")
            return up[0] + (tail[:3].ljust(3, "0"))

        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(
                        prev[j] + 1, cur[-1] + 1,
                        prev[j - 1] + (ca != cb),
                    ))
                prev = cur
            return prev[-1]

        sdx = {w: soundex(w) for w in words}
        n_all = n_cand = n_true = n_found = 0
        for i, w1 in enumerate(words):
            for w2 in words[i + 1:]:
                n_all += 1
                same = sdx[w1] == sdx[w2]
                match = lev(w1, w2) <= BLKQ_LEV
                n_cand += same
                n_true += match
                n_found += match and same
        [r] = QUERIES["er_blocking_quality_report"].spark(spark, sf_dir).collect()
        assert (
            r["n_words"], r["n_all_pairs"], r["n_candidates"],
            r["n_true_matches"], r["n_found_in_block"],
        ) == (len(words), n_all, n_cand, n_true, n_found)
        assert r["reduction_micro"] == (n_all - n_cand) * 1_000_000 // n_all
        if n_true:
            assert r["recall_micro"] == n_found * 1_000_000 // n_true
        # a USEFUL blocking: massive reduction with non-trivial recall
        assert r["reduction_micro"] > 900_000


class TestBusinessDaysPack:
    def test_python_replica(self, spark, sf_dir):
        import datetime

        from caliper_poc_data_etl_spark.queries.scalars import _BD_ANCHOR

        anchor = datetime.date.fromisoformat(_BD_ANCHOR)
        rows = _duck(
            "SELECT o_orderkey, CAST(o_orderdate AS DATE) FROM orders",
            sf_dir,
        )

        def bindex(d):
            n = (d - anchor).days
            return 5 * (n // 7) + min(n % 7, 5)

        expect = {}
        for k, d in rows:
            ship = d + datetime.timedelta(days=(k % 20) + 1)
            dow = (d - anchor).days % 7
            jump = 3 if dow == 4 else (2 if dow == 5 else 1)
            expect[k] = (
                d.isoformat(),
                dow,
                dow < 5,
                (d + datetime.timedelta(days=jump)).isoformat(),
                bindex(ship) - bindex(d),
            )
        got = {
            r["o_orderkey"]: (
                r["day"], r["dow"], r["is_business"],
                r["next_business"], r["bdays_to_ship"],
            )
            for r in QUERIES["fn_business_days_pack"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # semantic checks: B() agrees with brute-force weekday count,
        # and next_business is always a business day after the date
        for k, d in rows[:200]:
            ship = d + datetime.timedelta(days=(k % 20) + 1)
            brute = sum(
                1
                for i in range((ship - d).days)
                if (d + datetime.timedelta(days=i)).weekday() < 5
            )
            assert got[k][4] == brute
            nb = datetime.date.fromisoformat(got[k][3])
            assert nb > d and nb.weekday() < 5


class TestAsofForward:
    def test_python_replica(self, spark, sf_dir):
        rows = _duck(
            "SELECT user_id, ts, event_id, event_type FROM events "
            "WHERE event_type IN ('view','purchase')",
            sf_dir,
        )
        by_user = {}
        for uid, ts, eid, et in rows:
            by_user.setdefault(uid, []).append((ts, eid, et))
        expect = {}
        for uid, evs in by_user.items():
            evs.sort()
            views = [(ts, eid) for ts, eid, et in evs if et == "view"]
            for ts, eid, et in evs:
                if et != "purchase":
                    continue
                nxt = next((vts for vts, _ in views if vts >= ts), None)
                expect[eid] = (uid, nxt)
        got = {
            r["event_id"]: (
                r["user_id"],
                r["next_view_ts"],
            )
            for r in QUERIES["join_asof_forward"].spark(spark, sf_dir).collect()
        }
        fmt = "%Y-%m-%d %H:%M:%S.%f"
        for eid, (uid, nxt) in expect.items():
            guid, gts = got[eid]
            assert guid == uid
            if nxt is None:
                assert gts is None
            else:
                assert gts == nxt.strftime(fmt)
        assert set(got) == set(expect)
        # the forward direction is real: some purchase has no later
        # view (NULL) and some does
        vals = [v[1] for v in got.values()]
        assert any(v is None for v in vals) and any(v is not None for v in vals)
