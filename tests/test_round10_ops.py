"""Semantic tests for the round-10 batch (queries/ml.py, scalars.py, text.py, timeseries.py):
pure-Python replicas of Cramér's V, Cohen's kappa, Allen interval
relations, geohash encoding, and the Zipf log-log OLS fit, checked
against the Spark implementations on sf0.001."""

from __future__ import annotations

import math

import duckdb

from caliper_poc_data_etl_spark.queries import QUERIES
from caliper_poc_data_etl_spark.queries.scalars import GEOHASH_ALPHABET
from caliper_poc_data_etl_spark.queries.text import ZIPF_TOP_N


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in ["lineitem", "events", "documents"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).fetchall()


class TestCramersV:
    def test_python_replica(self, spark, sf_dir):
        raw = _duck(
            sf_dir,
            "SELECT l_returnflag, l_linestatus, COUNT(*) FROM lineitem "
            "GROUP BY 1, 2",
        )
        obs = {(x, y): n for x, y, n in raw}
        n_tot = sum(obs.values())
        xs = sorted({x for x, _ in obs})
        ys = sorted({y for _, y in obs})
        nx = {x: sum(n for (a, _), n in obs.items() if a == x) for x in xs}
        ny = {y: sum(n for (_, b), n in obs.items() if b == y) for y in ys}
        # chi2 sums over the FULL r x c grid — empty cells contribute
        # their (0 - E)^2 / E term (the review-fixed semantics)
        cell_micro = {}
        for x in xs:
            for y in ys:
                n_xy = obs.get((x, y), 0)
                dev = n_xy * n_tot - nx[x] * ny[y]
                e = ((dev / nx[x]) * (dev / ny[y])) / n_tot
                cell_micro[(x, y)] = round(e * 1000000)
        chi2_micro = sum(cell_micro.values())
        mindim = min(len(xs), len(ys)) - 1
        v_micro = round(
            math.sqrt((chi2_micro / 1000000) / (n_tot * mindim)) * 1000000
        )

        rows = QUERIES["ml_cramers_v"].spark(spark, sf_dir).collect()
        assert len(rows) == len(xs) * len(ys)
        for r in rows:
            key = (r["l_returnflag"], r["l_linestatus"])
            assert r["n_xy"] == obs.get(key, 0)
            assert r["n_x"] == nx[key[0]]
            assert r["n_y"] == ny[key[1]]
            assert r["n_tot"] == n_tot
            assert r["cell_chi2_micro"] == cell_micro[key]
            assert r["chi2_micro"] == chi2_micro
            assert r["cramers_v_micro"] == v_micro
        # association on this synthetic data is near-zero but defined
        assert 0 <= v_micro <= 1_000_000


class TestCohensKappa:
    def test_python_replica(self, spark, sf_dir):
        raw = _duck(
            sf_dir,
            "SELECT CASE WHEN l_quantity >= 25 THEN 'H' ELSE 'L' END, "
            "CASE WHEN l_extendedprice >= 25000 THEN 'H' ELSE 'L' END, "
            "COUNT(*) FROM lineitem GROUP BY 1, 2",
        )
        cells = {(p, a): n for p, a, n in raw}
        # pe is the marginal form Σ rmₖ·cmₖ over ALL labels — the query
        # computes it from the marginal tables too (ADVICE r7 removed
        # the diagonal-cell shortcut and its data-dependent
        # precondition), so no nonempty-diagonal assumption is needed.
        labels = {p for p, _ in cells} | {a for _, a in cells}
        n_tot = sum(cells.values())
        agree = sum(n for (p, a), n in cells.items() if p == a)
        rm = {k: sum(n for (p, _), n in cells.items() if p == k) for k in labels}
        cm = {k: sum(n for (_, a), n in cells.items() if a == k) for k in labels}
        pe_num = sum(rm[k] * cm[k] for k in labels)
        kappa_num = n_tot * agree - pe_num
        kappa_den = n_tot * n_tot - pe_num
        kappa_micro = round(kappa_num * 1000000 / kappa_den)

        rows = QUERIES["ml_cohens_kappa"].spark(spark, sf_dir).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["n_tot"] == n_tot
        assert r["agree"] == agree
        assert r["pe_num"] == pe_num
        assert r["kappa_num"] == kappa_num
        assert r["kappa_den"] == kappa_den
        assert r["kappa_micro"] == kappa_micro


def _allen(a_s, a_e, b_s, b_e) -> str:
    if a_s == b_s and a_e == b_e:
        return "equals"
    if a_e < b_s:
        return "precedes"
    if b_e < a_s:
        return "preceded_by"
    if a_e == b_s:
        return "meets"
    if b_e == a_s:
        return "met_by"
    if a_s == b_s:
        return "starts" if a_e < b_e else "started_by"
    if a_e == b_e:
        return "finishes" if a_s > b_s else "finished_by"
    if a_s > b_s and a_e < b_e:
        return "during"
    if a_s < b_s and a_e > b_e:
        return "contains"
    return "overlaps" if a_s < b_s else "overlapped_by"


class TestAllenRelations:
    def test_python_replica(self, spark, sf_dir):
        raw = _duck(
            sf_dir,
            "SELECT user_id, event_type, MIN(ts), MAX(ts) FROM events "
            "GROUP BY 1, 2",
        )
        iv = {(u, et): (s, e) for u, et, s, e in raw}
        expect = {}
        users = {u for u, _ in iv}
        types = sorted({et for _, et in iv})
        for u in users:
            for i, ta in enumerate(types):
                for tb in types[i + 1:]:
                    if (u, ta) in iv and (u, tb) in iv:
                        a_s, a_e = iv[(u, ta)]
                        b_s, b_e = iv[(u, tb)]
                        expect[(u, ta, tb)] = _allen(a_s, a_e, b_s, b_e)

        rows = (
            QUERIES["ts_allen_interval_relations"]
            .spark(spark, sf_dir)
            .collect()
        )
        assert len(rows) == len(expect)
        for r in rows:
            key = (r["user_id"], r["et_a"], r["et_b"])
            assert r["relation"] == expect[key], key

    def test_case_tree_covers_all_13(self):
        # unit intervals exercising every branch of the CASE tree
        cases = {
            (0, 1, 0, 1): "equals",
            (0, 1, 2, 3): "precedes",
            (2, 3, 0, 1): "preceded_by",
            (0, 1, 1, 2): "meets",
            (1, 2, 0, 1): "met_by",
            (0, 1, 0, 2): "starts",
            (0, 2, 0, 1): "started_by",
            (1, 2, 0, 2): "finishes",
            (0, 2, 1, 2): "finished_by",
            (1, 2, 0, 3): "during",
            (0, 3, 1, 2): "contains",
            (0, 2, 1, 3): "overlaps",
            (1, 3, 0, 2): "overlapped_by",
        }
        for (a_s, a_e, b_s, b_e), rel in cases.items():
            assert _allen(a_s, a_e, b_s, b_e) == rel
        assert sorted(set(cases.values())) == sorted(
            [
                "equals", "precedes", "preceded_by", "meets", "met_by",
                "starts", "started_by", "finishes", "finished_by",
                "during", "contains", "overlaps", "overlapped_by",
            ]
        )


def _geohash(lat_c: int, lon_c: int) -> tuple[str, int]:
    ilon = (lon_c + 18000) * 8192 // 36000
    ilat = (lat_c + 9000) * 4096 // 18000
    g = 0
    for p in range(25):
        if p % 2 == 0:
            bit = (ilon >> (12 - p // 2)) & 1
        else:
            bit = (ilat >> (11 - (p - 1) // 2)) & 1
        g |= bit << (24 - p)
    s = "".join(
        GEOHASH_ALPHABET[(g >> (5 * (4 - j))) & 31] for j in range(5)
    )
    return s, g


class TestGeohashEncode:
    def test_python_replica(self, spark, sf_dir):
        raw = _duck(sf_dir, "SELECT event_id, user_id FROM events")
        agg: dict[str, list] = {}
        for event_id, user_id in raw:
            lat_c = (user_id * 7919) % 18000 - 9000
            lon_c = (event_id * 104729) % 36000 - 18000
            h, g = _geohash(lat_c, lon_c)
            cur = agg.setdefault(h, [0, event_id, g])
            cur[0] += 1
            cur[1] = min(cur[1], event_id)
            cur[2] = min(cur[2], g)

        rows = QUERIES["geo_geohash_encode"].spark(spark, sf_dir).collect()
        assert len(rows) == len(agg)
        for r in rows:
            n, min_ev, code = agg[r["geohash"]]
            assert r["n_points"] == n
            assert r["min_event_id"] == min_ev
            assert r["cell_code"] == code

    def test_known_geohash_values(self):
        # reference point: lat 57.64°, lon 10.40° → geohash 'u4pru'
        # (the canonical Wikipedia example, truncated to precision 5;
        # centi-degree quantization keeps the same cell at 25 bits)
        h, _ = _geohash(5764, 1040)
        assert h == "u4pru"
        # equator/meridian origin cell
        h0, g0 = _geohash(0, 0)
        assert h0 == "s0000"
        # poles/antimeridian corners stay in-range 5 chars
        for lat_c, lon_c in [(-9000, -18000), (8999, 17999)]:
            h, g = _geohash(lat_c, lon_c)
            assert len(h) == 5 and 0 <= g < 2 ** 25


class TestZipfSlope:
    def test_python_replica(self, spark, sf_dir):
        import re

        raw = _duck(sf_dir, "SELECT text FROM documents")
        freq: dict[str, int] = {}
        for (text,) in raw:
            for tok in re.split(r"\s+", text.strip().lower()):
                if tok:
                    freq[tok] = freq.get(tok, 0) + 1
        ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
        pts = [
            (round(math.log(i + 1) * 1000000), round(math.log(f) * 1000000))
            for i, (_, f) in enumerate(ranked[:ZIPF_TOP_N])
        ]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        num = n * sxy - sx * sy
        den = n * sxx - sx * sx
        slope_micro = round(num * 1000000 / den)
        intercept_micro = round((sy - (num / den) * sx) / n)

        rows = QUERIES["text_zipf_slope"].spark(spark, sf_dir).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["n_points"] == n
        assert r["sum_lnrank_micro"] == sx
        assert r["sum_lnfreq_micro"] == sy
        assert r["slope_micro"] == slope_micro
        assert r["intercept_micro"] == intercept_micro
        # a frequency-ranked fit must slope downward
        assert r["slope_micro"] < 0


def _stage_parquet(tmpdir: str, table: str, create_sql: str) -> None:
    con = duckdb.connect()
    con.execute(
        f"COPY ({create_sql}) TO '{tmpdir}/{table}.parquet' (FORMAT PARQUET)"
    )


def _oracle_rows(tmpdir: str, name: str):
    from caliper_poc_data_etl_spark.queries import QUERIES as Q

    con = duckdb.connect()
    for t in ["lineitem", "documents"]:
        import os

        if os.path.exists(f"{tmpdir}/{t}.parquet"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{tmpdir}/{t}.parquet')"
            )
    return con.execute(Q[name].oracle).fetchall()


class TestRound10EdgeGuards:
    """Constructed-fixture edge cases for the ADVICE-r7-review fixes:
    structural-zero contingency cells, zero denominators (kappa,
    Cramér mindim, zipf x-variance) — each run END TO END on BOTH
    engines (Spark query over staged parquet + DuckDB oracle over the
    same file) and checked for agreement."""

    def test_cramers_structural_zero_cells(self, spark, tmp_path):
        d = str(tmp_path)
        # perfect 2x2 association with both off-diagonal cells EMPTY:
        # full-grid chi2 = N -> V = 1.0 exactly
        _stage_parquet(
            d,
            "lineitem",
            "SELECT 'A' AS l_returnflag, 'O' AS l_linestatus "
            "FROM range(5) UNION ALL "
            "SELECT 'R', 'F' FROM range(3)",
        )
        rows = QUERIES["ml_cramers_v"].spark(spark, d).collect()
        assert len(rows) == 4  # full 2x2 grid, not just 2 observed cells
        by_cell = {
            (r["l_returnflag"], r["l_linestatus"]): r for r in rows
        }
        assert by_cell[("A", "F")]["n_xy"] == 0
        assert by_cell[("R", "O")]["n_xy"] == 0
        # empty-cell contribution: dev = -n_x*n_y, e = n_x*n_y/N
        assert by_cell[("A", "F")]["cell_chi2_micro"] == round(
            5 * 3 / 8 * 1e6
        )
        r0 = rows[0]
        assert r0["chi2_micro"] == 8_000_000  # chi2 == N for V=1
        assert r0["cramers_v_micro"] == 1_000_000
        spark_canon = sorted(tuple(r) for r in rows)
        duck = sorted(tuple(r) for r in _oracle_rows(d, "ml_cramers_v"))
        assert spark_canon == duck

    def test_cramers_single_category_null_v(self, spark, tmp_path):
        d = str(tmp_path)
        _stage_parquet(
            d,
            "lineitem",
            "SELECT 'A' AS l_returnflag, "
            "CASE WHEN range % 2 = 0 THEN 'O' ELSE 'F' END AS l_linestatus "
            "FROM range(10)",
        )
        rows = QUERIES["ml_cramers_v"].spark(spark, d).collect()
        assert len(rows) == 2
        assert all(r["cramers_v_micro"] is None for r in rows)
        duck = _oracle_rows(d, "ml_cramers_v")
        assert all(r[-1] is None for r in duck)

    def test_kappa_degenerate_single_label_null(self, spark, tmp_path):
        d = str(tmp_path)
        # every row classifies H on both raters -> kappa_den = 0
        _stage_parquet(
            d,
            "lineitem",
            "SELECT 30.0 AS l_quantity, 50000.0 AS l_extendedprice "
            "FROM range(7)",
        )
        rows = QUERIES["ml_cohens_kappa"].spark(spark, d).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["kappa_den"] == 0 and r["kappa_num"] == 0
        assert r["kappa_micro"] is None
        duck = _oracle_rows(d, "ml_cohens_kappa")
        assert duck[0][-1] is None

    def test_zipf_single_token_null_slope(self, spark, tmp_path):
        d = str(tmp_path)
        _stage_parquet(
            d,
            "documents",
            "SELECT range AS doc_id, 'hello hello hello' AS text, "
            "'en' AS lang, 'web' AS source, 17 AS n_chars FROM range(4)",
        )
        rows = QUERIES["text_zipf_slope"].spark(spark, d).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["n_points"] == 1
        assert r["slope_micro"] is None
        assert r["intercept_micro"] is None
        duck = _oracle_rows(d, "text_zipf_slope")
        assert duck[0][3] is None and duck[0][4] is None
