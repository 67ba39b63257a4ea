"""Property tests for the round-10 generated expressions: the geohash
div/mod bit-interleave and the Allen CASE tree are GENERATED SQL
strings, so cross-check them against independent pure-Python
implementations over randomized inputs, evaluated in DuckDB (the
oracle engine) — no SparkSession needed.

The Spark side evaluates the same generated text (modulo the integer-
division token), so agreement here plus the sf-fixture hash-greens in
tests/test_round10_ops.py pins both renderings."""

from __future__ import annotations

import duckdb
from hypothesis import given, settings, strategies as st

from caliper_poc_data_etl_spark.queries.scalars import (
    GEOHASH_ALPHABET,
    _geohash_char_expr,
    _geohash_int_expr,
)
from caliper_poc_data_etl_spark.queries.timeseries import _ALLEN_CASE


def _py_geohash(lat_c: int, lon_c: int) -> tuple[str, int]:
    ilon = (lon_c + 18000) * 8192 // 36000
    ilat = (lat_c + 9000) * 4096 // 18000
    g = 0
    for p in range(25):
        if p % 2 == 0:
            bit = (ilon >> (12 - p // 2)) & 1
        else:
            bit = (ilat >> (11 - (p - 1) // 2)) & 1
        g |= bit << (24 - p)
    return (
        "".join(GEOHASH_ALPHABET[(g >> (5 * (4 - j))) & 31] for j in range(5)),
        g,
    )


class TestGeohashExprProperty:
    @settings(max_examples=200, deadline=None)
    @given(
        lat_c=st.integers(min_value=-9000, max_value=8999),
        lon_c=st.integers(min_value=-18000, max_value=17999),
    )
    def test_generated_sql_matches_python(self, lat_c: int, lon_c: int):
        con = duckdb.connect()
        row = con.execute(
            f"""
            WITH cells AS (
              SELECT ({lon_c} + 18000) * 8192 // 36000 AS ilon,
                     ({lat_c} + 9000) * 4096 // 18000 AS ilat
            ),
            gi AS (SELECT {_geohash_int_expr('//')} AS g FROM cells)
            SELECT {_geohash_char_expr('//')} AS geohash, g FROM gi
            """
        ).fetchone()
        expect_hash, expect_g = _py_geohash(lat_c, lon_c)
        assert row[0] == expect_hash
        assert row[1] == expect_g

    def test_prefix_locality(self):
        # points in the same 1/32-of-world cell share the first char;
        # geohash's defining property at any precision
        h1, _ = _py_geohash(5764, 1040)
        h2, _ = _py_geohash(5700, 1100)
        assert h1[0] == h2[0] == "u"


def _py_allen(a_s, a_e, b_s, b_e) -> str:
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


@st.composite
def _interval_pair(draw):
    # small integer coordinate space so equality/adjacency cases
    # (meets, starts, finishes, equals) are actually generated
    a_s = draw(st.integers(0, 8))
    a_e = draw(st.integers(a_s, 9))
    b_s = draw(st.integers(0, 8))
    b_e = draw(st.integers(b_s, 9))
    return a_s, a_e, b_s, b_e


class TestAllenCaseProperty:
    @settings(max_examples=300, deadline=None)
    @given(pair=_interval_pair())
    def test_case_tree_matches_python(self, pair):
        a_s, a_e, b_s, b_e = pair
        con = duckdb.connect()
        case = (
            _ALLEN_CASE.replace("a_s", f"CAST({a_s} AS BIGINT)")
            .replace("a_e", f"CAST({a_e} AS BIGINT)")
            .replace("b_s", f"CAST({b_s} AS BIGINT)")
            .replace("b_e", f"CAST({b_e} AS BIGINT)")
        )
        got = con.execute(f"SELECT {case}").fetchone()[0]
        assert got == _py_allen(a_s, a_e, b_s, b_e), pair

    def test_relation_partition_property(self):
        # the 13 relations partition interval-pair space: exactly one
        # relation per pair, and inverse pairs map to inverse relations
        inverse = {
            "equals": "equals",
            "precedes": "preceded_by",
            "preceded_by": "precedes",
            "meets": "met_by",
            "met_by": "meets",
            "starts": "started_by",
            "started_by": "starts",
            "finishes": "finished_by",
            "finished_by": "finishes",
            "during": "contains",
            "contains": "during",
            "overlaps": "overlapped_by",
            "overlapped_by": "overlaps",
        }
        seen = set()
        for a_s in range(4):
            for a_e in range(a_s, 4):
                for b_s in range(4):
                    for b_e in range(b_s, 4):
                        r = _py_allen(a_s, a_e, b_s, b_e)
                        r_inv = _py_allen(b_s, b_e, a_s, a_e)
                        assert r_inv == inverse[r]
                        seen.add(r)
        assert seen == set(inverse)
