"""Regression tests for the ADVICE r8 findings (all low severity):

1. queries/ml.py — ml_psi_drift: the DuckDB oracle's
   ``CASE WHEN early THEN 0 ELSE 1`` classified a NULL o_orderdate as
   late while Spark's ``early.cast('int')`` yielded NULL which sum()
   skipped — a NULL-dated row was counted on one side but not the
   other. Both sides now filter ``o_orderdate IS NOT NULL``; the
   alignment is pinned here with a synthetic NULL-dated row so the
   divergence class fails loudly even though the fixtures carry no
   NULL dates.
2. queries/curation.py — curation_span_dedup_rewrite: the survivorship
   key ``doc_id * _SPAN_IDX_BASE + pos`` mis-ranks first-occurrence
   survivorship for any document with >= _SPAN_IDX_BASE words —
   identically on both engines, so the cross-engine hash stays green
   while semantics silently break. The base is raised to 1e9 and the
   bound is pinned against both fixture dirs (the nonnegative-id
   pins' sibling), plus an overflow-headroom pin on max doc_id.
3. tools/check_oracle.py — the type-sensitive gate itself is covered
   in tests/test_oracle_types.py (the r8 HUGEINT class).
4. tests/test_round11_ops.py — fixture dirs now come from
   tests.conftest (covered by that file's own run; no test here).
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from caliper_poc_data_etl_spark.queries.curation import _SPAN_IDX_BASE
from tests.conftest import SF_DIR, SF_DIR_ORACLE


class TestPsiNullDateAlignment:
    def test_null_dates_excluded_on_both_engines(self, spark, sf_dir):
        """A NULL o_orderdate row must land in NEITHER histogram on
        either engine. Replays the exact oracle CTE shape over a
        3-row frame with one NULL date and asserts the DuckDB counts
        match Spark's — before the fix DuckDB counted the NULL row as
        late (n_late=2) while Spark skipped it."""
        from pyspark.sql import functions as F

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE o AS SELECT * FROM (VALUES "
            "(10.0, TIMESTAMP '2024-01-01'), "
            "(20.0, NULL), "
            "(30.0, TIMESTAMP '2025-06-01')"
            ") t(o_totalprice, o_orderdate)"
        )
        duck_early, duck_late = con.execute(
            """
            SELECT SUM(CASE WHEN early THEN 1 ELSE 0 END),
                   SUM(CASE WHEN early THEN 0 ELSE 1 END)
            FROM (SELECT o_orderdate < TIMESTAMP '2025-01-01' AS early
                  FROM o
                  WHERE o_totalprice > 0 AND o_orderdate IS NOT NULL)
            """
        ).fetchone()
        sdf = spark.createDataFrame(
            [(10.0, "2024-01-01"), (20.0, None), (30.0, "2025-06-01")],
            "o_totalprice double, o_orderdate string",
        ).select(
            "o_totalprice", F.col("o_orderdate").cast("timestamp").alias("o_orderdate")
        )
        early = F.col("o_orderdate") < F.lit("2025-01-01").cast("timestamp")
        srow = (
            sdf.filter(
                (F.col("o_totalprice") > 0) & F.col("o_orderdate").isNotNull()
            )
            .select(early.alias("early"))
            .agg(
                F.sum(F.col("early").cast("int")).alias("n_early"),
                F.sum((~F.col("early")).cast("int")).alias("n_late"),
            )
            .collect()[0]
        )
        assert (srow["n_early"], srow["n_late"]) == (duck_early, duck_late) == (1, 1)

    def test_graded_query_still_matches_oracle(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries import QUERIES
        from caliper_poc_data_etl_spark.sources.readers import TABLE_NAMES
        from tools.check_oracle import _canon

        q = QUERIES["ml_psi_drift"]
        sdf = q.spark(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        con = duckdb.connect()
        for name in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{name}.parquet')"
            )
        rel = con.sql(q.oracle)
        assert _canon(srows, sdf.columns) == _canon(
            rel.fetchall(), list(rel.columns)
        )


class TestSpanIdxBasePins:
    def test_fixture_docs_shorter_than_base(self):
        """max word count across fixture documents must stay below
        _SPAN_IDX_BASE or the packed (doc_id, pos) survivorship key
        mis-ranks — identically on both engines, invisible to the
        cross-engine hash (ADVICE r8)."""
        con = duckdb.connect()
        for sf_dir in {SF_DIR, SF_DIR_ORACLE}:
            max_words, max_doc = con.execute(
                f"SELECT MAX(len(string_split(text, ' '))), MAX(doc_id) "
                f"FROM read_parquet('{sf_dir}/documents.parquet')"
            ).fetchone()
            assert max_words < _SPAN_IDX_BASE, sf_dir
            # packed key must stay inside BIGINT: doc_id * base + pos
            assert max_doc < (2**63 - 1) // _SPAN_IDX_BASE, sf_dir

    def test_base_ranks_doc_then_pos(self):
        # lexicographic (doc_id, pos) min == packed-key min as long as
        # pos < base: a late position in an early doc must still beat
        # any position in a later doc.
        early_doc_late_pos = 5 * _SPAN_IDX_BASE + (_SPAN_IDX_BASE - 1)
        late_doc_early_pos = 6 * _SPAN_IDX_BASE + 0
        assert early_doc_late_pos < late_doc_early_pos
