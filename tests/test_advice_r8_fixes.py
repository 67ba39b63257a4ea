"""Regression tests for the ADVICE r7 findings (all low severity):

1. queries/ml.py — ml_cohens_kappa derived Σ rmₖ·cmₖ from
   DIAGONAL cells; a label with nonzero row/column marginals but an
   empty (k,k) cell silently dropped its chance term, overstating
   kappa on BOTH engines (cross-engine hash can't catch it). Now pe
   comes from the row/column marginal tables full-outer-joined on
   label, removing the data-dependent precondition.
2. queries/scalars.py — geo_geohash_encode assumes nonnegative
   user_id/event_id (sign-preserving % plus DuckDB-//-vs-Spark-div
   divergence on negative operands would break parity). The
   assumption is pinned here against the driver fixtures so a future
   data-generator change fails loudly.
3. streaming/events.py — record_stream_progress evicted the
   OLDEST-INSERTED key, but re-recording an existing name kept its
   original dict position, so a just-refreshed replay could be
   evicted as "oldest" while stale entries survived. Now
   pop-and-reinsert makes eviction order track recency of recording.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from caliper_poc_data_etl_spark.streaming import events as sev
from tests.conftest import SF_DIR, SF_DIR_ORACLE


class _FakeQuery:
    def __init__(self, progress):
        self.recentProgress = progress


class TestEvictionTracksRecency:
    def test_rerecorded_name_moves_to_back(self):
        sev.RECENT_STREAM_PROGRESS.clear()
        cap = sev._MAX_RECORDED_REPLAYS
        for i in range(cap):
            sev.record_stream_progress(
                f"replay_{i}", _FakeQuery([{"numInputRows": 1}])
            )
        # refresh the oldest entry, then push one more past the cap
        sev.record_stream_progress(
            "replay_0", _FakeQuery([{"numInputRows": 2}])
        )
        sev.record_stream_progress(
            "replay_new", _FakeQuery([{"numInputRows": 3}])
        )
        kept = list(sev.RECENT_STREAM_PROGRESS)
        # the refreshed replay survives; the stalest one (replay_1) goes
        assert "replay_0" in kept
        assert "replay_1" not in kept
        assert kept[-2:] == ["replay_0", "replay_new"]
        assert len(kept) == cap
        # the refresh actually replaced the stored history
        assert sev.RECENT_STREAM_PROGRESS["replay_0"] == [
            {"numInputRows": 2}
        ]
        sev.RECENT_STREAM_PROGRESS.clear()


class TestKappaMarginalPe:
    def test_empty_diagonal_cell_still_contributes_pe(self, spark, tmp_path):
        # perfect DISAGREEMENT: both diagonal cells empty while every
        # label has nonzero row and column marginals. The diagonal-cell
        # shortcut yields pe_num = 0 (kappa overstated as 0); the
        # marginal form gives pe_num = rm_H*cm_H + rm_L*cm_L = 12.
        d = str(tmp_path)
        con = duckdb.connect()
        con.execute(
            f"COPY (SELECT 30.0 AS l_quantity, 1000.0 AS l_extendedprice "
            f"FROM range(3) UNION ALL "
            f"SELECT 10.0, 50000.0 FROM range(2)) "
            f"TO '{d}/lineitem.parquet' (FORMAT PARQUET)"
        )
        from caliper_poc_data_etl_spark.queries import QUERIES

        rows = QUERIES["ml_cohens_kappa"].spark(spark, d).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["n_tot"] == 5
        assert r["agree"] == 0
        assert r["pe_num"] == 3 * 2 + 2 * 3  # marginal form
        assert r["kappa_num"] == 5 * 0 - 12
        assert r["kappa_den"] == 25 - 12
        assert r["kappa_micro"] == round(-12 * 1_000_000 / 13)
        # oracle agrees end-to-end on the same staged file
        con2 = duckdb.connect()
        con2.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{d}/lineitem.parquet')"
        )
        duck = con2.execute(QUERIES["ml_cohens_kappa"].oracle).fetchall()
        assert duck[0] == (5, 0, 12, -12, 13, round(-12 * 1_000_000 / 13))


class TestGeohashNonnegativeIdPin:
    def test_fixture_ids_nonnegative(self):
        # geo_geohash_encode's centi-degree synthesis relies on
        # sign-preserving % staying in range, which holds only for
        # nonnegative ids. Pin that against BOTH the test and oracle
        # fixture dirs so a generator change fails here, not as an
        # unexplained cross-engine hash mismatch.
        con = duckdb.connect()
        for sf_dir in {SF_DIR, SF_DIR_ORACLE}:
            lo_user, lo_event = con.execute(
                f"SELECT MIN(user_id), MIN(event_id) FROM "
                f"read_parquet('{sf_dir}/events.parquet')"
            ).fetchone()
            assert lo_user >= 0 and lo_event >= 0, sf_dir
