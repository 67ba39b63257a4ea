"""Regression tests for the ADVICE r9 findings (all low severity):

1. queries/dedup.py — decontam_embedding_cosine keeps the RAW-FLOAT
   cosine form deliberately (acceptance recorded in the docstring, to
   stay twinned with dedup_embedding_cosine); the acceptance's factual
   basis — "the fixtures sit far from the threshold and from every
   ROUND(...,4) boundary" — is pinned HERE so a future corpus that
   shrinks the margin fails loudly and forces the integer
   quantize-then-score port (both twins together).
2. queries/relational.py — _hll_raw_milli_cols renamed
   _hll_clamped_inverse_col with a docstring that matches its return
   value (docstring-only; estimator parity already pinned in
   tests/test_round14_ops.py).
3. queries/curation.py — mix_round_robin_interleave re-planned: the
   global position no longer routes the whole manifest through a
   single-partition Window (the WindowExec warning ADVICE flagged) —
   range repartition + per-partition rank + broadcast offset table.
   The plan shape is pinned here; semantics are pinned by the
   replica/oracle tests that predate the re-plan.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_DIR, SF_DIR_ORACLE


def _cosine_margins(sf_dir: str) -> tuple[float, float]:
    """(min |cosine - threshold|, min grid-distance of any FLAGGED
    cosine to a ROUND(...,4) half-point) over the fixture corpus,
    computed in DuckDB with the op's own expression shape."""
    from caliper_poc_data_etl_spark.queries.dedup import (
        DECONTAM_COS_THRESHOLD,
        DECONTAM_EVAL_VEC_MOD,
    )

    con = duckdb.connect()
    q = f"""
    WITH ev AS (SELECT vec_id, embedding
                FROM read_parquet('{sf_dir}/embeddings.parquet')
                WHERE vec_id % {DECONTAM_EVAL_VEC_MOD} = 0),
    tr AS (SELECT vec_id, embedding
           FROM read_parquet('{sf_dir}/embeddings.parquet')
           WHERE vec_id % {DECONTAM_EVAL_VEC_MOD} <> 0),
    scored AS (
      SELECT CAST(list_dot_product(tr.embedding, ev.embedding) AS DOUBLE)
             / (sqrt(CAST(list_dot_product(tr.embedding, tr.embedding) AS DOUBLE))
                * sqrt(CAST(list_dot_product(ev.embedding, ev.embedding) AS DOUBLE)))
               AS cosine
      FROM tr, ev)
    SELECT
      (SELECT MIN(ABS(cosine - {DECONTAM_COS_THRESHOLD})) FROM scored),
      (SELECT MIN(ABS(ABS(cosine*10000 - FLOOR(cosine*10000)) - 0.5))
       FROM scored WHERE cosine >= {DECONTAM_COS_THRESHOLD})
    """
    return con.execute(q).fetchone()


class TestDecontamRawFloatAcceptance:
    def test_threshold_and_rounding_margins(self):
        # Cross-engine summation-order divergence on a 64-dim double
        # dot product is ~1e-15 relative; the acceptance requires the
        # fixtures to sit ORDERS above that at both the pytest and
        # driver scale factors. Measured: threshold margin >= 1.0e-4
        # at every SF, rounding-grid margin >= 1.2e-2 half-point
        # units. Pins at 1e-5 / 1e-3 — if a corpus ever lands inside,
        # port BOTH embedding-cosine ops to the integer recipe.
        for sf in (SF_DIR, SF_DIR_ORACLE):
            thr_margin, grid_margin = _cosine_margins(sf)
            assert thr_margin > 1e-5, sf
            assert grid_margin > 1e-3, sf

    def test_acceptance_recorded_in_docstring(self):
        from caliper_poc_data_etl_spark.queries.dedup import decontam_embedding_cosine

        doc = decontam_embedding_cosine.__doc__ or ""
        assert "RAW-FLOAT FORM ACCEPTED" in doc


class TestHllHelperRename:
    def test_docstring_matches_return(self):
        from caliper_poc_data_etl_spark.queries import relational

        assert not hasattr(relational, "_hll_raw_milli_cols")
        doc = relational._hll_clamped_inverse_col.__doc__ or ""
        assert "clamped" in doc.lower()


class TestInterleaveNoGlobalWindow:
    def test_plan_shape(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries import QUERIES

        df = QUERIES["mix_round_robin_interleave"].spark(spark, sf_dir)
        for _ in df.toLocalIterator():
            pass
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        low = plan.lower()
        # the manifest reaches its rank through a RANGE repartition...
        assert "rangepartitioning" in low
        # ...and the big row_number Window is partitioned by pid, not
        # global (windowspecdefinition's first arg is the partition
        # spec; before the re-plan it was empty for global_pos)
        assert "windowspecdefinition(pid" in low.replace("#", "").replace(
            " ", ""
        ) or "windowspecdefinition(pid" in low
