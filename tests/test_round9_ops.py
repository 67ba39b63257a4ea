"""Semantic tests for the round-9 batch (queries/similarity.py): a numpy
replica of IVF+PQ recall@k vs the exact integer-L2 top-k, pinning the
declared mean-recall floor."""

from __future__ import annotations

import duckdb
import numpy as np

from caliper_poc_data_etl_spark.queries import QUERIES
from caliper_poc_data_etl_spark.queries.similarity import (
    IVFPQ_CELLS,
    IVFPQ_NQ,
    IVFPQ_PROBE,
    IVFPQ_SHORTLIST,
    IVFPQ_TOPK,
)
from caliper_poc_data_etl_spark.queries.similarity import IVFPQ_RECALL_FLOOR_MILLI
from caliper_poc_data_etl_spark.queries.similarity import (
    PQ_CODEBOOK,
    PQ_SUBDIM,
    PQ_SUBSPACES,
)


def _vectors(sf_dir: str) -> dict[int, np.ndarray]:
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    return {
        i: np.array([round(float(x) * 1000) for x in e], dtype=np.int64)
        for i, e in rows
    }


def _numpy_ivfpq_topk(z: dict[int, np.ndarray]) -> dict[int, list[int]]:
    """Replica of the composed pipeline (similarity.sim_ivfpq_topk)."""
    ids = sorted(z)
    cells = {c: z[c] for c in range(IVFPQ_CELLS)}

    def nearest_cells(v, n):
        ds = sorted(
            (int(((v - cv) ** 2).sum()), c) for c, cv in cells.items()
        )
        return [c for _, c in ds[:n]]

    assign = {i: nearest_cells(z[i], 1)[0] for i in ids}
    # PQ codes
    def subvecs(v):
        return [v[s * PQ_SUBDIM:(s + 1) * PQ_SUBDIM] for s in range(PQ_SUBSPACES)]

    cb = {c: subvecs(z[c]) for c in range(PQ_CODEBOOK)}
    codes = {}
    for i in ids:
        svs = subvecs(z[i])
        codes[i] = [
            min(
                ((int(((svs[s] - cb[c][s]) ** 2).sum()), c) for c in cb),
            )[1]
            for s in range(PQ_SUBSPACES)
        ]
    out = {}
    for qid in range(IVFPQ_NQ):
        svq = subvecs(z[qid])
        adc = [
            {c: int(((svq[s] - cb[c][s]) ** 2).sum()) for c in cb}
            for s in range(PQ_SUBSPACES)
        ]
        probes = set(nearest_cells(z[qid], IVFPQ_PROBE))
        cand = [i for i in ids if i != qid and assign[i] in probes]
        scored = sorted(
            (sum(adc[s][codes[i][s]] for s in range(PQ_SUBSPACES)), i)
            for i in cand
        )
        short = [i for _, i in scored[:IVFPQ_SHORTLIST]]
        rer = sorted((int(((z[qid] - z[i]) ** 2).sum()), i) for i in short)
        out[qid] = [i for _, i in rer[:IVFPQ_TOPK]]
    return out


def _numpy_exact_topk(z: dict[int, np.ndarray]) -> dict[int, list[int]]:
    ids = sorted(z)
    out = {}
    for qid in range(IVFPQ_NQ):
        d = sorted(
            (int(((z[qid] - z[i]) ** 2).sum()), i) for i in ids if i != qid
        )
        out[qid] = [i for _, i in d[:IVFPQ_TOPK]]
    return out


class TestIvfpqRecall:
    def test_numpy_replica_and_floor(self, spark, sf_dir):
        z = _vectors(sf_dir)
        approx = _numpy_ivfpq_topk(z)
        exact = _numpy_exact_topk(z)
        expect = {
            q: len(set(approx[q]) & set(exact[q])) for q in range(IVFPQ_NQ)
        }
        total = sum(expect.values())
        mean_milli = total * 1000 // (IVFPQ_NQ * IVFPQ_TOPK)

        rows = (
            QUERIES["sim_ivfpq_recall_vs_exact"].spark(spark, sf_dir).collect()
        )
        assert len(rows) == IVFPQ_NQ
        for r in rows:
            assert r["n_hit"] == expect[r["query_id"]]
            assert r["recall_milli"] == expect[r["query_id"]] * 1000 // IVFPQ_TOPK
            assert r["mean_recall_milli"] == mean_milli
            assert r["meets_floor"] == (mean_milli >= IVFPQ_RECALL_FLOOR_MILLI)
        # the declared floor actually holds on the graded fixture
        assert mean_milli >= IVFPQ_RECALL_FLOOR_MILLI
