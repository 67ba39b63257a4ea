"""IVF+PQ ANN pipeline vs exact brute force at scale.

``sim_ivfpq_topk`` composes the three production ANN stages (coarse
IVF pruning → PQ asymmetric-distance shortlist → exact re-rank of the
shortlist). This demo quantifies WHY that shape exists: it tiles the
embedding corpus K× (scale_smoke's tiler, key-offset so ids stay
unique), then measures, for the same probe set:

1. exact brute-force integer-L2 top-k over the full corpus
   (the ``sim_cosine_topk`` posture: probe side broadcast, corpus
   scanned once — correct, but cost grows with |corpus|);
2. the IVF+PQ pipeline (candidates limited to probed cells, scored
   through 4-bit codes, full vectors read back only for the
   shortlist);
3. recall of (2) against (1) — the accuracy the pruning costs.

Usage:
    SPARK_GRAFT_SCALE_K=100 python tools/ivfpq_demo.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

BASE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K = int(os.environ.get("SPARK_GRAFT_SCALE_K", "100"))


def main() -> int:
    from pyspark.sql.window import Window as W

    from caliper_poc_data_etl_spark.queries import QUERIES
    from caliper_poc_data_etl_spark.queries.similarity import IVFPQ_NQ, IVFPQ_TOPK
    from caliper_poc_data_etl_spark.session import get_spark
    from tools.scale_smoke import tile_tables

    spark = get_spark("ivfpq-demo")
    spark.range(1).count()
    out = tempfile.mkdtemp(prefix=f"ivfpq_demo_{K}x_")
    t0 = time.perf_counter()
    tile_tables(spark, BASE_SF_DIR, out, K)
    print(f"# tiling wall: {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    n_corpus = spark.read.parquet(f"{out}/embeddings.parquet").count()

    def brute_force(sf_dir):
        """Exact integer-L2 top-k: probe side broadcast, corpus scanned
        once — the sim_cosine_topk posture at integer exactness."""
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        xe = e.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000).cast("long"),
            ).alias("qv"),
        )
        probes = xe.filter(F.col("vec_id") < IVFPQ_NQ).select(
            F.col("vec_id").alias("qid"), F.col("qv").alias("pq")
        )
        d2 = F.aggregate(
            F.zip_with("qv", "pq", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        pairs = xe.crossJoin(F.broadcast(probes)).filter(
            F.col("vec_id") != F.col("qid")
        )
        wq = W.partitionBy("qid").orderBy("d2", "nid")
        return (
            pairs.select("qid", F.col("vec_id").alias("nid"), d2.alias("d2"))
            .withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= IVFPQ_TOPK)
            .select("qid", "nid", "rn")
        )

    from caliper_poc_data_etl_spark.queries.similarity import (
        IVFPQ_CELLS,
        IVFPQ_PROBE,
        IVFPQ_SHORTLIST,
    )

    for label, path in (("sf0.1", BASE_SF_DIR), (f"{K}x", out)):
        t0 = time.perf_counter()
        exact = {(r["qid"], r["nid"]) for r in brute_force(path).collect()}
        t_bf = time.perf_counter() - t0
        t0 = time.perf_counter()
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in QUERIES["sim_ivfpq_topk"].spark(spark, path).collect()
        }
        t_pq = time.perf_counter() - t0
        recall = len(exact & approx) / len(exact) if exact else 0.0
        n = spark.read.parquet(f"{path}/embeddings.parquet").count()
        # work accounting — the quantities that scale, independent of
        # this host's fixed per-stage overhead:
        full_d_bf = n * IVFPQ_NQ          # 64-d distances, brute force
        cand = n * IVFPQ_PROBE // IVFPQ_CELLS * IVFPQ_NQ  # ~cells probed
        full_d_pq = IVFPQ_SHORTLIST * IVFPQ_NQ  # re-rank only
        print(
            f"{label}: corpus {n}; wall brute {t_bf:.2f}s vs ivfpq "
            f"{t_pq:.2f}s; recall@{IVFPQ_TOPK} {recall:.2f}; 64-d "
            f"distance evals {full_d_bf:,} -> {full_d_pq:,} "
            f"({full_d_bf // max(full_d_pq, 1):,}x less), plus "
            f"{cand:,} 8-entry ADC adds; index bytes/vec 256 -> 4"
        )
    shutil.rmtree(out, ignore_errors=True)
    print(
        "# Honest read: at this corpus size the broadcast brute-force "
        "scan wins on WALL (the pipeline's ~10 fixed stages dominate); "
        "the pipeline wins on WORK and MEMORY — full-vector distance "
        "evals drop by |corpus|·PROBE/CELLS/SHORTLIST and the scored "
        "index is 4-bit codes (64x smaller than float32 vectors). "
        "Those are the terms that grow at 100 TB; the wall crossover "
        "arrives with corpus size, exactly why sim_cosine_topk stays "
        "the declared small-corpus path.",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
