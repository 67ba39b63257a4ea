"""Semantic tests for the round-9 continuation batch 3
(queries/dedup.py, training.py, ml.py): pure-Python replicas plus the properties the
cross-engine hash cannot prove (lossless recall, padding envelope,
group integrity)."""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

import duckdb

from caliper_poc_data_etl_spark.queries import QUERIES
from caliper_poc_data_etl_spark.queries.ml import GKF_K
from caliper_poc_data_etl_spark.queries.training import LB_BATCH_DOCS
from caliper_poc_data_etl_spark.queries.dedup import PF_JACC_MILLI


def _fetch(sf_dir: str, sql: str):
    con = duckdb.connect()
    return con.execute(sql.format(sf=sf_dir)).fetchall()


def _shingles(text: str) -> set[str]:
    w = re.split(r"\s+", text.strip())
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()


# ---------------------------------------------------------------------------
# dedup_prefix_filter_jaccard
# ---------------------------------------------------------------------------


class TestDedupPrefixFilterJaccard:
    def test_lossless_vs_naive_all_pairs(self, spark, sf_dir):
        # THE property: prefix filtering is exact — the output equals
        # the naive all-pairs threshold join, no recall loss (the
        # contrast with the MinHash-LSH family).
        docs = _fetch(
            sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'"
        )
        sets = {d: _shingles(t) for d, t in docs if _shingles(t)}
        ids = sorted(sets)
        want = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                inter = len(sets[a] & sets[b])
                if inter == 0:
                    continue
                jm = (inter * 1000) // (len(sets[a]) + len(sets[b]) - inter)
                if jm >= PF_JACC_MILLI:
                    want[(a, b)] = jm
        got = {
            (r["doc_a"], r["doc_b"]): r["jacc_milli"]
            for r in QUERIES["dedup_prefix_filter_jaccard"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == want
        assert len(got) > 0

    def test_prefix_pigeonhole_lemma(self):
        # Algebraic core: under ANY shared total order, if two sets
        # have Jaccard >= 1/2 their (|x| - ceil(|x|/2) + 1)-prefixes
        # intersect. Deterministic pseudo-random sets via md5.
        def prefix(s, order):
            xs = sorted(s, key=order)
            keep = len(xs) - (len(xs) + 1) // 2 + 1
            return set(xs[:keep])

        order = lambda v: hashlib.md5(str(v).encode()).hexdigest()
        for seed in range(200):
            h = lambda i: int(
                hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:4], 16
            )
            a = {h(i) % 50 for i in range(0, 12)}
            b = {h(i) % 50 for i in range(6, 18)}
            if not a or not b:
                continue
            inter = len(a & b)
            jm = (inter * 1000) // (len(a) + len(b) - inter)
            if jm >= PF_JACC_MILLI:
                assert prefix(a, order) & prefix(b, order), (seed, a, b)


# ---------------------------------------------------------------------------
# training_length_bucket_batches
# ---------------------------------------------------------------------------


class TestTrainingLengthBucketBatches:
    def test_python_replica(self, spark, sf_dir):
        docs = _fetch(
            sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'"
        )
        recs = []
        for did, text in docs:
            n = len([w for w in re.split(r"\s+", text.strip()) if w])
            bucket = 1 if n <= 1 else 1 << (n - 1).bit_length()
            recs.append((bucket, did, n))
        want = {}
        by_bucket: dict[int, list] = defaultdict(list)
        for bucket, did, n in recs:
            by_bucket[bucket].append((did, n))
        for bucket, members in by_bucket.items():
            for rn, (did, n) in enumerate(sorted(members), start=1):
                want[did] = (n, bucket, (rn - 1) // LB_BATCH_DOCS, bucket - n)
        got = {
            r["doc_id"]: (r["n_tokens"], r["bucket"], r["batch_idx"], r["padding"])
            for r in QUERIES["training_length_bucket_batches"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == want

    def test_padding_envelope_and_rectangular_batches(self, spark, sf_dir):
        out = QUERIES["training_length_bucket_batches"].spark(spark, sf_dir).collect()
        batches: dict[tuple[int, int], list] = defaultdict(list)
        for r in out:
            # pow2 envelope: waste strictly under the example's own size
            if r["n_tokens"] >= 2:
                assert 0 <= r["padding"] < r["n_tokens"]
            assert r["bucket"] >= r["n_tokens"]
            assert r["bucket"] & (r["bucket"] - 1) == 0  # power of two
            batches[(r["bucket"], r["batch_idx"])].append(r["n_tokens"])
        for (bucket, _), members in batches.items():
            assert len(members) <= LB_BATCH_DOCS
            assert all(n <= bucket for n in members)


# ---------------------------------------------------------------------------
# ml_group_kfold_assign
# ---------------------------------------------------------------------------


class TestMlGroupKfoldAssign:
    def test_python_replica(self, spark, sf_dir):
        docs = _fetch(
            sf_dir, "SELECT doc_id, source FROM '{sf}/documents.parquet'"
        )
        want = {
            did: (
                src,
                int(hashlib.md5(src.encode()).hexdigest()[:13], 16) % GKF_K,
            )
            for did, src in docs
        }
        got = {
            r["doc_id"]: (r["source"], r["fold"])
            for r in QUERIES["ml_group_kfold_assign"].spark(spark, sf_dir).collect()
        }
        assert got == want

    def test_group_integrity_and_coverage(self, spark, sf_dir):
        out = QUERIES["ml_group_kfold_assign"].spark(spark, sf_dir).collect()
        folds_by_source: dict[str, set[int]] = defaultdict(set)
        for r in out:
            assert 0 <= r["fold"] < GKF_K
            folds_by_source[r["source"]].add(r["fold"])
        # THE invariant: one fold per source — no group straddles a
        # train/validation boundary
        for src, folds in folds_by_source.items():
            assert len(folds) == 1, src
        # fixture coverage: this corpus's 20 sources hit every fold
        assert len({next(iter(v)) for v in folds_by_source.values()}) == GKF_K
