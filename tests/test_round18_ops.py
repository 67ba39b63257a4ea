"""Semantic tests for the round-12 ops (queries/dedup.py, similarity.py, text.py): SemDeDup
recall/pruning properties the cross-engine hash cannot show, the
quality classifier's local replica, and RRF's fusion contract.
"""

from __future__ import annotations

import hashlib
import math
import tempfile

import pytest

from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.queries import QUERIES
from caliper_poc_data_etl_spark.queries.dedup import SEM_COS_THRESHOLD
from caliper_poc_data_etl_spark.queries.text import (
    _QC_BUCKETS,
    _QC_LCG_A,
    _QC_LCG_C,
    _QC_MOD,
)
from caliper_poc_data_etl_spark.queries.similarity import _RRF_K, _RRF_TOPN


def _rows(name, spark, sf_dir):
    return QUERIES[name].spark(spark, sf_dir).collect()


class TestSemanticDedup:
    def test_recall_vs_exact_baseline(self, spark, oracle_sf_dir):
        """SemDeDup's within-cluster pairs are a SUBSET of the exact
        quadratic baseline at the same threshold (no false positives
        by construction — same cosine, same raw-double compare), and
        the documented trade-off is the cross-cluster misses: on this
        fixture (no near-identical vectors; max cos ~0.5 at the 0.4
        threshold) same-cluster recall is ~0.47 — assert the honest
        floor, and see test_planted_duplicates_recall for the
        high-threshold regime the method is deployed in."""
        exact_dupes = {
            r["vec_b"]
            for r in QUERIES["dedup_embedding_cosine"]
            .spark(spark, oracle_sf_dir)
            .collect()
            # a vector is prunable iff a LOWER id is near it
        }
        out = {r["vec_id"]: r for r in _rows("dedup_semantic_cluster", spark, oracle_sf_dir)}
        pruned = {v for v, r in out.items() if not r["kept"]}
        assert pruned, "expected some semantic pruning on the fixture"
        # no false positives: every pruned vector IS an exact-duplicate
        assert pruned <= exact_dupes
        recall = len(pruned) / len(exact_dupes)
        assert recall >= 0.4, f"semantic-dedup recall {recall}"

    def test_n_close_symmetry_and_keeper_rule(self, spark, oracle_sf_dir):
        out = _rows("dedup_semantic_cluster", spark, oracle_sf_dir)
        # partner counts are over unordered pairs -> their sum is even
        assert sum(r["n_close"] for r in out) % 2 == 0
        # a vector with zero close neighbors is always kept
        for r in out:
            if r["n_close"] == 0:
                assert r["kept"]

    def test_planted_duplicates_recall(self, spark):
        """The deployment regime: near-identical embeddings (the
        duplicates SemDeDup targets) land in the SAME k-means cluster
        by construction — identical points have identical distances —
        so recall on planted clones is 1.0 and exactly one
        representative (the lowest vec_id) survives per clone group."""
        import numpy as np

        rng = np.random.RandomState(7)
        rows = []
        # 12 well-separated base vectors; ids 100.. are clones of id 0
        for vid in range(12):
            v = rng.randn(64).astype("float32")
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v], vid % 3))
        clone_src = rows[0][1]
        for vid in (100, 101):
            rows.append((vid, list(clone_src), 0))
        d = tempfile.mkdtemp(prefix="semdedup_fix_")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        out = {r["vec_id"]: r for r in _rows("dedup_semantic_cluster", spark, d)}
        assert len(out) == 14
        # clones cluster with their source and are pruned; source kept
        assert out[0]["cluster"] == out[100]["cluster"] == out[101]["cluster"]
        assert out[0]["kept"]
        assert not out[100]["kept"] and not out[101]["kept"]
        assert out[0]["n_close"] == 2
        assert out[100]["n_close"] == 2 and out[101]["n_close"] == 2


class TestQualityClassifier:
    def test_local_replica(self, spark, oracle_sf_dir):
        """Recompute w_sum/n_tokens/score in plain Python for a sample
        of documents — pins tokenization, bucket hash, LCG weights,
        and the floor-quantized sigmoid end to end."""
        docs = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
            .limit(40)
            .collect()
        }
        got = {
            r["doc_id"]: r
            for r in _rows("text_quality_classifier_score", spark, oracle_sf_dir)
        }
        checked = 0
        for doc_id, text in docs.items():
            toks = text.strip().lower().split()
            if not toks:
                continue
            w_sum = 0
            for tok in toks:
                b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % _QC_BUCKETS
                w_sum += (b * _QC_LCG_A + _QC_LCG_C) % _QC_MOD - 1000
            r = got[doc_id]
            assert r["n_tokens"] == len(toks)
            assert r["w_sum"] == w_sum
            logit = math.floor(w_sum / (len(toks) * 1000.0) * 1e6 + 0.5) / 1e6
            score = math.floor(1.0 / (1.0 + math.exp(-logit)) * 1e6 + 0.5) / 1e6
            assert r["score"] == pytest.approx(score, abs=1e-9)
            checked += 1
        assert checked >= 30

    def test_score_bounds_and_monotonicity(self, spark, oracle_sf_dir):
        out = _rows("text_quality_classifier_score", spark, oracle_sf_dir)
        assert out
        for r in out:
            assert 0.0 < r["score"] < 1.0
        # sigmoid is monotone in the mean weight
        by_ratio = sorted(out, key=lambda r: r["w_sum"] / r["n_tokens"])
        scores = [r["score"] for r in by_ratio]
        assert scores == sorted(scores)


class TestRrfFusion:
    def test_fusion_contract(self, spark, oracle_sf_dir):
        out = _rows("sim_rrf_fusion", spark, oracle_sf_dir)
        assert out
        ranks = sorted(r["fused_rank"] for r in out)
        assert ranks == list(range(1, len(out) + 1))
        for r in out:
            assert r["rank_lex"] is not None or r["rank_dense"] is not None
            expect = 0.0
            if r["rank_lex"] is not None:
                assert 1 <= r["rank_lex"] <= _RRF_TOPN
                expect += 1.0 / (_RRF_K + r["rank_lex"])
            if r["rank_dense"] is not None:
                assert 1 <= r["rank_dense"] <= _RRF_TOPN
                expect += 1.0 / (_RRF_K + r["rank_dense"])
            assert r["rrf_score"] == pytest.approx(
                math.floor(expect * 1e6 + 0.5) / 1e6, abs=1e-9
            )

    def test_both_rankers_beat_single_ranker_at_same_rank(
        self, spark, oracle_sf_dir
    ):
        """A doc ranked r by BOTH rankers outscores any doc ranked r by
        exactly one — the monotone-fusion property RRF guarantees."""
        out = _rows("sim_rrf_fusion", spark, oracle_sf_dir)
        both = [r for r in out if r["rank_lex"] and r["rank_dense"]]
        single = [
            r
            for r in out
            if (r["rank_lex"] is None) != (r["rank_dense"] is None)
        ]
        for b in both:
            worst = max(b["rank_lex"], b["rank_dense"])
            for s in single:
                s_rank = s["rank_lex"] or s["rank_dense"]
                if s_rank >= worst:
                    assert b["rrf_score"] > s["rrf_score"]


class TestMaxSimLateInteraction:
    def test_numpy_replica(self, spark, oracle_sf_dir):
        """Full MaxSim replica in numpy over the milli-quantized
        vectors — pins the doc grouping, integer dot/norm arithmetic,
        the floor-quantized cosine, and the top-N ordering."""
        import numpy as np

        from caliper_poc_data_etl_spark.queries.similarity import (
            _MAXSIM_DOC_TOKENS as G,
            _MAXSIM_TOPN as TOPN,
        )

        emb = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in spark.read.parquet(
                f"{oracle_sf_dir}/embeddings.parquet"
            ).collect()
        }
        # half-away rounding replica: round(v*1000) with ties away
        x = {
            vid: np.array(
                [
                    int(math.floor(abs(e) * 1000 + 0.5)) * (1 if e >= 0 else -1)
                    for e in v
                ],
                dtype=np.int64,
            )
            for vid, v in emb.items()
        }
        qids = [v for v in sorted(x) if v < G]
        scores = {}
        for vid in sorted(x):
            if vid < G:
                continue
            doc = vid // G
            scores.setdefault(doc, {})
            for qid in qids:
                d, q = x[vid], x[qid]
                dp = int(d @ q)
                n2d, n2q = int(d @ d), int(q @ q)
                cm = math.floor(
                    dp * 1000000 / math.sqrt(float(n2d) * float(n2q)) + 0.5
                )
                prev = scores[doc].get(qid)
                if prev is None or cm > prev:
                    scores[doc][qid] = cm
        totals = sorted(
            ((sum(qs.values()), doc) for doc, qs in scores.items()),
            key=lambda p: (-p[0], p[1]),
        )
        got = _rows("sim_maxsim_late_interaction", spark, oracle_sf_dir)
        assert len(got) == TOPN
        for r, (score, doc) in zip(sorted(got, key=lambda r: r["rank"]), totals):
            assert (r["doc_id"], r["score_micro"], r["n_q"]) == (
                doc,
                score,
                len(qids),
            )

    def test_planted_relevant_doc_ranks_first(self, spark):
        """A corpus document containing verbatim clones of every query
        token vector has maxsim 1e6 per query token — the maximum
        possible score — and must rank 1. The late-interaction
        contract: ONE matching token vector per query token dominates,
        however many unrelated token vectors surround it."""
        import numpy as np

        from caliper_poc_data_etl_spark.queries.similarity import (
            _MAXSIM_DOC_TOKENS as G,
        )

        rng = np.random.RandomState(11)
        rows = []
        for vid in range(G * 6):
            v = rng.randn(64).astype("float32")
            v /= np.linalg.norm(v)
            rows.append((vid, [float(e) for e in v], 0))
        # doc 3 (vec_ids 24..31) := clones of the query tokens 0..7
        for j in range(G):
            rows[3 * G + j] = (3 * G + j, list(rows[j][1]), 0)
        d = tempfile.mkdtemp(prefix="maxsim_fix_")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        got = sorted(
            _rows("sim_maxsim_late_interaction", spark, d),
            key=lambda r: r["rank"],
        )
        assert got[0]["doc_id"] == 3
        # every query token found its clone: score = n_q * 1e6
        assert got[0]["score_micro"] == got[0]["n_q"] * 1_000_000
        ranks = [r["rank"] for r in got]
        assert ranks == list(range(1, len(got) + 1))


def _cdc_chunks(text, w=8, dv=32):
    """Pure-python CDC replica: cut AFTER any w-char window whose
    md5-prefix int % dv == 0; sentinel cut at len."""
    ends = set()
    for p in range(1, max(len(text) - w + 1, 0) + 1):
        gram = text[p - 1 : p - 1 + w]
        if int(hashlib.md5(gram.encode()).hexdigest()[:8], 16) % dv == 0:
            ends.add(p + w - 1)
    ends.add(len(text))
    out, prev = [], 0
    for e in sorted(ends):
        out.append(text[prev:e])
        prev = e
    return out


class TestCdcChunks:
    def test_python_replica(self, spark, oracle_sf_dir):
        """Full replica: chunk boundaries, global multiset dup counts,
        per-doc char accounting."""
        docs = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(
                f"{oracle_sf_dir}/documents.parquet"
            ).collect()
        }
        chunks = {d: _cdc_chunks(t) for d, t in docs.items()}
        freq = {}
        for cl in chunks.values():
            for c in cl:
                freq[c] = freq.get(c, 0) + 1
        got = {r["doc_id"]: r for r in _rows("dedup_cdc_chunks", spark, oracle_sf_dir)}
        assert set(got) == set(docs)
        for d, cl in chunks.items():
            dup = [c for c in cl if freq[c] > 1]
            r = got[d]
            assert r["n_chunks"] == len(cl)
            assert r["n_dup_chunks"] == len(dup)
            assert r["dup_chars"] == sum(len(c) for c in dup)
            assert r["total_chars"] == len(docs[d])
            want_pm = (
                0
                if len(docs[d]) == 0
                else 1000 * sum(len(c) for c in dup) // len(docs[d])
            )
            assert r["dup_permille"] == want_pm

    def test_chunks_cover_document_exactly(self, oracle_sf_dir, spark):
        """Coverage invariant of the replica itself (the cut rule the
        operator and oracle both encode): chunks concatenate back to
        the document, non-overlapping, in order."""
        docs = [
            r["text"]
            for r in spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
            .limit(50)
            .collect()
        ]
        for t in docs:
            assert "".join(_cdc_chunks(t)) == t

    def test_shift_resistance_vs_fixed_width(self, spark):
        """THE content-defined-chunking claim (LBFS §3 / FastCDC §1):
        prepending an edit re-chunks only up to the first boundary
        past the edit — almost every chunk hash survives — whereas
        fixed-width chunking re-keys essentially every chunk."""
        import numpy as np

        rng = np.random.RandomState(3)
        words = ["".join(rng.choice(list("abcdefgh"), 5)) for _ in range(120)]
        base = " ".join(words)
        edited = "zq9 " + base  # 4-char prefix insertion
        d = tempfile.mkdtemp(prefix="cdc_fix_")
        spark.createDataFrame(
            [(0, base, "en", "s"), (1, edited, "en", "s")],
            "doc_id long, text string, lang string, source string",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = {r["doc_id"]: r for r in _rows("dedup_cdc_chunks", spark, d)}
        base_chunks = _cdc_chunks(base)
        shared = set(base_chunks) & set(_cdc_chunks(edited))
        # CDC: all but the first O(1) chunks survive the prefix edit —
        # the operator sees them as cross-doc duplicates.
        assert len(shared) >= len(base_chunks) - 2
        assert got[0]["n_dup_chunks"] >= len(base_chunks) - 2
        # fixed-width 32-char chunking on the same pair shares ~nothing
        fixed = lambda t: [t[i : i + 32] for i in range(0, len(t), 32)]
        assert len(set(fixed(base)) & set(fixed(edited))) <= 1

    def test_degenerate_short_and_empty_docs(self, spark):
        """Docs shorter than the hash window (and empty docs) form one
        whole-doc chunk via the sentinel cut."""
        d = tempfile.mkdtemp(prefix="cdc_deg_")
        spark.createDataFrame(
            [(0, "", "en", "s"), (1, "tiny", "en", "s"), (2, "tiny", "en", "s")],
            "doc_id long, text string, lang string, source string",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = {r["doc_id"]: r for r in _rows("dedup_cdc_chunks", spark, d)}
        assert got[0]["n_chunks"] == 1 and got[0]["total_chars"] == 0
        assert got[0]["dup_permille"] == 0
        assert got[1]["n_chunks"] == 1 and got[1]["n_dup_chunks"] == 1
        assert got[2]["dup_chars"] == 4 and got[2]["dup_permille"] == 1000
