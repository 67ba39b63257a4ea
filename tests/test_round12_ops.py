"""Semantic tests for the round-9 batch (queries/curation.py, dedup.py, ml.py):
pure-Python replicas of all three operators plus property/fixture
checks the cross-engine hash cannot provide (the r8 Hilbert lesson:
generated/identical-on-both-engines arithmetic needs an independent
replica AND an algebraic property pin)."""

from __future__ import annotations

import hashlib
import math
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.queries import QUERIES
from caliper_poc_data_etl_spark.queries.dedup import (
    MERSENNE_P,
    MINHASH_BANDS,
    MINHASH_K,
    _minhash_coeffs,
)
from caliper_poc_data_etl_spark.queries.curation import _DRIFT_CUTOFF
from caliper_poc_data_etl_spark.queries.dedup import LSH_RECALL_FLOOR_MILLI
from caliper_poc_data_etl_spark.queries.curation import PRIORITY_SAMPLE_K, _U52


def _n_words(text: str) -> int:
    """Engine-faithful weight: split(trim(text), '\\s+') yields ['']
    on empty text (weight 1), unlike str.split() which drops it."""
    return len(re.split(r"\s+", text.strip()))


def _round_half_up(v: float) -> int:
    """Both engines round half AWAY from zero for positives (Spark
    F.round / DuckDB ROUND); Python round() is half-to-even."""
    return math.floor(v + 0.5)


def _docs(sf_dir: str) -> list[tuple[int, str]]:
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


# ---------------------------------------------------------------------------
# ml_quantile_drift
# ---------------------------------------------------------------------------


def _py_deciles(values: list[int]) -> dict[int, int]:
    """Inverted-CDF deciles: smallest v with rank >= ceil(q*n/10)."""
    vs = sorted(values)
    n = len(vs)
    return {q: vs[math.ceil(q * n / 10) - 1] for q in range(1, 10)}


class TestQuantileDrift:
    def test_python_replica(self, spark, sf_dir):
        con = duckdb.connect()
        rows = con.execute(
            f"""
            SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                   o_orderdate < TIMESTAMP '{_DRIFT_CUTOFF}'
            FROM '{sf_dir}/orders.parquet'
            WHERE o_totalprice > 0 AND o_orderdate IS NOT NULL
            """
        ).fetchall()
        early = [c for c, e in rows if e]
        late = [c for c, e in rows if not e]
        de, dl = _py_deciles(early), _py_deciles(late)
        out = {
            r["decile"]: r
            for r in QUERIES["ml_quantile_drift"].spark(spark, sf_dir).collect()
        }
        assert sorted(out) == list(range(1, 10))
        for q in range(1, 10):
            assert out[q]["q_early_centi"] == de[q], q
            assert out[q]["q_late_centi"] == dl[q], q
            assert out[q]["shift_centi"] == dl[q] - de[q]
            # floor-division identity for the (possibly negative) pct
            assert out[q]["shift_pct_micro"] == math.floor(
                (dl[q] - de[q]) * 1_000_000 / de[q]
            )

    def test_degenerate_one_sided_input_emits_zero_rows(self, spark, tmp_path):
        # Inner-join parity pin (r9 code review): with every order on
        # ONE side of _DRIFT_CUTOFF the other side has no claims, and
        # the conditional-aggregate form must emit 0 rows like the
        # oracle's eq JOIN lq — not 9 NULL-sided rows (max over zero
        # matching claims). Spark-side: div-by-zero on the empty
        # side's total yields NULL bounds, which fall through to the
        # empty claim array.
        rows = [(float(100 + i), "1999-06-0%d 00:00:00" % (i + 1)) for i in range(5)]
        df = spark.createDataFrame(rows, "o_totalprice double, d string").select(
            "o_totalprice", F.col("d").cast("timestamp").alias("o_orderdate")
        )
        df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
        out = QUERIES["ml_quantile_drift"].spark(spark, str(tmp_path))
        assert out.count() == 0

    def test_decile_range_algebra(self):
        # The explode bounds (10*cum_prev < q*n <= 10*cum) must cover
        # each decile exactly once — checked against the direct
        # inverted-CDF definition on adversarial count shapes (heavy
        # ties, singleton tail, n<10, n=1).
        for counts in (
            [(1, 3), (2, 3), (3, 3)],
            [(5, 1)],
            [(1, 1), (2, 1), (3, 1), (4, 1)],
            [(7, 95), (9, 5)],
            [(1, 1)] * 1,
        ):
            vals = [v for v, c in counts for _ in range(c)]
            want = _py_deciles(vals)
            got: dict[int, int] = {}
            cum = 0
            n = len(vals)
            for v, c in counts:
                prev, cum = cum, cum + c
                q_lo = (10 * prev) // n + 1
                q_hi = min((10 * cum) // n, 9)
                for q in range(q_lo, q_hi + 1):
                    assert q not in got  # each decile claimed once
                    got[q] = v
            assert got == want


# ---------------------------------------------------------------------------
# sample_weighted_reservoir
# ---------------------------------------------------------------------------


def _u52(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:13], 16) + 1


class TestPrioritySampling:
    def test_python_replica(self, spark, sf_dir):
        docs = _docs(sf_dir)
        pr = []
        for doc_id, text in docs:
            w = _n_words(text)
            u = _u52(doc_id)
            pr.append(((w / u) * _U52, doc_id, w, u))
        pr.sort(key=lambda t: (-t[0], t[1]))
        k = PRIORITY_SAMPLE_K
        tau = pr[k][0] if len(pr) > k else 0.0
        want = {
            doc_id: (
                rank + 1,
                w,
                u,
                _round_half_up(max(float(w), tau) * 1_000_000),
            )
            for rank, (p, doc_id, w, u) in enumerate(pr[:k])
        }
        rows = QUERIES["sample_weighted_reservoir"].spark(spark, sf_dir).collect()
        assert len(rows) == k
        total_w = sum(_n_words(t) for _, t in docs)
        est_total = sum(v[3] for v in want.values())
        for r in rows:
            rank, w, u, est = want[r["doc_id"]]
            assert (r["prio_rank"], r["weight"], r["u52"], r["est_micro"]) == (
                rank,
                w,
                u,
                est,
            ), r["doc_id"]
            assert r["total_weight"] == total_w
            assert r["est_total_micro"] == est_total
            assert r["est_over_true_micro"] == est_total // total_w

    def test_estimator_unbiasedness_band(self, spark, sf_dir):
        # One fixed-hash draw, so no statistical assertion — but the
        # DLT estimator at k=100 should land well inside ±50% of the
        # true total on any non-adversarial corpus; a gross miss means
        # the tau/est arithmetic regressed.
        row = (
            QUERIES["sample_weighted_reservoir"]
            .spark(spark, sf_dir)
            .select("est_over_true_micro")
            .first()
        )
        assert 500_000 <= row["est_over_true_micro"] <= 2_000_000

    def test_weight_bias(self, spark, sf_dir):
        # Priority sampling favors heavy items: the sampled docs' mean
        # weight must exceed the corpus mean weight.
        docs = _docs(sf_dir)
        corpus_mean = sum(_n_words(t) for _, t in docs) / len(docs)
        rows = QUERIES["sample_weighted_reservoir"].spark(spark, sf_dir).collect()
        sample_mean = sum(r["weight"] for r in rows) / len(rows)
        assert sample_mean > corpus_mean


# ---------------------------------------------------------------------------
# dedup_minhash_recall_vs_exact
# ---------------------------------------------------------------------------


def _shingles(text: str) -> set[str]:
    toks = text.strip().split()
    return {
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    } if len(toks) >= 3 else set()


def _sig(shset: set[str]) -> list[int]:
    harr = [
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MERSENNE_P
        for s in shset
    ]
    return [min((a * h + b) % MERSENNE_P for h in harr) for a, b in _minhash_coeffs()]


def _py_curve(docs: list[tuple[int, str]]):
    sh = {d: _shingles(t) for d, t in docs if _shingles(t)}
    sigs = {d: _sig(s) for d, s in sh.items()}
    r = MINHASH_K // MINHASH_BANDS
    buckets: dict[tuple[int, str], set[int]] = {}
    for d, sig in sigs.items():
        for b in range(MINHASH_BANDS):
            key = ",".join(str(x) for x in sig[b * r : (b + 1) * r])
            buckets.setdefault((b, key), set()).add(d)
    cand = set()
    for ds in buckets.values():
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                cand.add((a, b))
    curve: dict[int, list[int]] = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            u = len(sh[a] | sh[b])
            decile = (inter * 10) // u
            if decile < 5:
                continue
            n_true, n_caught = curve.setdefault(decile, [0, 0])
            curve[decile] = [n_true + 1, n_caught + ((a, b) in cand)]
    return curve


class TestMinhashRecallCurve:
    def test_python_replica(self, spark, sf_dir):
        want = _py_curve(_docs(sf_dir))
        rows = (
            QUERIES["dedup_minhash_recall_vs_exact"].spark(spark, sf_dir).collect()
        )
        assert {r["decile"]: [r["n_true"], r["n_caught"]] for r in rows} == want
        hi_true = sum(v[0] for d, v in want.items() if d >= 8)
        hi_caught = sum(v[1] for d, v in want.items() if d >= 8)
        for r in rows:
            assert r["recall_milli"] == r["n_caught"] * 1000 // r["n_true"]
            assert r["hi_recall_milli"] == hi_caught * 1000 // hi_true
            assert r["meets_floor"] == (
                hi_caught * 1000 // hi_true >= LSH_RECALL_FLOOR_MILLI
            )

    def test_fixture_meets_floor(self, spark, sf_dir):
        rows = (
            QUERIES["dedup_minhash_recall_vs_exact"].spark(spark, sf_dir).collect()
        )
        assert rows and all(r["meets_floor"] for r in rows)

    def test_synthetic_lower_tail(self, spark, tmp_path):
        # The driver fixtures only contain pairs at deciles 8-10; the
        # S-curve's lower end (deciles 5-7, where banding recall MAY
        # drop) is exercised here with constructed overlaps. The
        # invariant under test: every curve row has caught <= true and
        # the Spark output matches the pure-Python replica exactly.
        base = [f"w{i}" for i in range(40)]
        rows = []
        # ~0.5-jaccard pair: share 26 of 40 tokens (shingle jaccard
        # lands lower than token jaccard; enough for decile >= 5)
        rows.append((0, " ".join(base)))
        rows.append((1, " ".join(base[:30] + [f"x{i}" for i in range(10)])))
        # ~0.7 pair
        rows.append((2, " ".join(base)))
        rows.append((3, " ".join(base[:36] + [f"y{i}" for i in range(4)])))
        # exact dup (decile 10)
        rows.append((4, " ".join(base)))
        # unrelated doc
        rows.append((5, " ".join(f"z{i}" for i in range(40))))
        sdf = spark.createDataFrame(rows, "doc_id long, text string")
        path = str(tmp_path / "documents.parquet")
        sdf.coalesce(1).write.parquet(path)
        got = {
            r["decile"]: (r["n_true"], r["n_caught"])
            for r in QUERIES["dedup_minhash_recall_vs_exact"]
            .spark(spark, str(tmp_path))
            .collect()
        }
        want = {d: tuple(v) for d, v in _py_curve(rows).items()}
        assert got == want
        assert any(d < 8 for d in want), "synthetic lower tail missing"
        for n_true, n_caught in got.values():
            assert 0 <= n_caught <= n_true


# ---------------------------------------------------------------------------
# sample_weighted_reservoir_per_source
# ---------------------------------------------------------------------------


def _docs_with_source(sf_dir: str) -> list[tuple[int, str, str]]:
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text, source FROM '{sf_dir}/documents.parquet' "
        "ORDER BY doc_id"
    ).fetchall()


class TestPerSourcePrioritySampling:
    def test_python_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.curation import (
            PRIORITY_SAMPLE_K_SRC as K,
        )

        groups: dict[str, list[tuple[float, int, int, int]]] = {}
        totals: dict[str, int] = {}
        for doc_id, text, source in _docs_with_source(sf_dir):
            w = _n_words(text)
            u = _u52(doc_id)
            groups.setdefault(source, []).append(((w / u) * _U52, doc_id, w, u))
            totals[source] = totals.get(source, 0) + w
        want = {}
        est_totals: dict[str, int] = {}
        for source, pr in groups.items():
            pr.sort(key=lambda t: (-t[0], t[1]))
            tau = pr[K][0] if len(pr) > K else 0.0
            for rank, (p, doc_id, w, u) in enumerate(pr[:K]):
                est = _round_half_up(max(float(w), tau) * 1_000_000)
                want[doc_id] = (source, rank + 1, w, u, est)
                est_totals[source] = est_totals.get(source, 0) + est
        rows = (
            QUERIES["sample_weighted_reservoir_per_source"]
            .spark(spark, sf_dir)
            .collect()
        )
        assert len(rows) == len(want)
        for r in rows:
            source, rank, w, u, est = want[r["doc_id"]]
            assert (
                r["source"],
                r["prio_rank"],
                r["weight"],
                r["u52"],
                r["est_micro"],
            ) == (source, rank, w, u, est), r["doc_id"]
            assert r["src_total_weight"] == totals[source]
            assert r["src_est_total_micro"] == est_totals[source]
            assert (
                r["est_over_true_micro"] == est_totals[source] // totals[source]
            )

    def test_every_source_represented(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.curation import (
            PRIORITY_SAMPLE_K_SRC as K,
        )

        con = duckdb.connect()
        per_src = dict(
            con.execute(
                f"SELECT source, COUNT(*) FROM '{sf_dir}/documents.parquet' "
                "GROUP BY source"
            ).fetchall()
        )
        rows = (
            QUERIES["sample_weighted_reservoir_per_source"]
            .spark(spark, sf_dir)
            .groupBy("source")
            .count()
            .collect()
        )
        got = {r["source"]: r["count"] for r in rows}
        assert set(got) == set(per_src)
        for s, n in per_src.items():
            assert got[s] == min(K, n)


# ---------------------------------------------------------------------------
# decontam_minhash_crosscorpus
# ---------------------------------------------------------------------------


def _py_decontam(docs: list[tuple[int, str]]):
    from caliper_poc_data_etl_spark.queries.dedup import (
        DECONTAM_EVAL_MOD,
        DECONTAM_JACC_MILLI,
    )

    sh = {d: _shingles(t) for d, t in docs if _shingles(t)}
    sigs = {d: _sig(s) for d, s in sh.items()}
    r = MINHASH_K // MINHASH_BANDS
    ev_bands: dict[tuple[int, str], set[int]] = {}
    for d, sig in sigs.items():
        if d % DECONTAM_EVAL_MOD == 0:
            for b in range(MINHASH_BANDS):
                key = ",".join(str(x) for x in sig[b * r : (b + 1) * r])
                ev_bands.setdefault((b, key), set()).add(d)
    matches: dict[int, list[tuple[int, int]]] = {}
    for d, sig in sigs.items():
        if d % DECONTAM_EVAL_MOD == 0:
            continue
        cands = set()
        for b in range(MINHASH_BANDS):
            key = ",".join(str(x) for x in sig[b * r : (b + 1) * r])
            cands |= ev_bands.get((b, key), set())
        for e in cands:
            inter = len(sh[d] & sh[e])
            u = len(sh[d] | sh[e])
            jm = (inter * 1000) // u
            if jm >= DECONTAM_JACC_MILLI:
                matches.setdefault(d, []).append((jm, e))
    out = {}
    for d, ms in matches.items():
        ms.sort(key=lambda t: (-t[0], t[1]))
        out[d] = (len(ms), ms[0][1], ms[0][0])
    return out


class TestDecontamMinhash:
    def test_python_replica(self, spark, sf_dir):
        want = _py_decontam(_docs(sf_dir))
        rows = (
            QUERIES["decontam_minhash_crosscorpus"].spark(spark, sf_dir).collect()
        )
        got = {
            r["doc_id"]: (
                r["n_eval_matches"],
                r["best_eval_id"],
                r["best_jacc_milli"],
            )
            for r in rows
        }
        assert got == want
        assert got, "fixture must flag at least one contaminated doc"

    def test_no_eval_docs_flagged(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.dedup import DECONTAM_EVAL_MOD

        rows = (
            QUERIES["decontam_minhash_crosscorpus"].spark(spark, sf_dir).collect()
        )
        for r in rows:
            assert r["doc_id"] % DECONTAM_EVAL_MOD != 0
            assert r["best_eval_id"] % DECONTAM_EVAL_MOD == 0
            assert r["best_jacc_milli"] >= 500

    def test_planted_contamination(self, spark, tmp_path):
        # A training doc sharing exactly half its shingle set with an
        # eval doc must be flagged; a disjoint doc must not.
        from caliper_poc_data_etl_spark.queries.dedup import DECONTAM_EVAL_MOD

        base = [f"w{i}" for i in range(40)]
        ev_id = DECONTAM_EVAL_MOD  # % mod == 0 -> eval side
        rows = [
            (ev_id, " ".join(base)),
            (1, " ".join(base[:30] + [f"x{i}" for i in range(10)])),
            (2, " ".join(f"z{i}" for i in range(40))),
        ]
        sdf = spark.createDataFrame(rows, "doc_id long, text string")
        sdf.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
        got = {
            r["doc_id"]: (r["best_eval_id"], r["best_jacc_milli"])
            for r in QUERIES["decontam_minhash_crosscorpus"]
            .spark(spark, str(tmp_path))
            .collect()
        }
        want = _py_decontam(rows)
        assert got == {d: (v[1], v[2]) for d, v in want.items()}
        assert 1 in got and got[1][0] == ev_id
        assert 2 not in got


# ---------------------------------------------------------------------------
# mix_importance_select
# ---------------------------------------------------------------------------


def _docs_lang(sf_dir: str) -> list[tuple[int, str, str]]:
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, lang, text FROM '{sf_dir}/documents.parquet' "
        "ORDER BY doc_id"
    ).fetchall()


def _py_importance(docs):
    from caliper_poc_data_etl_spark.queries.curation import (
        DSIR_BUCKETS,
        DSIR_TOP,
        _DSIR_TARGET_LANG,
        _IR_MICRO,
    )

    def fid(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:13], 16) % DSIR_BUCKETS

    cnt_t: dict[int, int] = {}
    cnt_r: dict[int, int] = {}
    per_doc: list[tuple[int, list[int]]] = []
    for doc_id, lang, text in docs:
        fids = [fid(tok) for tok in re.split(r"\s+", text.strip())]
        per_doc.append((doc_id, fids))
        for f in fids:
            cnt_r[f] = cnt_r.get(f, 0) + 1
            if lang == _DSIR_TARGET_LANG:
                cnt_t[f] = cnt_t.get(f, 0) + 1
    ratio = {
        f: ((cnt_t.get(f, 0) + 1) * _IR_MICRO) // (cnt_r[f] + 1) for f in cnt_r
    }
    scored = []
    for doc_id, fids in per_doc:
        score = sum(ratio[f] for f in fids)
        n = len(fids)
        scored.append((score // n, doc_id, n, score))
    scored.sort(key=lambda r: (-r[0], r[1]))
    return [
        (rk + 1, doc_id, n, score, mean)
        for rk, (mean, doc_id, n, score) in enumerate(scored[:DSIR_TOP])
    ]


class TestImportanceSelect:
    def test_python_replica(self, spark, sf_dir):
        want = _py_importance(_docs_lang(sf_dir))
        got = [
            (
                r["rank"],
                r["doc_id"],
                r["n_toks"],
                r["score_micro"],
                r["mean_ratio_micro"],
            )
            for r in QUERIES["mix_importance_select"]
            .spark(spark, sf_dir)
            .collect()
        ]
        got.sort()
        assert got == want

    def test_target_language_enriched_in_head(self, spark, sf_dir):
        # Face validity: the selected head must be enriched in the
        # target language relative to the corpus base rate.
        from caliper_poc_data_etl_spark.queries.curation import _DSIR_TARGET_LANG

        docs = _docs_lang(sf_dir)
        lang_of = {d: l for d, l, _ in docs}
        base = sum(1 for _, l, _ in docs if l == _DSIR_TARGET_LANG) / len(docs)
        rows = QUERIES["mix_importance_select"].spark(spark, sf_dir).collect()
        head = sum(
            1 for r in rows if lang_of[r["doc_id"]] == _DSIR_TARGET_LANG
        ) / len(rows)
        assert head > base


# ---------------------------------------------------------------------------
# sample_neyman_allocation
# ---------------------------------------------------------------------------


class TestNeymanAllocation:
    def test_python_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.curation import NEYMAN_K

        con = duckdb.connect()
        strata = con.execute(
            f"""
            SELECT lang, COUNT(*), SUM(n_chars), SUM(n_chars * n_chars)
            FROM '{sf_dir}/documents.parquet' GROUP BY lang ORDER BY lang
            """
        ).fetchall()
        # Engine-faithful sigma: floor of the IEEE double sqrt (math.sqrt
        # is correctly rounded, identical to both engines), NOT math.isqrt.
        w = {
            lang: math.floor(math.sqrt(float(n * s2 - s * s)))
            for lang, n, s, s2 in strata
        }
        total = sum(w.values())
        base = {lang: (NEYMAN_K * v) // total for lang, v in w.items()}
        rem = {lang: (NEYMAN_K * v) % total for lang, v in w.items()}
        leftover = NEYMAN_K - sum(base.values())
        order = sorted(w, key=lambda lang: (-rem[lang], lang))
        want = {
            lang: base[lang] + (1 if i < leftover else 0)
            for i, lang in enumerate(order)
        }
        rows = QUERIES["sample_neyman_allocation"].spark(spark, sf_dir).collect()
        got = {r["lang"]: r["alloc"] for r in rows}
        assert got == want
        assert sum(got.values()) == NEYMAN_K
        sigma = {r["lang"]: r["sigma_n"] for r in rows}
        assert sigma == w

    def test_fixture_range_pin(self, spark):
        # ss = N*sum(v^2) - (sum v)^2 must stay inside BIGINT: pin
        # N_h * max(v) < 2^31 per stratum at both fixture SFs (the
        # _SPAN_IDX_BASE pin pattern). Larger corpora quantize v down
        # by a power of two first (scales sigma exactly).
        from tests.conftest import SF_DIR, SF_DIR_ORACLE

        con = duckdb.connect()
        for d in (SF_DIR, SF_DIR_ORACLE):
            worst = con.execute(
                f"""
                SELECT MAX(cnt * mx) FROM (
                  SELECT COUNT(*) AS cnt, MAX(n_chars) AS mx
                  FROM '{d}/documents.parquet' GROUP BY lang)
                """
            ).fetchone()[0]
            assert worst < 2**31

    def test_degenerate_constant_strata_emit_zero_rows(self, spark, tmp_path):
        # All-constant strata have sigma_n = 0 everywhere; BOTH engines
        # must emit 0 rows (Spark: ANSI guard, no divide-by-zero;
        # DuckDB: x // 0 is NULL, so the oracle needs its own w_total
        # guard — pinned here after the r9 review caught the oracle
        # emitting NULL-alloc rows the Spark form never produces).
        rows = [(i, "en" if i % 2 == 0 else "fr", 100) for i in range(10)]
        spark.createDataFrame(
            rows, "doc_id long, lang string, n_chars long"
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        out = QUERIES["sample_neyman_allocation"].spark(spark, str(tmp_path))
        assert out.count() == 0
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'"
        )
        oracle_rows = con.execute(
            QUERIES["sample_neyman_allocation"].oracle
        ).fetchall()
        assert oracle_rows == []
