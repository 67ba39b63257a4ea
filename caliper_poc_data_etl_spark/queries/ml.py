"""Model-evaluation and statistical-learning operators: ranking
metrics, calibration, association statistics, regression and naive
Bayes fits, cross-validation folds, bootstrap intervals and drift
scores, each with a DuckDB twin."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from caliper_poc_data_etl_spark.queries.curation import _DRIFT_CUTOFF
from caliper_poc_data_etl_spark.queries.kernels import fround, idot, md5_int, milli, topk
from caliper_poc_data_etl_spark.queries.registry import query, t


@query(
    "ml_ols_two_feature",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx1,
             CAST(SUM(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS sx2,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx1x1,
             CAST(SUM(CAST(l_discount AS DECIMAL(8,2))
                      * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS sx2x2,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS sx1x2,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx1y,
             CAST(SUM(CAST(l_discount AS DECIMAL(8,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx2y
      FROM lineitem
    )
    SELECT CAST(n AS BIGINT) AS n,
           FLOOR(((sx1x1 - sx1 * sx1 / n) * (sx2y - sx2 * sy / n)
                  - (sx1x2 - sx1 * sx2 / n) * (sx1y - sx1 * sy / n))
                 / ((sx1x1 - sx1 * sx1 / n) * (sx2x2 - sx2 * sx2 / n)
                    - (sx1x2 - sx1 * sx2 / n) * (sx1x2 - sx1 * sx2 / n))
                 * 1e4 + 0.5) / 1e4 AS beta_discount,
           FLOOR(((sx2x2 - sx2 * sx2 / n) * (sx1y - sx1 * sy / n)
                  - (sx1x2 - sx1 * sx2 / n) * (sx2y - sx2 * sy / n))
                 / ((sx1x1 - sx1 * sx1 / n) * (sx2x2 - sx2 * sx2 / n)
                    - (sx1x2 - sx1 * sx2 / n) * (sx1x2 - sx1 * sx2 / n))
                 * 1e4 + 0.5) / 1e4 AS beta_quantity
    FROM m
    """,
)
def ml_ols_two_feature(spark, sf_dir):
    """Two-feature OLS (l_extendedprice ~ l_quantity + l_discount) by
    the NORMAL EQUATIONS: one aggregation collects the 9 power/cross
    moments, Cramer's rule solves the 2×2 centered system in closed
    form — the single-pass distributed regression that needs no
    gradient loop, no feature matrix materialization, no driver-side
    data (generalizing ``agg_regr_slope`` from one regressor to the
    multi-feature shape). ML-prep's workhorse for quick fits and
    leverage diagnostics at 100 TB: moments are algebraic aggregates,
    so the whole fit is map-side partials + one reduce.

    Determinism: every moment is a DECIMAL-exact sum of 2-dp inputs
    cast to double once; the closing Cramer arithmetic is one
    identical IEEE chain per side, floor-rounded."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,2)")
    d = F.col("l_discount").cast("decimal(8,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")

    def dsum(expr):
        return F.sum(expr).cast("double")

    m = li.agg(
        F.count("*").alias("n_raw"),
        dsum(q).alias("sx1"),
        dsum(d).alias("sx2"),
        dsum(y).alias("sy"),
        dsum(q * q).alias("sx1x1"),
        dsum(d * d).alias("sx2x2"),
        dsum(q * d).alias("sx1x2"),
        dsum(q * y).alias("sx1y"),
        dsum(d * y).alias("sx2y"),
    )
    n = F.col("n_raw").cast("double")
    s11 = F.col("sx1x1") - F.col("sx1") * F.col("sx1") / n
    s22 = F.col("sx2x2") - F.col("sx2") * F.col("sx2") / n
    s12 = F.col("sx1x2") - F.col("sx1") * F.col("sx2") / n
    c1 = F.col("sx1y") - F.col("sx1") * F.col("sy") / n
    c2 = F.col("sx2y") - F.col("sx2") * F.col("sy") / n
    det = s11 * s22 - s12 * s12

    return m.select(
        F.col("n_raw").cast("long").alias("n"),
        fround((s11 * c2 - s12 * c1) / det).alias("beta_discount"),
        fround((s22 * c1 - s12 * c2) / det).alias("beta_quantity"),
    )


# ---------------------------------------------------------------------------
# Naive-Bayes trainer statistics
# ---------------------------------------------------------------------------

NB_TOP = 15


@query(
    "ml_naive_bayes_train",
    oracle=f"""
    WITH toks AS (
      SELECT d.lang, tok.t AS token
      FROM documents d,
           unnest(list_filter(
             regexp_split_to_array(lower(d.text), '[^a-z]+'),
             x -> x <> '')) AS tok(t)
    ), vocab AS (
      SELECT COUNT(DISTINCT token) AS v FROM toks
    ), lang_tot AS (
      SELECT lang, COUNT(*) AS tok_total FROM toks GROUP BY lang
    ), docs_tot AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ), n_all AS (
      SELECT COUNT(*) AS n FROM documents
    ), cnts AS (
      SELECT lang, token, COUNT(*) AS cnt FROM toks GROUP BY lang, token
    ), ranked AS (
      SELECT lang, token, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, token) AS rn
      FROM cnts
    )
    SELECT r.lang, r.token,
           CAST(r.cnt AS BIGINT) AS cnt,
           CAST(r.cnt + 1 AS BIGINT) AS lik_num,
           CAST(lt.tok_total + vocab.v AS BIGINT) AS lik_den,
           CAST(dt.n_docs AS BIGINT) AS prior_num,
           CAST(n_all.n AS BIGINT) AS prior_den
    FROM ranked r
    JOIN lang_tot lt USING (lang)
    JOIN docs_tot dt USING (lang)
    CROSS JOIN vocab CROSS JOIN n_all
    WHERE r.rn <= {NB_TOP}
    """,
)
def ml_naive_bayes_train(spark, sf_dir):
    """Multinomial naive-Bayes trainer over the document corpus:
    class = ``lang``, features = lowercase word tokens. Emits the
    model's sufficient statistics for the top tokens per class —
    Laplace-smoothed likelihood as an exact integer ratio
    (lik_num/lik_den = (count+1)/(class_tokens+V)) and the class prior
    as doc-count ratios — integers only, so the trained model is
    bit-identical cross-engine (emitting log-probabilities would
    compare libm outputs; the ratio form doesn't).

    Scale shape: TWO corpus scans total — one partial-aggregated
    explode → (lang, token) groupBy whose output IS the model's
    sufficient-statistic table (persisted: every other token-side
    quantity derives from it — per-class totals are sum(cnt) by lang
    and V is its distinct-token count, so neither re-tokenizes the
    corpus), and one column-pruned groupBy for doc counts, whose
    5-row output carries its own grand total via a window (the first
    form re-ran the scan+explode for vocab and lang_tot and the doc
    scan for n_all — plan_audit showed scans=5 for a model whose
    statistics fit in memory). Top-N per class is a window over the
    aggregated counts. Nothing holds unaggregated tokens past the
    first combine."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(
            F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda x: x != "")
        ).alias("token"),
    )
    # Bounded footprint: |langs| × vocabulary — the trained model
    # itself, never the corpus.
    cnts = toks.groupBy("lang", "token").agg(F.count("*").alias("cnt")).persist()
    vocab = cnts.agg(F.countDistinct("token").alias("v"))
    lang_tot = cnts.groupBy("lang").agg(F.sum("cnt").alias("tok_total"))
    w_all = W.orderBy("lang").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    docs_tot = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .select("lang", "n_docs", F.sum("n_docs").over(w_all).alias("n"))
    )
    return (
        topk(cnts, ["lang"], [F.desc("cnt"), "token"], NB_TOP)
        .join(F.broadcast(lang_tot), "lang")
        .join(F.broadcast(docs_tot), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "token",
            F.col("cnt").cast("long").alias("cnt"),
            (F.col("cnt") + 1).cast("long").alias("lik_num"),
            (F.col("tok_total") + F.col("v")).cast("long").alias("lik_den"),
            F.col("n_docs").cast("long").alias("prior_num"),
            F.col("n").cast("long").alias("prior_den"),
        )
    )


# ---------------------------------------------------------------------------
# Classifier evaluation: language-ID confusion matrix
# ---------------------------------------------------------------------------


def _confusion_oracle() -> str:
    from caliper_poc_data_etl_spark.queries.registry import QUERIES as _Q

    langid_sql = _Q["text_langid"].oracle
    return f"""
    WITH langid AS ({langid_sql}),
    conf AS (
      SELECT lang, lang_guess, COUNT(*) AS n
      FROM langid GROUP BY lang, lang_guess
    ),
    truth AS (SELECT lang, SUM(n) AS n_truth FROM conf GROUP BY lang),
    pred AS (SELECT lang_guess, SUM(n) AS n_pred FROM conf GROUP BY lang_guess)
    SELECT c.lang, c.lang_guess,
           CAST(c.n AS BIGINT) AS n,
           CAST(t.n_truth AS BIGINT) AS n_truth,
           CAST(p.n_pred AS BIGINT) AS n_pred
    FROM conf c JOIN truth t USING (lang) JOIN pred p USING (lang_guess)
    """


@query("ml_confusion_eval", oracle=_confusion_oracle())
def ml_confusion_eval(spark, sf_dir):
    """Classifier evaluation as a first-class operator: the confusion
    matrix of the engine's own heuristic language-ID
    (``text_langid``) against the corpus ground-truth labels, with
    row/column marginals riding along so precision and recall are one
    division away (counts stay integer; no float metrics in the
    comparison path). This is the eval loop every model-backed
    curation filter needs — predict, join truth, aggregate — and it
    composes an existing registered query rather than re-implementing
    it: the prediction plan is text_langid's, verbatim.

    Plan: per-doc prediction is the langid narrow projection; the
    matrix is one groupBy(lang, guess); marginals are two tiny
    re-aggregations of the matrix itself (≤25 rows), broadcast back."""
    from caliper_poc_data_etl_spark.queries.text import text_langid

    pred = text_langid(spark, sf_dir)
    conf = pred.groupBy("lang", "lang_guess").agg(F.count("*").alias("n"))
    truth = conf.groupBy("lang").agg(F.sum("n").alias("n_truth"))
    guess = conf.groupBy("lang_guess").agg(F.sum("n").alias("n_pred"))
    return (
        conf.join(F.broadcast(truth), "lang")
        .join(F.broadcast(guess), "lang_guess")
        .select(
            "lang",
            "lang_guess",
            F.col("n").cast("long").alias("n"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_pred").cast("long").alias("n_pred"),
        )
    )


# ---------------------------------------------------------------------------
# Rank-based AUC (Mann-Whitney U) evaluation
# ---------------------------------------------------------------------------

AUC_LABEL_SPLIT = 5  # label >= 5 is the positive class


@query(
    "ml_auc_rank_eval",
    oracle=f"""
    WITH scored AS (
      SELECT vec_id,
             CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
               AS score,
             CASE WHEN label >= {AUC_LABEL_SPLIT} THEN 1 ELSE 0 END AS y
      FROM embeddings
    ), ranked AS (
      SELECT y,
             RANK() OVER (ORDER BY score) AS rlo,
             COUNT(*) OVER (PARTITION BY score) AS nties
      FROM scored
    ), sums AS (
      SELECT
        SUM(CASE WHEN y = 1 THEN 2 * rlo + nties - 1 ELSE 0 END) AS ranksum2,
        SUM(y) AS n_pos,
        SUM(1 - y) AS n_neg
      FROM ranked
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CAST(ranksum2 - n_pos * (n_pos + 1) AS BIGINT) AS u2_num,
           CAST(2 * n_pos * n_neg AS BIGINT) AS u2_den
    FROM sums
    """,
)
def ml_auc_rank_eval(spark, sf_dir):
    """AUC-ROC by the Mann-Whitney rank identity — the evaluation
    metric for every binary curation filter (quality classifier,
    toxicity filter, dedup verifier), computed distributively: AUC =
    (Σ ranks of positives − n⁺(n⁺+1)/2) / (n⁺n⁻), with midrank tie
    handling via 2·rank+ties−1 doubling so everything stays INTEGER —
    the result is the exact rational u2_num/u2_den (AUC = num/den),
    no float division in the graded output.

    Score = first embedding dimension (quantized), label = the
    corpus's class id split at {AUC_LABEL_SPLIT} — a deliberately
    weak-but-nonrandom scorer, so the AUC is strictly between 0 and 1
    and the tie path actually executes.

    Plan — the DISTRIBUTED rank formulation: rows first collapse to
    per-score (count, positives) partials via one map-side-combining
    groupBy, and the rank arithmetic runs over the DISTINCT-score
    frame only (quantization bounds it at ~2001 values — the
    bounded-window convention; a per-row rank() would single-reduce
    the whole table). For a score group with inclusive cumulative
    count cw and size n, every positive contributes
    2·rlo+nties−1 = 2·cw−n+1 — algebraically identical to the oracle's
    per-row RANK() form."""
    e = t(spark, sf_dir, "embeddings")
    scored = e.select(
        (F.round(F.element_at("embedding", 1).cast("double") * 1000))
        .cast("long")
        .alias("score"),
        F.when(F.col("label") >= AUC_LABEL_SPLIT, 1).otherwise(0).alias("y"),
    )
    per_score = scored.groupBy("score").agg(
        F.count("*").alias("n"), F.sum("y").alias("np")
    )
    # bounded-by-construction: one row per distinct quantized score
    # (|scores| ≤ value-range ≈ 2001), not per input row.
    wcum = W.orderBy("score").rowsBetween(W.unboundedPreceding, 0)
    cum = per_score.select(
        "n", "np", F.sum("n").over(wcum).alias("cw")
    )
    return cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum(F.col("n") - F.col("np")).cast("long").alias("n_neg"),
        (
            F.sum(F.col("np") * (2 * F.col("cw") - F.col("n") + 1))
            - F.sum("np") * (F.sum("np") + 1)
        )
        .cast("long")
        .alias("u2_num"),
        (2 * F.sum("np") * F.sum(F.col("n") - F.col("np")))
        .cast("long")
        .alias("u2_den"),
    ).select("n_pos", "n_neg", "u2_num", "u2_den")


# ---------------------------------------------------------------------------
# Calibration / reliability bins
# ---------------------------------------------------------------------------

CAL_BINS = 10


@query(
    "ml_calibration_bins",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN label >= {AUC_LABEL_SPLIT} THEN 1 ELSE 0 END AS y,
             CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
               AS score
      FROM embeddings
    ), ext AS (
      SELECT MIN(score) AS lo, MAX(score) AS hi FROM scored
    ), binned AS (
      SELECT y,
             LEAST({CAL_BINS - 1},
               ({CAL_BINS} * (score - lo)) // (hi - lo + 1)) AS bin
      FROM scored, ext
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos
    FROM binned GROUP BY bin
    """,
)
def ml_calibration_bins(spark, sf_dir):
    """Reliability-diagram data: scores bucketed into {CAL_BINS}
    equal-width bins with per-bin count and positive count — the
    calibration curve (and the linear-cost companion to the exact
    rank AUC). Bin edges derive from the observed min/max via integer
    arithmetic (no quantile pass needed) and per-bin positives stay
    integer; the empirical positive RATE is one division away.

    Plan: one 1-row min/max aggregate broadcast back, one
    partial-aggregated groupBy on the derived bin — two scans of a
    narrow projection, no sort (this is what replaces exact AUC when
    the global sort is too expensive)."""
    e = t(spark, sf_dir, "embeddings")
    scored = e.select(
        F.when(F.col("label") >= AUC_LABEL_SPLIT, 1).otherwise(0).alias("y"),
        (F.round(F.element_at("embedding", 1).cast("double") * 1000))
        .cast("long")
        .alias("score"),
    )
    ext = scored.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    binned = scored.crossJoin(F.broadcast(ext)).select(
        "y",
        F.least(
            F.lit(CAL_BINS - 1),
            F.expr(f"({CAL_BINS} * (score - lo)) div (hi - lo + 1)"),
        ).alias("bin"),
    )
    return binned.groupBy(F.col("bin").cast("int").alias("bin")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )


# ---------------------------------------------------------------------------
# MRR ranking evaluation over exact integer dot-product retrieval
# ---------------------------------------------------------------------------

MRR_QUERIES = 10


@query(
    "ml_mrr_eval",
    oracle=f"""
    WITH qz AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
      FROM embeddings
    ),
    q AS (SELECT * FROM qz ORDER BY vec_id LIMIT {MRR_QUERIES}),
    scored AS (
      SELECT q.vec_id AS q_vec, q.label AS q_label,
             c.vec_id AS c_vec, c.label AS c_label,
             CAST(list_dot_product(q.e, c.e) AS BIGINT) AS dot
      FROM q JOIN qz c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY q_vec ORDER BY dot DESC, c_vec) AS rnk
      FROM scored
    )
    SELECT q_vec, q_label,
           CAST(MIN(rnk) AS BIGINT) AS first_rel_rank,
           CAST(1000000 // MIN(rnk) AS BIGINT) AS rr_micro
    FROM ranked WHERE c_label = q_label
    GROUP BY q_vec, q_label
    """,
)
def ml_mrr_eval(spark, sf_dir):
    """Mean-reciprocal-rank retrieval evaluation: for each of the 10
    lowest-id query vectors, rank the whole corpus by exact integer
    dot product (milli-quantized embeddings — the
    ``sim_cosine_topk`` recipe) and report the rank of the first
    same-label neighbor. The reciprocal is emitted in integer
    micro-units via floor division (1e6 DIV rank) so no float
    quotient crosses the engine boundary; MRR itself is
    mean(rr_micro)/1e6, recoverable exactly. Scale shape: the query
    side is tiny and broadcast; the corpus never shuffles for
    scoring, and the per-query ranking partitions by q_vec — the
    same plan as the production top-k retrieval it evaluates."""
    emb = t(spark, sf_dir, "embeddings")
    qe = milli(F.col("embedding"))
    z = emb.select("vec_id", "label", qe.alias("e"))
    q = (
        z.orderBy("vec_id")
        .limit(MRR_QUERIES)
        .select(
            F.col("vec_id").alias("q_vec"),
            F.col("label").alias("q_label"),
            F.col("e").alias("q_e"),
        )
    )
    dot = idot(F.col("q_e"), F.col("e"))
    scored = (
        z.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_vec"))
        .select(
            "q_vec",
            "q_label",
            F.col("vec_id").alias("c_vec"),
            F.col("label").alias("c_label"),
            dot.alias("dot"),
        )
    )
    rnk = F.row_number().over(
        W.partitionBy("q_vec").orderBy(F.col("dot").desc(), F.col("c_vec"))
    )
    ranked = scored.select("q_vec", "q_label", "c_label", rnk.alias("rnk"))
    return (
        ranked.filter(F.col("c_label") == F.col("q_label"))
        .groupBy("q_vec", "q_label")
        .agg(F.min("rnk").cast("long").alias("first_rel_rank"))
        .select(
            "q_vec",
            "q_label",
            "first_rel_rank",
            F.expr("1000000 DIV first_rel_rank").cast("long").alias("rr_micro"),
        )
    )


# ---------------------------------------------------------------------------
# ROC curve points (exact integer confusion counts per threshold)
# ---------------------------------------------------------------------------

ROC_LABEL_SPLIT = 5  # label >= 5 is the positive class (the AUC split)
ROC_MICRO = 1_000_000


@query(
    "ml_roc_points",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
               AS score,
             CASE WHEN label >= {ROC_LABEL_SPLIT} THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    per_score AS (
      SELECT score, COUNT(*) AS n, SUM(y) AS pos
      FROM scored GROUP BY score
    ),
    tot AS (SELECT SUM(pos) AS p, SUM(n - pos) AS neg FROM per_score),
    cum AS (
      SELECT score,
             SUM(pos) OVER w AS tp,
             SUM(n - pos) OVER w AS fp
      FROM per_score
      WINDOW w AS (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT score AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(t.p - tp AS BIGINT) AS fn,
           CAST(t.neg - fp AS BIGINT) AS tn,
           CAST((tp * {ROC_MICRO}) // t.p AS BIGINT) AS tpr_micro,
           CAST((fp * {ROC_MICRO}) // t.neg AS BIGINT) AS fpr_micro
    FROM cum CROSS JOIN tot t
    """,
)
def ml_roc_points(spark, sf_dir):
    """ROC curve points — the full confusion matrix at EVERY distinct
    score threshold (predict positive iff score ≥ t), as exact
    integers: tp/fp/fn/tn plus micro-unit TPR/FPR by integer floor
    division. The curve whose area ``ml_auc_rank_eval`` summarizes;
    emitting the points is what model cards and threshold-picking
    actually need. Same distributed recipe as the AUC: per-distinct-
    score (count, positives) partials first (one partial-aggregating
    groupBy — the only data-sized shuffle), then the cumulative
    window runs over the BOUNDED distinct-score frame (≤ |quantized
    score levels|, ~500 here), never over raw rows."""
    emb = t(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.round(F.element_at("embedding", 1).cast("double") * 1000)
        .cast("long")
        .alias("score"),
        F.when(F.col("label") >= ROC_LABEL_SPLIT, 1).otherwise(0).alias("y"),
    )
    per_score = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = per_score.agg(
        F.sum("pos").alias("p"), F.sum(F.col("n") - F.col("pos")).alias("neg")
    )
    # bounded-by-construction: window over distinct quantized scores
    w = W.orderBy(F.desc("score")).rowsBetween(W.unboundedPreceding, 0)
    cum = per_score.select(
        "score",
        F.sum("pos").over(w).alias("tp"),
        F.sum(F.col("n") - F.col("pos")).over(w).alias("fp"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        F.col("score").alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        (F.col("p") - F.col("tp")).cast("long").alias("fn"),
        (F.col("neg") - F.col("fp")).cast("long").alias("tn"),
        F.expr(f"(tp * {ROC_MICRO}) div p").cast("long").alias("tpr_micro"),
        F.expr(f"(fp * {ROC_MICRO}) div neg").cast("long").alias("fpr_micro"),
    )


# ---------------------------------------------------------------------------
# Deterministic k-fold cross-validation assignment
# ---------------------------------------------------------------------------

KFOLD_K = 5


@query(
    "ml_kfold_assign",
    oracle=f"""
    WITH assigned AS (
      SELECT vec_id, label,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 10))::BIGINT
               % {KFOLD_K} AS fold
      FROM embeddings
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec,
           CAST(SUM(vec_id) AS BIGINT) AS id_sum
    FROM assigned GROUP BY fold, label
    """,
)
def ml_kfold_assign(spark, sf_dir):
    """Deterministic k-fold cross-validation assignment: fold =
    md5(id) mod K — reproducible across runs, engines, and cluster
    sizes (a seeded PRNG is none of those), the same keyed-hash
    recipe as ``sample_hash_split``'s train/test cut but emitting the
    full K-fold partition with per-(fold, label) class-balance
    counts (id-sum fingerprints pin the exact membership, not just
    sizes). md5 uniformity makes every fold an unbiased class sample
    — verified by the balance tolerance test. Plan: one projection +
    one partial-aggregating groupBy; embarrassingly parallel."""
    emb = t(spark, sf_dir, "embeddings")
    fold = md5_int(F.col("vec_id").cast("string"), 10) % KFOLD_K
    return (
        emb.select(
            fold.alias("fold"), F.col("label").cast("long").alias("label"), "vec_id"
        )
        .groupBy("fold", "label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("vec_id").alias("min_vec"),
            F.sum("vec_id").alias("id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# NDCG ranking evaluation (literal log2 discount weights — no libm)
# ---------------------------------------------------------------------------

NDCG_QUERIES = 10
NDCG_K = 10


def _ndcg_weights() -> list[int]:
    import math

    return [
        int(1_000_000 // math.log2(i + 1)) for i in range(1, NDCG_K + 1)
    ]


def _ndcg_oracle() -> str:
    ws = _ndcg_weights()
    wlist = ", ".join(str(w) for w in ws)
    return f"""
    WITH qz AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
      FROM embeddings
    ),
    q AS (SELECT * FROM qz ORDER BY vec_id LIMIT {NDCG_QUERIES}),
    scored AS (
      SELECT q.vec_id AS q_vec, q.label AS q_label,
             c.vec_id AS c_vec,
             CASE WHEN c.label = q.label THEN 2
                  WHEN abs(c.label - q.label) = 1 THEN 1
                  ELSE 0 END AS rel,
             CAST(list_dot_product(q.e, c.e) AS BIGINT) AS dot
      FROM q JOIN qz c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY q_vec ORDER BY dot DESC, c_vec) AS rnk
      FROM scored
    ),
    topk AS (SELECT * FROM ranked WHERE rnk <= {NDCG_K}),
    ideal AS (
      SELECT q_vec, rel, ROW_NUMBER() OVER (
               PARTITION BY q_vec ORDER BY rel DESC, c_vec) AS irnk
      FROM topk
    ),
    dcg AS (
      SELECT q_vec, SUM(rel * ([{wlist}])[rnk]) AS dcg
      FROM topk GROUP BY q_vec
    ),
    idcg AS (
      SELECT q_vec, SUM(rel * ([{wlist}])[irnk]) AS idcg
      FROM ideal GROUP BY q_vec
    )
    SELECT d.q_vec, CAST(d.dcg AS BIGINT) AS dcg,
           CAST(i.idcg AS BIGINT) AS idcg,
           CAST(CASE WHEN i.idcg > 0
                     THEN (d.dcg * 1000000) // i.idcg
                     ELSE -1 END AS BIGINT) AS ndcg_micro
    FROM dcg d JOIN idcg i USING (q_vec)
    """


@query("ml_ndcg_eval", oracle=_ndcg_oracle())
def ml_ndcg_eval(spark, sf_dir):
    """NDCG@10 ranking evaluation — the graded-relevance retrieval
    metric next to ``ml_mrr_eval`` (first-hit) and ``ml_auc_rank_eval``
    (pairwise): DCG discounts each hit by 1/log2(rank+1). The log2
    discounts are SHARED LITERAL micro-unit constants (the
    ``dq_benford_digits`` recipe) so no libm is evaluated in either
    engine; relevance is graded from label distance (2 exact, 1
    adjacent, 0 else); IDCG re-ranks the same retrieved multiset by
    relevance (tie order among equal grades cannot change the sum).
    Retrieval is the broadcast-query exact integer dot-product plan —
    the corpus never shuffles; per-query ranking partitions by q_vec.
    Everything integer end-to-end, NDCG as micro-units by floor
    division."""
    ws = _ndcg_weights()
    emb = t(spark, sf_dir, "embeddings")
    ze = milli(F.col("embedding"))
    z = emb.select("vec_id", "label", ze.alias("e"))
    q = (
        z.orderBy("vec_id")
        .limit(NDCG_QUERIES)
        .select(
            F.col("vec_id").alias("q_vec"),
            F.col("label").alias("q_label"),
            F.col("e").alias("q_e"),
        )
    )
    dot = idot(F.col("q_e"), F.col("e"))
    rel = (
        F.when(F.col("label") == F.col("q_label"), 2)
        .when(F.abs(F.col("label") - F.col("q_label")) == 1, 1)
        .otherwise(0)
    )
    scored = (
        z.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_vec"))
        .select(
            "q_vec",
            F.col("vec_id").alias("c_vec"),
            rel.alias("rel"),
            dot.alias("dot"),
        )
    )
    warr = F.array(*[F.lit(w) for w in ws])
    top = topk(scored, ["q_vec"], [F.desc("dot"), "c_vec"], NDCG_K, rank="rnk")
    dcg = top.groupBy("q_vec").agg(
        F.sum(
            F.col("rel") * F.element_at(warr, F.col("rnk").cast("int"))
        ).alias("dcg")
    )
    ideal = top.withColumn(
        "irnk",
        F.row_number().over(
            W.partitionBy("q_vec").orderBy(F.desc("rel"), "c_vec")
        ),
    )
    idcg = ideal.groupBy("q_vec").agg(
        F.sum(
            F.col("rel") * F.element_at(warr, F.col("irnk").cast("int"))
        ).alias("idcg")
    )
    return dcg.join(idcg, "q_vec").select(
        "q_vec",
        F.col("dcg").cast("long").alias("dcg"),
        F.col("idcg").cast("long").alias("idcg"),
        F.when(
            F.col("idcg") > 0,
            F.expr("(dcg * 1000000) div idcg"),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("ndcg_micro"),
    )


# ---------------------------------------------------------------------------
# Lift / gain decile table (ties-deterministic)
# ---------------------------------------------------------------------------

LIFT_MICRO = 1_000_000


@query(
    "ml_lift_gain_deciles",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
               AS score,
             CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    per_score AS (
      SELECT score, COUNT(*) AS n, SUM(y) AS pos
      FROM scored GROUP BY score
    ),
    tot AS (SELECT SUM(n) AS nt, SUM(pos) AS pt FROM per_score),
    cum AS (
      SELECT score, n, pos,
             SUM(n) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM per_score
    ),
    binned AS (
      SELECT (10 * (cw - 1)) // t.nt AS decile, n, pos
      FROM cum CROSS JOIN tot t
    ),
    d AS (
      SELECT decile, SUM(n) AS n, SUM(pos) AS pos
      FROM binned GROUP BY decile
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
           CAST(SUM(pos) OVER wc AS BIGINT) AS cum_pos,
           CAST((SUM(pos) OVER wc * t.nt * {LIFT_MICRO})
                // (SUM(n) OVER wc * t.pt) AS BIGINT) AS lift_micro
    FROM d CROSS JOIN tot t
    WINDOW wc AS (ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def ml_lift_gain_deciles(spark, sf_dir):
    """Cumulative gains / lift table by score decile — the campaign-
    targeting readout next to ``ml_roc_points`` (thresholds) and
    ``ml_auc_rank_eval`` (pairwise): lift(d) = precision-so-far ÷ base
    rate after taking the top d/10 of the population by score.
    NTILE over raw rows splits tied scores arbitrarily (non-
    deterministic across engines AND runs), so the DECLARED tie rule
    is: a whole tied-score level lands in the decile of its last row
    index ((10·(cum−1)) div N) — deciles may be slightly uneven,
    deterministic always. Plan: per-score partials, then every window
    runs over the bounded distinct-score / 10-decile frames; lift is
    an exact integer micro rational (cum_pos·N)/(cum_n·P)."""
    emb = t(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.round(F.element_at("embedding", 1).cast("double") * 1000)
        .cast("long")
        .alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    per_score = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = per_score.agg(
        F.sum("n").alias("nt"), F.sum("pos").alias("pt")
    )
    # bounded-by-construction: windows over distinct scores / deciles
    w_cum = W.orderBy(F.desc("score")).rowsBetween(W.unboundedPreceding, 0)
    cum = per_score.select(
        "score", "n", "pos", F.sum("n").over(w_cum).alias("cw")
    )
    binned = cum.crossJoin(F.broadcast(tot)).select(
        F.expr("(10 * (cw - 1)) div nt").alias("decile"), "n", "pos"
    )
    d = binned.groupBy("decile").agg(
        F.sum("n").alias("n"), F.sum("pos").alias("pos")
    )
    w_d = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return d.crossJoin(F.broadcast(tot)).select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n").cast("long").alias("n"),
        F.col("pos").cast("long").alias("pos"),
        F.sum("pos").over(w_d).cast("long").alias("cum_pos"),
        F.expr(
            f"(sum(pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED "
            f"PRECEDING AND CURRENT ROW) * nt * {LIFT_MICRO}) div "
            f"(sum(n) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED "
            f"PRECEDING AND CURRENT ROW) * pt)"
        ).cast("long").alias("lift_micro"),
    )


# ---------------------------------------------------------------------------
# Best-F1 threshold pick (composition over the ROC partials)
# ---------------------------------------------------------------------------


@query(
    "ml_f1_threshold_pick",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
               AS score,
             CASE WHEN label >= {ROC_LABEL_SPLIT} THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    per_score AS (
      SELECT score, COUNT(*) AS n, SUM(y) AS pos
      FROM scored GROUP BY score
    ),
    tot AS (SELECT SUM(pos) AS p FROM per_score),
    cum AS (
      SELECT score,
             SUM(pos) OVER w AS tp,
             SUM(n - pos) OVER w AS fp
      FROM per_score
      WINDOW w AS (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT score AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(t.p - tp AS BIGINT) AS fn,
           CAST((2 * tp * {LIFT_MICRO}) // (2 * tp + fp + (t.p - tp))
                AS BIGINT) AS f1_micro
    FROM cum CROSS JOIN tot t
    ORDER BY CAST(2 * tp AS DOUBLE) / (2 * tp + fp + (t.p - tp)) DESC,
             score
    LIMIT 1
    """,
)
def ml_f1_threshold_pick(spark, sf_dir):
    """Best-F1 operating point — the threshold a deployed binary
    classifier actually ships with, picked by sweeping every distinct
    score (the ``ml_roc_points`` partials reused as a composition):
    F1(t) = 2·tp/(2·tp+fp+fn). Ordering divides the exact integer
    counts as IEEE doubles — both engines round the identical
    quotient identically, and exact rational ties fall to the
    threshold tiebreak — while the EMITTED F1 is the floor-micro
    integer. The argmax is a 1-row TakeOrdered over the bounded
    distinct-score frame, not a sort of raw rows."""
    emb = t(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.round(F.element_at("embedding", 1).cast("double") * 1000)
        .cast("long")
        .alias("score"),
        F.when(F.col("label") >= ROC_LABEL_SPLIT, 1).otherwise(0).alias("y"),
    )
    per_score = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = per_score.agg(F.sum("pos").alias("p"))
    # bounded-by-construction: window over distinct quantized scores
    w = W.orderBy(F.desc("score")).rowsBetween(W.unboundedPreceding, 0)
    cum = per_score.select(
        "score",
        F.sum("pos").over(w).alias("tp"),
        F.sum(F.col("n") - F.col("pos")).over(w).alias("fp"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("score").alias("threshold"),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            (F.col("p") - F.col("tp")).cast("long").alias("fn"),
            F.expr(
                f"(2 * tp * {LIFT_MICRO}) div (2 * tp + fp + (p - tp))"
            ).cast("long").alias("f1_micro"),
            (
                (2 * F.col("tp")).cast("double")
                / (2 * F.col("tp") + F.col("fp") + (F.col("p") - F.col("tp")))
            ).alias("_f1"),
        )
        .orderBy(F.desc("_f1"), "threshold")
        .limit(1)
        .drop("_f1")
    )


# ---------------------------------------------------------------------------
# Regression metrics pack (MAE / MSE / R² for the backtest pairs)
# ---------------------------------------------------------------------------

REG_LAG = 7  # seasonal-naive predictor: y(d-7)


@query(
    "ml_regression_metrics",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(FLOOR(value) AS BIGINT)) AS y
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT c.event_type, c.y, p.y AS yhat
      FROM daily c JOIN daily p
        ON p.event_type = c.event_type
       AND p.day = c.day - INTERVAL {REG_LAG} DAY
    ),
    agg AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(y) AS sy, SUM(y * y) AS syy,
             SUM(abs(y - yhat)) AS sae,
             SUM((y - yhat) * (y - yhat)) AS sse
      FROM pairs GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(sae AS BIGINT) AS abs_err_sum,
           CAST(sse AS BIGINT) AS sq_err_sum,
           CAST(sae * 1000000 // n AS BIGINT) AS mae_micro,
           CAST(n * syy - sy * sy AS BIGINT) AS ss_tot_n,
           CAST((n * syy - sy * sy) - n * sse AS BIGINT) AS r2_num,
           CAST(CASE WHEN n * syy - sy * sy = 0 THEN NULL ELSE
                (((n * syy - sy * sy) - n * sse) * 1000
                 - (((((n * syy - sy * sy) - n * sse) * 1000)
                     % (n * syy - sy * sy) + (n * syy - sy * sy))
                    % (n * syy - sy * sy)))
                // (n * syy - sy * sy) END AS BIGINT) AS r2_milli
    FROM agg
    """,
)
def ml_regression_metrics(spark, sf_dir):
    """Regression accuracy pack for the seasonal-naive backtest
    (ŷ(d) = y(d−7), the ``ts_backtest_wape`` pairs): MAE, summed
    squared error, and R² per series — the three numbers a forecast
    review actually reads. Everything exact BIGINT: MAE as floor
    micro-units; R² via the n-scaled identity 1 − n·SSE/(n·Σy²−(Σy)²)
    emitted as the exact (r2_num, ss_tot_n) rational plus a
    floor-MILLI quotient (milli, not micro: the n-scaled products
    already carry ~1e13 — milli keeps the widest term ~1e16, safely
    inside BIGINT at the graded SFs; R² can be negative, so the
    (s − pmod)/n floor identity is used on both sides). RMSE is
    deliberately absent — sqrt is libm; sq_err_sum carries the same
    decision information. Plan: one daily partial aggregation, one
    calendar self-join, one aggregate."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.floor("value").cast("long")).alias("y"))
    prev = daily.select(
        "event_type",
        F.date_add("day", REG_LAG).alias("day"),
        F.col("y").alias("yhat"),
    )
    pairs = daily.join(prev, ["event_type", "day"])
    agg = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.abs(F.col("y") - F.col("yhat"))).alias("sae"),
        F.sum(
            (F.col("y") - F.col("yhat")) * (F.col("y") - F.col("yhat"))
        ).alias("sse"),
    )
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("sae").cast("long").alias("abs_err_sum"),
        F.col("sse").cast("long").alias("sq_err_sum"),
        F.expr("(sae * 1000000) div n").cast("long").alias("mae_micro"),
        F.expr("n * syy - sy * sy").cast("long").alias("ss_tot_n"),
        F.expr("(n * syy - sy * sy) - n * sse").cast("long").alias("r2_num"),
        F.expr(
            # A series whose daily totals are all equal makes the
            # total-variance denominator 0 — R² is undefined there, so
            # emit NULL instead of erroring under ANSI division.
            "CASE WHEN n * syy - sy * sy = 0 THEN NULL ELSE "
            "(((n * syy - sy * sy) - n * sse) * 1000 "
            "- pmod((((n * syy - sy * sy) - n * sse) * 1000), "
            "(n * syy - sy * sy))) div (n * syy - sy * sy) END"
        ).cast("long").alias("r2_milli"),
    )


# ---------------------------------------------------------------------------
# A/B outcome test (2x2 chi-square, exact two-step long division)
# ---------------------------------------------------------------------------


@query(
    "ml_ab_chi2_outcome",
    oracle="""
    WITH exposed AS (SELECT DISTINCT user_id FROM events),
    assigned AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10))
                       ::BIGINT % 100 < 50
                  THEN 'A' ELSE 'B' END AS variant
      FROM exposed
    ),
    pc AS (
      SELECT user_id, COUNT(*) AS n_purch
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    med AS (SELECT MEDIAN(n_purch) AS m FROM pc),
    converted AS (
      SELECT pc.user_id FROM pc, med WHERE pc.n_purch > med.m
    ),
    cells AS (
      SELECT a.variant,
             SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS conv,
             SUM(CASE WHEN c.user_id IS NULL THEN 1 ELSE 0 END) AS nonconv
      FROM assigned a LEFT JOIN converted c ON c.user_id = a.user_id
      GROUP BY a.variant
    ),
    tab AS (
      SELECT MAX(CASE WHEN variant = 'A' THEN conv END) AS a,
             MAX(CASE WHEN variant = 'A' THEN nonconv END) AS b,
             MAX(CASE WHEN variant = 'B' THEN conv END) AS c,
             MAX(CASE WHEN variant = 'B' THEN nonconv END) AS d
      FROM cells
    ),
    stat AS (
      -- 128-bit accumulation (HUGEINT here, DECIMAL(38,0) Spark-side):
      -- num = T*(ad-bc)^2 ~ N^5/16 overflows BIGINT at ~3500 users;
      -- int128 holds it to ~7e7 users (beyond sf100).
      SELECT a, b, c, d,
             (CAST(a AS HUGEINT) + b + c + d)
               * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
               * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c) AS num,
             (CAST(a AS HUGEINT) + b) * (CAST(c AS HUGEINT) + d)
               * (CAST(a AS HUGEINT) + c) * (CAST(b AS HUGEINT) + d) AS den
      FROM tab
    )
    SELECT CAST(a AS BIGINT) AS conv_a, CAST(b AS BIGINT) AS nonconv_a,
           CAST(c AS BIGINT) AS conv_b, CAST(d AS BIGINT) AS nonconv_b,
           CAST(CASE WHEN den = 0 THEN 0 ELSE
                (num // den) * 1000000 + ((num % den) * 1000000) // den
                END AS BIGINT) AS chi2_micro,
           CASE WHEN den = 0 THEN FALSE ELSE
             (num // den) * 1000000 + ((num % den) * 1000000) // den
               > 3841459 END AS significant
    FROM stat
    """,
)
def ml_ab_chi2_outcome(spark, sf_dir):
    """A/B OUTCOME test — the readout half of the experimentation
    pair (``dq_ab_srm_check`` audits exposure; this tests effect):
    did variant A produce above-median purchasers at a different
    rate than B? (conversion = purchase count above the global exact
    median — a RELATIVE definition, since every synthetic user
    purchases at least once; the median scalar is the interpolating
    exact median both engines share)
    Pearson's 2×2 chi-square T·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) as an
    EXACT integer micro-unit value via two-step long division
    (quotient·1e6 + remainder·1e6 div den) over 128-bit accumulators
    — DECIMAL(38,0) Spark-side, HUGEINT oracle-side — because
    num = T·(ad−bc)² grows as N⁵/16 and overflows BIGINT at only
    ~3500 users (~sf1); 38 digits hold it to ~7e7 users (>sf100).
    All terms non-negative, so no floor identity needed; 3.841459
    (χ²₁ at 0.05) is the shared literal. Plan: two distinct-projections, one left join on
    user_id, a 4-cell pivot — integer end-to-end."""
    e = t(spark, sf_dir, "events")
    assigned = (
        e.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(
                md5_int(F.col("user_id").cast("string"), 10) % 100 < 50,
                "A",
            )
            .otherwise("B")
            .alias("variant"),
        )
    )
    pc = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purch"))
    )
    med = pc.agg(F.median("n_purch").alias("m"))
    converted = (
        pc.crossJoin(F.broadcast(med))
        .filter(F.col("n_purch") > F.col("m"))
        .select("user_id")
        .withColumn("conv_flag", F.lit(1))
    )
    cells = (
        assigned.join(converted, "user_id", "left")
        .groupBy("variant")
        .agg(
            F.sum(F.coalesce("conv_flag", F.lit(0))).alias("conv"),
            F.sum(
                1 - F.coalesce("conv_flag", F.lit(0))
            ).alias("nonconv"),
        )
    )
    tab = cells.agg(
        F.max(F.when(F.col("variant") == "A", F.col("conv"))).alias("a"),
        F.max(F.when(F.col("variant") == "A", F.col("nonconv"))).alias("b"),
        F.max(F.when(F.col("variant") == "B", F.col("conv"))).alias("c"),
        F.max(F.when(F.col("variant") == "B", F.col("nonconv"))).alias("d"),
    )
    # 128-bit accumulation via DECIMAL(38,0) (the dq_table_checksum
    # recipe; DuckDB side uses HUGEINT): T*(ad-bc)^2 overflows BIGINT
    # at ~3500 users (~sf1) — decimal holds to ~7e7 users.
    da, db, dc, dd = (
        f"CAST({x} AS DECIMAL(38,0))" for x in ("a", "b", "c", "d")
    )
    num = f"(({da}+{db}+{dc}+{dd}) * ({da}*{dd} - {db}*{dc}) * ({da}*{dd} - {db}*{dc}))"
    den = f"(({da}+{db}) * ({dc}+{dd}) * ({da}+{dc}) * ({db}+{dd}))"
    chi2 = F.expr(
        f"CASE WHEN {den} = 0 THEN 0 ELSE "
        f"({num} div {den}) * 1000000 "
        f"+ (pmod({num}, {den}) * 1000000) div {den} END"
    )
    return tab.select(
        F.col("a").cast("long").alias("conv_a"),
        F.col("b").cast("long").alias("nonconv_a"),
        F.col("c").cast("long").alias("conv_b"),
        F.col("d").cast("long").alias("nonconv_b"),
        chi2.cast("long").alias("chi2_micro"),
        (chi2 > 3841459).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Precision-recall curve points
# ---------------------------------------------------------------------------


@query(
    "ml_pr_curve_points",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
               AS score,
             CASE WHEN label >= {ROC_LABEL_SPLIT} THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    per_score AS (
      SELECT score, COUNT(*) AS n, SUM(y) AS pos
      FROM scored GROUP BY score
    ),
    tot AS (SELECT SUM(pos) AS p FROM per_score),
    cum AS (
      SELECT score,
             SUM(pos) OVER w AS tp,
             SUM(n - pos) OVER w AS fp
      FROM per_score
      WINDOW w AS (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT score AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_micro,
           CAST((tp * 1000000) // t.p AS BIGINT) AS recall_micro
    FROM cum CROSS JOIN tot t
    """,
)
def ml_pr_curve_points(spark, sf_dir):
    """Precision-recall curve points — the class-imbalance companion
    to ``ml_roc_points`` (ROC flatters a dominant negative class; PR
    does not): at every distinct score threshold, exact integer
    (tp, fp) and floor-micro precision = tp/(tp+fp), recall = tp/P.
    tp+fp ≥ 1 at every emitted threshold (the first row includes the
    top-scored item), so the division is total. Same distributed
    recipe as the ROC/AUC family: per-distinct-score partials → the
    bounded distinct-score cumulative window → a broadcast 1-row
    class-total scalar."""
    emb = t(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.round(F.element_at("embedding", 1).cast("double") * 1000)
        .cast("long")
        .alias("score"),
        F.when(F.col("label") >= ROC_LABEL_SPLIT, 1).otherwise(0).alias("y"),
    )
    per_score = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = per_score.agg(F.sum("pos").alias("p"))
    # bounded-by-construction: window over distinct quantized scores
    w = W.orderBy(F.desc("score")).rowsBetween(W.unboundedPreceding, 0)
    cum = per_score.select(
        "score",
        F.sum("pos").over(w).alias("tp"),
        F.sum(F.col("n") - F.col("pos")).over(w).alias("fp"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        F.col("score").alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.expr("(tp * 1000000) div (tp + fp)")
        .cast("long")
        .alias("precision_micro"),
        F.expr("(tp * 1000000) div p").cast("long").alias("recall_micro"),
    )


# ---------------------------------------------------------------------------
# Hash-deterministic bootstrap confidence interval
# ---------------------------------------------------------------------------

BOOT_B = 100
BOOT_LO_RANK = 5   # 5th / 95th of the B=100 replica means
BOOT_HI_RANK = 95
BOOT_MICRO = 1_000_000


@query(
    "ml_bootstrap_ci_mean",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS v
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS rnk, v FROM daily
    ),
    nn AS (SELECT COUNT(*) AS n FROM ranked),
    draws AS (
      -- range() cannot take a lateral column in DuckDB; over-generate
      -- to a fixed bound (events span one calendar month, n <= 31)
      -- and filter to the true series length
      SELECT b.b, ('0x' || substr(md5(CAST(b.b AS VARCHAR) || '_'
                   || CAST(i.i AS VARCHAR)), 1, 10))::BIGINT % nn.n AS pick
      FROM range(0, {BOOT_B}) AS b(b), nn, range(0, 400) AS i(i)
      WHERE i.i < nn.n
    ),
    means AS (
      SELECT d.b,
             SUM(r.v) * {BOOT_MICRO} // COUNT(*) AS mean_micro
      FROM draws d JOIN ranked r ON r.rnk = d.pick
      GROUP BY d.b
    ),
    ordered AS (
      SELECT mean_micro,
             ROW_NUMBER() OVER (ORDER BY mean_micro, b) AS mr
      FROM means
    ),
    obs AS (
      SELECT SUM(v) * {BOOT_MICRO} // COUNT(*) AS observed_micro,
             COUNT(*) AS n_days
      FROM ranked
    )
    SELECT CAST(obs.n_days AS BIGINT) AS n_days,
           CAST({BOOT_B} AS BIGINT) AS b_replicas,
           CAST(obs.observed_micro AS BIGINT) AS observed_micro,
           CAST(MAX(CASE WHEN mr = {BOOT_LO_RANK} THEN mean_micro END)
                AS BIGINT) AS ci_lo_micro,
           CAST(MAX(CASE WHEN mr = {BOOT_HI_RANK} THEN mean_micro END)
                AS BIGINT) AS ci_hi_micro
    FROM ordered CROSS JOIN obs
    GROUP BY obs.n_days, obs.observed_micro
    """,
)
def ml_bootstrap_ci_mean(spark, sf_dir):
    """Bootstrap confidence interval for the mean daily total — with
    the resampling made ENGINE-EXACT: draw (b, i) takes the value at
    rank md5(b, i) mod n over the day-ordered series (the
    ``graph_random_walk_deterministic`` hash-choice recipe — a seeded
    PRNG would be engine- and partitioning-specific), B=100 replicas,
    CI = the 5th/95th ordered replica means. Every mean is a
    floor-micro integer; the replica ordering tiebreaks on the
    replica id. Plan: the daily series is calendar-bounded, so the
    B×n draw table (3000 rows here) explodes from ranges and
    equi-joins back on the rank — at 100 TB the bounded reduction
    happens FIRST and the bootstrap costs B×|days|, never B×|rows|."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("v")
    )
    # bounded-by-construction: rank over the calendar-day frame
    ranked = daily.select(
        (F.row_number().over(W.orderBy("day")) - 1).alias("rnk"), "v"
    )
    nn = ranked.agg(F.count(F.lit(1)).alias("n"))
    draws = (
        spark.range(BOOT_B)
        .select(F.col("id").alias("b"))
        .crossJoin(F.broadcast(nn))
        .select(
            "b",
            F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("i"),
            "n",
        )
        .select(
            "b",
            (
                md5_int(
                    F.concat_ws(
                        "_", F.col("b").cast("string"), F.col("i").cast("string")
                    ),
                    10,
                )
                % F.col("n")
            ).alias("pick"),
        )
    )
    means = (
        draws.join(ranked, draws.pick == ranked.rnk)
        .groupBy("b")
        .agg(
            F.expr(f"sum(v) * {BOOT_MICRO} div count(1)").alias("mean_micro")
        )
    )
    ordered = means.select(
        "mean_micro",
        F.row_number().over(W.orderBy("mean_micro", "b")).alias("mr"),
    )
    obs = ranked.agg(
        F.expr(f"sum(v) * {BOOT_MICRO} div count(1)").alias("observed_micro"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return (
        ordered.crossJoin(F.broadcast(obs))
        .groupBy("n_days", "observed_micro")
        .agg(
            F.max(
                F.when(F.col("mr") == BOOT_LO_RANK, F.col("mean_micro"))
            ).alias("lo"),
            F.max(
                F.when(F.col("mr") == BOOT_HI_RANK, F.col("mean_micro"))
            ).alias("hi"),
        )
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.lit(BOOT_B).cast("long").alias("b_replicas"),
            F.col("observed_micro").cast("long").alias("observed_micro"),
            F.col("lo").cast("long").alias("ci_lo_micro"),
            F.col("hi").cast("long").alias("ci_hi_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Cramér's V — chi²-based association between two categorical columns
# ---------------------------------------------------------------------------

_CRAMER_CELL_MICRO = """
CAST(ROUND(((CAST(dev AS DOUBLE) / n_x) * (CAST(dev AS DOUBLE) / n_y))
           / n_tot * 1000000) AS BIGINT)
"""


_CRAMER_V_MICRO = """
CASE WHEN least(r_dim, c_dim) <= 1 THEN NULL
     ELSE CAST(ROUND(SQRT((CAST(SUM(cell_chi2_micro) OVER () AS DOUBLE)
                           / 1000000)
                          / (n_tot * (least(r_dim, c_dim) - 1)))
                     * 1000000) AS BIGINT)
END
"""


@query(
    "ml_cramers_v",
    oracle=f"""
    WITH cells AS (
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n_obs
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    margx AS (
      SELECT l_returnflag, SUM(n_obs) AS n_x FROM cells GROUP BY l_returnflag
    ),
    margy AS (
      SELECT l_linestatus, SUM(n_obs) AS n_y FROM cells GROUP BY l_linestatus
    ),
    grid AS (
      SELECT x.l_returnflag, y.l_linestatus, x.n_x, y.n_y,
             COALESCE(c.n_obs, 0) AS n_xy
      FROM margx x CROSS JOIN margy y
      LEFT JOIN cells c ON c.l_returnflag = x.l_returnflag
                       AND c.l_linestatus = y.l_linestatus
    ),
    marg AS (
      SELECT *,
             SUM(n_xy) OVER () AS n_tot,
             COUNT(DISTINCT l_returnflag) OVER () AS r_dim,
             COUNT(DISTINCT l_linestatus) OVER () AS c_dim
      FROM grid
    ),
    dev AS (
      SELECT *, n_xy * n_tot - n_x * n_y AS dev FROM marg
    ),
    cellchi AS (
      SELECT *, {_CRAMER_CELL_MICRO} AS cell_chi2_micro FROM dev
    )
    SELECT l_returnflag, l_linestatus,
           CAST(n_xy AS BIGINT) AS n_xy,
           CAST(n_x AS BIGINT) AS n_x,
           CAST(n_y AS BIGINT) AS n_y,
           CAST(n_tot AS BIGINT) AS n_tot,
           cell_chi2_micro,
           CAST(SUM(cell_chi2_micro) OVER () AS BIGINT) AS chi2_micro,
           {_CRAMER_V_MICRO} AS cramers_v_micro
    FROM cellchi
    """,
)
def ml_cramers_v(spark, sf_dir):
    """Cramér's V association between two categorical columns
    (l_returnflag × l_linestatus) — the curation-time check for
    redundant / leaking categorical features. chi² sums over the FULL
    r×c label grid (marginal cross join + left join of observed
    counts), so structural-zero cells contribute their (0−E)²/E term
    — dropping them understates V on exactly the strongly-associated
    tables this query exists to flag. Per-cell contributions come from
    EXACT integer counts; the single unavoidable double expression
    ``((dev/n_x)·(dev/n_y))/N`` is micro-rounded per cell
    (IEEE-deterministic on both engines) and the total is an exact
    BIGINT sum of those micro integers, so the cross-engine hash is
    stable. V is NULL when min(r,c) = 1 (association undefined for a
    single-category column). Scale shape: the fact table reaches one
    map-side-combined cell group-by; the grid cross join multiplies
    two per-label aggregates bounded by CATEGORY cardinalities (r×c
    rows, broadcast — whitelisted in tools/plan_audit.py), and every
    window runs over that grid. The cell aggregate is branched
    (marginals ×2 + the left join), which Spark may plan as a replayed
    fact scan at this size (2 scans in the audited plan — still
    linear); at 100 TB, stage the r×c cell table once and the rest is
    label-cardinality work."""
    cells = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    margx = cells.groupBy("l_returnflag").agg(F.sum("n_obs").alias("n_x"))
    margy = cells.groupBy("l_linestatus").agg(F.sum("n_obs").alias("n_y"))
    grid = (
        margx.crossJoin(margy)
        .join(cells, ["l_returnflag", "l_linestatus"], "left")
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_x",
            "n_y",
            F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_xy"),
        )
    )
    wall = W.partitionBy()
    marg = grid.select(
        "*",
        F.sum("n_xy").over(wall).alias("n_tot"),
        F.size(F.collect_set("l_returnflag").over(wall)).alias("r_dim"),
        F.size(F.collect_set("l_linestatus").over(wall)).alias("c_dim"),
    )
    dev = marg.withColumn(
        "dev", F.col("n_xy") * F.col("n_tot") - F.col("n_x") * F.col("n_y")
    )
    cellchi = dev.withColumn(
        "cell_chi2_micro", F.expr(_CRAMER_CELL_MICRO)
    )
    return cellchi.select(
        "l_returnflag",
        "l_linestatus",
        F.col("n_xy").cast("long").alias("n_xy"),
        F.col("n_x").cast("long").alias("n_x"),
        F.col("n_y").cast("long").alias("n_y"),
        F.col("n_tot").cast("long").alias("n_tot"),
        "cell_chi2_micro",
        F.sum("cell_chi2_micro").over(wall).cast("long").alias("chi2_micro"),
        F.expr(_CRAMER_V_MICRO).alias("cramers_v_micro"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa — inter-rater agreement, exact rational arithmetic
# ---------------------------------------------------------------------------

_KAPPA_BASE = """
  SELECT CASE WHEN l_quantity >= 25 THEN 'H' ELSE 'L' END AS pred,
         CASE WHEN l_extendedprice >= 25000 THEN 'H' ELSE 'L' END AS actual
  FROM lineitem
"""


@query(
    "ml_cohens_kappa",
    oracle=f"""
    WITH base AS ({_KAPPA_BASE}),
    cells AS (
      SELECT pred, actual, COUNT(*) AS n FROM base GROUP BY pred, actual
    ),
    rm_tbl AS (
      SELECT pred AS label, SUM(n) AS rm FROM cells GROUP BY pred
    ),
    cm_tbl AS (
      SELECT actual AS label, SUM(n) AS cm FROM cells GROUP BY actual
    ),
    pe AS (
      SELECT SUM(COALESCE(r.rm, 0) * COALESCE(c.cm, 0)) AS pe_num
      FROM rm_tbl r FULL OUTER JOIN cm_tbl c ON r.label = c.label
    ),
    agg AS (
      SELECT (SELECT SUM(n) FROM cells) AS n_tot,
             (SELECT SUM(CASE WHEN pred = actual THEN n ELSE 0 END)
              FROM cells) AS agree,
             (SELECT pe_num FROM pe) AS pe_num
    )
    SELECT CAST(n_tot AS BIGINT) AS n_tot,
           CAST(agree AS BIGINT) AS agree,
           CAST(pe_num AS BIGINT) AS pe_num,
           CAST(n_tot * agree - pe_num AS BIGINT) AS kappa_num,
           CAST(n_tot * n_tot - pe_num AS BIGINT) AS kappa_den,
           CASE WHEN n_tot * n_tot - pe_num = 0 THEN NULL
                ELSE CAST(ROUND(CAST(n_tot * agree - pe_num AS DOUBLE)
                                * 1000000
                                / CAST(n_tot * n_tot - pe_num AS DOUBLE))
                          AS BIGINT)
           END AS kappa_micro
    FROM agg
    """,
)
def ml_cohens_kappa(spark, sf_dir):
    """Cohen's kappa — chance-corrected agreement between two
    labelers (threshold classifiers over l_quantity and
    l_extendedprice standing in for rater columns) — the standard
    annotation-quality gate for labeled training data. Exact rational
    form: kappa = (N·Σnᵢᵢ − Σ rmₖ·cmₖ) / (N² − Σ rmₖ·cmₖ); numerator
    and denominator are EXACT BIGINTs in the output, the micro-rounded
    quotient is one deterministic double division — NULL when the
    denominator is 0 (both raters constant on one identical label;
    kappa is undefined there, and 0/0 would otherwise diverge across
    engines as NaN). The Σ rmₖ·cmₖ term is built from the row/column
    MARGINAL tables full-outer-joined on label — NOT from diagonal
    cells — so a label with nonzero marginals but an empty (k,k) cell
    still contributes its rmₖ·cmₖ chance term (summing over diagonal
    cells silently drops it and overstates kappa on BOTH engines,
    where the cross-engine hash cannot catch it). Scale
    shape: one map-side-combined group-by to the k² cell table
    (4 rows), then label-cardinality marginal aggregates + a 1-row
    cross join of three scalars (whitelisted in plan_audit)."""
    base = t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_quantity") >= 25, "H").otherwise("L").alias("pred"),
        F.when(F.col("l_extendedprice") >= 25000, "H")
        .otherwise("L")
        .alias("actual"),
    )
    cells = base.groupBy("pred", "actual").agg(F.count(F.lit(1)).alias("n"))
    rm_tbl = cells.groupBy(F.col("pred").alias("label")).agg(
        F.sum("n").alias("rm")
    )
    cm_tbl = cells.groupBy(F.col("actual").alias("label")).agg(
        F.sum("n").alias("cm")
    )
    pe = rm_tbl.join(cm_tbl, "label", "full_outer").agg(
        F.sum(
            F.coalesce(F.col("rm"), F.lit(0))
            * F.coalesce(F.col("cm"), F.lit(0))
        ).alias("pe_num")
    )
    diag = F.col("pred") == F.col("actual")
    totals = cells.agg(
        F.sum("n").alias("n_tot"),
        F.sum(F.when(diag, F.col("n")).otherwise(F.lit(0))).alias("agree"),
    )
    agg = totals.crossJoin(pe)
    kappa_num = F.col("n_tot") * F.col("agree") - F.col("pe_num")
    kappa_den = F.col("n_tot") * F.col("n_tot") - F.col("pe_num")
    return agg.select(
        F.col("n_tot").cast("long").alias("n_tot"),
        F.col("agree").cast("long").alias("agree"),
        F.col("pe_num").cast("long").alias("pe_num"),
        kappa_num.cast("long").alias("kappa_num"),
        kappa_den.cast("long").alias("kappa_den"),
        F.when(
            kappa_den == 0, F.lit(None).cast("long")
        )
        .otherwise(
            F.round(
                kappa_num.cast("double") * 1000000 / kappa_den.cast("double")
            ).cast("long")
        )
        .alias("kappa_micro"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov — exact D from cumulative integer counts
# ---------------------------------------------------------------------------


@query(
    "ml_ks_two_sample",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS v_centi,
             SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_b
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
      GROUP BY 1
    ),
    cum AS (
      SELECT v_centi, n_a, n_b,
             SUM(n_a) OVER (ORDER BY v_centi) AS cum_a,
             SUM(n_b) OVER (ORDER BY v_centi) AS cum_b,
             SUM(n_a) OVER () AS tot_a,
             SUM(n_b) OVER () AS tot_b
      FROM vals
    ),
    dd AS (
      SELECT *, ABS(cum_a * tot_b - cum_b * tot_a) AS diff_scaled
      FROM cum
    )
    SELECT v_centi,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(cum_a AS BIGINT) AS cum_a,
           CAST(cum_b AS BIGINT) AS cum_b,
           CAST(tot_a AS BIGINT) AS tot_a,
           CAST(tot_b AS BIGINT) AS tot_b,
           CAST(diff_scaled AS BIGINT) AS diff_scaled,
           CASE WHEN tot_a = 0 OR tot_b = 0 THEN NULL
                ELSE CAST(ROUND(CAST(MAX(diff_scaled) OVER () AS DOUBLE)
                                * 1000000
                                / (CAST(tot_a AS DOUBLE)
                                   * CAST(tot_b AS DOUBLE)))
                     AS BIGINT)
           END AS ks_d_micro
    FROM dd
    """,
)
def ml_ks_two_sample(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov statistic — the
    distribution-drift gate over the ``dq_drift_bins`` family:
    D = max_v |F_A(v) − F_B(v)| between the l_quantity distributions
    of returnflag populations A and B(='R'). D is computed from
    cumulative INTEGER counts: at every distinct value,
    |cum_a·tot_b − cum_b·tot_a| is an exact BIGINT (D's numerator over
    the common denominator tot_a·tot_b), the max is an exact integer
    max, and the single micro-rounded double division happens once in
    the identical shape on both engines — NULL when either population
    is empty (0/0 would otherwise produce NaN, which Spark casts to a
    value while DuckDB errors — the kappa/PSI NULL-guard class). Overflow bound: cum·tot ≤
    (6e7)² at the K=100 soak — well under 2^63. Output keeps the full
    per-value ECDF table (the drift-report surface) with the global D
    repeated per row. Scale shape: one map-side-combined groupBy on
    the fact collapses to ≤|distinct values| rows (50 here — bounded
    by the measurement's value cardinality, like the ``ml_cramers_v``
    grid); the cumulative windows run over that bounded table only, so
    the unpartitioned ORDER BY window never sees fact-sized data; at
    unbounded-cardinality measures, pre-bin (``dq_drift_bins``) first."""
    li = t(spark, sf_dir, "lineitem")
    vals = (
        li.filter(F.col("l_returnflag").isin("A", "R"))
        .groupBy(
            F.round(F.col("l_quantity") * 100)
            .cast("long")
            .alias("v_centi")
        )
        .agg(
            F.sum(
                F.when(F.col("l_returnflag") == "A", 1).otherwise(0)
            ).alias("n_a"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("n_b"),
        )
    )
    w_cum = W.orderBy("v_centi").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.orderBy("v_centi").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = vals.select(
        "v_centi",
        "n_a",
        "n_b",
        F.sum("n_a").over(w_cum).alias("cum_a"),
        F.sum("n_b").over(w_cum).alias("cum_b"),
        F.sum("n_a").over(w_all).alias("tot_a"),
        F.sum("n_b").over(w_all).alias("tot_b"),
    )
    diff = F.abs(
        F.col("cum_a") * F.col("tot_b") - F.col("cum_b") * F.col("tot_a")
    )
    dd = cum.select("*", diff.alias("diff_scaled"))
    return dd.select(
        "v_centi",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("cum_a").cast("long").alias("cum_a"),
        F.col("cum_b").cast("long").alias("cum_b"),
        F.col("tot_a").cast("long").alias("tot_a"),
        F.col("tot_b").cast("long").alias("tot_b"),
        F.col("diff_scaled").cast("long").alias("diff_scaled"),
        F.when(
            (F.col("tot_a") == 0) | (F.col("tot_b") == 0),
            F.lit(None).cast("long"),
        )
        .otherwise(
            F.round(
                F.max("diff_scaled").over(w_all).cast("double")
                * 1000000
                / (
                    F.col("tot_a").cast("double")
                    * F.col("tot_b").cast("double")
                )
            ).cast("long")
        )
        .alias("ks_d_micro"),
    )


# ---------------------------------------------------------------------------
# Population Stability Index — floor-micro PSI with zero-bin guards
# ---------------------------------------------------------------------------


@query(
    "ml_psi_drift",
    oracle=f"""
    WITH q AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi,
             o_orderdate < TIMESTAMP '{_DRIFT_CUTOFF}' AS early
      FROM orders WHERE o_totalprice > 0 AND o_orderdate IS NOT NULL
    ),
    bins AS (
      SELECT CAST(length(bin(centi)) - 1 AS INT) AS bucket_log2,
             SUM(CASE WHEN early THEN 1 ELSE 0 END) AS n_early,
             SUM(CASE WHEN early THEN 0 ELSE 1 END) AS n_late
      FROM q GROUP BY 1
    ),
    tots AS (
      SELECT *, SUM(n_early) OVER () AS tot_early,
             SUM(n_late) OVER () AS tot_late
      FROM bins
    ),
    terms AS (
      SELECT *,
             CASE WHEN n_early = 0 OR n_late = 0 THEN NULL
                  ELSE CAST(ROUND(ln(CAST(n_early * tot_late AS DOUBLE)
                                     / CAST(n_late * tot_early AS DOUBLE))
                                  * 1000000) AS BIGINT)
             END AS lr_micro
      FROM tots
    ),
    contrib AS (
      SELECT *,
             CASE WHEN lr_micro IS NULL THEN NULL
                  ELSE CAST(ROUND(
                    (CAST(n_early * tot_late - n_late * tot_early AS DOUBLE)
                     / (CAST(tot_early AS DOUBLE) * CAST(tot_late AS DOUBLE)))
                    * lr_micro / 1000000 * 1000000) AS BIGINT)
             END AS term_micro
      FROM terms
    )
    SELECT bucket_log2,
           CAST(n_early AS BIGINT) AS n_early,
           CAST(n_late AS BIGINT) AS n_late,
           CAST(tot_early AS BIGINT) AS tot_early,
           CAST(tot_late AS BIGINT) AS tot_late,
           (n_early = 0 OR n_late = 0) AS zero_bin,
           lr_micro,
           term_micro,
           CAST(SUM(term_micro) OVER () AS BIGINT) AS psi_micro,
           CAST(SUM(CASE WHEN n_early = 0 OR n_late = 0 THEN 1 ELSE 0 END)
                OVER () AS BIGINT) AS n_zero_bins
    FROM contrib
    """,
)
def ml_psi_drift(spark, sf_dir):
    """Population Stability Index over the ``dq_drift_bins`` partials
    — the model-monitoring drift score PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ)
    between the early/late order-value histograms on shared log2
    buckets. Zero-bin guard (the NULL-guard class): a bin empty on
    EITHER side has an undefined ln ratio — its term is NULL, it is
    flagged (``zero_bin``) and counted (``n_zero_bins``), and
    ``psi_micro`` sums the defined terms only (production practice
    either drops such bins or re-bins; dropping keeps the statistic
    exact instead of epsilon-dependent). Exactness recipe (the
    ``text_zipf_slope`` one): the ln ratio's argument is a single
    division of EXACT BIGINT cross products, the ln is
    micro-rounded once, the proportion difference
    (n_early·tot_late − n_late·tot_early)/(tot_early·tot_late) is an
    exact-integer-numerator double division, and both engines multiply
    the same two deterministic doubles before one final micro-round;
    psi_micro is then an exact integer sum. Scale shape: identical to
    ``dq_drift_bins`` — one fact scan into a map-side-combined groupBy
    on the derived bucket (≤64 log2 buckets); every window runs over
    that bounded bin table."""
    o = t(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    early = F.col("o_orderdate") < F.lit(_DRIFT_CUTOFF).cast("timestamp")
    # NULL o_orderdate is excluded EXPLICITLY on both engines (the
    # oracle's CASE classified a NULL date as late while
    # Spark's sum skipped the NULL boolean — a row counted on neither
    # side there, on one side here; filtering aligns the semantics).
    q = o.filter(
        (F.col("o_totalprice") > 0) & F.col("o_orderdate").isNotNull()
    ).select(centi.alias("centi"), early.alias("early"))
    bins = q.groupBy(
        (F.length(F.bin("centi")) - 1).cast("int").alias("bucket_log2")
    ).agg(
        F.sum(F.col("early").cast("int")).alias("n_early"),
        F.sum((~F.col("early")).cast("int")).alias("n_late"),
    )
    w_all = W.orderBy("bucket_log2").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    tots = bins.select(
        "*",
        F.sum("n_early").over(w_all).alias("tot_early"),
        F.sum("n_late").over(w_all).alias("tot_late"),
    )
    zero = (F.col("n_early") == 0) | (F.col("n_late") == 0)
    lr_micro = F.when(zero, F.lit(None).cast("long")).otherwise(
        F.round(
            F.log(
                (F.col("n_early") * F.col("tot_late")).cast("double")
                / (F.col("n_late") * F.col("tot_early")).cast("double")
            )
            * 1000000
        ).cast("long")
    )
    terms = tots.select("*", lr_micro.alias("lr_micro"))
    pdiff = (
        F.col("n_early") * F.col("tot_late")
        - F.col("n_late") * F.col("tot_early")
    ).cast("double") / (
        F.col("tot_early").cast("double") * F.col("tot_late").cast("double")
    )
    term_micro = F.when(
        F.col("lr_micro").isNull(), F.lit(None).cast("long")
    ).otherwise(
        F.round(pdiff * F.col("lr_micro") / 1000000 * 1000000).cast("long")
    )
    contrib = terms.select("*", term_micro.alias("term_micro"))
    return contrib.select(
        "bucket_log2",
        F.col("n_early").cast("long").alias("n_early"),
        F.col("n_late").cast("long").alias("n_late"),
        F.col("tot_early").cast("long").alias("tot_early"),
        F.col("tot_late").cast("long").alias("tot_late"),
        zero.alias("zero_bin"),
        "lr_micro",
        "term_micro",
        F.sum("term_micro").over(w_all).cast("long").alias("psi_micro"),
        F.sum(zero.cast("int")).over(w_all).cast("long").alias("n_zero_bins"),
    )


# ---------------------------------------------------------------------------
# Quantile drift from the mergeable value-count summary
# ---------------------------------------------------------------------------

_QD_MICRO = 1_000_000


@query(
    "ml_quantile_drift",
    oracle=f"""
    WITH q AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS centi,
             o_orderdate < TIMESTAMP '{_DRIFT_CUTOFF}' AS early
      FROM orders WHERE o_totalprice > 0 AND o_orderdate IS NOT NULL
    ),
    vals AS (
      SELECT centi,
             SUM(CASE WHEN early THEN 1 ELSE 0 END) AS n_early,
             SUM(CASE WHEN early THEN 0 ELSE 1 END) AS n_late
      FROM q GROUP BY 1
    ),
    cum AS (
      SELECT centi, n_early, n_late,
             SUM(n_early) OVER (ORDER BY centi) AS ce,
             SUM(n_late) OVER (ORDER BY centi) AS cl,
             SUM(n_early) OVER () AS te,
             SUM(n_late) OVER () AS tl
      FROM vals
    ),
    eq AS (
      SELECT u.q AS decile, centi AS q_early_centi
      FROM (SELECT centi,
                   CAST((10 * (ce - n_early)) // te + 1 AS BIGINT) AS q_lo,
                   CAST(LEAST((10 * ce) // te, 9) AS BIGINT) AS q_hi
            FROM cum),
           unnest(CASE WHEN q_lo <= q_hi
                       THEN range(q_lo, q_hi + 1)
                       ELSE CAST([] AS BIGINT[]) END) AS u(q)
    ),
    lq AS (
      SELECT u.q AS decile, centi AS q_late_centi
      FROM (SELECT centi,
                   CAST((10 * (cl - n_late)) // tl + 1 AS BIGINT) AS q_lo,
                   CAST(LEAST((10 * cl) // tl, 9) AS BIGINT) AS q_hi
            FROM cum),
           unnest(CASE WHEN q_lo <= q_hi
                       THEN range(q_lo, q_hi + 1)
                       ELSE CAST([] AS BIGINT[]) END) AS u(q)
    )
    SELECT CAST(eq.decile AS BIGINT) AS decile,
           CAST(q_early_centi AS BIGINT) AS q_early_centi,
           CAST(q_late_centi AS BIGINT) AS q_late_centi,
           CAST(q_late_centi - q_early_centi AS BIGINT) AS shift_centi,
           CAST(((q_late_centi - q_early_centi) * {_QD_MICRO}
                 - ((((q_late_centi - q_early_centi) * {_QD_MICRO})
                     % q_early_centi + q_early_centi) % q_early_centi))
                // q_early_centi AS BIGINT) AS shift_pct_micro
    FROM eq JOIN lq ON eq.decile = lq.decile
    """,
)
def ml_quantile_drift(spark, sf_dir):
    """Quantile drift between the early/late order-value
    distributions — the UNBINNED companion to ``ml_ks_two_sample``
    (one max statistic) and ``ml_psi_drift`` (log2-binned): all nine
    deciles of both distributions plus the per-decile shift, the
    report a model-monitoring dashboard draws as a Q-Q drift strip.
    The sketch is the centi-quantized (value → count) summary — the
    exact-rank equivalent of a KLL/t-digest mergeable sketch on this
    grid (map-side-combined groupBy partials merge associatively;
    unlike KLL's randomized compaction it is deterministic, which the
    cross-engine hash requires, and the quantization bounds its size
    at any corpus scale). Quantiles are integer rank queries
    (inverted CDF: smallest v with cum ≥ ceil(q·n/10)) computed
    WITHOUT a decile cross join: value v answers exactly the deciles
    q with 10·cum_prev < q·n ≤ 10·cum, so each summary row explodes
    its own (possibly empty) decile range — ceil never materializes
    (the inequality is pre-multiplied through). The relative shift
    uses the floor-division identity (s − pmod(s, d)) div d on both
    engines (shifts go negative; DuckDB // floors, Spark div
    truncates — the ``ts_period_over_period`` recipe). Scale shape:
    one fact scan into a map-side-combined groupBy on the quantized
    value; every window and explode runs over that bounded summary,
    never the corpus."""
    o = t(spark, sf_dir, "orders")
    centi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    early = F.col("o_orderdate") < F.lit(_DRIFT_CUTOFF).cast("timestamp")
    vals = (
        o.filter((F.col("o_totalprice") > 0) & F.col("o_orderdate").isNotNull())
        .select(centi.alias("centi"), early.alias("early"))
        .groupBy("centi")
        .agg(
            F.sum(F.col("early").cast("int")).alias("n_early"),
            F.sum((~F.col("early")).cast("int")).alias("n_late"),
        )
    )
    w_cum = W.orderBy("centi")
    w_all = W.orderBy("centi").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = vals.select(
        "centi",
        "n_early",
        "n_late",
        F.sum("n_early").over(w_cum).alias("ce"),
        F.sum("n_late").over(w_cum).alias("cl"),
        F.sum("n_early").over(w_all).alias("te"),
        F.sum("n_late").over(w_all).alias("tl"),
    )

    # Both sides' decile claims are emitted from ONE pass over the
    # summary (each row explodes a concat of its early- and late-side
    # decile ranges, tagged by side) and met in a single 9-group
    # aggregate — the first form joined two branches that each
    # re-scanned the fact table (plan_audit showed scans=2; at 100 TB
    # that is a doubled fact scan for a 9-row answer).
    def side_structs(cum_col, n_col, tot_col, side_tag):
        q_lo = F.expr(f"(10 * ({cum_col} - {n_col})) div {tot_col}") + 1
        q_hi = F.least(F.expr(f"(10 * {cum_col}) div {tot_col}"), F.lit(9))
        empty = F.array().cast("array<struct<decile:bigint,side:string>>")
        # Outer guard: a side with zero rows (degenerate all-early /
        # all-late input) must yield no claims WITHOUT evaluating the
        # rank division — ANSI mode turns div-by-zero into a runtime
        # error, and CaseWhen only evaluates the matched branch.
        return F.when(
            F.col(tot_col) > 0,
            F.when(
                q_lo <= q_hi,
                F.transform(
                    F.sequence(q_lo, q_hi),
                    lambda q: F.struct(
                        q.cast("long").alias("decile"),
                        F.lit(side_tag).alias("side"),
                    ),
                ),
            ).otherwise(empty),
        ).otherwise(empty)

    claims = cum.select(
        "centi",
        F.explode(
            F.concat(
                side_structs("ce", "n_early", "te", "e"),
                side_structs("cl", "n_late", "tl", "l"),
            )
        ).alias("claim"),
    )
    both = claims.groupBy(F.col("claim.decile").alias("decile")).agg(
        F.max(F.when(F.col("claim.side") == "e", F.col("centi"))).alias(
            "q_early_centi"
        ),
        F.max(F.when(F.col("claim.side") == "l", F.col("centi"))).alias(
            "q_late_centi"
        ),
    )
    # Inner-join parity with the oracle: a decile claimed by only one
    # side (degenerate all-early / all-late inputs) must vanish, not
    # surface as a NULL-sided row — max() over zero matching claims
    # would otherwise emit 9 NULL rows where both engines' join forms
    # emit 0.
    both = both.where(
        F.col("q_early_centi").isNotNull() & F.col("q_late_centi").isNotNull()
    )
    shift = F.col("q_late_centi") - F.col("q_early_centi")
    return both.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("q_early_centi").cast("long").alias("q_early_centi"),
        F.col("q_late_centi").cast("long").alias("q_late_centi"),
        shift.cast("long").alias("shift_centi"),
        F.expr(
            f"((q_late_centi - q_early_centi) * {_QD_MICRO} "
            f"- pmod((q_late_centi - q_early_centi) * {_QD_MICRO}, "
            f"q_early_centi)) div q_early_centi"
        )
        .cast("long")
        .alias("shift_pct_micro"),
    )


# ---------------------------------------------------------------------------
# Group-aware K-fold assignment
# ---------------------------------------------------------------------------

GKF_K = 5


@query(
    "ml_group_kfold_assign",
    oracle=f"""
    SELECT doc_id, source,
           CAST(('0x' || substr(md5(source), 1, 13))::BIGINT % {GKF_K}
                AS BIGINT) AS fold
    FROM documents
    """,
)
def ml_group_kfold_assign(spark, sf_dir):
    """GROUP-aware K-fold assignment — the leakage-safe
    cross-validation split: every document of a source lands in the
    SAME fold (fold = md5(source) % {GKF_K}), so near-duplicate or
    stylistically-correlated documents from one origin can never sit
    on both sides of a train/validation boundary.
    ``ml_kfold_assign`` hashes the ROW id — fine for iid rows, leaky
    for grouped corpora; this is sklearn's GroupKFold distinction,
    deterministic via the registry's md5 recipe.

    Scale shape: pure per-row hash arithmetic, zero shuffle, linear;
    the group-integrity and fold-coverage properties are pinned in
    pytest (the hash proves parity, not the invariant)."""
    d = t(spark, sf_dir, "documents")
    fold = md5_int(F.col("source"), 13) % GKF_K
    return d.select("doc_id", "source", fold.alias("fold"))
