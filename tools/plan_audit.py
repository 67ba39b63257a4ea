"""Physical-plan audit for every declared query — the 100 TB hygiene
check (SURVEY.md §4.2 posture).

For each ``queries()`` entry, inspects the executed plan (post-AQE
where possible) and reports:

- parquet scans whose ReadSchema includes columns the query never
  needed (column-pruning failures);
- scans with no PushedFilters although the query filters early;
- row-at-a-time Python UDF nodes (BatchEvalPython) — forbidden on the
  hot path (ArrowEvalPython / mapInPandas are the sanctioned Python);
- CartesianProduct / BroadcastNestedLoopJoin nodes (quadratic unless
  deliberate — theta/range joins are flagged as expected);
- a rank filter with a literal bound (``rn <= k``, ``rn = 1``) over a
  ranking Window that Spark did not limit before the shuffle: no
  WindowGroupLimit or TakeOrderedAndProject as the Window's first
  non-Sort child (``queries/kernels.topk`` renders the shape that gets
  one);
- number of Exchange (shuffle) nodes;
- WholeStageCodegen coverage.

Usage: python tools/plan_audit.py [name-substring ...]
Exits 1 when any query is flagged or fails to build.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# Queries where a nested-loop/cartesian join is the declared semantics
# (theta joins, all-pairs similarity) rather than an accident.
EXPECTED_NLJ = {
    "join_theta",
    "join_range_predicate",
    # NOT listed anymore: dedup_embedding_cosine and
    # sim_pairwise_label_stats — re-planned in r12 as salted equi-joins
    # against a broadcast side (single-task NLJ was their 40-117 s
    # sf0.1 cost), so an NLJ reappearing in them should flag again.
    "sim_cosine_topk",  # broadcast NLJ on purpose: tiny query side
    # RRF's dense ranking scores the corpus against the broadcast
    # 1-row query vector (the sanctioned sim_cosine_topk shape); the
    # lexical/dense rank join itself is a tiny full-outer equi-join.
    "sim_rrf_fusion",
    "knn_label_vote",  # same broadcast-query shape as sim_cosine_topk
    # MaxSim late interaction: corpus token scan × the broadcast
    # 8-row query token set (the sanctioned sim_cosine_topk shape);
    # cost is |corpus| × |query tokens|, linear in the corpus.
    "sim_maxsim_late_interaction",
    "sim_ivf_topk",  # corpus × broadcast 16-centroid table (coarse quantizer)
    "sim_ivf_assign_parity",  # same corpus × broadcast-centroid shape
    "sim_label_centroid_stats",  # |labels|² broadcast self-join of per-label sums
    # Deliberate broadcast NLJ: the exact-ground-truth side joins the
    # corpus to a broadcast NQ-row query SAMPLE on vec_id != query_id —
    # the same sanctioned sample-bounded shape as sim_cosine_topk
    # (sim_ivfpq_recall_vs_exact docstring, similarity.py). Cost is |corpus|×NQ, not |corpus|²;
    # NQ is fixed (recall-monitoring sample), so it stays broadcastable
    # at 100 TB.
    "sim_ivfpq_recall_vs_exact",
    # Label-grid construction (ml.py): the r×c contingency grid is
    # the cross join of the two per-label marginal aggregates (r and c
    # are CATEGORY cardinalities — single-digit here, bounded by the
    # domain at any data size), needed so structural-zero cells
    # contribute their (0−E)²/E chi² term. |r|×|c| rows, broadcast.
    "ml_cramers_v",
    # Semantic decontamination (dedup.py): corpus x broadcast
    # EVAL-SUITE scoring — the sanctioned sim_cosine_topk shape; the
    # eval side is a fixed held-out sample at any corpus scale, so the
    # NLJ cost is |corpus| x |eval|, linear in the corpus.
    "decontam_embedding_cosine",
}

# Queries that cross-join a broadcast ONE-ROW aggregate (a scalar
# carried as a plan node instead of a driver-side .collect()); the
# BroadcastNestedLoopJoin there multiplies by 1, not by a table.
EXPECTED_SCALAR_BNLJ = {
    "tfidf_top_terms",  # corpus-size scalar for the idf term
    "funnel_conversion",  # three 1-row stage counts combined
    "window_ntile",  # N-total scalar for bucket arithmetic
    "doc_length_pctl_filter",  # corpus-P90 threshold scalar
    "mix_temperature_sampling",  # broadcast 1-row (n_total, w_total)
    "q22_global_sales_opportunity",  # broadcast 1-row avg-balance threshold
    "graph_degree_stats",  # broadcast 1-row n_docs for the affine link graph
    "graph_triangle_count",  # same broadcast 1-row n_docs
    "graph_common_neighbors",  # same broadcast 1-row n_docs (shared _graph_edges)
    "dq_constraint_check",  # 1-row metric agg × 1-row anti-join orphan count
    "text_bm25_topk",  # broadcast 1-row corpus stats (N, avgdl)
    "embed_top_pc_power_iter",  # per-iteration 1-row divisor/norm/sign scalars
    "ts_seasonal_naive_forecast",  # broadcast 1-row anchor/drift scalars
    "ml_naive_bayes_train",  # broadcast 1-row vocab-size + corpus-size scalars
    "graph_label_propagation",  # broadcast 1-row node count for the affine edges
    "agg_kmv_set_ops",  # broadcast 1-row sketch/match/exact scalars combined
    "dq_freshness_lag",  # broadcast 1-row global-max-ts anchor
    "ml_calibration_bins",  # broadcast 1-row min/max bin-edge anchor
    "dq_benford_digits",  # broadcast 1-row population total
    # (n_tot, agree) 1-row aggregate × 1-row Σ rm·cm chance term — the
    # marginal-form pe fix (ADVICE r7) replaced the diagonal-cell
    # window shortcut with two label-cardinality aggregates combined
    # by a scalar cross join; multiplies 1 row by 1 row.
    "ml_cohens_kappa",
}
# Deliberate probe-set × corpus broadcast join (tiny probe side, the
# sim_cosine_topk posture): the corpus never shuffles.
EXPECTED_NLJ.add("embed_prefix_nn_fidelity")
# corpus × broadcast-16-cell coarse quantizer (the sim_ivf_assign shape).
EXPECTED_NLJ.add("sim_ivfpq_topk")
# Deliberate broadcast containment join (tiny snippet table).
EXPECTED_NLJ.add("decontam_exact_substring")
# corpus × broadcast 10-query probe set (the sim_cosine_topk posture).
EXPECTED_NLJ.add("ml_mrr_eval")
EXPECTED_NLJ.add("ml_ndcg_eval")
EXPECTED_NLJ.add("sim_hard_negative_mining")
# points × broadcast dimension-sized POI catalog (argmin over 100 POIs);
# the grid-pruned variant is geo_grid_point_in_box.
EXPECTED_NLJ.add("geo_nearest_poi")
# corpus × broadcast 1-row query vector (the sim_cosine_topk posture),
# plus the K fixed 1-row argmax plan nodes of the greedy MMR loop.
EXPECTED_NLJ.add("sim_mmr_select")
# broadcast 1-row corpus token total for the lift denominator.
EXPECTED_SCALAR_BNLJ.add("text_collocation_pmi")
# broadcast 1-row (P, N) class totals for the fn/tn/rate columns.
EXPECTED_SCALAR_BNLJ.add("ml_roc_points")
# same broadcast 1-row class-total scalars as ml_roc_points.
EXPECTED_SCALAR_BNLJ.add("ml_lift_gain_deciles")
EXPECTED_SCALAR_BNLJ.add("ml_f1_threshold_pick")
# broadcast 1-row median-purchases conversion threshold.
EXPECTED_SCALAR_BNLJ.add("ml_ab_chi2_outcome")
# same broadcast 1-row class-total scalar as ml_roc_points.
EXPECTED_SCALAR_BNLJ.add("ml_pr_curve_points")
# broadcast 1-row token-budget scalar.
EXPECTED_SCALAR_BNLJ.add("mix_token_budget_fill")
# broadcast 1-row T (both-ways edge count) scalar.
EXPECTED_SCALAR_BNLJ.add("graph_modularity_score")
# deliberately quadratic exact ground-truth over the BOUNDED vocab
# universe (the dedup_ngram_jaccard posture) — the report's whole
# point is to grade the blocking scheme against all-pairs truth.
EXPECTED_NLJ.add("er_blocking_quality_report")
# broadcast 1-row series-length + observed-mean scalars.
EXPECTED_SCALAR_BNLJ.add("ml_bootstrap_ci_mean")
# broadcast 1-row true-total-weight scalar for the priority-sampling
# estimator denominator (curation.py): multiplies the bounded k-row
# sample by 1 row — the tfidf_top_terms shape.
EXPECTED_SCALAR_BNLJ.add("sample_weighted_reservoir")
# bounded-calendar daily series × broadcast 8-row lag table.
EXPECTED_NLJ.add("ts_xcorr_lag_scan")
# KLL-class quantile sketch (relational.py): one broadcast 1-row
# (n_rows, level) scalar onto the value scan (the
# sample_weighted_reservoir shape), plus the bounded ~k-row survivor
# frame × broadcast 9-row decile table joined on a rank expression —
# both NLJs multiply by a constant, never by a table.
EXPECTED_NLJ.add("agg_kll_quantile_sketch")
EXPECTED_NLJ |= EXPECTED_SCALAR_BNLJ

# Queries whose literal-bound rank filter may run without a group
# limit, each with the reason. Empty: every such filter gets one.
UNLIMITED_RANK_FILTER: dict[str, str] = {}

# Driver actions (documented, not flagged here): the engine has no
# iterative collect(). Every round loop runs through graph.iterate, and
# connected_components' convergence test is an Observation filled by
# each round's own checkpoint job; anything pulling rows to the driver
# per iteration is a bug.


_NODE_START = re.compile(r"[^ :|+-]")
_RANK_DEF = re.compile(
    r"\b(?:row_number|rank|dense_rank)\([^)]*\) windowspecdefinition\(.*?\) AS (\w+#\d+)"
)
# ``rn#7 <= 3``, also through casts: ``cast(rn#7 as smallint) <= 3``.
_LITERAL_BOUND = re.compile(
    r"(?:cast\()*(\w+#\d+)(?: as [a-z]+(?:\(\d+,\d+\))?\))* (?:<=|<|=) -?\d[\d.]*[A-Z]?\)"
)


def _plan_tree(plan: str) -> list[tuple[str, list[int]]]:
    """Parse a plan's tree string into ``[(node text, child indices)]``;
    a node's depth is the column its text starts at."""
    nodes: list[tuple[str, list[int]]] = []
    stack: list[tuple[int, int]] = []  # (column, node index)
    for line in plan.splitlines():
        m = _NODE_START.search(line)
        if not m or line[m.start():].startswith("=="):
            continue
        col = m.start()
        while stack and stack[-1][0] >= col:
            stack.pop()
        if stack:
            nodes[stack[-1][1]][1].append(len(nodes))
        stack.append((col, len(nodes)))
        nodes.append((line[col:], []))
    return nodes


def unlimited_rank_filters(plan: str) -> list[str]:
    """Rank attributes that a Filter bounds by a literal although the
    Window computing them has no WindowGroupLimit or
    TakeOrderedAndProject as its first non-Sort child, i.e. Spark sorts
    the whole input to rank it."""
    nodes = _plan_tree(plan.split("== Initial Plan ==")[0])
    defined = {}  # rank attribute -> index of its Window node
    for i, (text, _) in enumerate(nodes):
        if text.startswith("Window ["):
            for attr in _RANK_DEF.findall(text):
                defined[attr] = i
    bad = []
    for text, _ in nodes:
        if not re.match(r"(\*\(\d+\) )?Filter ", text):
            continue
        for attr in _LITERAL_BOUND.findall(text):
            if attr not in defined or attr in bad:
                continue
            below = nodes[defined[attr]][1]
            while len(below) == 1 and re.match(r"(\*\(\d+\) )?Sort ", nodes[below[0]][0]):
                below = nodes[below[0]][1]
            first = nodes[below[0]][0] if len(below) == 1 else ""
            if not first.startswith(("WindowGroupLimit", "TakeOrderedAndProject")):
                bad.append(attr)
    return bad


def audit(name: str, df) -> list[str]:
    # Materialize by draining toLocalIterator — it executes THIS
    # DataFrame's own QueryExecution, so AQE finalizes in place
    # (isFinalPlan=true) and the string shows real join strategies +
    # codegen stages. (A noop write builds a separate QueryExecution:
    # the df's own plan then prints pre-execution, with zero codegen
    # markers — measured.) Unlike collect(), the drain holds at most
    # one partition driver-side — full-table-output queries (LOCF,
    # tokenization) would otherwise pull entire result sets into the
    # driver at larger audit scale factors.
    for _ in df.toLocalIterator():
        pass
    plan = df._jdf.queryExecution().executedPlan().toString()
    # A finalized AdaptiveSparkPlan prints the final plan AND an
    # "== Initial Plan ==" echo; keep only the final section or every
    # scan/exchange/codegen count doubles.
    plan = plan.split("== Initial Plan ==")[0]
    notes: list[str] = []
    n_exchange = len(re.findall(r"\bExchange\b", plan)) - plan.count("ReusedExchange")
    # Codegen stages print as "*(n) Operator" in the plan string.
    wsc_stages = {m.group(1) for m in re.finditer(r"\*\((\d+)\)", plan)}
    if "BatchEvalPython" in plan:
        notes.append("PYTHON-UDF row-at-a-time (BatchEvalPython) on the plan!")
    nlj = ("CartesianProduct" in plan) or ("BroadcastNestedLoopJoin" in plan)
    if nlj and name not in EXPECTED_NLJ:
        notes.append("unexpected nested-loop/cartesian join")
    unlimited = unlimited_rank_filters(plan)
    if unlimited and name not in UNLIMITED_RANK_FILTER:
        notes.append(
            f"rank filter without a group limit on {', '.join(unlimited)}"
            " (use queries.kernels.topk)"
        )
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    n_pushed = sum(
        1
        for s in scans
        if (m := re.search(r"PushedFilters: \[([^\]]*)\]", s)) and m.group(1).strip()
    )
    header = (
        f"{name}: exchanges={n_exchange} codegen_stages={len(wsc_stages)} "
        f"scans={len(scans)} scans_with_pushdown={n_pushed}"
    )
    return [header] + [f"  !! {n}" for n in notes]


def main() -> int:
    filters = sys.argv[1:]
    import __spark_entry__ as entrymod
    from caliper_poc_data_etl_spark.session import get_spark

    qs = entrymod.queries()
    if filters:
        qs = {k: v for k, v in qs.items() if any(f in k for f in filters)}
    spark = get_spark("plan-audit")
    bad = 0
    for name, fn in sorted(qs.items()):
        try:
            df = fn(spark, SF_DIR)
            lines = audit(name, df)
        except Exception as exc:  # noqa: BLE001
            lines = [f"{name}: ERROR {exc}"]
        if any("!!" in ln or "ERROR" in ln for ln in lines):
            bad += 1
        print("\n".join(lines))
    print(f"\n{bad} queries flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
