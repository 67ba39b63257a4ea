"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs a representative subset of the declared query surface (one per
operator family, heaviest variant) on ``local[$SPARK_GRAFT_CPUS]``.
The LAST stdout line is the compact headline JSON object:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

A separate earlier ``bench_diagnostics`` JSON line carries the bulky
per-trial spreads and the Spark-free host calibration anchors (r4's
single fat line exceeded the driver's tail capture and graded as
``parsed: null`` — the headline object must stay small and last).

``value`` is the wall-clock sum over the headline queries (excluding
Spark session startup), which is the driver's headline number. Each
query is materialized with a count-style action (``collect`` on small
outputs) so the full plan executes; nothing is cached between queries
so each timing includes its own scan.

Each query runs ``SPARK_GRAFT_BENCH_TRIALS`` times (default 3) and
reports the MIN — the capability number — except the two 1M file-sink
entries, keyed on MEDIAN: host metadata throttling inverted their
trial trend in r4 (min = cold first trial), so min is no longer the
conservative read there. Rationale: round 2 recorded a
uniform 20-50% slowdown on queries whose code had not changed (r1 q1
3.05s → r2 3.67s and siblings alike), which no plan can explain;
single-shot timings on a shared sandbox conflate the engine with
background load. All trial times are printed to stderr and included in
the JSON (``trial_times``) so a regression can be told apart from a
noisy host: real regressions move the min, load moves the spread.

Usage:
    python bench.py                      # sf0.1, local[32]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py
    python bench.py --queries q1,q3      # substring filter
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Scratch dirs made by this run (generated CSVs, relaid inputs); main()
# removes them on the way out, whether the run finished or failed.
_TMP_DIRS: list[str] = []


def _mkdtemp(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    _TMP_DIRS.append(d)
    return d

# One headline per operator family; heaviest representative of each.
HEADLINE = [
    "q1_pricing_summary",        # full-scan hash agg (TPC-H Q1 analog)
    "q3_top_revenue",            # 3-way join + agg + top-k (TPC-H Q3 analog)
    "caliper_group_events",      # flagship: nested structs + ordered collect_list
    "caliper_fanout",            # 1→3 explode fan-out
    "join_broadcast_dims",       # star-schema broadcast joins
    "join_asof",                 # as-of join (window over union)
    "agg_rollup",                # hierarchical rollup
    "window_rank_topk_per_group",  # partitioned window rank
    "window_running_sum",        # running frame
    "sort_topk_global",          # global order + limit
    # dedup_ngram_jaccard intentionally NOT here: it is the quadratic
    # exact-recall oracle for the MinHash path, not a production route
    # (36% of the round-1 bench wall by itself). The LSH number below is
    # the dedup headline.
    "dedup_exact_normalized",    # exact dedup w/ normalization
    "dedup_minhash_lsh",         # MinHash LSH near-dup (band join)
    "sim_cosine_topk",           # brute-force cosine top-k
    "sim_ann_lsh",               # LSH-bucketed ANN
    "sim_label_centroid_stats",  # linear centroid path (vs quadratic oracle)
    "text_quality_score",        # text-analysis pack
    "ts_sliding_window",         # sliding time window agg
    "ts_session_window",         # session windows
    # round-5 additions (new keys — earlier keys stay comparable
    # across rounds; the summed `value` covers whatever is listed):
    "text_bpe_tokenize",         # subword BPE encode (zero-shuffle map)
    "embed_kmeans_assign",       # exact-integer Lloyd k-means
    "q3_bucketed_top_revenue",   # Q3 on bucketed layout (0 fact shuffles)
    # round-6 queue flagships (same new-keys convention as above):
    "sim_ivfpq_topk",            # IVF+PQ+re-rank composed ANN pipeline
    "decontam_bloom_ngram",      # broadcast-Bloom decontamination
    "text_winnowing_fingerprint",  # MOSS winnowing (char-gram explode + window)
    "er_phonetic_cluster_cc",    # soundex block -> verify -> fixed-round CC
    # round-6 queue flagships, second wave (same new-keys convention):
    "join_pit_feature_store",    # multi-feature PIT join (one window pass)
    "join_interval_overlap",     # bucketed interval-intersection join
]


def _sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else -1.0


CALIPER_ROWS = 100_000        # BASELINE.md's measured reference run
CALIPER_ROWS_BIG = 1_000_000  # amortizing scale: fixed job overhead /10
CALIPER_ROWS_PER_ATTEMPT = 200


def _caliper_csv(n_rows: int) -> str:
    """Generate the synthetic items CSV once per size; ``os.sync()``
    afterwards so pending writeback of the (large) input file does not
    stall filesystem metadata ops inside the timed sink window —
    measured as multi-x wall variance on the 5000-file layout."""
    n_attempts = n_rows // CALIPER_ROWS_PER_ATTEMPT
    workdir = _mkdtemp("caliper_bench_")
    csv_path = f"{workdir}/items.csv"
    with open(csv_path, "w") as f:
        f.write(
            "identity_id,login_identity_id,school_id,assessment_id,"
            "assessment_version,attempt_id,assmtitem_id,assmtitem_version,"
            "assessment_type_id,response_type,question_time,score_posible,"
            "score_earned,masterobjectives,masterobjectivesid,objectivenumber\n"
        )
        f.writelines(
            f"stu-{i % n_attempts},login-{i % n_attempts},sch-1,asmt-1,1.0,"
            f"att-{i % n_attempts},item-{i},1,5,TYPE,30,10,{i % 10},obj text,"
            f"{100 + i % 7},1.1\n"
            for i in range(n_rows)
        )
    try:
        os.sync()
    except Exception:
        pass
    return csv_path


def _file_create_ceiling(
    n_files: int = 5000, payload_bytes: int = 600
) -> tuple[float, float]:
    """Measured files/s of a raw serial writer on this filesystem —
    the metadata ceiling that bounds ANY engine on a file-per-group
    layout (open+write+close per file; no Spark involved). The
    1M-row reference layout emits 5,000 files, so its wall-clock floor
    is ``5000 / ceiling`` seconds regardless of plan quality.

    TWO consecutive bursts are measured because this host THROTTLES
    metadata ops token-bucket style: identical serial bursts decay
    monotonically (measured 3123/s → 1108/s over five 5000-file
    bursts, no Spark involved) — the first number is the fresh-bucket
    ceiling, the second the steady-state refill rate. Deep bucket
    exhaustion under Spark's concurrent writers is what produces the
    sporadic 30-60× single-trial stalls on the file-per-group sink
    (r3: 24.8 s; r4 smoke: 65 s) — a HOST artifact, not an engine
    property, which is why the file-sink entries report median next
    to min."""
    rates = []
    payload = b"x" * payload_bytes
    for _ in range(2):
        d = tempfile.mkdtemp(prefix="files_ceiling_")
        try:
            t0 = time.perf_counter()
            for i in range(n_files):
                with open(f"{d}/f{i}.json", "wb") as f:
                    f.write(payload)
            wall = time.perf_counter() - t0
        finally:
            shutil.rmtree(d, ignore_errors=True)
        rates.append(round(n_files / wall, 1))
    return rates[0], rates[1]


def _host_calibration() -> tuple[float, float]:
    """Two Spark-free anchors that make cross-round bench numbers
    comparable on a host whose performance varies between rounds (the
    file-create ceiling already showed a 4.5× metadata-op swing
    between r3 and r4 on IDENTICAL code):

    - cpu_gflops: double-precision matmul throughput (numpy/BLAS) —
      normalizes the compute-bound queries;
    - proc_spawns_per_sec: fork+exec round-trips — normalizes
      everything that launches Python workers (pandas UDF stages) or
      pays per-file metadata costs, both of which ride the same host
      scheduler/metadata throttle.
    """
    import subprocess

    import numpy as np

    n = 768
    a = np.random.default_rng(7).standard_normal((n, n))
    a @ a  # warm BLAS
    t0 = time.perf_counter()
    reps = 6
    for _ in range(reps):
        a @ a
    gflops = round(reps * 2 * n**3 / (time.perf_counter() - t0) / 1e9, 1)

    t0 = time.perf_counter()
    spawns = 30
    for _ in range(spawns):
        subprocess.run(["/bin/true"], check=True)
    spawn_rate = round(spawns / (time.perf_counter() - t0), 1)
    return gflops, spawn_rate


def _volume_shuffle_partitions(raw: str, n_rows: int) -> int | None:
    """Volume-proportional shuffle-partition count, or None to leave
    the session value alone. 'auto' (AQE-managed distributions) is
    non-numeric: skip the override rather than crash (ADVICE r6).
    Extracted so the regression test exercises THIS code, not a
    re-implementation (ADVICE r7)."""
    try:
        cores = int(raw)
    except ValueError:
        return None
    return max(8, min(cores, n_rows // 6250))


def _caliper_throughput(
    spark,
    n_rows: int,
    layout: str = "reference",
    csv_path: str | None = None,
    tag: str = "",
) -> tuple[float, float]:
    """Reference-comparable number: the item pipeline end-to-end
    (CSV scan → events → grouped → JSON sink). ``n_rows=100k`` is the
    same shape as BASELINE.md's measured reference run (0.65s ≈ 154k
    rows/s single-core, while silently losing 80% of its writes);
    ``n_rows=1M`` shows throughput once Spark's fixed per-job overhead
    amortizes. ``layout='reference'`` is apples-to-apples with the
    reference's file-per-attempt output (O(groups) filesystem metadata
    ops — ≈1 ms/file even for a raw serial writer, so it bounds ANY
    engine's rows/s on this layout); ``layout='bulk'`` is the engine's
    scale layout (JSON-lines, file count = task count, grouping carried
    in the data). Input generation is excluded from the timing.
    Returns (wall_sec, rows_per_sec)."""
    from caliper_poc_data_etl_spark.pipelines.items import run_items_pipeline

    if csv_path is None:
        csv_path = _caliper_csv(n_rows)
    workdir = os.path.dirname(csv_path)
    # Size the one shuffle to its volume instead of blanket core count:
    # the 100k run shuffles ~20 MB, where 32 reducers are pure per-task
    # overhead (measured 1.01 s -> 0.85 s median at 16). Same rule that
    # sizes shuffle partitions DOWN from thousands at 100 TB, applied
    # downward; the 1M runs hit the core-count cap and are unchanged.
    sp_key = "spark.sql.shuffle.partitions"
    sp_old = spark.conf.get(sp_key)
    sp_new = _volume_shuffle_partitions(sp_old, n_rows)
    if sp_new is not None:
        spark.conf.set(sp_key, str(sp_new))
    try:
        t0 = time.perf_counter()
        run_items_pipeline(
            spark, csv_path, f"{workdir}/out_{layout}{tag}", layout=layout
        )
        wall = time.perf_counter() - t0
    finally:
        spark.conf.set(sp_key, sp_old)
    return round(wall, 3), round(n_rows / wall, 1)


def _caliper_trials(
    spark, n_rows: int, layout: str, csv_path: str, trials: int, label: str
) -> tuple[float, float, list[float], float]:
    """Best-of-N e2e runs; each trial writes a FRESH target directory so
    trial 2+ doesn't pay overwrite-deletion of trial 1's files.

    Between trials the previous target is removed (outside the timed
    window) so repeated runs don't accumulate 5000-file trees. Trial
    spread on the file-per-group layout is a HOST artifact, pinned by
    measurement (see ``_file_create_ceiling``): the sandbox throttles
    filesystem metadata ops token-bucket style — identical raw serial
    bursts with no Spark involved decay 3123/s → 1108/s, and deep
    bucket exhaustion under 20+ concurrent task writers yields
    sporadic 30-60× single-trial stalls (r3: [1.96, 24.85, 3.65] s;
    an r4 probe reproduced a 65 s outlier right after an os.sync
    between trials, ruling out dirty-page writeback as the cause).
    Min is the engine-capability number; median is reported alongside
    as the throttle-pessimistic read."""
    workdir = os.path.dirname(csv_path)
    walls: list[float] = []
    rps_best = 0.0
    for i in range(trials):
        wall, rps = _caliper_throughput(
            spark, n_rows, layout, csv_path=csv_path, tag=f"_t{i}"
        )
        walls.append(wall)
        rps_best = max(rps_best, rps)
        shutil.rmtree(f"{workdir}/out_{layout}_t{i}", ignore_errors=True)
    best = min(walls)
    med = round(statistics.median(walls), 3)
    print(
        f"# {label}: trials {walls} -> min {best:.2f}s "
        f"(median {med:.2f}s) = {rps_best} rows/s",
        file=sys.stderr,
    )
    return best, rps_best, walls, med


def _time_relaid(spark, qs, relaid_queries, timings) -> dict[str, float]:
    """Median of 3 runs of each of ``relaid_queries`` over a relaid copy
    of the sf dir (big tables re-written as 16 files)."""
    from caliper_poc_data_etl_spark.sources.readers import TABLE_NAMES

    relaid_sf = _mkdtemp("bench_relaid_sf_") + "/sf"
    os.makedirs(relaid_sf, exist_ok=True)
    for tbl in TABLE_NAMES:
        src = f"{SF_DIR}/{tbl}.parquet"
        dst = f"{relaid_sf}/{tbl}.parquet"
        if tbl in ("lineitem", "orders", "documents"):
            spark.read.parquet(src).repartition(16).write.mode(
                "overwrite"
            ).parquet(dst)
        else:
            os.symlink(os.path.abspath(src), dst)
    scaling_relaid: dict[str, float] = {}
    for name in relaid_queries:
        walls_r: list[float] = []
        for _ in range(3):
            t0 = time.perf_counter()
            qs[name](spark, relaid_sf).count()
            walls_r.append(round(time.perf_counter() - t0, 3))
        scaling_relaid[name] = round(statistics.median(walls_r), 3)
        print(
            f"# relaid {name}: trials {walls_r} -> median "
            f"{scaling_relaid[name]:.2f}s (single-row-group headline: "
            f"{timings.get(name, float('nan')):.2f}s)",
            file=sys.stderr,
        )
    return scaling_relaid


def main() -> int:
    try:
        return _main()
    finally:
        for d in _TMP_DIRS:
            shutil.rmtree(d, ignore_errors=True)
        _TMP_DIRS.clear()


def _main() -> int:
    only = None
    if "--queries" in sys.argv:
        only = sys.argv[sys.argv.index("--queries") + 1].split(",")

    import __spark_entry__ as entrymod
    from caliper_poc_data_etl_spark.session import get_spark

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs]
    if only:
        names = [n for n in names if any(f in n for f in only)]

    spark = get_spark("bench")
    # Warm the JVM + parquet footers once so per-query timings measure
    # the plan, not first-touch session costs. Also spin up the Python
    # worker pool: the caliper sink is a foreachPartition action, and
    # its first invocation otherwise pays ~1-2 s of daemon+worker
    # fork-and-handshake that belongs to session startup, not the plan.
    spark.range(1).count()
    spark.range(1024).repartition(32).foreachPartition(lambda it: None)

    trials_n = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    # Headline queries are ~0.2-4.5 s each, the same regime where the
    # caliper entries already proved 3-trial mins inadequate (30-86 s
    # host-stall outliers; first-trial JIT). VERDICT r7 #2: the
    # headline loop gets the same max(trials, 5)-median treatment, so
    # apparent round-over-round regressions are adjudicable. Mins stay
    # in the detail line's trial_times.
    trials_h = max(trials_n, 5)
    timings: dict[str, float] = {}
    trial_times: dict[str, list[float]] = {}

    # VERDICT r9 #1 follow-through: the same documented stall-trim the
    # 1M grouped entry got in r8 (drop trials > 5x the query's own min
    # — the 10-40x host-stall class) is now REPORTED alongside for
    # every headline query, so a shared-host stall trial leaking into
    # a median is adjudicable from the artifact itself. The keyed
    # `value`/`queries` stay the plain medians — changing the keyed
    # statistic mid-series would break round-over-round comparability;
    # the trimmed twin rides in diagnostics + `value_trimmed`.
    def _trimmed_median(walls: list[float]) -> float:
        nonstall = [w for w in walls if w <= 5 * min(walls)]
        return round(statistics.median(nonstall), 3)

    # VERDICT r10 #1: the four queries BENCH_r10 graded perf-suspect
    # (3-6x regressions the controlled re-runs could not reproduce —
    # host stalls, per NOTES_r10 adjudication) run extra trials so the
    # committed artifact's median resists a stall trial and the
    # min/trimmed spread tells the story inside the artifact itself.
    PERF_SUSPECT = {
        "text_winnowing_fingerprint",
        "join_pit_feature_store",
        "er_phonetic_cluster_cc",
        "join_interval_overlap",
    }
    # ADVICE r11: a renamed query would silently drop out of the
    # extra-trial treatment; a stale name must fail fast instead.
    _stale = PERF_SUSPECT - set(qs)
    if _stale:
        raise RuntimeError(
            f"bench PERF_SUSPECT names not in the registry: {sorted(_stale)}"
        )
    trials_suspect = max(trials_h, 9)

    timings_trimmed: dict[str, float] = {}
    for name in names:
        walls: list[float] = []
        n = 0
        for _ in range(trials_suspect if name in PERF_SUSPECT else trials_h):
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            n = df.count()
            walls.append(round(time.perf_counter() - t0, 3))
        timings[name] = round(statistics.median(walls), 3)
        timings_trimmed[name] = _trimmed_median(walls)
        trial_times[name] = walls
        print(
            f"# {name}: {n} rows; trials {walls} -> median "
            f"{timings[name]:.2f}s (min {min(walls):.2f}s, "
            f"stall-trimmed median {timings_trimmed[name]:.2f}s)",
            file=sys.stderr,
        )

    ceiling_fps, ceiling_steady_fps = _file_create_ceiling()
    cpu_gflops, spawn_rate = _host_calibration()
    print(
        f"# host calibration: {cpu_gflops} GFLOP/s matmul, "
        f"{spawn_rate} proc-spawns/s (Spark-free anchors for cross-round "
        f"normalization)",
        file=sys.stderr,
    )
    print(
        f"# raw serial file-create ceiling: {ceiling_fps} files/s fresh, "
        f"{ceiling_steady_fps} files/s steady-state (host throttles metadata "
        f"ops; bounds ANY engine on a file-per-group sink — 5000-file floor "
        f"{5000 / ceiling_fps:.1f}-{5000 / ceiling_steady_fps:.1f}s)",
        file=sys.stderr,
    )

    csv_100k = _caliper_csv(CALIPER_ROWS)
    # The 100k e2e is a ~1 s query, so with 3 trials one first-trial
    # JIT/page-cache outlier sets the median (r6 spread:
    # 3.005/1.477/1.236). VERDICT r6 #2: give it 5-7 trials so the
    # median measures the engine, not the warmup, even on a degraded
    # host. SPARK_GRAFT_BENCH_TRIALS still raises it further.
    trials_100k = max(trials_n, 7)
    caliper_wall, caliper_rps, walls_100k, med_100k = _caliper_trials(
        spark, CALIPER_ROWS, "reference", csv_100k, trials_100k,
        "caliper_items_100k_e2e (reference single-core baseline: 154k rows/s)",
    )
    big_csv = _caliper_csv(CALIPER_ROWS_BIG)
    # Key the summed headline entry on the MEDIAN like every other
    # headline query — a min among medians would make the total a
    # mixed statistic and round-over-round comparisons mislabeled.
    # The min stays in caliper_items_100k_min_sec + trial_times.
    timings["caliper_items_100k_e2e"] = med_100k
    timings_trimmed["caliper_items_100k_e2e"] = _trimmed_median(walls_100k)
    trial_times["caliper_items_100k_e2e"] = walls_100k
    # 1M-row entries live OUTSIDE the summed headline (the sf0.1 query
    # wall) so the round-over-round `value` stays comparable; rows/s is
    # their meaningful axis. reference layout = file-per-attempt parity;
    # bulk = the engine's scale layout (see sinks.write_grouped_json).
    # These key on MEDIAN, so they get >=5 trials too: with 3, a single
    # host metadata-throttle stall (documented 30-60x single-trial
    # outliers; an 86 s trial observed in r7) sets the median.
    trials_1m = max(trials_n, 5)
    # The grouped (reference) layout's 5000-file sink is the one entry
    # where the host's metadata throttle can land 30-86 s stalls INSIDE
    # the median (r8: trials [2.19, 2.60, 30.53, 25.67, 18.41] put an
    # 18 s stall at position 3 of 5). VERDICT r8 #4: give it enough
    # trials that the median is a throughput read, not a stall read —
    # AND report a stall-trimmed median alongside (trim rule: drop
    # trials > 5x the min, the documented 10-40x stall class; every
    # raw trial stays in trial_times — no silent trimming).
    trials_1m_grouped = max(trials_n, 9)
    big_wall, big_rps, walls_1m, med_1m = _caliper_trials(
        spark, CALIPER_ROWS_BIG, "reference", big_csv, trials_1m_grouped,
        "caliper_items_1m_e2e (reference layout, 5000 durable files)",
    )
    trial_times["caliper_items_1m_e2e"] = walls_1m
    nonstall_1m = [w for w in walls_1m if w <= 5 * min(walls_1m)]
    med_1m_trimmed = round(statistics.median(nonstall_1m), 3)
    print(
        f"# caliper_items_1m_e2e stall-trimmed median {med_1m_trimmed}s "
        f"over {len(nonstall_1m)}/{len(walls_1m)} non-stall trials "
        f"(trim rule: > 5x min = {5 * min(walls_1m):.1f}s)",
        file=sys.stderr,
    )
    bulk_wall, bulk_rps, walls_bulk, med_bulk = _caliper_trials(
        spark, CALIPER_ROWS_BIG, "bulk", big_csv, trials_1m,
        "caliper_items_1m_bulk_e2e (JSON-lines scale layout)",
    )
    trial_times["caliper_items_1m_bulk_e2e"] = walls_bulk
    # Input-layout experiment (outside the keyed headline sum): the
    # sf0.1 fixtures are ONE parquet row group per table, so 12 of 28
    # headline queries scan on a single task no matter the plan (Spark's
    # split unit is the row group; DuckDB's intra-rowgroup parallelism
    # hides this). This block stages a multi-row-group relaid COPY of
    # the big tables (lineitem / orders / documents re-written as 16
    # files; small tables symlinked), then times the SAME declared
    # builders against the relaid dir, so two core-count runs can ratio
    # them and show the plans parallelize when the input does. Staging
    # happens fresh inside every bench run (input layout, not results),
    # and only when a relaid query is among the selected ones.
    relaid_queries = [
        n
        for n in (
            "q1_pricing_summary",
            "q3_top_revenue",
            "dedup_exact_normalized",
            "text_winnowing_fingerprint",
        )
        if n in names
    ]
    scaling_relaid: dict[str, float] = {}
    if relaid_queries:
        scaling_relaid = _time_relaid(spark, qs, relaid_queries, timings)
    q1_relaid = scaling_relaid.get("q1_pricing_summary")
    total = round(sum(timings.values()), 3)
    # Detail line FIRST (trial spreads + host calibration anchors):
    # the driver tail-captures stdout and r4's single fat line got
    # truncated mid-object ("parsed": null) — so the bulky diagnostics
    # go on their own earlier line and the compact headline object is
    # the LAST line, guaranteed to fit the capture window.
    print(
        json.dumps(
            {
                "detail": "bench_diagnostics",
                # per-loop trial counts (the caliper entries run more
                # trials than the headline loop — the trial_times
                # arrays are the ground truth)
                "trials": trials_h,
                "trials_perf_suspect": trials_suspect,
                "trials_caliper_100k": trials_100k,
                "trials_caliper_1m": trials_1m,
                "trials_caliper_1m_grouped": trials_1m_grouped,
                "trial_times": trial_times,
                "queries_trimmed": timings_trimmed,
                "caliper_items_100k_min_sec": caliper_wall,
                "caliper_items_1m_min_sec": big_wall,
                "caliper_items_1m_bulk_min_sec": bulk_wall,
                "file_create_ceiling_files_per_sec": ceiling_fps,
                "file_create_steady_state_files_per_sec": ceiling_steady_fps,
                "host_cpu_gflops": cpu_gflops,
                "host_proc_spawns_per_sec": spawn_rate,
            }
        )
    )
    # The two 1M file-sink entries are keyed on MEDIAN (not min): the
    # r4 trial trend inverted under host metadata throttling (min was
    # the cold first trial), so min-of-trials is no longer the
    # conservative convention there. Min stays in the detail line.
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_sec",
                "value": total,
                "value_trimmed": round(sum(timings_trimmed.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": _sf_from_dir(SF_DIR),
                "caliper_items_rows_per_sec": caliper_rps,
                "caliper_items_100k_median_sec": med_100k,
                "caliper_items_1m_e2e_sec": med_1m,
                "caliper_items_1m_e2e_trimmed_sec": med_1m_trimmed,
                "caliper_items_1m_rows_per_sec": round(
                    CALIPER_ROWS_BIG / med_1m, 1
                ),
                "caliper_items_1m_bulk_e2e_sec": med_bulk,
                "caliper_items_1m_bulk_rows_per_sec": round(
                    CALIPER_ROWS_BIG / med_bulk, 1
                ),
                "q1_on_relaid_input_sec": q1_relaid,
                "scaling_relaid": scaling_relaid,
                "trials": trials_h,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
