"""The three workloads: what one iteration runs, how its output is
checked, and how a traced iteration splits it into layers.

An iteration is a list of *calls* into the package's public entry
points, each timed on its own. ETL workloads make one call per
iteration (a whole pipeline run); ``query_suite`` makes one call per
query (building its DataFrame plus ``count()``). Checks run after the
clock stops.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb

from caliper_poc_data_etl_spark.pipelines import (
    assessment_attempt_events,
    item_outcome_events,
    run_assessments_pipeline,
    run_items_pipeline,
)
from caliper_poc_data_etl_spark.pipelines.items import items_grouped_json_by_attempt
from caliper_poc_data_etl_spark.queries import QUERIES
from caliper_poc_data_etl_spark.schemas import ASSESSMENT_ITEMS_FIDELITY
from caliper_poc_data_etl_spark.sources import read_csv, sf_table
from caliper_poc_data_etl_spark.sources.fidelity import read_assessments_fidelity
from caliper_poc_data_etl_spark.sources.readers import TABLE_NAMES

import gen
import verify
from bench_session import host_ticks
from spans import Tracer


@dataclass
class IterResult:
    calls: list[float] = field(default_factory=list)  # timed calls that passed
    attempted: int = 0
    problems: list[str] = field(default_factory=list)  # one entry per failed call
    stolen: int = 0  # host CPU ticks stolen while the passed calls ran
    ticks: int = 0  # host CPU ticks, stolen or not, while they ran

    @property
    def wall(self) -> float:
        return sum(self.calls)

    @property
    def steal(self) -> float:
        """Share of the machine's CPU time stolen during the timed calls."""
        return self.stolen / self.ticks if self.ticks else 0.0

    def passed(self, wall: float, before: tuple[int, int], after: tuple[int, int]) -> None:
        """Record a passed call, its wall time and the :func:`host_ticks`
        readings taken around it."""
        self.calls.append(wall)
        self.stolen += after[0] - before[0]
        self.ticks += after[1] - before[1]


def _failure(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"[:300]


def _noop(df) -> None:
    """Materialize a DataFrame and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def _set_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, group)


class EtlWorkload:
    """One pipeline run per iteration over a generated CSV, written to a
    fresh target directory that is checked and then removed."""

    name = ""
    csv_name = ""
    header = ""
    events_per_row = 1  # events each kept input row becomes

    def __init__(self, params: dict, work: str, seed: int) -> None:
        self.params = params
        self.work = work
        self.seed = seed
        self.input: gen.CsvInput | None = None
        self.last_output = (0, 0, 0, 0)  # lines, events, files, bytes
        self._n = 0

    def units(self, rng):
        raise NotImplementedError

    def prepare(self) -> None:
        self.input = gen.write_csv(
            os.path.join(self.work, self.csv_name),
            self.header,
            self.units(gen.rng_for(self.seed, self.name)),
        )

    @property
    def rows_in(self) -> int:
        return self.input.rows

    # The package calls: the whole pipeline, and its layers one by one.
    def run(self, spark, target: str) -> None:
        raise NotImplementedError

    def read(self, spark):
        raise NotImplementedError

    def events(self, df):
        raise NotImplementedError

    def grouped(self, events):
        return None

    def _target(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"out-{self._n}")

    def _check(self, target: str) -> list[str]:
        problems, (lines, events, _, size) = verify.check_output(target, self.input.expect)
        files = sum(1 for f in os.listdir(target) if not f.startswith(("_", ".")))
        self.last_output = (lines, events, files, size)
        shutil.rmtree(target, ignore_errors=True)
        # Write back this iteration's dirty pages now, not inside the
        # next iteration's timed window.
        os.sync()
        return problems

    def iteration(self, spark, first: bool) -> IterResult:
        res = IterResult(attempted=1)
        target = self._target()
        h0 = host_ticks()
        t0 = time.perf_counter()
        try:
            self.run(spark, target)
        except Exception as exc:  # noqa: BLE001 — counted, the run goes on
            shutil.rmtree(target, ignore_errors=True)
            res.problems.append(f"{self.name}: {_failure(exc)}")
            return res
        wall = time.perf_counter() - t0
        h1 = host_ticks()
        problems = self._check(target)
        if problems:
            res.problems.append(f"{self.name}: " + "; ".join(problems))
        else:
            res.passed(wall, h0, h1)
        return res

    def traced_iteration(self, spark, tracer: Tracer) -> tuple[IterResult, dict[str, float]]:
        """Prefix run: each layer's return value is materialized into the
        ``noop`` sink, and consecutive prefixes are differenced."""
        res = IterResult(attempted=1)
        target = self._target()
        tracer.new_run()
        t = {}

        def step(key: str, span: str, fn, group: str | None = None):
            if group:
                _set_group(spark, f"{self.name}/{group}")
            with tracer.span(span) as s:
                out = fn()
            t[key] = s.end - s.start
            return out

        def build(df):
            ev = self.events(df)
            return ev, self.grouped(ev)

        try:
            with tracer.span("iteration"):
                df = step("read", "sources.build", lambda: self.read(spark))
                step("scan", "sources.scan", lambda: _noop(df), "sources")
                ev, gr = step("build", "pipelines.build", lambda: build(df))
                step("events", "pipelines.events", lambda: _noop(ev), "events")
                if gr is not None:
                    step("group", "pipelines.group", lambda: _noop(gr), "group")
                step("full", "full_run", lambda: self.run(spark, target), "full")
        except Exception as exc:  # noqa: BLE001 — counted, the run goes on
            shutil.rmtree(target, ignore_errors=True)
            res.problems.append(f"{self.name}: {_failure(exc)}")
            return res, {}
        finally:
            _set_group(spark, None)
        problems = self._check(target)
        if problems:
            res.problems.append(f"{self.name}: " + "; ".join(problems))
            return res, {}
        res.calls.append(t["full"])
        before_sink = t.get("group", t["events"])
        return res, {
            "sources.build_s": t["read"],
            "sources.scan_s": t["scan"],
            "pipelines.build_s": t["build"],
            "pipelines.events_s": t["events"] - t["scan"],
            "pipelines.group_s": t["group"] - t["events"] if "group" in t else 0.0,
            "sinks.write_s": t["full"] - before_sink,
        }

    def spark_groups(self) -> set[str]:
        return {f"{self.name}/full"}

    def counts(self) -> dict[str, float]:
        lines, events, files, size = self.last_output
        kept = events // self.events_per_row
        return {
            "sources.rows_in": self.input.rows,
            "sources.rows_kept": kept,
            "sources.kept_ratio": kept / self.input.rows,
            "sources.bytes_in": self.input.bytes,
            "pipelines.events_out": events,
            "pipelines.groups_out": lines,
            "sinks.files_written": files,
            "sinks.bytes_written": size,
            "sinks.out_bytes_ratio": size / self.input.bytes,
        }

    def close(self) -> None:
        pass


class ItemsBulk(EtlWorkload):
    name = "items_bulk"
    csv_name = "items.csv"
    header = gen.ITEMS_HEADER

    def units(self, rng):
        return gen.items_units(rng, self.params)

    def run(self, spark, target):
        run_items_pipeline(spark, self.input.path, target, mode="intent", layout="bulk")

    def read(self, spark):
        return read_csv(spark, self.input.path, ASSESSMENT_ITEMS_FIDELITY, mode="permissive")

    def events(self, df):
        return item_outcome_events(df)

    def grouped(self, events):
        return items_grouped_json_by_attempt(events)


class AttemptsParity(EtlWorkload):
    """The reference-mode regex scan, fan-out and struct JSON sink.

    Runs with ``--workload attempts_parity`` but is not in the measured
    set of ``BENCHMARK.json``: its runs would not fit the benchmark's
    time budget next to the other two with a timed window long enough
    to be steady."""

    name = "attempts_parity"
    csv_name = "assessments.csv"
    header = gen.ASSESSMENTS_HEADER
    events_per_row = 3

    def units(self, rng):
        return gen.assessments_units(rng, self.params)

    def run(self, spark, target):
        run_assessments_pipeline(spark, self.input.path, target, mode="reference", layout="bulk")

    def read(self, spark):
        return read_assessments_fidelity(spark, self.input.path)

    def events(self, df):
        return assessment_attempt_events(df, drop_incomplete=False)


def plan_seconds(df) -> float:
    """Catalyst's analysis + optimization + planning time for ``df``,
    from its query-execution phase tracker (forces planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1e3


class QuerySuite:
    """A fixed list of registry queries over a generated star schema;
    one call builds the query's DataFrame and runs ``count()``. The
    first pass is checked against each query's DuckDB oracle; later
    passes check every row count and the full rows of one query per
    pass, in rotation."""

    name = "query_suite"

    def __init__(self, params: dict, work: str, seed: int) -> None:
        self.params = params
        self.seed = seed
        self.names: list[str] = list(params["queries"])
        self.sf_dir = os.path.join(work, "sf")
        self.table_rows: dict[str, int] = {}
        self.ref: dict[str, tuple[int, list[tuple]]] = {}
        self._pass = 0
        self._duck = None

    def prepare(self) -> None:
        self.table_rows = gen.sf_tables(self.sf_dir, self.seed, self.params["sf"])

    @property
    def rows_in(self) -> int:
        return sum(self.table_rows.values())

    def _oracle(self, name: str) -> list[tuple] | None:
        sql = QUERIES[name].oracle
        if sql is None:
            return None
        if self._duck is None:
            self._duck = duckdb.connect()
            for t in TABLE_NAMES:
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
        rel = self._duck.sql(sql)
        return verify.canon(rel.fetchall(), list(rel.columns))

    def _check(self, name: str, df, n: int, first: bool) -> str | None:
        if first:
            rows = verify.canon([tuple(r) for r in df.collect()], df.columns)
            if len(rows) != n:
                return f"count() {n} != collected rows {len(rows)}"
            self.ref[name] = (n, rows)
            want = self._oracle(name)
            return verify.compare_rows(rows, want) if want is not None else None
        ref_n, ref_rows = self.ref[name]
        if n != ref_n:
            return f"rows {n} != first pass {ref_n}"
        if name == self.names[self._pass % len(self.names)]:
            rows = verify.canon([tuple(r) for r in df.collect()], df.columns)
            return verify.compare_rows(rows, ref_rows)
        return None

    def _traced_query(self, spark, name: str, tracer: Tracer, layers: dict):
        _set_group(spark, f"{self.name}/{name}")
        try:
            with tracer.span(name):
                t0 = time.perf_counter()
                with tracer.span("queries.build"):
                    df = QUERIES[name].spark(spark, self.sf_dir)
                t1 = time.perf_counter()
                with tracer.span("queries.plan"):
                    plan = plan_seconds(df)
                with tracer.span("queries.action") as action:
                    n = df.count()
        finally:
            _set_group(spark, None)
        layers["queries.build_s"] += t1 - t0
        layers["queries.plan_s"] += plan
        layers["queries.exec_s"] += (action.end - action.start) - plan
        layers["queries.rows_out"] += n
        return df, n

    def _pass_over(self, spark, first: bool, tracer=None, layers=None) -> IterResult:
        res = IterResult()
        for name in self.names:
            res.attempted += 1
            try:
                h0 = host_ticks()
                t0 = time.perf_counter()
                if tracer is None:
                    df = QUERIES[name].spark(spark, self.sf_dir)
                    n = df.count()
                else:
                    df, n = self._traced_query(spark, name, tracer, layers)
                wall = time.perf_counter() - t0
                h1 = host_ticks()
                problem = self._check(name, df, n, first)
            except Exception as exc:  # noqa: BLE001 — counted, the run goes on
                problem = _failure(exc)
            if problem:
                res.problems.append(f"{name}: {problem}")
            else:
                res.passed(wall, h0, h1)
        self._pass += 1
        return res

    def iteration(self, spark, first: bool) -> IterResult:
        return self._pass_over(spark, first)

    def traced_iteration(self, spark, tracer: Tracer) -> tuple[IterResult, dict[str, float]]:
        layers = dict.fromkeys(
            ("queries.build_s", "queries.plan_s", "queries.exec_s", "queries.rows_out"), 0.0
        )
        tracer.new_run()
        with tracer.span("iteration"):
            with tracer.span("sources.build") as s:
                for t in TABLE_NAMES:
                    sf_table(spark, self.sf_dir, t)
            layers["sources.build_s"] = s.end - s.start
            res = self._pass_over(spark, False, tracer, layers)
        return res, layers

    def spark_groups(self) -> set[str]:
        return {f"{self.name}/{n}" for n in self.names}

    def counts(self) -> dict[str, float]:
        return {"sources.rows_in": self.rows_in}

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


WORKLOADS = {w.name: w for w in (ItemsBulk, AttemptsParity, QuerySuite)}
