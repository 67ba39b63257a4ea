"""Seeded inputs for the benchmark workloads, and their expected outputs.

Every generator takes a ``random.Random`` (or NumPy generator) built
from the workload seed, so the same seed gives byte-identical inputs.
The expectations are computed here, in plain Python, from the rows as
they are generated: the benchmark never asks Spark what the right
answer is.

An expected output is a :class:`Expect`: the number of output lines,
the number of events inside them, and an order-insensitive digest of
the lines — the sum of their 64-bit hashes, modulo 2**64.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

ITEMS_HEADER = (
    "identity_id,login_identity_id,school_id,assessment_id,assessment_version,"
    "attempt_id,assmtitem_id,assmtitem_version,assessment_type_id,response_type,"
    "question_time,score_posible,score_earned,masterobjectives,"
    "masterobjectivesid,objectivenumber\n"
)

ASSESSMENTS_HEADER = (
    "identity_id,login_identity_id,school_id,assessment_id,assessment_version,"
    "date_submitted,assessment_type_id,assessment_type,attempt_id,attemptnumber,"
    "is_mastered,score_earned,score_posible\n"
)

_OBJECTIVE_TEXT = ['"Fractions, decimals"', "Ratios", "Linear equations", "Geometry"]
_DIGEST_MOD = 1 << 64


def line_hash(line: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(line.encode(), digest_size=8).digest(), "little"
    )


@dataclass(frozen=True)
class Expect:
    lines: int
    events: int
    digest: int


@dataclass(frozen=True)
class CsvInput:
    path: str
    rows: int  # data rows, header excluded
    bytes: int
    expect: Expect


def _sync(path: str) -> None:
    with open(path, "rb") as fh:
        os.fsync(fh.fileno())


def write_csv(path: str, header: str, units) -> CsvInput:
    """Write ``header`` and the CSV text of each ``(csv_text, data_rows,
    output_line, events)`` unit, synced to disk, and sum up the expected
    output (``output_line`` is ``None`` for rows the pipeline drops)."""
    rows = lines = events = digest = 0
    with open(path, "w") as fh:
        fh.write(header)
        for text, n_rows, out_line, n_events in units:
            fh.write(text)
            rows += n_rows
            if out_line is not None:
                lines += 1
                events += n_events
                digest += line_hash(out_line)
    _sync(path)
    return CsvInput(
        path=path,
        rows=rows,
        bytes=os.path.getsize(path),
        expect=Expect(lines=lines, events=events, digest=digest % _DIGEST_MOD),
    )


def items_units(rng: random.Random, params: dict):
    """Item-level CSV for ``run_items_pipeline(mode="intent")``, one
    attempt per unit; its output line is the attempt's grouped events.

    Attempts are contiguous runs of rows whose sizes are drawn uniformly
    from ``attempt_size``; exactly ``multi_objective_share`` of the rows
    carry a ``;``-separated objective list and exactly ``malformed_share``
    have an empty ``score_posible`` field, which the intent pipeline
    keeps with ``totalScore`` omitted. Which rows they are depends on
    the seed; how many does not.
    """
    n_rows = params["rows"]
    lo, hi = params["attempt_size"]
    multi = params["multi_objective_share"]
    malformed = params["malformed_share"]
    odd = rng.sample(range(n_rows), round(n_rows * (multi + malformed)))
    n_multi = round(n_rows * multi)
    multi_rows, malformed_rows = set(odd[:n_multi]), set(odd[n_multi:])
    written = 0
    attempt = 0
    while written < n_rows:
        size = min(rng.randint(lo, hi), n_rows - written)
        att = f"att-{attempt:07d}"
        stu = f"stu-{rng.randrange(1_000_000):06d}"
        asmt = f"asmt-{rng.randrange(500):03d}"
        ver = f"{rng.randint(1, 3)}.0"
        lines = []
        events = []
        for row in range(written, written + size):
            item = f"item-{row:08d}"
            obj = 100 + rng.randrange(60)
            objs = f"{obj};{obj + 1 + rng.randrange(5)}" if row in multi_rows else str(obj)
            earned = str(rng.randint(0, 10))
            total = "" if row in malformed_rows else "10"
            lines.append(
                f"{stu},login-{stu[4:]},sch-{rng.randrange(40):02d},{asmt},{ver},"
                f"{att},{item},1,5,MC,{rng.randint(5, 600)},{total},{earned},"
                f"{rng.choice(_OBJECTIVE_TEXT)},{objs},{rng.randint(1, 9)}.{rng.randint(0, 9)}\n"
            )
            lo_json = ",".join(f'{{"id":"{o}"}}' for o in objs.split(";"))
            scores = f'"normalScore":"{earned}"' + (f',"totalScore":"{total}"' if total else "")
            events.append(
                '{"type":"OutcomeEvent","values":{"action":"GRADED",'
                f'"actor":{{"id":"{stu}"}},'
                f'"assessment":{{"id":"{asmt}","version":"{ver}"}},'
                f'"target":{{"id":"{item}","learningObjectives":[{lo_json}]}},'
                f'"object":{{"id":"{att}","count":1}},'
                f'"generated":{{{scores}}}}}}}'
            )
        group = f'{{"attempt_id":"{att}","events":[{",".join(events)}]}}'
        yield "".join(lines), size, group, size
        written += size
        attempt += 1


def assessments_units(rng: random.Random, params: dict):
    """Attempt-level CSV for ``run_assessments_pipeline(mode="reference")``,
    one row per unit; its output line holds the row's three events.

    Exactly ``malformed_share`` of the rows (at seeded positions) are
    rejected by the reference's thirteen ``(.+)`` groups: alternately an
    empty last field, or cut short to twelve fields. A rejected row costs
    the regex several times the backtracking of a kept one, and the cost
    depends on where the empty field is, so both are fixed. Every other
    row has thirteen non-empty, comma-free fields and becomes three
    events.
    """
    n_rows = params["rows"]
    malformed = sorted(rng.sample(range(n_rows), round(n_rows * params["malformed_share"])))
    empty_field, short = set(malformed[::2]), set(malformed[1::2])
    for i in range(n_rows):
        stu = f"stu-{rng.randrange(1_000_000):06d}"
        f = [
            stu,
            f"login-{stu[4:]}",
            f"sch-{rng.randrange(40):02d}",
            f"asmt-{rng.randrange(500):03d}",
            f"{rng.randint(1, 3)}.0",
            f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
            str(rng.randint(1, 6)),
            rng.choice(["Quiz", "Test", "Practice"]),
            f"att-{i:07d}",
            str(rng.randint(1, 5)),
            rng.choice(["true", "false"]),
            str(rng.randint(0, 100)),
            "100",
        ]
        if i in empty_field:
            f[12] = ""
        elif i in short:
            f = f[:12]
        if i in empty_field or i in short:
            yield ",".join(f) + "\n", 1, None, 0
            continue
        stu, _login, school, asmt, ver, _date, _tid, _type, att, num, _m, earned, possible = f
        top = (
            f'"actor":{{"id":"{stu}"}},"object":{{"id":"{asmt}","version":"{ver}"}},'
            f'"generated":{{"id":"{att}","count":{int(num)}}}'
        )
        started = f'{{"type":"AssessmentEvent","values":{{"action":"STARTED"}},{top}}}'
        submitted = f'{{"type":"AssessmentEvent","values":{{"action":"SUBMITTED"}},{top}}}'
        graded = (
            '{"type":"AssessmentOutcomeEvent","values":{"action":"GRADED",'
            f'"actor":{{"id":"{stu}"}},"organization":{{"id":"{school}"}},'
            f'"assessment":{{"id":"{asmt}","version":"{ver}"}},'
            f'"object":{{"id":"{att}","count":{int(num)}}},'
            f'"generated":{{"normalScore":"{possible}","totalScore":"{earned}"}}}}}}'
        )
        line = f'{{"attempt_id":"{att}","events":[{started},{submitted},{graded}]}}'
        yield ",".join(f) + "\n", 1, line, 3


# ---------------------------------------------------------------------------
# Parquet star schema for the query registry
# ---------------------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_COLORS = "blue cold hot large new old red small".split()
_NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()


def sf_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables (``region`` … ``embeddings``) as one
    parquet file each, with the column names and types the registry
    reads. Row counts scale with ``sf`` like the TPC-H-style fixtures
    (``lineitem`` ≈ 6M × sf). Returns the row count per table."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_events = max(200, int(1_000_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_emb = max(50, int(50_000 * sf))

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def days(start: dt.datetime, n_days: int, n: int):
        base = np.datetime64(start, "us")
        return base + g.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": g.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_COLORS[c]} {_NOUNS[k]}" for c, k in zip(
            g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": g.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": pa.array(days(dt.datetime(1995, 1, 1), 2400, n_ord), pa.timestamp("us")),
        "o_orderpriority": g.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    per_order = np.clip(g.poisson(4, n_ord), 1, 13)
    n_li = int(per_order.sum())
    l_order = np.repeat(np.arange(n_ord), per_order)
    l_line = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    perm = g.permutation(n_li)
    quantity = g.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order[perm], pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line[perm], pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * g.uniform(900, 2100, n_li), 2),
        "l_discount": g.integers(0, 11, n_li) / 100,
        "l_tax": g.integers(0, 9, n_li) / 100,
        "l_returnflag": g.choice(["A", "N", "R"], n_li),
        "l_linestatus": g.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(days(dt.datetime(1995, 1, 2), 2500, n_li), pa.timestamp("us")),
    })
    ts0 = np.datetime64(dt.datetime(2024, 1, 1), "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(g.integers(0, span_us, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, max(10, n_events // 66), n_events), pa.int64()),
        "event_type": g.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.round(np.clip(g.lognormal(2.5, 1.2, n_events), 0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i and g.random() < 0.1:
            # near-duplicate of an earlier document: one word changed
            words = texts[int(g.integers(0, i))].split()
            words[int(g.integers(0, len(words)))] = _WORDS[int(g.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[w] for w in g.integers(0, len(_WORDS), int(g.integers(8, 90)))]
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": g.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{s}" for s in g.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = g.integers(0, 10, n_emb)
    centroids = g.standard_normal((10, 64))
    vecs = centroids[labels] + 0.8 * g.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        path = f"{out_dir}/{name}.parquet"
        pq.write_table(table, path)
        _sync(path)
    return {name: t.num_rows for name, t in tables.items()}


def rng_for(seed: int, stream: str) -> random.Random:
    """Independent, reproducible stream per input."""
    return random.Random(f"{seed}/{stream}")
