"""Output checks, run outside the timed window.

ETL outputs are compared with the :class:`gen.Expect` computed from the
generated CSV. Query results are compared with their DuckDB oracle twin
on the first pass and with the first pass's rows afterwards, using the
same canonical form as ``tools/check_oracle.py``: columns sorted by
name, floats rounded to six places, rows sorted.
"""

from __future__ import annotations

import glob
import math
import os

from gen import Expect, line_hash


def read_output(target: str) -> tuple[int, int, int, int]:
    """Scan a sink directory: ``(lines, events, digest, bytes)`` over
    every data file (names not starting with ``_`` or ``.``)."""
    lines = events = digest = size = 0
    for path in sorted(glob.glob(os.path.join(target, "*"))):
        base = os.path.basename(path)
        if base.startswith(("_", ".")) or os.path.isdir(path):
            continue
        size += os.path.getsize(path)
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if not line:
                    continue
                lines += 1
                events += line.count('{"type":')
                digest += line_hash(line)
    return lines, events, digest % (1 << 64), size


def check_output(target: str, expect: Expect) -> tuple[list[str], tuple[int, int, int, int]]:
    """Compare a sink directory with its expectation. Returns the list
    of problems (empty when correct) and the :func:`read_output` scan."""
    scan = lines, events, digest, _ = read_output(target)
    problems = []
    if lines != expect.lines:
        problems.append(f"lines {lines} != expected {expect.lines}")
    if events != expect.events:
        problems.append(f"events {events} != expected {expect.events}")
    if digest != expect.digest:
        problems.append("line digest differs from the expectation")
    return problems, scan


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def canon(rows, columns: list[str]) -> list[tuple]:
    """Order-insensitive canonical form of a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def compare_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """``None`` when two canonical result sets agree, else a reason."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if a != b:
            return f"first difference at sorted row {i}"
    return None
