"""Registry manifest: the declared query surface, pinned by name and oracle.

Moving builders between modules must not add, drop or rename a query, nor
change one byte of an oracle twin. Builders live in operator-family
modules, never in modules named for when they were added.
"""

from __future__ import annotations

import hashlib
import json
import re

from caliper_poc_data_etl_spark.queries import QUERIES

MANIFEST_SHA256 = "ee209b60110230da56adb3e4a059f23e35c003df2446070823bf8847ac877b29"


def test_registry_size():
    assert len(QUERIES) == 393


def test_names_and_oracles_pinned():
    payload = json.dumps(sorted((n, q.oracle) for n, q in QUERIES.items()))
    assert hashlib.sha256(payload.encode()).hexdigest() == MANIFEST_SHA256


def test_builders_live_in_family_modules():
    stray = sorted(
        (n, q.spark.__module__)
        for n, q in QUERIES.items()
        if re.search(r"\.(round\d+|extended)$", q.spark.__module__)
    )
    assert stray == []
