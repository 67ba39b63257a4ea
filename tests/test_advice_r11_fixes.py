"""Regression tests for the ADVICE r11 findings (all low severity):

1. queries/text.py — text_winnowing_fingerprint's 22-bit packed
   position field now fails LOUDLY past 4,194,303 chars (assert_true
   in-plan) instead of silently corrupting fingerprints.
2. streaming/events.py — stage_watermark_flush_source registers its
   staged tempdir for atexit removal (no /tmp leak across repeated
   bench/sweep processes).
3. tools/scale_smoke.py — `--json` with no following path (or a flag
   where the path should be) exits with a usage message instead of
   IndexError / silently eating the flag.
4. bench.py — PERF_SUSPECT names are validated against the registry
   so a renamed query fails fast instead of silently losing its
   extra-trial treatment.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from caliper_poc_data_etl_spark.queries import QUERIES


class TestWinnowingPositionCap:
    def test_overlong_document_raises(self, spark):
        """A document past the 22-bit cap must fail the job loudly."""
        big = "x" * ((1 << 22) + 8)  # 4 MB + a little
        d = tempfile.mkdtemp(prefix="winnow_cap_")
        spark.createDataFrame(
            [(0, big, "en", "src0", len(big))],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        with pytest.raises(Exception, match="packed-position cap"):
            QUERIES["text_winnowing_fingerprint"].spark(spark, d).collect()

    def test_valid_documents_pass_the_guard(self, spark):
        """Documents under the cap flow through unchanged (the guard
        must not reject or alter valid rows). Exercising the exact
        2^22-1 boundary would wind 4M grams through one task — the
        guard expression (length < 2^22) is pinned by the raise test
        plus this pass test on the same code path."""
        ok = "the quick brown fox jumps over the lazy dog " * 200
        d = tempfile.mkdtemp(prefix="winnow_cap_ok_")
        spark.createDataFrame(
            [(0, ok, "en", "src0", len(ok))],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        rows = QUERIES["text_winnowing_fingerprint"].spark(spark, d).collect()
        assert rows  # fingerprints produced, no error


class TestFlushStageCleanup:
    def test_staged_dir_registered_for_atexit_removal(self, spark, sf_dir):
        import atexit

        from caliper_poc_data_etl_spark.streaming import events as ev

        # force a fresh staging for a throwaway sf_dir copy
        d = tempfile.mkdtemp(prefix="flush_clean_")
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(d, "events.parquet"),
        )
        registered = []
        orig = atexit.register

        def spy(fn, *a, **k):
            registered.append((fn, a))
            return orig(fn, *a, **k)

        atexit.register = spy
        try:
            stage = ev.stage_watermark_flush_source(spark, d)
        finally:
            atexit.register = orig
        assert os.path.isdir(stage)
        assert any(
            a and a[0] == stage for _, a in registered
        ), "staged dir not registered for atexit cleanup"
        # cached second call must NOT register (or stage) again
        registered.clear()
        atexit.register = spy
        try:
            stage2 = ev.stage_watermark_flush_source(spark, d)
        finally:
            atexit.register = orig
        assert stage2 == stage and not registered


class TestScaleSmokeArgs:
    def _run(self, argv):
        import tools.scale_smoke as sm

        old = sys.argv
        sys.argv = argv
        try:
            return sm.main()
        finally:
            sys.argv = old

    def test_bare_json_flag_is_usage_error(self):
        assert self._run(["scale_smoke.py", "--json"]) == 2

    def test_json_followed_by_flag_is_usage_error(self):
        assert self._run(["scale_smoke.py", "--json", "--foo"]) == 2


class TestBenchPerfSuspectValidation:
    def test_suspect_names_exist_in_registry(self):
        """The validated invariant itself: every PERF_SUSPECT name in
        bench.py resolves in the registry (the runtime check raises on
        violation; this pins the names against renames at test time)."""
        import re

        src = open(
            os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
        ).read()
        block = re.search(r"PERF_SUSPECT = \{(.*?)\}", src, re.S).group(1)
        names = re.findall(r'"([a-z0-9_]+)"', block)
        assert names, "PERF_SUSPECT block not found"
        for n in names:
            assert n in QUERIES, f"stale PERF_SUSPECT name: {n}"
        assert 'raise RuntimeError(\n            f"bench PERF_SUSPECT' in src
