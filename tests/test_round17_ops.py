"""Semantic tests for the round-11 ops (queries/streaming_replay.py, curation.py): the
left-outer stream-stream join's watermark-expiry emission contract
(an unmatched row appears ONLY after its watermark expires — the
with/without-sentinel contrast the cross-engine hash cannot show),
and the repeated-span dedup properties.
"""

from __future__ import annotations

import duckdb

from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.queries import QUERIES


def _batch_left_join(sf_dir: str):
    """DuckDB ground truth: the batch LEFT JOIN the replay must equal."""
    con = duckdb.connect()
    return con.execute(
        f"""
        SELECT p.event_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
               c.event_id AS click_event_id
        FROM (SELECT * FROM '{sf_dir}/events.parquet'
              WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM '{sf_dir}/events.parquet'
                   WHERE event_type = 'click') c
          ON c.user_id = p.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL '30 minutes'
        """
    ).fetchall()


class TestStreamOuterJoin:
    def test_sentinel_replay_equals_batch_left_join(self, spark, sf_dir):
        """Full contract: sentinel-staged replay == batch LEFT JOIN,
        including every null-padded unmatched purchase."""
        want = {(r[0], r[3]) for r in _batch_left_join(sf_dir)}
        got = {
            (r["event_id"], r["click_event_id"])
            for r in QUERIES["stream_outer_join_replay"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == want

    def test_unmatched_rows_emit_only_after_watermark_expiry(
        self, spark, sf_dir
    ):
        """The eviction semantics pin: WITHOUT the flush sentinel, the
        final watermark stops 2h short of the last real event, so the
        unmatched purchases inside that trailing gap are exactly the
        rows missing from the replay — present in the batch join,
        emitted by the sentinel-staged replay, absent here."""
        from caliper_poc_data_etl_spark.streaming import (
            click_purchase_join,
            read_event_stream,
            replay_to_df,
        )

        clicks = read_event_stream(spark, sf_dir).filter(
            F.col("event_type") == "click"
        )
        purchases = read_event_stream(spark, sf_dir).filter(
            F.col("event_type") == "purchase"
        )
        out = replay_to_df(
            click_purchase_join(clicks, purchases, how="leftOuter"),
            mode="append",
        )
        got = {
            (r["event_id"], r["click_event_id"]) for r in out.collect()
        }
        batch = _batch_left_join(sf_dir)
        want = {(r[0], r[3]) for r in batch}
        missing = want - got
        # The no-sentinel replay must not invent rows...
        assert got <= want
        # ...must emit SOME unmatched rows (eviction ran for the bulk
        # of the stream — emission is watermark-driven, not final)...
        assert any(ce is None for _, ce in got)
        # ...and every missing row is an UNMATCHED purchase (matched
        # pairs emit on arrival, no eviction needed)...
        assert missing, "expected trailing unmatched rows to be held back"
        assert all(ce is None for _, ce in missing)
        # ...located in the trailing watermark gap: purchase_ts >
        # final GLOBAL watermark = min(per-side max event ts) - 2h
        # delay (each withWatermark tracks only its own filtered
        # stream; the query watermark is their MIN).
        con = duckdb.connect()
        (wm_cut,) = con.execute(
            f"""SELECT strftime(
                  LEAST(MAX(ts) FILTER (event_type = 'click'),
                        MAX(ts) FILTER (event_type = 'purchase'))
                  - INTERVAL '2 hours', '%Y-%m-%d %H:%M:%S.%f')
                FROM '{sf_dir}/events.parquet'"""
        ).fetchone()
        ts_by_eid = {r[0]: r[2] for r in batch}
        assert all(ts_by_eid[eid] > wm_cut for eid, _ in missing)

    def test_flush_stage_is_cached_and_clean(self, spark, sf_dir):
        """Staging is idempotent per sf_dir (cached temp dir) and holds
        exactly the symlinked source plus the 2-row sentinel."""
        import os

        from caliper_poc_data_etl_spark.streaming import (
            stage_watermark_flush_source,
        )

        s1 = stage_watermark_flush_source(spark, sf_dir)
        s2 = stage_watermark_flush_source(spark, sf_dir)
        assert s1 == s2
        assert sorted(os.listdir(s1)) == [
            "events.parquet",
            "zz_sentinel.parquet",
        ]
        sent = spark.read.parquet(f"{s1}/zz_sentinel.parquet")
        rows = sent.collect()
        assert len(rows) == 2
        assert {r["event_type"] for r in rows} == {"click", "purchase"}
        assert all(r["event_id"] == -1 for r in rows)


class TestStreamFullOuterJoin:
    def test_sentinel_replay_equals_batch_full_join(self, spark, sf_dir):
        """Both unmatched sides must flush: the replay equals the batch
        FULL JOIN — unmatched purchases AND unmatched clicks each
        appear exactly once, null-padded on the other side."""
        con = duckdb.connect()
        batch = con.execute(
            f"""
            SELECT p.event_id, c.event_id
            FROM (SELECT * FROM '{sf_dir}/events.parquet'
                  WHERE event_type = 'purchase') p
            FULL JOIN (SELECT * FROM '{sf_dir}/events.parquet'
                       WHERE event_type = 'click') c
              ON c.user_id = p.user_id
             AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL '30 minutes'
            """
        ).fetchall()
        want = {(p, c) for p, c in batch}
        got = {
            (r["event_id"], r["click_event_id"])
            for r in QUERIES["stream_full_outer_join_replay"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == want
        # both null-padded directions are present in the result
        assert any(p is None for p, _ in got)
        assert any(c is None for _, c in got)


# ---------------------------------------------------------------------------
# curation_repeated_span_dedup
# ---------------------------------------------------------------------------


def _corpus_tokens(sf_dir: str) -> dict[int, list[str]]:
    con = duckdb.connect()
    return {
        doc_id: text.split(" ")
        for doc_id, text in con.execute(
            f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    }


def _replica_spans(corpus: dict[int, list[str]], k: int):
    """Pure-Python anchor extend-and-merge: maximal duplicated spans."""
    from collections import Counter, defaultdict

    counts = Counter()
    for toks in corpus.values():
        for i in range(len(toks) - k + 1):
            counts[" ".join(toks[i : i + k])] += 1
    spans = defaultdict(list)
    for doc_id, toks in corpus.items():
        flagged = set()
        for i in range(len(toks) - k + 1):
            if counts[" ".join(toks[i : i + k])] > 1:
                flagged.update(range(i, i + k))
        run = None
        for j in sorted(flagged):
            if run is None or j > run[1] + 1:
                if run:
                    spans[doc_id].append(tuple(run))
                run = [j, j]
            else:
                run[1] = j
        if run:
            spans[doc_id].append(tuple(run))
    return spans


class TestRepeatedSpanDedup:
    def test_python_replica(self, spark, sf_dir):
        from caliper_poc_data_etl_spark.queries.curation import SPAN_K

        corpus = _corpus_tokens(sf_dir)
        want = _replica_spans(corpus, SPAN_K)
        got = {}
        rows = (
            QUERIES["curation_repeated_span_dedup"]
            .spark(spark, sf_dir)
            .collect()
        )
        for r in rows:
            got.setdefault(r["doc_id"], []).append(
                (r["start_pos"], r["end_pos"])
            )
            # span invariants: contiguous coverage, text matches slice
            assert r["span_words"] == r["end_pos"] - r["start_pos"] + 1
            assert r["span_text"] == " ".join(
                corpus[r["doc_id"]][r["start_pos"] : r["end_pos"] + 1]
            )
        assert {k: sorted(v) for k, v in got.items()} == dict(want)

    def test_removing_flagged_spans_kills_all_kgram_duplicates(
        self, spark, sf_dir
    ):
        """The demanded property: strip every flagged span from every
        document, re-form k-grams within the surviving CONTIGUOUS
        segments (removal cuts must not invent bridging grams), and no
        gram occurs twice anywhere in the corpus."""
        from collections import Counter

        from caliper_poc_data_etl_spark.queries.curation import SPAN_K

        corpus = _corpus_tokens(sf_dir)
        flagged: dict[int, set[int]] = {d: set() for d in corpus}
        for r in (
            QUERIES["curation_repeated_span_dedup"]
            .spark(spark, sf_dir)
            .collect()
        ):
            flagged[r["doc_id"]].update(
                range(r["start_pos"], r["end_pos"] + 1)
            )
        counts = Counter()
        for doc_id, toks in corpus.items():
            cut = flagged[doc_id]
            seg: list[str] = []
            segments = []
            for j, w in enumerate(toks):
                if j in cut:
                    if seg:
                        segments.append(seg)
                    seg = []
                else:
                    seg.append(w)
            if seg:
                segments.append(seg)
            for s in segments:
                for i in range(len(s) - SPAN_K + 1):
                    counts[" ".join(s[i : i + SPAN_K])] += 1
        dups = {g: c for g, c in counts.items() if c > 1}
        assert not dups, f"{len(dups)} duplicated grams survive"
