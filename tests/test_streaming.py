"""Streaming-engine tests beyond the oracle parity suite: crafted
micro-fixtures with hand-computed expectations, exercising the state
machine edges from FIXTURES.md §A (out-of-order arrival, duplicates,
unmatched singles)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from orders_kafka_streams_spark.streaming.keyed_state import (
    pair_match_stateful,
    stream_ewma,
)
from orders_kafka_streams_spark.streaming.pipeline import (
    EVENTS_FILE_SCHEMA,
    process_all_available,
    run_to_memory,
    stream_pair_join,
    stream_tumbling_agg,
)

BASE_MS = 1_700_000_040_000  # minute-aligned (multiple of 60 000)


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, ts_ms, user_id, event_type, value)"""
    import datetime

    epoch = datetime.datetime(1970, 1, 1)
    df = spark.createDataFrame(
        [
            (eid, epoch + datetime.timedelta(milliseconds=ms), uid, et, val, "{}")
            for eid, ms, uid, et, val in rows
        ],
        schema=EVENTS_FILE_SCHEMA,
    )
    out = os.path.join(str(tmp_path), "events_stream")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    return out


def _write_event_files(spark, tmp_path, rows):
    """One file per event, in ``rows`` order: read with
    ``one_file_per_trigger`` each event is its own micro-batch."""
    for i, row in enumerate(rows):
        _write_events(spark, os.path.join(str(tmp_path), f"b{i}"), [row])
    return os.path.join(str(tmp_path), "b*", "events_stream")


def _stream(spark, path, one_file_per_trigger=False):
    reader = spark.readStream.schema(EVENTS_FILE_SCHEMA)
    if one_file_per_trigger:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(path).withColumn("ts", F.col("ts").cast("timestamp"))


MIN = 60_000


# user 1: click then purchase (match, 30 s apart); a second purchase
#   with no new click (unmatched — state consumed);
# user 2: purchase arrives with NO click ever (dead letter);
# user 3: two clicks then purchase (last-writer-wins: pairs with the
#   2nd click); all inside two 1-minute windows. Each user's events are
#   in event-time order, so one file per event keeps per-key order.
CRAFTED = [
    (1, BASE_MS + 0 * MIN + 1_000, 1, "click", 1.0),
    (2, BASE_MS + 0 * MIN + 31_000, 1, "purchase", 10.0),
    (3, BASE_MS + 1 * MIN + 5_000, 1, "purchase", 20.0),
    (4, BASE_MS + 0 * MIN + 2_000, 2, "purchase", 30.0),
    (5, BASE_MS + 0 * MIN + 3_000, 3, "click", 1.0),
    (6, BASE_MS + 0 * MIN + 40_000, 3, "click", 1.0),
    (7, BASE_MS + 1 * MIN + 10_000, 3, "purchase", 40.0),
    # sentinel event far in the future so every window above closes
    (8, BASE_MS + 60 * MIN, 9, "view", 0.0),
]

MATCHES = {
    (1, 31_000, 30_000),          # click+30s
    (3, MIN + 10_000, 30_000),    # pairs with SECOND click (last-writer-wins)
}


@pytest.fixture()
def crafted(spark, tmp_path):
    return _write_events(spark, tmp_path, CRAFTED)


def _matches(spark, table):
    return {
        (r.user_id, r.fulfilled_ms - BASE_MS, r.processing_ms)
        for r in spark.table(table).collect()
    }


def test_stateful_matcher_reference_semantics(spark, crafted):
    out = run_to_memory(pair_match_stateful(_stream(spark, crafted)), "t_match")
    assert _matches(spark, out) == MATCHES


def test_stateful_matcher_across_batches_deletes_state(spark, tmp_path):
    """One event per micro-batch: the placed click carries across
    batches in state, and emit-on-complete REMOVES the key's state
    (OrderProcessor.java:146-149), so no state row is left at the end."""
    path = _write_event_files(spark, tmp_path, CRAFTED)
    q = (
        pair_match_stateful(_stream(spark, path, one_file_per_trigger=True))
        .writeStream.format("memory")
        .queryName("t_match_split")
        .outputMode("append")
        .start()
    )
    process_all_available(q)
    assert _matches(spark, "t_match_split") == MATCHES
    progress = [p for p in q.recentProgress if p["numInputRows"]]
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in progress]
    assert len(state_rows) == len(CRAFTED)
    assert state_rows[0] > 0  # user 1's click, buffered until its purchase
    assert state_rows[-1] == 0


def test_stream_join_interval_semantics(spark, crafted):
    out = run_to_memory(
        stream_pair_join(_stream(spark, crafted), window="1 hour", watermark="1 hour"),
        "t_join",
    )
    got = {(r.user_id, r.p_event_id, r.f_event_id) for r in spark.table(out).collect()}
    # interval join emits EVERY in-window pair (both clicks of user 3
    # match its purchase; user 1's single click matches both purchases)
    assert got == {(1, 1, 2), (1, 1, 3), (3, 5, 7), (3, 6, 7)}


def test_tumbling_append_emits_only_closed_windows(spark, crafted):
    out = run_to_memory(
        stream_tumbling_agg(_stream(spark, crafted), watermark="60 seconds"), "t_tumble"
    )
    rows = spark.table(out).collect()
    # the sentinel's own window is NOT closed (watermark = sentinel ts − 60 s)
    assert all(r.wend_ms <= BASE_MS + 60 * MIN - MIN for r in rows)
    counts = {(r.wstart_ms - BASE_MS, r.event_type): r.n for r in rows}
    assert counts[(0, "click")] == 3
    assert counts[(0, "purchase")] == 2
    assert counts[(MIN, "purchase")] == 2


# hand-computed recurrence, alpha = 0.3:
# user 1: 2.0 -> 2.0; 0.3*4+0.7*2 = 2.6; 0.3*8+0.7*2.6 = 4.22
# user 2: single event seeds and stays at its own value
EWMA_ROWS = [
    (1, BASE_MS + 1_000, 1, "view", 2.0),
    (2, BASE_MS + 2_000, 1, "view", 4.0),
    (3, BASE_MS + 3_000, 1, "view", 8.0),
    (4, BASE_MS + 1_500, 2, "view", 5.0),
]
EWMA_EXPECTED = {
    (1, 1): (2.0, 1),
    (1, 2): (2.6, 2),
    (1, 3): (4.22, 3),
    (2, 4): (5.0, 1),
}


def _ewma(spark, path, one_file_per_trigger=False):
    stream = _stream(spark, path, one_file_per_trigger)
    out = run_to_memory(stream_ewma(stream, 0.3), "t_ewma")
    return {
        (r.user_id, r.event_id): (round(r.ewma, 6), r.n)
        for r in spark.table(out).collect()
    }


def test_stream_ewma_running_values(spark, tmp_path):
    assert _ewma(spark, _write_events(spark, tmp_path, EWMA_ROWS)) == EWMA_EXPECTED


def test_stream_ewma_batch_split_invariance(spark, tmp_path):
    """One event per micro-batch: the running (ewma, n) carries across
    batches in state, so the output equals the single-batch run."""
    path = _write_event_files(spark, tmp_path, EWMA_ROWS)
    assert _ewma(spark, path, one_file_per_trigger=True) == EWMA_EXPECTED
