"""Streaming Markov-transition cursor
(streaming/keyed_state.stream_transitions):
hand-computed pair expectations plus the batch-split invariance the
q_stream_transition_matrix twin relies on — the emitted pair SET must
be identical whether the stream drains in one micro-batch or one file
per trigger (the per-user last-event cursor carries across batches).

Like the EWMA cursor, the invariance holds when batches respect
per-user event-time order (file sources replay history in order); a
batch containing an earlier event than an already-consumed one would
move the cursor backwards — same contract as stream_ewma.
"""

from __future__ import annotations

import datetime
import os

import pytest

from pyspark.sql import functions as F

from orders_kafka_streams_spark.streaming.pipeline import (
    EVENTS_FILE_SCHEMA,
    run_to_memory,
)
from orders_kafka_streams_spark.streaming.keyed_state import stream_transitions

BASE_MS = 1_700_000_040_000

#: (event_id, ms offset, user_id, event_type) — two users interleaved,
#: a duplicate timestamp resolved by event_id, a single-event user.
ROWS = [
    (1, 0, 1, "click"),
    (2, 1_000, 2, "view"),
    (3, 2_000, 1, "view"),
    (4, 30_000, 1, "purchase"),
    (5, 31_000, 2, "click"),
    (6, 31_000, 2, "purchase"),  # same ts as e5 — event_id breaks the tie
    (7, 60_000, 3, "signup"),  # single event: no pair
    (8, 90_000, 1, "click"),
]

#: expected (user_id, event_id, prev_type, next_type)
EXPECTED = {
    (1, 3, "click", "view"),
    (1, 4, "view", "purchase"),
    (1, 8, "purchase", "click"),
    (2, 5, "view", "click"),
    (2, 6, "click", "purchase"),
}


def _write(spark, tmp_path, splits):
    """Write ROWS into len(splits) files, split at the given indexes
    (rows are time-ordered, so file k precedes file k+1)."""
    epoch = datetime.datetime(1970, 1, 1)
    src = os.path.join(str(tmp_path), "ev")
    bounds = [0, *splits, len(ROWS)]
    for i in range(len(bounds) - 1):
        part = ROWS[bounds[i] : bounds[i + 1]]
        df = spark.createDataFrame(
            [
                (eid, epoch + datetime.timedelta(milliseconds=BASE_MS + ms), uid, et, 1.0, "{}")
                for eid, ms, uid, et in part
            ],
            schema=EVENTS_FILE_SCHEMA,
        )
        df.coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
    return src + "/*"


def _pairs(spark, path, one_file_per_trigger):
    reader = spark.readStream.schema(EVENTS_FILE_SCHEMA)
    if one_file_per_trigger:
        reader = reader.option("maxFilesPerTrigger", 1)
    raw = reader.parquet(path).withColumn("ts", F.col("ts").cast("timestamp"))
    tab = run_to_memory(stream_transitions(raw), "t_transitions")
    return {
        (r.user_id, r.event_id, r.prev_type, r.next_type)
        for r in spark.table(tab).collect()
    }


def test_single_batch_pairs(spark, tmp_path):
    path = _write(spark, tmp_path, splits=[])
    assert _pairs(spark, path, one_file_per_trigger=False) == EXPECTED


def test_batch_split_invariance(spark, tmp_path):
    """Three files → three micro-batches; the cursor carries user 1's
    purchase (file 2) into file 3's click and user 2's view across the
    first split — the pair set must equal the single-batch drain."""
    path = _write(spark, tmp_path, splits=[3, 6])
    assert _pairs(spark, path, one_file_per_trigger=True) == EXPECTED


def test_matrix_equals_batch_twin(spark, sf_dir):
    """End-to-end: the streamed matrix over sf0.001 equals the batch
    q_transition_matrix rows exactly."""
    from orders_kafka_streams_spark.operators.streaming_queries import (
        QUERIES as SQ,
    )
    from orders_kafka_streams_spark.operators.timeseries import QUERIES as TQ

    got = {
        (r.prev_type, r.next_type): (r.n_transitions, r.prob)
        for r in SQ["q_stream_transition_matrix"](spark, sf_dir).collect()
    }
    want = {
        (r.prev_type, r.next_type): (r.n_transitions, r.prob)
        for r in TQ["q_transition_matrix"](spark, sf_dir).collect()
    }
    assert got == want
