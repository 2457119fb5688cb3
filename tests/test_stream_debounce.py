"""Streaming debounce cursor (streaming/keyed_state.stream_debounce):
hand-computed flag expectations plus the batch-split invariance the
q_stream_debounce twin relies on — the flagged SET must be identical
whether the stream drains in one micro-batch or one file per trigger
(the per-(user, type) last-timestamp cursor carries across batches).

Same ordering contract as stream_transitions: batches must
respect per-key event-time order (file sources replay history in
order)."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from orders_kafka_streams_spark.streaming.keyed_state import stream_debounce
from orders_kafka_streams_spark.streaming.pipeline import (
    EVENTS_FILE_SCHEMA,
    run_to_memory,
)

BASE_MS = 1_700_000_040_000
GAP_MS = 5_000

#: (event_id, ms offset, user_id, event_type) — duplicate fires inside
#: the 5 s window, a clean re-fire outside it, key isolation between
#: users and between types of the same user.
ROWS = [
    (1, 0, 1, "click"),
    (2, 1_000, 1, "click"),  # 1 s after e1 → dropped
    (3, 2_000, 1, "view"),  # other type, own cursor → kept
    (4, 4_500, 1, "click"),  # 3.5 s after e2 (raw!) → dropped (throttle)
    (5, 30_000, 1, "click"),  # 25.5 s later → kept
    (6, 31_000, 2, "click"),  # other user → kept
    (7, 33_000, 2, "click"),  # 2 s after e6 → dropped
    (8, 36_500, 1, "view"),  # 34.5 s after e3 → kept
]

#: event_id → dropped
EXPECTED = {1: 0, 2: 1, 3: 0, 4: 1, 5: 0, 6: 0, 7: 1, 8: 0}


def _write(spark, tmp_path, splits):
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


def _flags(spark, path, one_file_per_trigger):
    reader = spark.readStream.schema(EVENTS_FILE_SCHEMA)
    if one_file_per_trigger:
        reader = reader.option("maxFilesPerTrigger", 1)
    raw = reader.parquet(path).withColumn("ts", F.col("ts").cast("timestamp"))
    tab = run_to_memory(stream_debounce(raw, GAP_MS), "t_debounce")
    return {r.event_id: r.dropped for r in spark.table(tab).collect()}


def test_single_batch_flags(spark, tmp_path):
    path = _write(spark, tmp_path, splits=[])
    assert _flags(spark, path, one_file_per_trigger=False) == EXPECTED


def test_batch_split_invariance(spark, tmp_path):
    """Three files → three micro-batches; e4's gap reaches back to e2
    in the previous batch through the carried cursor, and e5's re-fire
    crosses the second split — the flag set must equal the
    single-batch drain."""
    path = _write(spark, tmp_path, splits=[3, 6])
    assert _flags(spark, path, one_file_per_trigger=True) == EXPECTED


def test_audit_equals_batch_twin(spark, sf_dir):
    """End-to-end: the streamed audit over sf0.001 equals the batch
    q_debounce rows exactly."""
    from orders_kafka_streams_spark.operators.streaming_queries import QUERIES as SQ
    from orders_kafka_streams_spark.operators.timeseries import QUERIES as TQ

    got = {
        r.event_type: (r.n_raw, r.n_kept, r.n_dropped, r.drop_frac)
        for r in SQ["q_stream_debounce"](spark, sf_dir).collect()
    }
    want = {
        r.event_type: (r.n_raw, r.n_kept, r.n_dropped, r.drop_frac)
        for r in TQ["q_debounce"](spark, sf_dir).collect()
    }
    assert got == want
