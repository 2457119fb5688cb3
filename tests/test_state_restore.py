"""State restore across restarts (SURVEY §2.6 `state-restore`) and
exactly-once sink idempotence (`exactly-once`).

The reference's state lives in a Kafka Streams KV store restored from a
changelog topic (OrderProcessor.java:59-66); Spark's equivalent is the
checkpointed state store. These tests prove the two properties users
rely on after a restart: (1) aggregation state AND the watermark
survive — finalized windows are not re-emitted and late rows stay
dropped after the restart; (2) a replayed micro-batch converges in an
idempotent sink instead of double-writing.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import functions as F

from tests.test_late_data import BASE_MS, MIN, _stream, _write_file


def _run_windowed(spark, src_glob, out, ckpt):
    agg = (
        _stream(spark, src_glob)
        .withWatermark("ts", "60 seconds")
        .groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_millis(F.col("window.start")).alias("ws"),
            "event_type",
            "n",
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        dropped = sum(
            (
                p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
                if p["stateOperators"]
                else 0
            )
            for p in q.recentProgress
        )
    finally:
        q.stop()
    return dropped


def test_windowed_state_survives_restart(spark, tmp_path):
    d = os.path.join(str(tmp_path), "sr_src")
    os.makedirs(d, exist_ok=True)
    out = os.path.join(str(tmp_path), "sr_out")
    ckpt = os.path.join(str(tmp_path), "sr_ckpt")
    glob = os.path.join(d, "part*")

    # run 1: window W0 gets 2 clicks; sentinel advances the watermark
    # far past W0 so it finalizes and is written to the sink.
    _write_file(
        spark,
        d,
        "part1",
        [
            (1, BASE_MS + 1_000, 1, "click", 1.0),
            (2, BASE_MS + 2_000, 1, "click", 1.0),
            (3, BASE_MS + 120 * MIN, 9, "view", 0.0),
        ],
    )
    _run_windowed(spark, glob, out, ckpt)
    first = {
        (r.ws - BASE_MS, r.event_type): r.n
        for r in spark.read.parquet(out).collect()
    }
    assert first[(0, "click")] == 2

    # run 2 (fresh query object, same checkpoint): one on-time row to
    # produce a batch, plus a LATE click for the long-finalized W0. If
    # watermark state was restored, the late row is dropped and W0 is
    # NOT re-emitted or recounted.
    time.sleep(1.1)
    _write_file(
        spark,
        d,
        "part2",
        [
            (5, BASE_MS + 121 * MIN, 9, "view", 0.0),
            (4, BASE_MS + 3_000, 1, "click", 1.0),  # late for W0
        ],
    )
    dropped = _run_windowed(spark, glob, out, ckpt)
    rows = spark.read.parquet(out).collect()
    clicks = [r for r in rows if r.event_type == "click"]
    # still exactly ONE click window row with the original count
    assert len(clicks) == 1 and clicks[0].n == 2, clicks
    assert dropped == 1  # the late row hit the RESTORED watermark


def test_foreachbatch_idempotent_sink_replay_safe(spark, tmp_path):
    from orders_kafka_streams_spark.streaming.sinks import idempotent_parquet_sink

    d = os.path.join(str(tmp_path), "eo_src")
    os.makedirs(d, exist_ok=True)
    out = os.path.join(str(tmp_path), "eo_out")
    ckpt = os.path.join(str(tmp_path), "eo_ckpt")
    _write_file(spark, d, "part1", [(i, BASE_MS + i * 1_000, 1, "click", 1.0) for i in range(5)])

    ev = _stream(spark, os.path.join(d, "part*")).select("event_id", "user_id")
    q = (
        ev.writeStream.foreachBatch(idempotent_parquet_sink(out))
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n1 = spark.read.parquet(out).count()
    assert n1 == 5

    # simulate the crash-replay of the SAME micro-batch id: the engine
    # re-invokes foreachBatch with identical (data, batch_id) — the
    # overwrite-by-batch-id sink must converge, not double-write.
    replay = spark.createDataFrame(
        [(i, 1) for i in range(5)], "event_id long, user_id long"
    )
    idempotent_parquet_sink(out)(replay, 0)
    assert spark.read.parquet(out).count() == 5


def _pair_join_to_sink(spark, src_glob, out, ckpt):
    """Drain the pair join into ``matched_dead_letter_sink(out)``."""
    from orders_kafka_streams_spark.streaming.pipeline import (
        process_all_available,
        stream_pair_left_outer,
    )
    from orders_kafka_streams_spark.streaming.sinks import matched_dead_letter_sink

    process_all_available(
        stream_pair_left_outer(_stream(spark, src_glob), window="1 hour", watermark="10 minutes")
        .writeStream.foreachBatch(matched_dead_letter_sink(out))
        .option("checkpointLocation", ckpt)
        .start()
    )


def test_one_join_fans_out_matched_and_dead_letter(spark, tmp_path):
    """The reference's TODO side sink (OrderProcessor.java:184) as two
    branches of ONE stream-stream join: matched pairs and null-padded
    dead letters route to separate sinks from the same state, with
    nothing lost and nothing duplicated."""
    d = os.path.join(str(tmp_path), "fan_src")
    os.makedirs(d, exist_ok=True)
    out = os.path.join(str(tmp_path), "fan_out")
    ckpt = os.path.join(str(tmp_path), "fan_ckpt")
    # user 1: click then purchase (matched); user 2: purchase, no click
    # (dead letter); sentinels advance both sides' watermarks far ahead.
    _write_file(
        spark,
        d,
        "part1",
        [
            (1, BASE_MS + 1 * MIN, 1, "click", 0.0),
            (2, BASE_MS + 2 * MIN, 1, "purchase", 9.0),
            (3, BASE_MS + 2 * MIN, 2, "purchase", 5.0),
            (8, BASE_MS + 200 * MIN, 9, "click", 0.0),
            (9, BASE_MS + 190 * MIN, 9, "purchase", 1.0),
        ],
    )
    _pair_join_to_sink(spark, os.path.join(d, "part*"), out, ckpt)

    matched = spark.read.parquet(os.path.join(out, "matched")).collect()
    dl = spark.read.parquet(os.path.join(out, "dead_letter")).collect()
    assert {(r.f_event_id, r.p_event_id) for r in matched} == {(2, 1)}
    # event 3 finalized unmatched; event 9's window is still open at the
    # final watermark, so it stays in state (not emitted to either sink)
    assert {r.f_event_id for r in dl} == {3}
    assert all(r.p_event_id is None for r in dl)


def _matched_pairs(spark, out):
    rows = spark.read.parquet(os.path.join(out, "matched")).collect()
    return sorted((r.f_event_id, r.p_event_id) for r in rows)


def test_pair_join_state_survives_restart(spark, tmp_path):
    """The join's state store is restored from the checkpoint: a click
    held in state when run 1 stops matches the purchase that run 2
    reads, and the pair is written once. The state files carry Spark's
    checksum files, and no temp file of a checkpoint write is left."""
    d = os.path.join(str(tmp_path), "jr_src")
    os.makedirs(d, exist_ok=True)
    out = os.path.join(str(tmp_path), "jr_out")
    ckpt = os.path.join(str(tmp_path), "jr_ckpt")
    glob = os.path.join(d, "part*")

    # run 1: a click for user 1, no purchase yet; it stays in state
    _write_file(spark, d, "part1", [(1, BASE_MS + 1 * MIN, 1, "click", 0.0)])
    _pair_join_to_sink(spark, glob, out, ckpt)
    assert _matched_pairs(spark, out) == []

    # run 2 (fresh query object, same checkpoint): the matching purchase
    _write_file(spark, d, "part2", [(2, BASE_MS + 2 * MIN, 1, "purchase", 9.0)])
    _pair_join_to_sink(spark, glob, out, ckpt)
    assert _matched_pairs(spark, out) == [(2, 1)]

    files = [f for _, _, names in os.walk(ckpt) for f in names]
    state = [f for _, _, names in os.walk(os.path.join(ckpt, "state")) for f in names]
    assert any(re.fullmatch(r"\d+\.delta\.crc", f) for f in state), sorted(state)
    assert not [f for f in files if ".tmp" in f], sorted(files)


def _fan_batch(spark, rows):
    return spark.createDataFrame(rows, "f_event_id long, f_user long, p_event_id long")


def _branch_rows(spark, out, branch):
    return sorted(
        (r.f_event_id, r.batch_id)
        for r in spark.read.parquet(os.path.join(out, branch)).collect()
    )


def test_matched_dead_letter_sink_replay_converges(spark, tmp_path):
    """A replayed batch id rewrites the same rows in both branches, also
    over what a crashed attempt left behind: a stale stage directory and
    a stale branch directory holding an extra row."""
    from orders_kafka_streams_spark.streaming.sinks import matched_dead_letter_sink

    out = os.path.join(str(tmp_path), "fan_out")
    sink = matched_dead_letter_sink(out)
    batch = _fan_batch(spark, [(2, 1, 1), (4, 3, 5), (3, 2, None)])
    sink(batch, 0)
    sink(batch, 0)
    assert _branch_rows(spark, out, "matched") == [(2, 0), (4, 0)]
    assert _branch_rows(spark, out, "dead_letter") == [(3, 0)]
    # the branch tag is only the directory: the files hold the batch's columns
    assert spark.read.parquet(os.path.join(out, "matched", "batch_id=0")).columns == batch.columns
    assert os.listdir(os.path.join(out, "_stage")) == []

    # crashed attempt of batch 1: a half-written stage and a dead-letter
    # directory with a row the batch does not hold
    _fan_batch(spark, [(99, 9, 9)]).write.parquet(
        os.path.join(out, "_stage", "batch_id=1", "branch=matched")
    )
    _fan_batch(spark, [(98, 9, None)]).write.parquet(os.path.join(out, "dead_letter", "batch_id=1"))
    sink(_fan_batch(spark, [(6, 1, 1), (7, 2, None)]), 1)
    assert _branch_rows(spark, out, "matched") == [(2, 0), (4, 0), (6, 1)]
    assert _branch_rows(spark, out, "dead_letter") == [(3, 0), (7, 1)]
    assert os.listdir(os.path.join(out, "_stage")) == []


def test_matched_dead_letter_sink_empty_branch_reads_zero_rows(spark, tmp_path):
    """A batch without dead letters still leaves a schema-only
    ``dead_letter/batch_id=N`` that reads back as zero rows, and the
    empty branch costs no Spark job of its own: the batch's one
    partitioned write is the only job the sink runs."""
    from orders_kafka_streams_spark.streaming.sinks import matched_dead_letter_sink

    out = os.path.join(str(tmp_path), "fan_out")
    batch = _fan_batch(spark, [(2, 1, 1), (4, 3, 5)])
    sc = spark.sparkContext
    group = "empty-branch-sink"
    sc.setJobGroup(group, "job-count probe")
    try:
        matched_dead_letter_sink(out)(batch, 3)
    finally:
        sc.setJobGroup(None, None)
    # the status tracker is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    dl = spark.read.parquet(os.path.join(out, "dead_letter", "batch_id=3"))
    assert dl.schema == batch.schema
    assert dl.count() == 0
    assert _branch_rows(spark, out, "matched") == [(2, 3), (4, 3)]
