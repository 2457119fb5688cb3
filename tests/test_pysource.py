"""Custom Python DataSource (sources/pysource.py): the offset
protocol and partition coverage are asserted directly — the driver
oracle proves end-to-end row equality, these pin the connector
mechanics (monotone offsets, CHUNK pacing, disjoint covering
partitions) that a green hash can't localize when they break.
"""

from __future__ import annotations

import math
import os

import pytest

from orders_kafka_streams_spark.sources.pysource import (
    CHUNK,
    PYSRC_N,
    _BatchReader,
    _StreamReader,
    gen_row,
)


def test_batch_partitions_cover_disjointly():
    r = _BatchReader(PYSRC_N)
    parts = r.partitions()
    spans = sorted((p.lo, p.hi) for p in parts)
    assert spans[0][0] == 0 and spans[-1][1] == PYSRC_N
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi == lo  # no gap, no overlap


def test_stream_offsets_advance_by_chunk_until_bound():
    r = _StreamReader(PYSRC_N)
    assert r.initialOffset() == {"i": 0}
    seen = []
    for _ in range(math.ceil(PYSRC_N / CHUNK) + 2):
        seen.append(r.latestOffset()["i"])
    # monotone, CHUNK-paced, clamped at n, then stable
    assert seen[0] == min(CHUNK, PYSRC_N)
    assert all(b >= a for a, b in zip(seen, seen[1:]))
    assert seen[-1] == seen[-2] == PYSRC_N


def test_stream_restart_never_regresses_below_committed_offset():
    """Checkpoint-restart replay guard: a FRESH reader (pace counter
    back at 0) that is handed the engine's committed range via
    partitions() must fast-forward, so its next latestOffset is at
    or beyond the committed offset — otherwise CHUNK-paced batches
    would re-read committed rows and append duplicates at the sink."""
    committed = 3 * CHUNK + 17
    r = _StreamReader(PYSRC_N)  # restart: _pos == 0
    r.partitions({"i": committed}, {"i": committed})
    nxt = r.latestOffset()["i"]
    assert nxt >= committed
    # and the very next planned range starts at the committed offset,
    # not before it
    parts = r.partitions({"i": committed}, {"i": nxt})
    assert all(p.lo >= committed for p in parts)


def test_stream_read_covers_every_row():
    r = _StreamReader(PYSRC_N)
    got = []
    lo = r.initialOffset()
    while lo["i"] < PYSRC_N:
        hi = r.latestOffset()
        for part in r.partitions(lo, hi):
            got.extend(r.read(part))
        r.commit(hi)
        lo = hi
    assert got == [gen_row(i) for i in range(PYSRC_N)]


def test_gen_row_pairs_share_facility():
    for oid in (0, 1, 7, 4999):
        placed, fulfilled = gen_row(2 * oid), gen_row(2 * oid + 1)
        assert placed[1] == fulfilled[1] == oid
        assert placed[3] == fulfilled[3]  # same facility
        assert fulfilled[4] >= placed[4]  # fulfilment never precedes


def test_pushdown_narrows_generation_range():
    from pyspark.sql.datasource import (
        GreaterThanOrEqual,
        IsNotNull,
        LessThan,
    )

    r = _BatchReader(PYSRC_N)
    leftover = list(
        r.pushFilters(
            [
                IsNotNull(attribute=("event_id",)),
                GreaterThanOrEqual(attribute=("event_id",), value=1000),
                LessThan(attribute=("event_id",), value=4000),
            ]
        )
    )
    # range predicates consumed; isnotnull handed back to Spark
    assert [type(f).__name__ for f in leftover] == ["IsNotNull"]
    assert (r.lo_bound, r.n) == (1000, 4000)
    spans = sorted((p.lo, p.hi) for p in r.partitions())
    assert spans[0][0] == 1000 and spans[-1][1] == 4000
    total = sum(hi - lo for lo, hi in spans)
    assert total == 3000  # nothing outside the bound is ever generated


def test_column_pruning_projects_reader_tuples():
    """A reader built with a 2-field schema yields 2-field tuples in
    the REQUESTED order (any subset, any permutation) — the column-
    pruning seam of VERDICT r8 item 3. pyspark 4.1.2's API never
    passes a pruned schema (no pushColumns hook — see the reader
    docstring), so the seam is pinned here directly and activates
    unchanged when Spark starts pruning."""
    from orders_kafka_streams_spark.sources.pysource import _Range

    r = _BatchReader(PYSRC_N, ["facility", "event_id"])
    rows = list(r.read(_Range(0, 6)))
    assert all(len(t) == 2 for t in rows)
    assert rows == [(gen_row(i)[3], gen_row(i)[0]) for i in range(6)]
    # empty projection (count(*) shape): zero-field tuples, right count
    r0 = _BatchReader(PYSRC_N, [])
    assert list(r0.read(_Range(0, 4))) == [(), (), (), ()]
    # full schema takes the no-reindex fast path and is unchanged
    rf = _BatchReader(PYSRC_N)
    assert list(rf.read(_Range(0, 3))) == [gen_row(i) for i in range(3)]


def test_full_scan_values_unchanged_by_pruning_support(spark):
    """End-to-end guard for the q_pysource_* oracle hashes: a
    projected read returns exactly the generator's columns (Spark
    currently hands the full schema to reader() and projects above
    the scan — either path must produce these values)."""
    from orders_kafka_streams_spark.sources.pysource import register

    register(spark)
    df = (
        spark.read.format("order_events")
        .option("n", 64)
        .load()
        .select("facility", "order_id")
    )
    got = sorted(tuple(r) for r in df.collect())
    want = sorted((gen_row(i)[3], gen_row(i)[1]) for i in range(64))
    assert got == want


def test_pushdown_empty_range_yields_no_rows():
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    r = _BatchReader(PYSRC_N)
    list(
        r.pushFilters(
            [
                GreaterThanOrEqual(attribute=("event_id",), value=5000),
                LessThan(attribute=("event_id",), value=100),
            ]
        )
    )
    assert sum(p.hi - p.lo for p in r.partitions()) == 0


def test_stream_sink_commits_one_manifest_per_epoch(spark):
    """source → sink end-to-end: CHUNK-paced drain must leave exactly
    ceil(n / CHUNK) per-epoch manifests, and the union of committed
    files must carry every generated row exactly once."""
    import os
    import shutil
    import tempfile

    from orders_kafka_streams_spark.sources.pysource import (
        read_manifest,
        register,
        register_sink,
    )

    register(spark)
    register_sink(spark)
    n = 3 * CHUNK + 17  # deliberately not CHUNK-aligned
    base = os.path.join(tempfile.gettempdir(), "okss-pysink-test")
    out, ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    ev = spark.readStream.format("order_events").option("n", n).load()
    q = (
        ev.writeStream.format("jsonl_manifest")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    manifests = [f for f in os.listdir(out) if f.startswith("_MANIFEST-")]
    assert len(manifests) == math.ceil(n / CHUNK)
    files, rows = read_manifest(out)
    assert rows == n
    ids = sorted(
        int(r.event_id) for r in spark.read.json(files).select("event_id").collect()
    )
    assert ids == list(range(n))


def test_sink_abort_removes_task_files(tmp_path):
    from orders_kafka_streams_spark.sources.pysource import _JsonlWriter, _TaskFile

    d = str(tmp_path)
    f1 = os.path.join(d, "task-a.jsonl")
    open(f1, "w").write("{}\n")
    w = _JsonlWriter(d)
    w.abort([_TaskFile(path=f1, rows=1), None])
    assert not os.path.exists(f1)  # uncommitted garbage swept
    assert not os.path.exists(os.path.join(d, "_MANIFEST"))


def test_pickle_by_value_tolerates_only_old_cloudpickle(monkeypatch):
    """A cloudpickle without register_pickle_by_value keeps import-path
    pickling; any other registration failure propagates."""
    from pyspark import cloudpickle

    from orders_kafka_streams_spark.sources import pysource

    def fail(exc):
        def register(_module):
            raise exc

        return register

    monkeypatch.setattr(cloudpickle, "register_pickle_by_value", fail(AttributeError()))
    pysource._pickle_by_value()
    monkeypatch.setattr(cloudpickle, "register_pickle_by_value", fail(ValueError("boom")))
    with pytest.raises(ValueError, match="boom"):
        pysource._pickle_by_value()
