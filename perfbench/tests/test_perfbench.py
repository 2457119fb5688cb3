"""Tests of the benchmark itself: seeded inputs, the latency clock and
the percentile arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import corpus  # noqa: E402
import feeder  # noqa: E402
import stream  # noqa: E402
from common import percentile, quartile_spread, samples_beyond  # noqa: E402


def _digests(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_corpus_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    rows = corpus.make_corpus(a, 5, 0.02, 0.02)
    assert rows == corpus.make_corpus(b, 5, 0.02, 0.02)
    corpus.make_corpus(c, 6, 0.02, 0.02)
    assert _digests(a) == _digests(b)
    differ = {n for n, h in _digests(a).items() if _digests(c)[n] != h}
    assert {"events", "orders", "lineitem", "documents", "embeddings"} <= {n.split(".")[0] for n in differ}


def test_corpus_key_shifts_follow_seed():
    assert corpus.key_shifts(1) == corpus.key_shifts(1)
    assert corpus.key_shifts(1) != corpus.key_shifts(2)
    assert corpus.key_shifts(3)["doc"] == 0


def test_feeder_schedule_is_deterministic():
    args = (7, 2000.0, 1.0, 2.0, 1.0, 3000)
    a, b = feeder.schedule(*args), feeder.schedule(*args)
    assert len(a) == len(b)
    for (due_a, cols_a), (due_b, cols_b) in zip(a, b):
        assert due_a == due_b
        for key in ("event_id", "ts_offset", "user_id", "event_type"):
            assert (cols_a[key] == cols_b[key]).all()
    other = feeder.schedule(8, *args[1:])
    users = lambda files: np.concatenate([c["user_id"] for _, c in files])  # noqa: E731
    assert not np.array_equal(users(a), users(other))


def test_feeder_schedule_shape():
    files = feeder.schedule(3, 2000.0, 1.0, 2.0, 1.0, 3000)
    ids = [c["event_id"] for _, c in files]
    # contiguous id ranges in due order
    assert all(x[0] == y[-1] + 1 for y, x in zip(ids, ids[1:]))
    # the stall holds back 1.5 s of traffic: one file, due after the
    # steady phase, holding events of the 1.5 s that follow it
    stall, burst_at = 1.5, 3.0
    bursts = [(due, c) for due, c in files if c["burst"]]
    assert len(bursts) == 1 and len(bursts[0][1]["event_id"]) > 2500
    due, cols = bursts[0]
    assert due == burst_at
    assert (cols["ts_offset"] >= burst_at).all() and (cols["ts_offset"] < burst_at + stall).all()
    # every other file holds the events of the period before its due time,
    # on a clock running the stall's length ahead after the burst
    for due, cols in files:
        if not cols["burst"]:
            ahead = stall if due > burst_at else 0.0
            lag = due + ahead - cols["ts_offset"]
            assert (lag > 0).all() and (lag <= feeder.PERIOD_S).all()
    # every event type about a fifth of the traffic, as in the fixture table
    kinds = np.concatenate([c["event_type"] for _, c in files])
    for t in feeder.EVENT_TYPES:
        assert abs((kinds == t).mean() - 0.2) < 0.02


def test_prime_table_is_deterministic():
    a = feeder.prime_table(4, 1_700_000_000.0, 100)
    assert a.equals(feeder.prime_table(4, 1_700_000_000.0, 100))
    assert min(a.column("event_id").to_pylist()) >= feeder.PRIME_ID_BASE


def _progress(batch_id: int, start: float, rows: int) -> dict:
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(start, timezone.utc).isoformat().replace("+00:00", "Z")
    return {"batchId": batch_id, "timestamp": iso, "numInputRows": rows,
            "durationMs": {"triggerExecution": 500}, "stateOperators": []}


def test_latency_runs_from_due_time_not_send_time():
    t0 = 1_000_000.0
    w = stream.WARMUP_S
    files = [
        # due inside the steady window, but the generator sent it 0.4 s late
        {"file": "a", "due": t0 + w + 1.0, "written": t0 + w + 1.4, "first_event_id": 0, "n": 2, "burst": False},
        {"file": "b", "due": t0 + w + 2.0, "written": t0 + w + 2.0, "first_event_id": 2, "n": 2, "burst": False},
        # due in the steady window, but listed together with the burst file
        {"file": "d", "due": t0 + w + 3.9, "written": t0 + w + 3.9, "first_event_id": 4, "n": 2, "burst": False},
        {"file": "c", "due": t0 + w + 4.0, "written": t0 + w + 4.0, "first_event_id": 6, "n": 2, "burst": True},
    ]
    phase = stream.Phase(
        t0=t0,
        files=files,
        progress=[_progress(0, t0 + w + 1.5, 2), _progress(1, t0 + w + 2.1, 2), _progress(2, t0 + w + 3.95, 4)],
        sink_calls={0: (t0 + w + 1.6, t0 + w + 2.0), 1: (t0 + w + 2.5, t0 + w + 3.0), 2: (0.0, t0 + w + 6.0)},
        matched=[(1, 0, 0), (3, 2, 1), (5, 4, 2), (7, 6, 2)],
        expected={(1, 0), (3, 2), (5, 4), (7, 6)},
        source_files={0: {"a"}, 1: {"b"}, 2: {"c", "d"}},
        sink_files={0: 1, 1: 1, 2: 1},
    )
    m = stream.analyse(phase, seconds=4.0)
    # emit − due, not emit − written; the burst batch's rows are catch-up
    assert m.latencies_ms == pytest.approx([1000.0, 1000.0])
    assert [b["batchId"] for b in m.steady_batches] == [0, 1]
    assert m.burst_drain_s == pytest.approx(2.05)  # last burst emit − first burst trigger start
    assert (m.attempted, m.failed) == (4, 0)


def test_missing_and_duplicate_pairs_count_as_failed():
    t0 = 0.0
    files = [{"file": "a", "due": t0 + stream.WARMUP_S, "written": 0.0, "first_event_id": 0, "n": 4, "burst": True}]
    phase = stream.Phase(
        t0=t0, files=files, progress=[_progress(0, 0.0, 4)], sink_calls={0: (0.0, 1.0)},
        matched=[(1, 0, 0), (1, 0, 0)], expected={(1, 0), (3, 2)},
        source_files={0: {"a"}}, sink_files={0: 1},
    )
    m = stream.analyse(phase, seconds=1.0)
    assert (m.attempted, m.failed) == (2, 2)


def test_percentile_interpolates_between_ranks():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == pytest.approx(50.5)
    assert percentile(xs, 99) == pytest.approx(99.01)
    assert percentile([7.0], 99) == 7.0
    assert percentile([3.0, 1.0, 2.0], 0) == 1.0 and percentile([3.0, 1.0, 2.0], 100) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_samples_beyond_a_percentile():
    assert samples_beyond(1000, 99) == 10
    assert samples_beyond(100, 99) == 1
    assert samples_beyond(15, 50) == 7


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / med)
