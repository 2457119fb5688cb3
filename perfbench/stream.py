"""Open-loop workload ``orders_stream``: the reference topology as a live
stream.

System under test: ``readStream.schema(EVENTS_FILE_SCHEMA)`` over a
watched directory → ``stream_pair_left_outer`` → ``foreachBatch`` with
``matched_dead_letter_sink``. The load comes from ``feeder.py`` in its
own process. Every matched row's latency runs from the due time of its
fulfilled event's file to the end of the sink call that wrote it.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow.parquet as pq

from common import (
    Host,
    PeakRss,
    fresh_dir,
    heap_live_mb,
    log,
    percentile,
    samples_beyond,
    session_conf,
    shutdown_spark,
)
from feeder import PRIME_ID_BASE, prime_table

RATE = 5000.0  # events per second in the steady phase
# scheduled traffic before the latency window opens, while the JIT settles
# and the join state fills: with 6 s, batch times still fell by a third
# over the first seconds of the window
WARMUP_S = 14.0
PRIME_EVENTS = 50_000  # events in the file the cold first batch reads
TAIL_S = 3.0  # steady traffic after the burst, while it drains
BURST_EVENTS = 1_000_000
JOIN_WINDOW = "5 seconds"
WATERMARK = "5 seconds"
SETUP_REPEATS = 7  # the first also starts the JVM; restarts vary by half, so take many
FEEDER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "feeder.py")


@dataclass
class Phase:
    """Everything one streaming run leaves behind, read after the fact."""

    t0: float
    files: list[dict]
    progress: list[dict]
    sink_calls: dict[int, tuple[float, float]]
    source_files: dict[int, set[str]]  # batch id -> names of the files it read
    sink_files: dict[int, int]  # batch id -> files it wrote
    out_dir: str = ""
    watch_dir: str = ""
    heap_live_mb: float = 0.0  # read when the phase is traced
    matched: list[tuple[int, int, int]] = field(default_factory=list)  # (f_event_id, p_event_id, batch_id)
    expected: set[tuple[int, int]] = field(default_factory=set)

    def read_results(self) -> None:
        """Load the sink's matched rows and the DuckDB expectation; kept
        out of the peak-memory window."""
        self.matched = _matched_rows(self.out_dir)
        self.expected = _expected_pairs(self.watch_dir)


def _plan(spark, watch: str):
    from pyspark.sql import functions as F

    from orders_kafka_streams_spark.streaming.pipeline import EVENTS_FILE_SCHEMA, stream_pair_left_outer

    raw = spark.readStream.schema(EVENTS_FILE_SCHEMA).parquet(watch)
    events = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream_pair_left_outer(events, window=JOIN_WINDOW, watermark=WATERMARK)


class StreamBench:
    def __init__(self, host: Host, seed: int, seconds: float) -> None:
        self.host = host
        self.seed = seed
        self.seconds = seconds
        self.spark = None
        self.layers: dict[str, float] = {}
        self._get_spark_s: list[float] = []

    def setup(self, event_log_dir: str | None = None) -> float:
        """(Re)create the session, then plan and start the query on an
        empty directory; returns the seconds until it is running."""
        from orders_kafka_streams_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        d = fresh_dir(os.path.join(self.host.work_dir, "setup"))
        os.makedirs(os.path.join(d, "in"))
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench-orders_stream", extra_conf=session_conf(self.host, event_log_dir))
        t1 = time.perf_counter()
        from orders_kafka_streams_spark.operators import all_queries

        all_queries()
        t2 = time.perf_counter()
        q = (
            _plan(self.spark, os.path.join(d, "in"))
            .writeStream.foreachBatch(lambda df, i: None)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        t3 = time.perf_counter()
        q.stop()
        self.layers.setdefault("session.registry_import_s", t2 - t1)
        self._get_spark_s.append(t1 - t0)
        return t3 - t0

    def launch(self) -> list[float]:
        """Time SETUP_REPEATS set-ups; the first also starts the JVM."""
        samples = [self.setup() for _ in range(SETUP_REPEATS)]
        self.layers["session.jvm_launch_s"] = self._get_spark_s[0]
        self.layers["session.get_spark_s"] = statistics.median(self._get_spark_s[1:])
        return samples

    def run_phase(self, tag: str, traced: bool = False) -> Phase:
        """Start the query, run the feeder to completion, drain, stop.
        A traced phase also reads the live heap before the query stops."""
        from orders_kafka_streams_spark.streaming.sinks import matched_dead_letter_sink

        base = fresh_dir(os.path.join(self.host.work_dir, tag))
        watch, stage, out, ckpt = (os.path.join(base, n) for n in ("in", "stage", "out", "ckpt"))
        os.makedirs(watch)
        os.makedirs(stage)
        sink = matched_dead_letter_sink(out)
        sink_calls: dict[int, tuple[float, float]] = {}

        def timed_sink(df, batch_id: int) -> None:
            start = time.time()
            sink(df, batch_id)
            sink_calls[batch_id] = (start, time.time())

        pq.write_table(prime_table(self.seed, time.time(), PRIME_EVENTS), os.path.join(stage, "prime.parquet"))
        os.rename(os.path.join(stage, "prime.parquet"), os.path.join(watch, "prime.parquet"))
        q = _plan(self.spark, watch).writeStream.foreachBatch(timed_sink).option("checkpointLocation", ckpt).start()
        # the scheduled traffic starts once the cold first batch is done
        deadline = time.time() + 120
        while not any(p.numInputRows > 0 for p in q.recentProgress):
            if time.time() > deadline or q.exception() is not None:
                q.stop()
                raise RuntimeError(f"first micro-batch did not complete: {q.exception()}")
            time.sleep(0.05)
        feeder_log = os.path.join(base, "schedule.json")
        feeder = subprocess.Popen(
            [sys.executable, FEEDER, "--watch", watch, "--stage", stage, "--log", feeder_log,
             "--seed", str(self.seed), "--rate", str(RATE), "--warmup-s", str(WARMUP_S),
             "--steady-s", str(self.seconds), "--tail-s", str(TAIL_S),
             "--burst-events", str(BURST_EVENTS)],
            stdout=subprocess.DEVNULL,
        )
        try:
            if feeder.wait(timeout=WARMUP_S + self.seconds + TAIL_S + 60) != 0:
                raise RuntimeError(f"feeder exited with {feeder.returncode}")
            q.processAllAvailable()
            heap_mb = heap_live_mb(self.spark) if traced else 0.0
        finally:
            if feeder.poll() is None:
                feeder.kill()
                feeder.wait()
            q.stop()
        progress = [json.loads(p.json) for p in q.recentProgress]
        with open(feeder_log) as f:
            sched = json.load(f)
        return Phase(
            t0=sched["t0"],
            files=sched["files"],
            progress=progress,
            sink_calls=sink_calls,
            source_files=_batch_files(progress, _source_log(ckpt)),
            sink_files=_sink_files(out),
            out_dir=out,
            watch_dir=watch,
            heap_live_mb=heap_mb,
        )


def _matched_rows(out: str) -> list[tuple[int, int, int]]:
    import duckdb

    path = os.path.join(out, "matched", "*", "*.parquet")
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT f_event_id, p_event_id, batch_id FROM read_parquet('{path}', hive_partitioning = true)"
        ).fetchall()
    finally:
        con.close()


def _expected_pairs(watch: str) -> set[tuple[int, int]]:
    """The matched pairs of the same interval join, computed by DuckDB
    over every file the feeder wrote."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(f"""
            WITH ev AS (SELECT * FROM read_parquet('{os.path.join(watch, '*.parquet')}'))
            SELECT f.event_id, p.event_id
            FROM ev f JOIN ev p
              ON f.user_id = p.user_id AND f.ts >= p.ts AND f.ts <= p.ts + INTERVAL {JOIN_WINDOW}
            WHERE f.event_type = 'purchase' AND p.event_type = 'click'
        """).fetchall()
    finally:
        con.close()
    return set(rows)


def _source_log(ckpt: str) -> dict[int, set[str]]:
    """Names of the files behind each offset of the file source's
    metadata log."""
    files: dict[int, set[str]] = {}
    d = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    files.setdefault(entry["batchId"], set()).add(os.path.basename(entry["path"]))
    return files


def _batch_files(progress: list[dict], log: dict[int, set[str]]) -> dict[int, set[str]]:
    """Files per query batch: a batch reads the source-log entries after
    its start offset up to its end offset (the source numbers only the
    batches that found files, so the two ids differ)."""
    out = {}
    for b in progress:
        src = b["sources"][0]
        start = (src["startOffset"] or {"logOffset": -1})["logOffset"]
        end = (src["endOffset"] or {"logOffset": -1})["logOffset"]
        out[b["batchId"]] = set().union(*(log.get(o, set()) for o in range(start + 1, end + 1)))
    return out


def _sink_files(out: str) -> dict[int, int]:
    counts: dict[int, int] = {}
    for branch in ("matched", "dead_letter"):
        root = os.path.join(out, branch)
        if not os.path.isdir(root):
            continue
        for part in os.listdir(root):
            b = int(part.split("=")[1])
            n = sum(1 for f in os.listdir(os.path.join(root, part)) if f.endswith(".parquet"))
            counts[b] = counts.get(b, 0) + n
    return counts


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


@dataclass
class PhaseMetrics:
    latencies_ms: list[float]
    burst_events: int
    burst_drain_s: float
    data_batches: list[dict]
    steady_batches: list[dict]
    steady_matched: int
    attempted: int
    failed: int


def analyse(p: Phase, seconds: float) -> PhaseMetrics:
    """Latency per matched row whose fulfilled event was due in the
    steady window; burst drain; and the pair-set comparison. Batches
    that read any burst file belong to the catch-up, not to the steady
    window, even when they started before the burst was due."""
    burst_files = {f["file"] for f in p.files if f["burst"]}
    burst_batches = {b for b, names in p.source_files.items() if names & burst_files}
    first_id = [f["first_event_id"] for f in p.files]
    steady_lo, burst_at = p.t0 + WARMUP_S, p.t0 + WARMUP_S + seconds
    latencies = []
    for f_id, _, batch in p.matched:
        if f_id >= PRIME_ID_BASE or batch in burst_batches:
            continue
        f = p.files[bisect.bisect_right(first_id, f_id) - 1]
        if not f["burst"] and steady_lo <= f["due"] < burst_at:
            latencies.append((p.sink_calls[batch][1] - f["due"]) * 1000.0)

    data = [b for b in p.progress if b["numInputRows"] > 0]
    steady = [
        b for b in data
        if steady_lo <= _epoch(b["timestamp"]) < burst_at and b["batchId"] not in burst_batches
    ]
    # catch-up: from the trigger that first lists burst files to the end
    # of the sink call of the last batch that holds any of them
    started = {b["batchId"]: _epoch(b["timestamp"]) for b in p.progress}
    drain_s = p.sink_calls[max(burst_batches)][1] - started[min(burst_batches)]

    steady_ids = {b["batchId"] for b in steady}
    got = {(f, pl) for f, pl, _ in p.matched}
    return PhaseMetrics(
        latencies_ms=latencies,
        burst_events=sum(f["n"] for f in p.files if f["burst"]),
        burst_drain_s=drain_s,
        data_batches=data,
        steady_batches=steady,
        steady_matched=sum(1 for _, _, b in p.matched if b in steady_ids),
        attempted=max(1, len(p.expected | got)),
        # missing or extra pairs, and pairs written more than once
        failed=len(got ^ p.expected) + len(p.matched) - len(got),
    )


def _ms(batches: list[dict], key: str) -> list[float]:
    return [float(b["durationMs"].get(key, 0)) for b in batches]


def layer_metrics(p: Phase, m: PhaseMetrics) -> dict[str, float]:
    warm = m.data_batches[1:] or m.data_batches
    trig = _ms(warm, "triggerExecution")
    last_state = m.data_batches[-1]["stateOperators"]
    # files in the directory when a batch started minus files consumed
    # by earlier batches
    written = sorted(f["written"] for f in p.files)
    scheduled = {f["file"] for f in p.files}
    lag = [
        bisect.bisect_right(written, _epoch(b["timestamp"]))
        - sum(len(names & scheduled) for bid, names in p.source_files.items() if bid < b["batchId"])
        for b in m.data_batches
    ]
    return {
        "sources.stream.list_ms_p50": statistics.median(
            a + g for a, g in zip(_ms(warm, "latestOffset"), _ms(warm, "getBatch"))
        ),
        "sources.stream.lag_files_max": float(max(lag)),
        "streaming.trigger_ms_p50": percentile(trig, 50),
        "streaming.trigger_ms_p99": percentile(trig, 99),
        "streaming.add_batch_ms_p50": percentile(_ms(warm, "addBatch"), 50),
        "streaming.query_planning_ms_p50": percentile(_ms(warm, "queryPlanning"), 50),
        "streaming.wal_commit_ms_p50": percentile(_ms(warm, "walCommit"), 50),
        "streaming.state_commit_ms_p50": percentile(
            [float(sum(s["commitTimeMs"] for s in b["stateOperators"])) for b in warm], 50
        ),
        "streaming.state_rows_end": float(sum(s["numRowsTotal"] for s in last_state)),
        "streaming.state_bytes_end": float(sum(s["memoryUsedBytes"] for s in last_state)),
        "streaming.rows_dropped_by_watermark": float(
            sum(s.get("numRowsDroppedByWatermark", 0) for b in m.data_batches for s in b["stateOperators"])
        ),
        "streaming.batches": float(len(m.data_batches)),
        "sinks.write_ms_p50": statistics.median((e - s) * 1000.0 for s, e in p.sink_calls.values()),
        "sinks.files_per_batch": statistics.median(p.sink_files.values()),
        "generator_lag_ms": max((f["written"] - f["due"]) * 1000.0 for f in p.files),
    }


def run(host: Host, seed: int, seconds: float, trace: bool) -> dict:
    from eventlog import spark_metrics

    if trace:
        # two phases, untraced then traced, each with half the steady window
        seconds /= 2
    bench = StreamBench(host, seed, seconds)
    with PeakRss() as rss:
        setup_samples = bench.launch()
        phase = bench.run_phase("measured")
        traced = None
        if trace:
            event_dir = os.path.join(host.work_dir, "eventlog")
            bench.setup(event_log_dir=event_dir)
            traced = bench.run_phase("traced", traced=True)
        shutdown_spark(bench.spark)

    for p in (phase, traced):
        if p is not None:
            p.read_results()
    m = analyse(phase, seconds)
    busy_s = sum(_ms(m.steady_batches, "triggerExecution")) / 1000.0
    metrics = {
        "setup_s": (statistics.median(setup_samples), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "latency_p50_ms": (percentile(m.latencies_ms, 50), "ms"),
        "latency_p99_ms": (percentile(m.latencies_ms, 99), "ms"),
        "catchup_events_per_s": (m.burst_events / m.burst_drain_s, "1/s"),
        "rows_per_s": (sum(b["numInputRows"] for b in m.steady_batches) / busy_s, "1/s"),
        "cold_pass_s": (m.data_batches[0]["durationMs"]["triggerExecution"] / 1000.0, "s"),
        "docs_per_s": (m.steady_matched / busy_s, "1/s"),
    }
    attempted, failed = m.attempted, m.failed
    layers = dict(bench.layers)
    if trace:
        tm = analyse(traced, seconds)
        attempted += tm.attempted
        failed += tm.failed
        layers.update(layer_metrics(traced, tm))
        layers["jvm.heap_live_mb"] = traced.heap_live_mb
        layers.update(spark_metrics(event_dir))
        layers["trace.overhead_s"] = (percentile(tm.latencies_ms, 50) - percentile(m.latencies_ms, 50)) / 1000.0
    else:
        layers.update(layer_metrics(phase, m))
    if failed:
        log(f"orders_stream: {failed} matched pairs differ from the DuckDB interval join")
    info = {
        "workload": "orders_stream",
        "latency_samples": len(m.latencies_ms),
        "p99_samples_beyond": samples_beyond(len(m.latencies_ms), 99),
        "steady_batches": len(m.steady_batches),
        "steady_trigger_ms": _ms(m.steady_batches, "triggerExecution"),
        "burst_events": m.burst_events,
        "burst_drain_s": m.burst_drain_s,
        "generator_lag_ms": layers["generator_lag_ms"],
        "setup_samples": setup_samples,
        "failed_share": failed / attempted,
    }
    return {"metrics": metrics, "layers": layers, "info": info, "attempted": attempted, "failed": failed}
