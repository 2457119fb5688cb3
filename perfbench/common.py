"""Shared pieces of the benchmark: host sizing, the Spark session,
statistics, peak-memory sampling, spans, and the oracle comparison."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

#: repository checkout the benchmark runs from (the parent of perfbench/)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "orders_kafka_streams_spark"
#: everything the benchmark writes lives under this (gitignored) directory
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


# --------------------------------------------------------------------------
# statistics


def percentile(values: list[float], q: float) -> float:
    """q-th percentile (0..100) with linear interpolation between the
    two nearest ranks (NumPy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie above the q-th percentile — the guide's
    rule reports a percentile only when this is at least ten."""
    return n - 1 - int((n - 1) * q / 100.0)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


# --------------------------------------------------------------------------
# host sizing


@dataclass
class Host:
    cpus: int
    spark_cpus: int
    driver_memory: str
    mem_total_mb: int
    loadavg: tuple[float, float, float]
    work_dir: str

    def info(self) -> dict:
        return {
            "SPARK_GRAFT_CPUS": self.spark_cpus,
            "SPARK_DRIVER_MEMORY": self.driver_memory,
            "nproc": self.cpus,
            "mem_total_mb": self.mem_total_mb,
            "loadavg": list(self.loadavg),
        }


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


#: JIT compiler threads of the driver JVM. The default (3 on a 4-core
#: host) leaves the JIT compiling for some 40 s of passes, so a run's
#: figures depended on how far it had got; with more threads on the
#: cores Spark leaves free it settles sooner, mostly within the untimed
#: passes.
JIT_COMPILER_THREADS = 6


def pin_host(work_dir: str, reserved_threads: int) -> Host:
    """Size Spark to this host instead of the package defaults (32 cores,
    24g heap): ``SPARK_GRAFT_CPUS`` = half of nproc, and never more than
    nproc minus the threads the benchmark keeps for its own processes.
    The other half is left to the JVM's JIT compiler and garbage
    collector threads, the Python driver and the load generator, so that
    task threads do not queue behind them. ``SPARK_DRIVER_MEMORY`` = an
    eighth of MemTotal, between 1g and 2g, as the machine's memory is
    shared. The heap starts at the JVM's default size and grows as the
    program needs it, so peak RSS follows what the program holds.
    Temporary files of Spark, the JVM and Python workers are pointed
    into ``work_dir``."""
    cpus = len(os.sched_getaffinity(0))
    spark_cpus = max(1, min(cpus // 2, cpus - reserved_threads))
    total = mem_total_mb()
    driver_mb = max(1024, min(total // 8, 2048))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(spark_cpus),
        SPARK_DRIVER_MEMORY=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:CICompilerCount={JIT_COMPILER_THREADS}'"
            " pyspark-shell"
        ),
    )
    return Host(cpus, spark_cpus, f"{driver_mb}m", total, os.getloadavg(), work_dir)


def session_conf(host: Host, event_log_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(host.work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def heap_live_mb(spark) -> float:
    """MB of JVM heap in use right after a full collection: what the
    driver holds live, whatever the collector's timing."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def shutdown_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# peak memory of the process tree


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _tree_rss_kb(root_pid: int) -> int:
    """Resident memory of a process tree, as the sum of each process's
    proportional set size: pages shared between processes (a forked
    child before it execs, the Python worker daemon's children) count
    once instead of once per process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            total += _pss_kb(pid)
        except OSError:
            pass  # exited since the listing
        stack.extend(children.get(pid, []))
    return total


class PeakRss:
    """Samples the resident memory of this process and all descendants
    (the JVM, Python workers, the load generator) every ``period`` s
    and keeps the peak."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around the calls into each layer; written out
    once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    def span(self, name: str, **attrs):
        tracer = self

        class _Ctx:
            def __enter__(self_inner):
                parent = tracer._open[-1] if tracer._open else None
                tracer.spans.append(Span(name, time.perf_counter(), parent=parent, attrs=attrs))
                self_inner.idx = len(tracer.spans) - 1
                tracer._open.append(self_inner.idx)
                return tracer.spans[self_inner.idx]

            def __exit__(self_inner, *exc):
                tracer.spans[self_inner.idx].end = time.perf_counter()
                tracer._open.pop()

        return _Ctx()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# --------------------------------------------------------------------------
# correctness


def canonical_digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result, using the same canonical
    cell form and column-name ordering as tests/oracle_harness."""
    from tests.oracle_harness import _canon_rows

    blob = json.dumps([sorted(columns), _canon_rows(columns, rows)])
    return hashlib.sha256(blob.encode()).hexdigest()


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, str]:
    """Digest of each registry oracle's DuckDB result over ``sf_dir``."""
    from orders_kafka_streams_spark.operators import all_oracles
    from tests.oracle_harness import duck_con

    oracles = all_oracles()
    con = duck_con(sf_dir)
    try:
        out = {}
        for name in names:
            cur = con.execute(oracles[name])
            out[name] = canonical_digest([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


# --------------------------------------------------------------------------
# run bookkeeping


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
