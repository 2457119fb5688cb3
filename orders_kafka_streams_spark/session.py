"""SparkSession factory + runtime tuning.

Two entry points:

- :func:`get_spark` builds a session for tests / bench (local mode).
- :func:`tune` applies the runtime-settable confs we rely on to an
  *existing* session (the correctness driver owns its own session; we
  must not assume its build-time config).

Every per-session scratch directory comes from :func:`session_dir`
(or its two forms :func:`fresh_session_dir` and
:func:`write_once_per_session`), which also owns their cleanup.

Scale stance (100 TB): everything here is runtime-settable and safe on
a real cluster — AQE for runtime re-planning + skew joins, partition
coalescing, and a UTC session timezone so results are engine-portable.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import SparkSession

# Runtime-settable confs applied to any session before running a query.
_RUNTIME_CONF = {
    # Engine-portable timestamps (DuckDB/parquet are UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing, skew-join splitting,
    # dynamic join-strategy switching. Essential at 100 TB, harmless at sf0.01.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas exchange (collect, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable in Python workers.

    The correctness driver may run queries from a cwd where this repo
    is not on PYTHONPATH; workers (separate processes) then cannot
    unpickle any UDF that references package code. Shipping a zip via
    ``addPyFile`` fixes that session-wide — the same mechanism used to
    deploy the package to a real cluster's executors.
    """
    marker = "_okss_pkg_shipped"
    sc = spark.sparkContext
    if getattr(sc, marker, False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(), "okss_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    sc.addPyFile(zpath)
    setattr(sc, marker, True)


#: a sibling scratch dir untouched this long may be swept (owner dead)
SCRATCH_IDLE_S = 3600
_OWNER = "_OWNER"


def _owner_alive(path: str) -> bool:
    try:
        with open(os.path.join(path, _OWNER)) as fh:
            pid = int(fh.read().strip())
    except (OSError, ValueError):
        return False  # no readable owner record: the age gate decides
    return os.path.exists(f"/proc/{pid}")


def session_dir(spark: SparkSession, namespace: str, sf_dir: str) -> str:
    """This session's scratch directory for ``namespace``:
    ``<tmp>/<namespace>/<md5(sf_dir:app_id)[:8]>``, created if missing.

    The key includes the Spark applicationId, so concurrent sessions on
    one sf_dir never share a directory — and every finished session
    leaves one behind. Each call therefore records the driver pid in
    ``_OWNER`` (``_``-prefixed, so Spark's readers skip it), touches
    the directory's mtime, and removes a sibling only when it is BOTH
    idle for more than :data:`SCRATCH_IDLE_S` AND its owner process is
    gone: a live session's lazy DataFrame can hold its paths far longer
    than it calls here."""
    app_id = spark.sparkContext.applicationId
    key = hashlib.md5(f"{sf_dir}:{app_id}".encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), namespace)
    out = os.path.join(base, key)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, _OWNER), "w") as fh:
        fh.write(str(os.getpid()))
    os.utime(out, None)
    now = time.time()
    for d in os.listdir(base):
        p = os.path.join(base, d)
        try:
            idle = d != key and now - os.path.getmtime(p) > SCRATCH_IDLE_S
        except OSError:
            continue  # swept concurrently
        if idle and not _owner_alive(p):
            shutil.rmtree(p, ignore_errors=True)
    return out


def _clear(out: str) -> None:
    """Empty a session dir, keeping its ``_OWNER`` record."""
    for name in os.listdir(out):
        if name == _OWNER:
            continue
        p = os.path.join(out, name)
        if os.path.isdir(p):
            shutil.rmtree(p)
        else:
            os.remove(p)


def fresh_session_dir(spark: SparkSession, namespace: str, sf_dir: str) -> str:
    """:func:`session_dir`, emptied: for an output each call rebuilds."""
    out = session_dir(spark, namespace, sf_dir)
    _clear(out)
    return out


def write_once_per_session(
    spark: SparkSession, namespace: str, sf_dir: str, write: Callable[[str], None]
) -> str:
    """:func:`session_dir` holding ``write(path)``'s output, written once
    per session. ``write`` must ADD to ``path`` (append mode): the
    directory exists and holds ``_OWNER``. ``_WRITTEN`` is recorded
    only after ``write`` returns, so a crash mid-write leaves an
    unmarked directory that the next call empties and rewrites —
    rerun-to-converge, never a partial read."""
    out = session_dir(spark, namespace, sf_dir)
    marker = os.path.join(out, "_WRITTEN")
    if not os.path.exists(marker):
        _clear(out)
        write(out)
        open(marker, "w").close()
    return out


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an existing session (driver- or test-owned)."""
    for k, v in _RUNTIME_CONF.items():
        spark.conf.set(k, v)
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    elif spark.conf.get("spark.sql.shuffle.partitions") == "200":
        # a driver-owned session may come in with Spark's 200 default —
        # wrong in both directions locally; right-size to the host once,
        # without clobbering a deliberately configured value.
        spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "orders_kafka_streams_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local session sized for this host.

    On a real cluster the same query code runs unchanged — only the
    master URL and executor sizing differ; nothing in the operators
    assumes local mode.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 24g default (r11): in local mode the driver heap IS the
        # executor heap, and at 8g the scale tiers' ~20 persisted
        # relations squeezed execution memory enough to inflate the
        # Arrow-kernel queries ~40% in-tier (controlled quiet A/B:
        # q_semdedup sf1skew min-of-2 3.53 s at 8g vs 2.49 s at 24g,
        # identical code/corpus) — storage churn masquerading as the
        # queries' "load response". The host profile is 32 cores /
        # 128 GiB; 24g leaves ample headroom and the env override
        # stands for smaller hosts.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/okss-warehouse")
        # Checkpoints rename through FileSystem, not FileContext: on a
        # local path FileContext's rename stats both ends as links, and
        # without libhadoop each stat forks `readlink` (~150 per trigger
        # of the pair join; one 15 s orders_stream run forked 5,264 of
        # its 7,351 child processes, and 2,768 with this, none of them
        # `readlink`). The checksum wrapper and the check-then-rename
        # offset-log guard are the same under either manager.
        # Build-time only: `tune` leaves a foreign session's manager
        # alone (on HDFS, FileContext renames atomically).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark, shuffle_partitions)
