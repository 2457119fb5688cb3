"""Exactly-once sink patterns (SURVEY §2.6 `exactly-once`).

Structured Streaming guarantees exactly-once END-TO-END only when the
sink is idempotent or transactional with respect to the micro-batch id:
after a crash between "sink wrote batch N" and "checkpoint committed
batch N", the engine REPLAYS batch N from the checkpointed offsets, so
a naive append sink double-writes. The reference app is at-least-once
(`Main.java:76-88` — Kafka producer without EOS); this module provides
the strictly-stronger idempotent-sink half of Spark's contract:

- ``idempotent_parquet_sink``: ``foreachBatch`` writer that OVERWRITES
  a deterministic per-batch directory (``.../batch_id=N``). A replay of
  batch N rewrites the same directory with the same rows — convergent,
  no duplicates — which is exactly the dynamic-partition-overwrite
  pattern a warehouse table (or Delta/Iceberg MERGE) uses at scale.
- ``matched_dead_letter_sink``: the pair join's matched and dead-letter
  branches from ONE write job per batch, with no persist (a cache would
  be filled, read once and dropped). The write is staged under
  ``_stage/batch_id=N`` and each branch is moved into place after
  removing any leftover of a crashed attempt, so a replay converges.
  The moves are plain renames: ``out_dir`` must be a local path.
- ``swap_snapshot_write``: crash-safe replacement of a whole snapshot
  table (write beside, then rename-aside swap), also on local paths.

The built-in file sink achieves the same via its transaction log
(tests/test_late_data.py::test_checkpoint_recovery_no_duplicates); the
foreachBatch form is what users need for sinks WITHOUT a log (JDBC,
plain object stores), so both are covered.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


def matched_dead_letter_sink(out_dir: str):
    """foreachBatch router for the LEFT OUTER pair join
    (streaming/pipeline.stream_pair_left_outer): each micro-batch's
    matched rows land in ``matched/batch_id=N`` and the NULL-padded
    finalized rows in ``dead_letter/batch_id=N`` — the reference's
    TODO side sink (OrderProcessor.java:184) as two branches of ONE
    join's state.

    One write job per batch: every row is tagged with its branch and
    the batch is written once, ``partitionBy("branch")``, to
    ``_stage/batch_id=N``; each ``branch=...`` directory is then moved
    to its ``batch_id=N`` place (the tag lives only in the directory
    name, so the files hold the join's columns). Nothing is persisted:
    the batch has one consumer, so its rows stream from the join into
    the writer instead of being cached and read back by a second job.
    A branch with no rows gets a schema-only parquet file written by
    pyarrow from the batch's schema, so it reads back as zero rows
    without a second Spark job (one costs 55–76 ms).

    Replay-safe: the staged write overwrites whatever a crashed attempt
    left there, and each move first removes its target, so a replay of
    batch N converges on the same rows whatever step the crash
    interrupted. The moves are ``os`` renames on a local path, as in
    :func:`swap_snapshot_write`."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    def write(batch_df: DataFrame, batch_id: int) -> None:
        stage = os.path.join(out_dir, "_stage", f"batch_id={batch_id}")
        branch = F.when(F.col("p_event_id").isNull(), "dead_letter").otherwise("matched")
        batch_df.withColumn("branch", branch).write.mode("overwrite").partitionBy(
            "branch"
        ).parquet(stage)
        for name in ("matched", "dead_letter"):
            staged = os.path.join(stage, f"branch={name}")
            if not os.path.isdir(staged):
                os.makedirs(staged)
                empty = to_arrow_schema(batch_df.schema).empty_table()
                pq.write_table(empty, os.path.join(staged, "part-00000.parquet"))
            target = os.path.join(out_dir, name, f"batch_id={batch_id}")
            if os.path.isdir(target):
                shutil.rmtree(target)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            os.replace(staged, target)
        shutil.rmtree(stage)

    return write


def idempotent_parquet_sink(out_dir: str):
    """foreachBatch callable: write each micro-batch to its own
    ``batch_id=N`` directory with overwrite semantics — replay-safe."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return write


def swap_snapshot_write(df: DataFrame, path: str, batch_id: int, coalesce: int = 4) -> None:
    """Crash-safe snapshot replacement for plain-parquet seam tables
    (SCD2 dimension, IVM view cells): write beside, then rename-aside
    swap, so one valid snapshot exists on disk at every instant. A
    crash between the renames leaves ``.old-{id}`` intact;
    rmtree-then-replace would lose the table. A leftover ``.old-{id}``
    from a prior completed swap of the same batch (crash after both
    renames, before cleanup) is deleted first — ``os.replace`` cannot
    overwrite a non-empty directory, and the leftover is safe to drop
    because ``path`` exists. Coalesced: snapshot seams are small, and
    32 shuffle partitions would write 32 tiny files re-listed every
    batch (measured 14.5 → 10.8 s at sf0.1 on the SCD2 seam). On a
    lakehouse table a transactional MERGE INTO replaces this whole
    block."""
    tmp_path = f"{path}.tmp-{batch_id}"
    old_path = f"{path}.old-{batch_id}"
    df.coalesce(coalesce).write.mode("overwrite").parquet(tmp_path)
    if os.path.exists(path):
        shutil.rmtree(old_path, ignore_errors=True)
        os.replace(path, old_path)
    os.replace(tmp_path, path)
    shutil.rmtree(old_path, ignore_errors=True)
