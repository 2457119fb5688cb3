"""Streaming interleave admission
(streaming/keyed_state.stream_interleave_ranks):
hand-computed rank expectations plus the batch-split invariance
q_stream_interleave relies on — every row's per-source arrival rank
(and therefore its downstream stride key and global position) must be
identical whether the stream drains in one micro-batch or one file
per trigger (the per-source counter carries across batches).

Like the EWMA/quota/transition cursors, the invariance holds when
batches respect doc_id order (file sources replay history in order);
same contract as stream_ewma.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from orders_kafka_streams_spark.streaming.keyed_state import stream_interleave_ranks
from orders_kafka_streams_spark.streaming.pipeline import run_to_memory

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
    ]
)

#: srcA dominates (4 docs), srcB mid (2), srcC rare (1) — the shape
#: where stride interleaving visibly differs from concatenation.
ROWS = [
    (1, "srcA"),
    (2, "srcB"),
    (3, "srcA"),
    (5, "srcC"),
    (6, "srcA"),
    (7, "srcB"),
    (9, "srcA"),
]

#: expected (doc_id, source, within_rank): pure arrival order per source
EXPECTED = {
    (1, "srcA", 1),
    (3, "srcA", 2),
    (6, "srcA", 3),
    (9, "srcA", 4),
    (2, "srcB", 1),
    (7, "srcB", 2),
    (5, "srcC", 1),
}


def _write(spark, tmp_path, splits):
    src = os.path.join(str(tmp_path), "docs")
    bounds = [0, *splits, len(ROWS)]
    for i in range(len(bounds) - 1):
        part = ROWS[bounds[i] : bounds[i + 1]]
        spark.createDataFrame(part, schema=SCHEMA).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}")
        )
    return src + "/*"


def _ranks(spark, path, one_file_per_trigger):
    reader = spark.readStream.schema(SCHEMA)
    if one_file_per_trigger:
        reader = reader.option("maxFilesPerTrigger", 1)
    docs = reader.parquet(path)
    tab = run_to_memory(stream_interleave_ranks(docs), "t_interleave")
    return {
        (r.doc_id, r.source, r.within_rank) for r in spark.table(tab).collect()
    }


def test_single_batch_ranks(spark, tmp_path):
    path = _write(spark, tmp_path, splits=[])
    assert _ranks(spark, path, one_file_per_trigger=False) == EXPECTED


def test_batch_split_invariance(spark, tmp_path):
    """Three files → three micro-batches; srcA's counter spans all
    three and srcB's spans the second split — ranks must equal the
    single-batch drain exactly."""
    path = _write(spark, tmp_path, splits=[3, 5])
    assert _ranks(spark, path, one_file_per_trigger=True) == EXPECTED


def test_stream_matches_arrival_order_batch_rule(spark, sf_dir):
    """End-to-end on the test corpus: the streamed schedule equals the
    batch arrival-order stride rank (the oracle's form, computed here
    with the batch two-pass machinery directly)."""
    from orders_kafka_streams_spark.operators.sampling import (
        global_prefix_sums,
        global_row_numbers,
    )
    from orders_kafka_streams_spark.operators.streaming_queries import QUERIES as SQ
    from orders_kafka_streams_spark.operators.text import _tokenized

    got = {
        (r.doc_id, r.source, r.within_rank, r.interleave_pos)
        for r in SQ["q_stream_interleave"](spark, sf_dir).collect()
    }
    d = _tokenized(spark, sf_dir, "source").select(
        "doc_id", "source", F.size("t").alias("n_tokens")
    )
    w = d.groupBy("source").agg(
        F.sqrt(F.sum("n_tokens").cast("double")).alias("wt")
    )
    ranked = global_prefix_sums(
        d.select("doc_id", "source", F.lit(1).alias("_one")),
        [F.asc("doc_id")],
        {"rk0": "_one"},
        part=("source",),
    ).select("doc_id", "source", (F.col("rk0") + 1).alias("within_rank"))
    stride = ranked.join(F.broadcast(w), "source").select(
        "doc_id",
        "source",
        "within_rank",
        (F.col("within_rank").cast("double") / F.col("wt")).alias("key"),
    )
    pos = global_row_numbers(stride, ["key", "source", "within_rank"])
    want = {
        (r.doc_id, r.source, r.within_rank, r.rn) for r in pos.collect()
    }
    assert got == want
