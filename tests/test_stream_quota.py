"""Streaming per-source admission quota
(streaming/keyed_state.stream_source_quota):
hand-computed admission expectations plus the batch-split invariance
q_stream_source_quota relies on — the admitted SET (and each row's
admission rank) must be identical whether the stream drains in one
micro-batch or one file per trigger (the per-source counter carries
across batches).

Like the EWMA/transition cursors, the invariance holds when batches
respect doc_id order (file sources replay history in order) — a batch
delivering an earlier doc after a later one would admit out of order;
same contract as stream_ewma.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from orders_kafka_streams_spark.streaming.pipeline import run_to_memory
from orders_kafka_streams_spark.streaming.keyed_state import stream_source_quota

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("margin", T.DoubleType()),
    ]
)

#: (doc_id, source, margin) — already quality-filtered, as the query
#: wires it. srcA has 4 candidates against quota 2 (cap binds mid-
#: stream), srcB exactly 2 (cap binds on the last row), srcC 1 (cap
#: never binds).
ROWS = [
    (1, "srcA", 0.9),
    (2, "srcB", 0.1),
    (3, "srcA", 0.2),
    (5, "srcC", 0.5),
    (6, "srcA", 0.8),  # over quota: dropped
    (7, "srcB", 0.7),
    (9, "srcA", 0.4),  # over quota: dropped
]

QUOTA = 2

#: expected (doc_id, source, margin, src_rank)
EXPECTED = {
    (1, "srcA", 0.9, 1),
    (3, "srcA", 0.2, 2),
    (2, "srcB", 0.1, 1),
    (7, "srcB", 0.7, 2),
    (5, "srcC", 0.5, 1),
}


def _write(spark, tmp_path, splits):
    """Write ROWS into len(splits)+1 files, split at the given indexes
    (rows are doc_id-ordered, so file k precedes file k+1)."""
    src = os.path.join(str(tmp_path), "docs")
    bounds = [0, *splits, len(ROWS)]
    for i in range(len(bounds) - 1):
        part = ROWS[bounds[i] : bounds[i + 1]]
        spark.createDataFrame(part, schema=SCHEMA).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}")
        )
    return src + "/*"


def _admitted(spark, path, one_file_per_trigger):
    reader = spark.readStream.schema(SCHEMA)
    if one_file_per_trigger:
        reader = reader.option("maxFilesPerTrigger", 1)
    scored = reader.parquet(path)
    tab = run_to_memory(stream_source_quota(scored, QUOTA), "t_quota")
    return {
        (r.doc_id, r.source, r.margin, r.src_rank)
        for r in spark.table(tab).collect()
    }


def test_single_batch_admissions(spark, tmp_path):
    path = _write(spark, tmp_path, splits=[])
    assert _admitted(spark, path, one_file_per_trigger=False) == EXPECTED


def test_batch_split_invariance(spark, tmp_path):
    """Three files → three micro-batches; srcA's counter is already
    full when file 2's doc 6 arrives, and srcB fills across the second
    split — the admitted set must equal the single-batch drain."""
    path = _write(spark, tmp_path, splits=[3, 5])
    assert _admitted(spark, path, one_file_per_trigger=True) == EXPECTED


def test_stream_matches_arrival_order_batch_rule(spark, sf_dir):
    """End-to-end on sf0.001: the streamed admissions equal the batch
    first-N-by-doc_id rule among margin-passing docs (the oracle's
    form, computed here with the batch classifier directly)."""
    from orders_kafka_streams_spark.operators.curation import (
        SOURCE_QUOTA,
        classifier_scores,
    )
    from orders_kafka_streams_spark.operators.streaming_queries import QUERIES as SQ
    from orders_kafka_streams_spark.operators.text import _tokenized
    from orders_kafka_streams_spark.operators.sampling import global_prefix_sums

    got = {
        (r.doc_id, r.source, r.margin, r.src_rank)
        for r in SQ["q_stream_source_quota"](spark, sf_dir).collect()
    }
    base = _tokenized(spark, sf_dir, "source").filter(F.size("t") > 0)
    scored = (
        classifier_scores(base)
        .filter(F.col("keep"))
        .select("doc_id", "source", "margin", F.lit(1).alias("_one"))
    )
    ranked = global_prefix_sums(
        scored, [F.asc("doc_id")], {"rk0": "_one"}, part=("source",)
    )
    want = {
        (r.doc_id, r.source, r.margin, r.rk0 + 1)
        for r in ranked.filter(F.col("rk0") + 1 <= SOURCE_QUOTA).collect()
    }
    assert got == want
