"""Structured Streaming twin of the batch pipeline (SURVEY §2.6, §3).

The reference stitches four sub-topologies through intermediate Kafka
topics (Main.java:131-208); here the same dataflow is ONE streaming
plan: source → stream-stream join (state + watermark eviction replace
the hand-rolled KV store + punctuator, OrderProcessor.java:99-206) →
windowed aggregation (append mode replaces suppress-until-close,
Main.java:198) → sink.

Tests drive these with a file source + memory sink
(``processAllAvailable`` makes a batch of files flow through the full
streaming engine, including watermark-driven finalization in the
trailing no-data micro-batch); production swaps in the Kafka builders
from sources/kafka.py — the transformations are identical objects.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql import types as T

from ..functions.portable import epoch_ms
from ..session import tune

#: explicit read schema for the events parquet (streaming sources never
#: infer). ts is TIMESTAMP_NTZ — the generator writes parquet
#: TIMESTAMP(MICROS, isAdjustedToUTC=false); with the session pinned to
#: UTC (session.py) the NTZ→TIMESTAMP cast below is instant-preserving
#: and matches DuckDB's naive-timestamp reading of the same file.
EVENTS_FILE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _stream_dir(sf_dir: str, table: str) -> str:
    """File streaming sources need a flat DIRECTORY of data files;
    expose the table through symlinks in a stable temp dir. A
    single-file table links once; a directory table (multi-part
    parquet, e.g. the generated sf1 bench corpus) links each part
    file — the streaming source does not recurse into a linked
    subdirectory."""
    import hashlib
    import tempfile

    import shutil

    src = os.path.join(sf_dir, f"{table}.parquet")
    key = hashlib.md5(src.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), "okss-stream", f"{table}-{key}")
    os.makedirs(d, exist_ok=True)
    # a regenerated source directory gets NEW part-file names, leaving
    # dangling links (and stale live ones) behind — any dangling link
    # means the farm predates the current source, so rebuild it
    for entry in os.listdir(d):
        if not os.path.exists(os.path.join(d, entry)):  # follows symlink
            shutil.rmtree(d)
            os.makedirs(d)
            break
    if os.path.isdir(src):
        for part in os.listdir(src):
            if not part.endswith(".parquet"):
                continue
            link = os.path.join(d, part)
            if not os.path.exists(link):
                os.symlink(os.path.join(src, part), link)
    else:
        link = os.path.join(d, f"{table}.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)
    return d


DOCUMENTS_FILE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def documents_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet (test-mode source) — the
    continuously-ingesting corpus face of the dedup pipeline."""
    tune(spark)
    return spark.readStream.schema(DOCUMENTS_FILE_SCHEMA).parquet(
        _stream_dir(sf_dir, "documents")
    )


EMBEDDINGS_FILE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def embeddings_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the embeddings parquet (test-mode source) — the
    continuously-ingesting face of the vector index."""
    tune(spark)
    return spark.readStream.schema(EMBEDDINGS_FILE_SCHEMA).parquet(
        _stream_dir(sf_dir, "embeddings")
    )


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (test-mode source).

    The NTZ→TIMESTAMP cast gives watermarks/windows a TZ-aware event
    time; under the UTC session timezone it is a relabeling, not a
    shift, so epoch_ms(window bounds) equals DuckDB's epoch arithmetic
    on the naive values.
    """
    tune(spark)
    raw = spark.readStream.schema(EVENTS_FILE_SCHEMA).parquet(_stream_dir(sf_dir, "events"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_tumbling_agg(
    events: DataFrame,
    watermark: str = "60 seconds",
    window: str = "1 minute",
    time_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling aggregation — the reference's windowed
    count+sum (Main.java:168-196) with grace == watermark delay
    (Main.java:169) and suppress-until-close == append output mode.

    ``time_col`` selects the windowing clock. The default ``ts`` is
    EVENT time — the Spark-native choice. The reference instead
    windows by ARRIVAL wall-clock (WallclockTimestampExtractor,
    Main.java:83) while still computing processing.ms from event
    timestamps — the documented semantic delta (SURVEY §2.6
    ts-extract). Exact reference fidelity = pass an ingest-stamped
    column (``current_timestamp()`` at ingest; deterministic tests
    stamp arrival explicitly): under an arrival clock records are
    in-order by construction, so nothing is ever late-dropped — an
    out-of-order record is MISFILED into the window that was open
    when it arrived instead. tests/test_proc_time_fidelity.py pins
    both outputs on a crafted late-arrival fixture (VERDICT r9
    item 6)."""
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            epoch_ms(F.col("window.start")).alias("wstart_ms"),
            epoch_ms(F.col("window.end")).alias("wend_ms"),
            "event_type",
            "n",
            "total_value",
        )
    )


def _order_sides(
    events: DataFrame,
    placed_type: str,
    fulfilled_type: str,
    watermark: str,
    *fulfilled_extra: Column,
) -> tuple[DataFrame, DataFrame]:
    """The placed (``p_*``) and fulfilled (``f_*``) sides of the pair
    match, each watermarked on its own event time. ``fulfilled_extra``
    adds columns to the fulfilled side."""
    placed = (
        events.filter(F.col("event_type") == placed_type)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event_id"),
        )
        .withWatermark("p_ts", watermark)
    )
    fulfilled = (
        events.filter(F.col("event_type") == fulfilled_type)
        .select(
            F.col("user_id").alias("f_user"),
            F.col("ts").alias("f_ts"),
            F.col("event_id").alias("f_event_id"),
            *fulfilled_extra,
        )
        .withWatermark("f_ts", watermark)
    )
    return placed, fulfilled


def stream_pair_join(
    events: DataFrame,
    placed_type: str = "click",
    fulfilled_type: str = "purchase",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner equi-join with an interval condition — the
    idiomatic form of the reference's pair match (§2.4 join-order):
    Spark's join state + watermark eviction replace the hand-rolled
    store/punctuator. Emits every (placed, fulfilled) pair with
    fulfilled.ts ∈ [placed.ts, placed.ts + window]."""
    placed, fulfilled = _order_sides(
        events, placed_type, fulfilled_type, watermark, F.col("value").alias("f_value")
    )
    return placed.join(
        fulfilled,
        F.expr(f"p_user = f_user AND f_ts >= p_ts AND f_ts <= p_ts + interval {window}"),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "p_event_id",
        "f_event_id",
        epoch_ms(F.col("p_ts")).alias("placed_ms"),
        epoch_ms(F.col("f_ts")).alias("fulfilled_ms"),
        (epoch_ms(F.col("f_ts")) - epoch_ms(F.col("p_ts"))).alias("processing_ms"),
        F.round("f_value", 4).alias("fulfilled_value"),
    )


def stream_dead_letter(
    events: DataFrame,
    placed_type: str = "click",
    fulfilled_type: str = "purchase",
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming dead-letter route — the reference's expiry TODO
    (OrderProcessor.java:184,200) as a first-class STREAM, not a log
    line: fulfilled events with no matchable placed partner.

    A LEFT OUTER stream-stream interval join from the fulfilled side:
    while a matching placed row may still arrive the fulfilled row
    waits in join state; once the watermark passes its event time (no
    placed row with p_ts ≤ f_ts can arrive anymore) the engine emits
    it exactly once, NULL-padded — the filter below routes those rows
    to the dead-letter sink. Matched rows flow through the same join
    and are simply not selected here;
    streaming/sinks.matched_dead_letter_sink fans both branches out of
    one join in one foreachBatch write.

    Batch twin: operators/pipeline.dead_letters (last-click carry);
    this one is pair-complete (any click in the window matches, not
    just the latest), which is the join-based dead-letter semantics.
    """
    joined = stream_pair_left_outer(events, placed_type, fulfilled_type, window, watermark)
    return joined.filter(F.col("p_event_id").isNull()).select(
        F.col("f_event_id").alias("event_id"),
        F.col("f_user").alias("user_id"),
        epoch_ms(F.col("f_ts")).alias("event_timestamp"),
        F.lit("no.matching.placed").alias("reason"),
    )


def stream_pair_left_outer(
    events: DataFrame,
    placed_type: str = "click",
    fulfilled_type: str = "purchase",
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """The raw LEFT OUTER stream-stream interval join (fulfilled side
    preserved): matched rows carry the placed columns, finalized
    unmatched rows arrive NULL-padded. ``stream_dead_letter`` filters
    the nulls; ``streaming/sinks.matched_dead_letter_sink`` fans BOTH
    branches to their sinks from this one join's state."""
    placed, fulfilled = _order_sides(events, placed_type, fulfilled_type, watermark)
    return fulfilled.join(
        placed,
        F.expr(
            f"f_user = p_user AND f_ts >= p_ts AND f_ts <= p_ts + interval {window}"
        ),
        "left_outer",
    )


#: state partition cap for :func:`run_to_memory`'s drain
DRAIN_PARTITIONS = 8


def process_all_available(q: StreamingQuery) -> None:
    """``processAllAvailable``, then stop the query — also when the
    drain raises, so a failed drain never leaves it running."""
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_to_memory(result: DataFrame, name: str) -> str:
    """Execute a streaming DataFrame to completion into an append-mode
    memory sink; returns the sink table name. Synchronous:
    processAllAvailable drains the source, then the engine's no-data
    micro-batch finalizes watermark-closed windows before stop().

    The drain caps the STATE partition count at
    :data:`DRAIN_PARTITIONS`: stateful operators pay a per-partition
    per-micro-batch state-store commit, so partitions must be sized to
    state VOLUME, not CPU count — the sf0.1 dead-letter drain, same
    output, took 4.8 s at 32 partitions and 2.4 s at 8 (medians of 3,
    4-core host, :func:`~orders_kafka_streams_spark.session.get_spark`
    session). A
    long-running deployment sizes this once at first checkpoint (state
    partitions are fixed by the checkpoint thereafter).
    """
    spark = result.sparkSession
    for q in spark.streams.active:
        if q.name == f"mem_{name}":
            q.stop()
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(min(DRAIN_PARTITIONS, int(saved))))
    try:
        process_all_available(
            result.writeStream.format("memory")
            .queryName(f"mem_{name}")
            .outputMode("append")
            .start()
        )
    finally:
        spark.conf.set(key, saved)
    return f"mem_{name}"
