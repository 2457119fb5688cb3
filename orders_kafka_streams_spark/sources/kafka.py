"""Kafka source/sink builders (the production face of the source abstraction).

Maps the reference's topic plumbing (Main.java:137-205: consume
`order`/`order-keyed`/`order-info`/`facility-info`, produce the next
hop) onto Structured Streaming's Kafka connector. One logical plan
replaces the reference's four sub-topologies — intermediate topics
become *optional* debug sinks instead of mandatory broker round-trips.

These builders are untested: no test, package module or benchmark
imports ``read_stream`` or ``write_stream``, and the Kafka connector
jar (spark-sql-kafka-0-10) is not a dependency of the package, so not
even their plan construction is exercised. They are meant for a cluster
with that jar on the classpath.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .json_edge import decode_json, json_encode


def read_stream(
    spark: SparkSession,
    topic: str,
    schema: T.StructType,
    bootstrap_servers: str = "localhost:9092",
    starting_offsets: str = "earliest",  # reference: auto.offset.reset=earliest (Main.java:62,82)
    min_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Subscribe to a topic and decode its JSON values.

    Returns ``(good, corrupt)`` streams (see json_edge.decode_json).
    ``min_partitions`` over-splits Kafka partitions so source
    parallelism isn't capped by the topic's partition count — the
    Spark-native replacement for ``numStreamThreads`` (Main.java:63).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    if min_partitions:
        reader = reader.option("minPartitions", str(min_partitions))
    raw = reader.load()  # key/value binary + topic/partition/offset/timestamp
    return decode_json(raw, schema, value_col="value", keep_cols=("timestamp",))


def write_stream(
    df: DataFrame,
    topic: str,
    checkpoint_location: str,
    bootstrap_servers: str = "localhost:9092",
    key_col: str | None = None,
    output_mode: str = "append",
):
    """JSON-encode and produce to a topic; exactly-once via checkpointing.

    Strictly stronger delivery than the reference's at-least-once
    default (Main.java:76-88 sets no EOS config).
    """
    encoded = json_encode(df, key_col=key_col)
    return (
        encoded.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_location)
        .outputMode(output_mode)
    )
