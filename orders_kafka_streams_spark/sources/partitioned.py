"""Hive-partitioned table layout: the at-rest pruning strategy.

The bucketed layout (:mod:`.bucketing`) is the co-location half of
the 100 TB storage story (zero-shuffle fact-fact joins); this is the
PRUNING half: facts written ``partitionBy(date)`` let any predicate on
the partition column — static OR dynamic — skip whole directories at
file-listing time, so a one-week query over a 10-year corpus reads
~0.2% of the files. The two query faces:

- q_partition_prune: a static predicate on the partition column shows
  up in the scan's ``PartitionFilters`` (planning-time pruning);
- q_partition_dpp: a join against a filtered calendar dim triggers
  Dynamic Partition Pruning — the fact scan carries a
  ``dynamicpruning`` subquery fed by the dim's broadcast, so the fact
  directories are pruned by data the optimizer only learns at runtime.

Mirrors the reference's at-rest story only in spirit — the reference
(dhoard/orders-kafka-streams) keeps all state in Kafka topics +
RocksDB; partitioned parquet is the Spark-native equivalent of its
date-keyed topic retention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import write_once_per_session
from .tables import load_table

PARTITION_COL = "event_date"


def partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table re-laid-out as date-partitioned parquet
    (written once per session), read back through the partition-aware
    reader. ``event_date`` becomes a partition DIRECTORY column —
    the scan prunes on it before reading a byte of data."""

    def write(out: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .withColumn(PARTITION_COL, F.to_date("ts"))
            .write.mode("append")
            .partitionBy(PARTITION_COL)
            .parquet(out)
        )

    out = write_once_per_session(spark, "okss-partitioned", sf_dir, write)
    return spark.read.parquet(out)


def calendar_dim(spark: SparkSession, start: str = "2024-01-01", days: int = 31) -> DataFrame:
    """A tiny generated calendar dimension (d, dow) — the broadcast
    side of the DPP join. Spark dayofweek(): 1=Sunday … 7=Saturday."""
    return spark.range(days).select(
        F.date_add(F.lit(start).cast("date"), F.col("id").cast("int")).alias("d")
    ).withColumn("dow", F.dayofweek("d"))
