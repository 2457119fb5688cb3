"""AQE runtime re-planning: skewed-join split and partition coalescing.

At 100 TB a hot key turns one shuffle partition into a straggler that
dominates the stage; AQE's skew-join rule splits it into sub-reads at
runtime. This test manufactures the skew (one key owning ~20% of a
200k-row fact), forces a sort-merge join, and asserts the FINAL
adaptive plan actually applied the split — pinning that our session
config (session.tune) keeps the rule armed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def test_aqe_splits_skewed_join_partition(spark):
    saved = {k: spark.conf.get(k, None) for k in SKEW_CONFS}
    try:
        for k, v in SKEW_CONFS.items():
            spark.conf.set(k, v)
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 5 == 0, F.lit(7)).otherwise(F.col("id") % 997).alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(997).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        j = fact.join(dim.hint("MERGE"), "k").groupBy().agg(F.count(F.lit(1)).alias("n"))
        [row] = j.collect()
        assert row.n == 200_000
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        # the skew handling marker in the final adaptive SMJ plan
        assert "skew=true" in final, final[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_SKEW_CORPUS_PROBE = """
import os, sys
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
spark = (SparkSession.builder.master("local[8]")
    .config("spark.shuffle.compress", "false")
    .config("spark.shuffle.spill.compress", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
d = sys.argv[1]
for k, v in {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.shuffle.partitions": "512",
}.items():
    spark.conf.set(k, v)
li = spark.read.parquet(os.path.join(d, "lineitem.parquet"))
o = spark.read.parquet(os.path.join(d, "orders.parquet")).select("o_orderkey", "o_custkey")
j = li.join(o.hint("MERGE"), li.l_orderkey == o.o_orderkey).select(F.sum("l_quantity"))
j.collect()
final = j._jdf.queryExecution().executedPlan().toString()
print("SKEW_SPLIT", "skew=true" in final, "FINAL", "isFinalPlan=true" in final)
"""


def test_aqe_splits_hot_order_on_skew_corpus():
    """The same assertion on REAL data (VERDICT r5 item 2): the
    sf1skew corpus carries one order with 20k cloned lineitems
    (tools/gen_benchdata.py --skew); a sort-merge lineitem⋈orders
    join under scaled-down thresholds must show the skew=true split
    in the final adaptive plan. Runs in a SUBPROCESS because the
    probe needs shuffle compression OFF (a static app conf): lz4
    collapses 20k repeats of one key to a few KB at toy scale, hiding
    the byte-level skew that at 100 TB sits in the GBs and trips the
    256 MB production default — uncompressed bytes restore the
    at-scale relative shape. Skipped when the gitignored perf corpus
    hasn't been generated yet (tools/gen_benchdata.py --skew builds it)."""
    import os
    import subprocess
    import sys

    import pytest

    sf1skew = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".benchdata",
        "sf1skew",
    )
    if not os.path.exists(os.path.join(sf1skew, "_COMPLETE")):
        pytest.skip("sf1skew corpus not generated (run tools/gen_benchdata.py --skew)")
    out = subprocess.run(
        [sys.executable, "-c", _SKEW_CORPUS_PROBE, sf1skew],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "SKEW_SPLIT True" in out.stdout, out.stdout
    assert "FINAL True" in out.stdout, out.stdout


def test_aqe_coalesces_small_partitions(spark):
    # 32 shuffle partitions configured, but a tiny aggregation should
    # run far fewer reducers after AQE coalescing (AQEShuffleRead).
    small = spark.range(1_000).groupBy((F.col("id") % 7).alias("g")).count()
    small.collect()
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan
