"""Proof of the zero-shuffle co-located join: bucketed tables joined on
their bucket key produce a plan with NO Exchange."""

from __future__ import annotations

from pyspark.sql import functions as F

from orders_kafka_streams_spark.plans import explain_str
from orders_kafka_streams_spark.plans.budget import analyze_plan
from orders_kafka_streams_spark.sources.bucketing import bucketed_pair
from orders_kafka_streams_spark.sources.tables import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bl, br = bucketed_pair(spark, li, orders, "l_orderkey", "o_orderkey")

    # disable auto-broadcast: at test SF the dim side is tiny and the
    # planner would broadcast (bypassing buckets); at 100 TB both sides
    # are facts and the shuffle-free sort-merge below is the real plan.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bl.join(br, bl.l_orderkey == br.o_orderkey)
        plan = explain_str(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan

        # same join on the unbucketed inputs shuffles both sides
        unbucketed = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert analyze_plan(unbucketed)["exchanges"] >= 2

        # and the results agree
        a = joined.agg(F.count(F.lit(1)), F.round(F.sum("l_quantity"), 2)).collect()
        b = unbucketed.agg(F.count(F.lit(1)), F.round(F.sum("l_quantity"), 2)).collect()
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
