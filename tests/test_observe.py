from __future__ import annotations

from pyspark.sql import functions as F

from orders_kafka_streams_spark.plans import pushed_filters
from orders_kafka_streams_spark.plans.budget import analyze_plan
from orders_kafka_streams_spark.sources.tables import load_table


def test_explain_helpers(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 10).groupBy("l_returnflag").count()
    assert analyze_plan(df)["exchanges"] == 1
    assert any("GreaterThan(l_quantity" in f for f in pushed_filters(df))
