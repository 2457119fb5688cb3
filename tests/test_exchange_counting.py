"""The plan-tree walk (plans/budget.analyze_plan) on real physical
plans: one case per counting rule, each built so that dropping the
rule changes the asserted number. The registry gate
(test_plan_budget.py) exercises the same walk on every query."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from orders_kafka_streams_spark.plans.budget import analyze_plan


@contextmanager
def _conf(spark, **settings):
    saved = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


_NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


def _keyed(spark, n: int, mod: int):
    """A grouped relation: one hash exchange of its own."""
    return spark.range(n).groupBy((F.col("id") % mod).alias("k")).agg(F.count("*").alias("n"))


def test_plain_plan_counts_every_exchange(spark):
    df = _keyed(spark, 1000, 7).orderBy("n")
    # hash exchange under the aggregate + range exchange under the sort
    assert analyze_plan(df)["exchanges"] == 2


def test_repeated_cache_reference_counted_once(spark):
    cached = _keyed(spark, 1001, 11).persist()
    try:
        with _conf(spark, **_NO_BROADCAST):
            joined = cached.alias("a").join(cached.alias("b"), "k")
            # two join-side shuffles + the cached build's shuffle ONCE,
            # although both sides scan the persisted relation
            assert analyze_plan(joined)["exchanges"] == 3
    finally:
        cached.unpersist()


def test_nested_cache_inside_cached_build_lifted_once(spark):
    inner = _keyed(spark, 1002, 13).persist()
    outer = inner.groupBy((F.col("k") % 3).alias("g")).agg(F.sum("n").alias("n")).persist()
    try:
        df = outer.union(outer).union(outer)
        # outer build shuffle once + inner build shuffle once, however
        # many times the outer relation is scanned
        assert analyze_plan(df)["exchanges"] == 2
    finally:
        outer.unpersist()
        inner.unpersist()


def test_reused_exchange_counts_zero(spark):
    # exchange reuse is planned up front only outside AQE (AQE reuses
    # stages at runtime, so its initial plan has no ReusedExchange)
    with _conf(spark, **_NO_BROADCAST, **{"spark.sql.adaptive.enabled": "false"}):
        agg = _keyed(spark, 1003, 17)
        joined = agg.alias("a").join(agg.alias("b"), "k")
        assert joined._jdf.queryExecution().executedPlan().toString().count("ReusedExchange") == 1
        # the aggregate's shuffle is planned once and reused by the
        # other join side
        assert analyze_plan(joined)["exchanges"] == 1


def test_scalar_subquery_shuffle_is_counted(spark):
    bound = _keyed(spark, 1004, 19).agg(F.max("n"))
    df = spark.range(100).where(F.col("id") > bound.scalar())
    # the main plan shuffles nothing; the subquery's aggregate
    # (hash) and its global max (single partition) both do
    assert analyze_plan(df)["exchanges"] == 2


def test_python_udtf_reports_arrow_eval_python(spark):
    @udtf(returnType="x int", useArrow=True)
    class Upto:
        def eval(self, n: int):
            for i in range(n):
                yield (i,)

    df = spark.range(3).lateralJoin(Upto(F.col("id").outer()))
    # the node is ArrowEvalPythonUDTFExec: reported by its prefix
    assert analyze_plan(df)["python"] == ["ArrowEvalPython"]


def test_cross_joins_are_flagged(spark):
    left, right = spark.range(50), spark.range(60).withColumnRenamed("id", "j")
    with _conf(spark, **_NO_BROADCAST):
        cartesian = analyze_plan(left.crossJoin(right))
    nested_loop = analyze_plan(left.crossJoin(F.broadcast(right)))
    assert (cartesian["cartesian"], cartesian["bnlj"]) == (True, False)
    assert (nested_loop["cartesian"], nested_loop["bnlj"]) == (False, True)


def test_count_reads_the_initial_plan_after_aqe_finalizes(spark):
    with _conf(spark, **_NO_BROADCAST):
        left = _keyed(spark, 1005, 23)
        # empty only at run time: AQE then replaces the join with an
        # empty relation, and its final plan has no exchange left
        right = (
            spark.range(1006)
            .where(F.col("id") * 2 == 1)
            .groupBy((F.col("id") % 29).alias("k"))
            .agg(F.count("*").alias("n"))
        )
        df = left.join(right, "k")
        assert analyze_plan(df)["exchanges"] == 2
        assert df.collect() == []
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final and "EmptyRelation" in final, final
        assert analyze_plan(df)["exchanges"] == 2
