"""global_prefix_sums (VERDICT r6 items 1-3): the two-pass
range-partition + triangular-offset running sum must equal the
one-global-window form exactly — on long and double columns, inclusive
and exclusive frames, grouped and ungrouped — and its physical plan
must contain NO unpartitioned WindowExec (the single-task sort the r6
verdict flagged on 8 stats/profile queries)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from orders_kafka_streams_spark.operators.sampling import global_prefix_sums


def _cells(spark, n=4000, seed=11, groups=None):
    """A cell relation: unique (grp, value) keys with long + double
    payloads — the (value, count) shape every rewritten query feeds."""
    rng = random.Random(seed)
    vals = rng.sample(range(-1_000_000, 1_000_000), n)
    rows = [
        (
            (groups[i % len(groups)] if groups else "g"),
            v / 7.0,
            rng.randint(1, 50),
            rng.uniform(0.0, 10.0),
        )
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "grp string, value double, c long, x double")


def _reference(df, inclusive, part=()):
    hi = 0 if inclusive else -1
    w = (
        (Window.partitionBy(*part) if part else Window.partitionBy())
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    return df.select(
        "grp",
        "value",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("cum_c"),
        F.coalesce(F.sum("x").over(w), F.lit(0.0)).alias("cum_x"),
    )


def _got(df, inclusive, part=(), n_parts=32):
    return global_prefix_sums(
        df,
        ["value"],
        {"cum_c": "c", "cum_x": "x"},
        part=part,
        n_parts=n_parts,
        inclusive=inclusive,
    ).select("grp", "value", "cum_c", "cum_x")


def _cmp(got_df, want_df):
    got = {(r["grp"], r["value"]): (r["cum_c"], r["cum_x"]) for r in got_df.collect()}
    want = {(r["grp"], r["value"]): (r["cum_c"], r["cum_x"]) for r in want_df.collect()}
    assert set(got) == set(want)
    for k, (gc, gx) in got.items():
        wc, wx = want[k]
        assert gc == wc, (k, gc, wc)
        # double running sums: same addition ORDER left-to-right by key
        # within a partition, partials added in pid order — equality is
        # not bit-guaranteed across the two association orders, so
        # compare to float tolerance (consumers round well above it)
        assert abs(gx - wx) <= 1e-9 * max(1.0, abs(wx)), (k, gx, wx)


def test_exclusive_equals_window(spark):
    df = _cells(spark)
    _cmp(_got(df, False), _reference(df, False))


def test_inclusive_equals_window(spark):
    df = _cells(spark)
    _cmp(_got(df, True), _reference(df, True))


def test_grouped_equals_window(spark):
    df = _cells(spark, groups=["a", "b", "c", "d", "e"])
    _cmp(
        _got(df, False, part=("grp",)),
        _reference(df, False, part=("grp",)),
    )


def test_tiny_partitions_and_empty_groups(spark):
    """More range partitions than rows + groups smaller than n_parts."""
    df = _cells(spark, n=13, groups=["a", "b"])
    _cmp(
        _got(df, True, part=("grp",), n_parts=64),
        _reference(df, True, part=("grp",)),
    )


def test_null_part_group_kept(spark):
    """A NULL ``part`` value is ONE group (Window.partitionBy
    semantics): rows must neither vanish (the plain-equality join
    would drop them) nor miss their cross-partition offsets."""
    df = _cells(spark, n=800, groups=["a", "b"])
    df = df.withColumn(
        "grp", F.when(F.col("grp") == "b", F.lit(None)).otherwise(F.col("grp"))
    )
    got = _got(df, False, part=("grp",))
    want = _reference(df, False, part=("grp",))
    assert got.count() == 800
    _cmp(got, want)


def test_running_max_desc_equals_window(spark):
    """agg='max' over a DESC key — the skyline frontier form — must
    match the running-max window including NULL on the first row."""
    df = _cells(spark, n=1500)
    got = {
        r["value"]: r["best"]
        for r in global_prefix_sums(
            df, [F.desc("value")], {"best": "x"}, agg="max"
        ).select("value", "best").collect()
    }
    w = Window.orderBy(F.desc("value")).rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["value"]: r["best"]
        for r in df.select("value", F.max("x").over(w).alias("best")).collect()
    }
    assert set(got) == set(want)
    for k, g in got.items():
        wv = want[k]
        assert (g is None) == (wv is None), (k, g, wv)
        if g is not None:
            assert abs(g - wv) <= 1e-12, (k, g, wv)


def test_group_totals_rejects_extrema(spark):
    """group_totals sums the per-partition totals, so it is wrong for a
    running max/min — the precondition must raise, not be an assert
    that ``python -O`` strips."""
    df = _cells(spark, n=10)
    with pytest.raises(ValueError, match="agg='sum' only"):
        global_prefix_sums(df, ["value"], {"best": "x"}, agg="max", group_totals={"tot": "best"})


def test_no_unpartitioned_window(spark):
    """The plan's only WindowExec nodes are partitioned by the range
    partition id — zero global windows anywhere (offsets come from the
    triangular join, not a running-sum window)."""
    df = _cells(spark, n=200)
    plan = (
        _got(df, False)._jdf.queryExecution().executedPlan().toString()
    )
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_pid" in line, line


def test_global_row_numbers_offsets_no_window(spark):
    """global_row_numbers' offsets pass moved to the triangular join
    too — its plan must be window-free entirely."""
    from orders_kafka_streams_spark.operators.sampling import global_row_numbers

    df = _cells(spark, n=300)
    plan = (
        global_row_numbers(df, ["value"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowExec" not in plan and "windowspecdefinition" not in plan, plan
