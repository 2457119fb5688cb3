"""Registry contract tests (VERDICT r1 item 2 + r2 item 2): the
driver's CORRECTNESS report caps at ~50 entries in registry order, so
the registry is interleaved round-robin across modules and any prefix
samples every family; import failures must never silently shrink the
registry."""

from __future__ import annotations

from importlib import import_module

from orders_kafka_streams_spark.operators import (
    _MODULES,
    SKIPPED_MODULES,
    all_oracles,
    all_queries,
)


def test_first_queries_come_from_distinct_modules():
    head = list(all_queries())[: len(_MODULES)]
    owner = {}
    for m in _MODULES:
        mod = import_module(f"orders_kafka_streams_spark.operators.{m}")
        owner.update(dict.fromkeys(getattr(mod, "QUERIES", {}), m))
    assert [owner[n] for n in head] == _MODULES


def test_no_modules_silently_skipped():
    all_queries()  # force the import sweep
    assert SKIPPED_MODULES == [], SKIPPED_MODULES


def test_oracles_subset_of_queries_and_ordered_alike():
    qs, os_ = all_queries(), all_oracles()
    assert set(os_) <= set(qs)
    # every oracle-less query is a documented sketch/rows-only case
    rows_only = set(qs) - set(os_)
    assert rows_only <= {"q_approx_distinct", "q_approx_percentile"}, rows_only
    # oracle iteration order follows the query registry order
    qorder = [q for q in qs if q in os_]
    assert list(os_) == qorder
