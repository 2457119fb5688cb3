"""Operator modules. Each module exposes library functions over
DataFrames plus a ``QUERIES`` / ``ORACLE`` registry pair consumed by
``__spark_entry__.py`` (the driver's correctness contract).

Registry ORDER matters: the driver's correctness report caps at the
first ~50 entries, so the merged registry is interleaved ROUND-ROBIN
across modules — any prefix samples every query family (pipeline,
relational, windows, dedup, knn, text, streaming, multimodal, …)
instead of exhausting module 1 before module 2 appears. The order is
a function of the code alone — each module's ``QUERIES`` order, dealt
across ``_MODULES`` in list order — never of files on disk.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

#: modules contributing QUERIES/ORACLE registries
_MODULES = [
    "pipeline",
    "relational",
    "window_funcs",
    "scalar_funcs",
    "timeseries",
    "text",
    "sampling",
    "curation",
    "dedup",
    "similarity",
    "clustering",
    "multimodal",
    "robustness",
    "skew",
    "stats",
    "udfs",
    "warehouse",
    "privacy",
    "dq",
    "streaming_queries",
]

#: (module, reason) pairs skipped for a missing OPTIONAL dependency —
#: kept visible so registry shrinkage is diagnosable, never silent.
SKIPPED_MODULES: list[tuple[str, str]] = []

def _loaded_modules() -> list[ModuleType]:
    mods: list[ModuleType] = []
    for m in _MODULES:
        try:
            mods.append(import_module(f".{m}", __package__))
        except ModuleNotFoundError as e:
            # Tolerate ONLY a missing third-party optional dep; a broken
            # import inside our own package must fail loudly rather than
            # silently shrink the driver's query registry.
            if e.name and e.name.startswith("orders_kafka_streams_spark"):
                raise
            if m not in {s for s, _ in SKIPPED_MODULES}:
                SKIPPED_MODULES.append((m, str(e)))
    return mods


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    regs = []
    seen: set[str] = set()
    for mod in _loaded_modules():
        q = getattr(mod, "QUERIES", {})
        dupes = seen & set(q)
        if dupes:
            raise ValueError(f"duplicate query names {dupes} in {mod.__name__}")
        seen |= set(q)
        regs.append(list(q.items()))
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for i in range(max((len(r) for r in regs), default=0)):
        for r in regs:
            if i < len(r):
                name, fn = r[i]
                out[name] = fn
    return out


def all_oracles() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _loaded_modules():
        merged.update(getattr(mod, "ORACLE", {}))
    # same round-robin order as all_queries(); oracle-less (rows-only)
    # queries are simply absent from this dict.
    return {name: merged[name] for name in all_queries() if name in merged}
