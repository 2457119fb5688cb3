"""Generate docs/REGISTRY.md — the navigable index of every
registered query (VERDICT r5 item 8): name → implementing
module:line → family → oracle type.
Deterministic (sorted by family, then name) so the staleness gate in
tests/test_registry_doc.py can byte-compare a regeneration against
the committed file and self-heal drift.

Run: python tools/gen_registry.py    (writes docs/REGISTRY.md)
No Spark session needed — the registry is static.
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_lines() -> list[str]:
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from orders_kafka_streams_spark.operators import all_oracles, all_queries

    queries = all_queries()
    oracles = all_oracles()

    rows = []
    for name, fn in queries.items():
        src = inspect.getsourcefile(fn) or "?"
        rel = os.path.relpath(src, REPO)
        line = inspect.getsourcelines(fn)[1]
        family = os.path.splitext(os.path.basename(rel))[0]
        oracle = "sql" if name in oracles else "rows-only"
        rows.append((family, name, f"{rel}:{line}", oracle))
    rows.sort()

    n_sql = sum(1 for r in rows if r[3] == "sql")
    lines = [
        "# Query registry index",
        "",
        "GENERATED by `python tools/gen_registry.py` — do not edit by hand",
        "(tests/test_registry_doc.py self-heals drift). One row per entry in",
        "`__spark_entry__.queries()`; `oracle = sql` means the driver",
        "hash-compares the query against its DuckDB oracle at sf0.01,",
        "`rows-only` is the declared weaker gate.",
        "",
        f"**{len(rows)} queries** — {n_sql} oracle-checked, "
        f"{len(rows) - n_sql} rows-only.",
        "",
        "| family | query | source | oracle |",
        "|---|---|---|---|",
    ]
    for family, name, src, oracle in rows:
        lines.append(f"| {family} | {name} | {src} | {oracle} |")
    lines.append("")
    return lines


def main() -> None:
    out = os.path.join(REPO, "docs", "REGISTRY.md")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        fh.write("\n".join(build_lines()))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
