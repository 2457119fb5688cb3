"""Standalone driver simulation — run from ANY cwd with a plain
SparkSession, exactly like the round driver:

    python /root/repo/tests/driver_sim.py [sf_dir] [query_name ...]

With query names given, only that subset is checked (fast re-verify
of just-touched queries); with none, the full registry runs.

Loads __spark_entry__ by path, runs entry() + every queries() entry
against oracle_sql() in DuckDB, prints per-query status and a FAILS
summary. This is the /verify recipe (see .claude/skills/verify).
"""

from __future__ import annotations

import datetime
import importlib.util
import sys

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def canon(v):
    if v is None:
        return "~"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def main() -> int:
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    # __spark_entry__ put the repo on sys.path; the harness needs it
    from oracle_harness import type_mismatches
    from orders_kafka_streams_spark import TABLES
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    n_entry = len(mod.entry(spark).collect())
    print(f"entry rows: {n_entry}")
    assert n_entry > 0

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs, osql = mod.queries(), mod.oracle_sql()
    if ONLY:
        unknown = ONLY - set(qs)
        assert not unknown, f"unknown query names: {sorted(unknown)}"
        qs = {k: v for k, v in qs.items() if k in ONLY}
    from orders_kafka_streams_spark.operators import SKIPPED_MODULES

    if SKIPPED_MODULES:
        print(f"WARNING: modules skipped (missing optional deps): {SKIPPED_MODULES}")
    fails, rows_only, zero_rows = [], [], []
    for name in sorted(qs):
        sdf = qs[name](spark, SF_DIR)
        srows, scols = sdf.collect(), sdf.columns
        if not srows:
            zero_rows.append((name, 0))
        if name not in osql:
            rows_only.append((name, len(srows)))
            print(f"{name}: rows-only {len(srows)}")
            continue
        cur = con.execute(osql[name])
        otable = cur.fetch_arrow_table()
        ocols = otable.column_names
        orows = [tuple(col[i].as_py() for col in otable.columns) for i in range(otable.num_rows)]
        si = sorted(range(len(scols)), key=lambda i: scols[i])
        oi = sorted(range(len(ocols)), key=lambda i: ocols[i])
        s = sorted(tuple(canon(r[i]) for i in si) for r in srows)
        o = sorted(tuple(canon(r[i]) for i in oi) for r in orows)
        tmis = type_mismatches(sdf.dtypes, otable.schema)
        ok = sorted(scols) == sorted(ocols) and s == o and not tmis
        print(f"{name}: {len(srows)} rows, match={ok}" + (f" TYPE-MISMATCH {tmis}" if tmis else ""))
        if not ok:
            fails.append(name)
    print(f"TOTAL {len(qs)} queries, {len(rows_only)} rows-only, FAILS: {fails}")
    zero = [n for n, c in zero_rows]
    if zero:
        # a 0-row result hash-matches its oracle trivially and verifies
        # nothing — tune the predicate so the data actually crosses it
        print(f"WARNING: zero-row queries (trivial match): {zero}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
