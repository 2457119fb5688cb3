"""Regenerate the committed correctness snapshot from the CURRENT HEAD
over the FULL query registry (the round driver caps its own report at
~50 sampled queries; this artifact records the complete sweep so the
repo's snapshot never misrepresents the merged state).

Per query: row count / column set / order-insensitive canonical value
multiset vs the DuckDB oracle, plus the type-family check that catches
DuckDB's implicit widenings (the q_scd2 HUGEINT lesson).

Run: python tools/gen_correctness.py [sf_dir] [out.json] [name ...]

With query names given, only those queries are (re)run and their
entries MERGED into the existing out.json — the incremental path for
"one new query since the last full sweep" (the full sweep takes
~15 min; a lagging snapshot was the r4 red-round failure mode).
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (REPO, os.path.join(REPO, "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "CORRECTNESS_FULL.json")
    only = set(sys.argv[3:])

    from driver_sim import canon
    from oracle_harness import type_mismatches
    from orders_kafka_streams_spark import TABLES

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    import duckdb

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, osql = mod.queries(), mod.oracle_sql()
    report: dict[str, dict] = {}
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"unknown queries: {sorted(unknown)}")
            return 2
        if os.path.exists(out_path):
            with open(out_path) as f:
                report = json.load(f)
    fails = []
    for name in qs:  # registry order — same order the driver samples
        if only and name not in only:
            continue
        entry: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = qs[name](spark, sf_dir)
            srows, scols = sdf.collect(), sdf.columns
            entry["spark_rows"] = len(srows)
            if name not in osql:
                entry["rows_match"] = len(srows) > 0
                entry["err"] = "rows-only (no oracle by design)"
                report[name] = entry
                ok = entry["rows_match"]
                print(
                    f"{name}: {'OK' if ok else 'FAIL'} (rows-only, {len(srows)} rows)",
                    flush=True,
                )
                if not ok:
                    fails.append(name)
                continue
            ot = con.execute(osql[name]).fetch_arrow_table()
            orows = [
                tuple(col[i].as_py() for col in ot.columns) for i in range(ot.num_rows)
            ]
            ocols = ot.column_names
            entry["oracle_rows"] = len(orows)
            entry["rows_match"] = len(srows) == len(orows)
            tmis = type_mismatches(sdf.dtypes, ot.schema)
            entry["schema_match"] = sorted(scols) == sorted(ocols) and not tmis
            si = sorted(range(len(scols)), key=lambda i: scols[i])
            oi = sorted(range(len(ocols)), key=lambda i: ocols[i])
            s = sorted(tuple(canon(r[i]) for i in si) for r in srows)
            o = sorted(tuple(canon(r[i]) for i in oi) for r in orows)
            entry["hash_match"] = s == o and entry["schema_match"]
            if tmis:
                entry["err"] = f"type mismatch: {tmis}"
        except Exception as e:  # pragma: no cover - per-query isolation
            entry["err"] = f"{type(e).__name__}: {e}"[:300]
        report[name] = entry
        ok = entry["hash_match"] or (name not in osql and entry["rows_match"])
        print(f"{name}: {'OK' if ok else 'FAIL'} ({entry['spark_rows']} rows)", flush=True)
        if not ok:
            fails.append(name)

    if only:  # keep the merged snapshot in registry order
        report = {n: report[n] for n in qs if n in report}
    with open(out_path, "w") as f:
        json.dump(report, f, indent=2)
    print(f"wrote {out_path}: {len(report)} queries, FAILS: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
