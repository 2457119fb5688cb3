"""Local replica of the driver's DuckDB-oracle differential check.

Runs a Spark query and its ANSI-SQL oracle side-by-side, then compares
row count + column type families + order-insensitive canonicalized
values (columns sorted by name, rows sorted by canonical form) —
mirroring the driver's row-count/schema/value-hash gate so failures
surface locally first.
"""

from __future__ import annotations

import datetime as _dt
import math
import os

import duckdb

from orders_kafka_streams_spark import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(v):
    """Canonical comparable form of a cell value (engine-agnostic)."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"
        return f"{v:.9g}"
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def _canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def _spark_family(dt: str) -> str:
    dt = dt.lower()
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("decimal"):
        return "decimal"
    if dt.startswith(("array", "struct", "map")):
        return "nested"
    return dt


def _arrow_family(dt: str) -> str:
    dt = dt.lower()
    # DuckDB HUGEINT (int128) surfaces as decimal128(38,0) via Arrow — the
    # exact widening that broke q_scd2's driver hash in round 2.
    if dt.startswith(("decimal128(38, 0)", "decimal256")):
        return "int128"
    if dt.startswith("decimal"):
        return "decimal"
    if dt.startswith(("int", "uint")):
        return "int"
    if dt in ("double", "float", "halffloat"):
        return "float"
    if dt in ("string", "large_string"):
        return "string"
    if dt.startswith("timestamp"):
        return "timestamp"
    if dt.startswith("date"):
        return "date"
    if dt in ("binary", "large_binary"):
        return "binary"
    if dt.startswith(("list", "large_list", "struct", "map")):
        return "nested"
    if dt == "bool":
        return "boolean"
    return dt


def type_mismatches(spark_dtypes, arrow_schema):
    """Column-level type-family diffs between a Spark result and its DuckDB
    oracle (Arrow schema). Catches DuckDB's implicit widenings (un-cast
    SUM -> HUGEINT/int128, DECIMAL creep) that value-string canonicalization
    hides but the round driver's hash does not."""
    st = dict(spark_dtypes)
    out = []
    for field in arrow_schema:
        if field.name not in st:
            continue  # column-name mismatch is caught by the column compare
        sf, of = _spark_family(st[field.name]), _arrow_family(str(field.type))
        if sf != of and not (sf.startswith("timestamp") and of == "timestamp"):
            out.append(f"{field.name}: spark={st[field.name]} oracle={field.type}")
    return out


def compare(spark_df, oracle_query: str, sf_dir: str, limit: int = 2_000_000):
    """Return (ok, message). Compares column names, type families, row
    counts, values."""
    srows = [tuple(r) for r in spark_df.collect()]
    scols = list(spark_df.columns)
    con = duck_con(sf_dir)
    otable = con.execute(oracle_query).fetch_arrow_table()
    ocols = otable.column_names
    orows = [tuple(col[i].as_py() for col in otable.columns) for i in range(otable.num_rows)]

    if sorted(scols) != sorted(ocols):
        return False, f"columns differ: spark={sorted(scols)} oracle={sorted(ocols)}"
    tmis = type_mismatches(spark_df.dtypes, otable.schema)
    if tmis:
        return False, f"type families differ: {tmis}"
    if len(srows) != len(orows):
        return False, f"row count differs: spark={len(srows)} oracle={len(orows)}"
    sc, oc = _canon_rows(scols, srows), _canon_rows(ocols, orows)
    if sc != oc:
        diff = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
        only_s = [r for r in sc[:50] if r not in oc[:50]][:2]
        return False, f"values differ; first sorted mismatches: {diff} spark-only sample: {only_s}"
    return True, f"ok ({len(srows)} rows)"
