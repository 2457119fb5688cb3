"""Seeded table corpora for the batch workloads.

Every table the package reads (``{dir}/{name}.parquet``) is generated
here from a seed with NumPy and written with PyArrow, in the shape of
the package's fixture tables (FIXTURES.md §B): a TPC-H-like star
schema, an ``events`` table, ``documents`` and ``embeddings``. Nothing
is downloaded and no JVM is needed, so generation costs no benchmark
set-up time.

``scale`` is the size relative to the sf0.1 fixture tier (100k events,
600k lineitems, 5k documents, 2k embeddings). The seed moves the key
domains (the per-table key columns listed in
``tools/gen_benchdata.KEY_SHIFTS``, shifted consistently so joins still
line up) and adds value epsilons, so two seeds never give the same
tables; the same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: base row counts at scale 1.0 (the sf0.1 fixture tier)
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "users": 1_500,
    "documents": 5_000,
    "embeddings": 2_000,
}

EVENT_TYPES = np.array(["click", "purchase", "error", "signup", "view"])
SEGMENTS = np.array(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
VOCAB = np.array(
    "batch part spark line column order small sort fast value scan a hash slow group "
    "agg filter query big key window row table stream merge data the join vector "
    "customer load shuffle index store commit plan task stage event state".split()
)
LANGS = np.array(["en", "en", "en", "en", "de", "es", "fr", "zh"])
EMB_DIM = 64
EMB_LABELS = 10
#: share of documents / vectors planted as near-duplicates of an earlier one
DUP_SHARE = 0.05

_T0_EVENTS = np.datetime64("2024-01-01T00:00:00", "us")
_T0_ORDERS = np.datetime64("1992-01-01T00:00:00", "us")
_DAY_US = 86_400 * 1_000_000


def key_shifts(seed: int) -> dict[str, int]:
    """Seeded offset per key domain (the domains named in
    ``tools/gen_benchdata.KEY_SHIFTS``). The ``doc`` domain stays put:
    the similarity queries probe with the lowest vector ids."""
    from tools.gen_benchdata import KEY_SHIFTS

    rng = np.random.default_rng([seed, 1])
    domains = sorted({dom for cols in KEY_SHIFTS.values() for _, dom in cols})
    shifts = {dom: int(rng.integers(0, 1000)) * 1_000_000 for dom in domains}
    shifts["doc"] = 0
    return shifts


def _shift(table: str, cols: dict[str, np.ndarray], shifts: dict[str, int]) -> None:
    from tools.gen_benchdata import KEY_SHIFTS

    for col, dom in KEY_SHIFTS.get(table, []):
        cols[col] = cols[col] + np.int64(shifts[dom])


def _write(out_dir: str, name: str, cols: dict[str, np.ndarray | pa.Array]) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _ts(base: np.datetime64, us: np.ndarray) -> pa.Array:
    return pa.array(base + us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _tpch(rng: np.random.Generator, scale: float, out: str, shifts: dict[str, int]) -> dict[str, int]:
    n_cust = int(BASE_ROWS["customer"] * scale)
    n_supp = int(BASE_ROWS["supplier"] * scale)
    n_part = int(BASE_ROWS["part"] * scale)
    n_ord = int(BASE_ROWS["orders"] * scale)
    rows = {
        "region": _write(out, "region", {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": _write(out, "nation", {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
    }
    cust = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    }
    _shift("customer", cust, shifts)
    rows["customer"] = _write(out, "customer", cust)
    supp = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }
    _shift("supplier", supp, shifts)
    rows["supplier"] = _write(out, "supplier", supp)
    adjectives = np.array(["large", "hot", "small", "blue", "steel", "copper"])
    nouns = np.array(["ring", "bolt", "gear", "pipe", "valve", "plate"])
    part = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 6, n_part)], " "),
                              nouns[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL"])[rng.integers(0, 5, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }
    _shift("part", part, shifts)
    rows["part"] = _write(out, "part", part)

    lines_per = rng.integers(1, 8, n_ord)
    n_line = int(lines_per.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    starts = np.cumsum(lines_per) - lines_per
    l_lineno = (np.arange(n_line) - np.repeat(starts, lines_per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    # whole-unit prices: revenue terms price * (1 - discount) then have
    # exactly two decimals, so the queries' round(sum(...), 2) cannot land
    # on a half-cent tie that two engines' summation orders break apart
    price = qty * rng.integers(900, 2000, n_line)
    odate_days = rng.integers(0, 2400, n_ord)
    orders = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(np.bincount(l_order, weights=price, minlength=n_ord), 2),
        "o_orderdate": _ts(_T0_ORDERS, odate_days * _DAY_US),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    }
    _shift("orders", orders, shifts)
    rows["orders"] = _write(out, "orders", orders)
    line = {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": l_lineno,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_T0_ORDERS, (np.repeat(odate_days, lines_per) + rng.integers(1, 122, n_line)) * _DAY_US),
    }
    _shift("lineitem", line, shifts)
    rows["lineitem"] = _write(out, "lineitem", line)
    return rows


def _events(rng: np.random.Generator, scale: float, out: str, shifts: dict[str, int]) -> int:
    """The fixture tier's ``events`` shape, as measured on its sf0.1
    table: users drawn uniformly (per-user counts have variance/mean
    1.01), the five event types in equal shares, timestamps uniform over
    30 days, values exponential with mean 50 (median 34.8, max 560)."""
    n = int(BASE_ROWS["events"] * scale)
    users = int(BASE_ROWS["users"] * scale)
    us = np.sort(rng.integers(0, 30 * _DAY_US, n))
    ev = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(_T0_EVENTS, us),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        # cent values plus a per-seed epsilon below the queries' 4-dp rounding
        "value": np.round(rng.exponential(50.0, n), 2) + rng.integers(1, 50) * 1e-7,
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    }
    _shift("events", ev, shifts)
    return _write(out, "events", ev)


def _documents(rng: np.random.Generator, n: int, out: str, shifts: dict[str, int]) -> int:
    lens = rng.integers(12, 70, n)
    toks = [VOCAB[rng.integers(0, len(VOCAB), k)] for k in lens]
    # plant near-duplicates: a copy of an earlier document with one or
    # two substituted tokens (3-shingle Jaccard well above 0.8)
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        if i == 0:
            continue
        src = toks[int(rng.integers(0, i))].copy()
        for _ in range(int(rng.integers(0, 2)) + 1):
            src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        toks[i] = src
    text = [" ".join(t) for t in toks]
    docs = {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": LANGS[rng.integers(0, len(LANGS), n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }
    _shift("documents", docs, shifts)
    return _write(out, "documents", docs)


def _embeddings(rng: np.random.Generator, n: int, out: str, shifts: dict[str, int]) -> int:
    centers = rng.normal(0, 1, (EMB_LABELS, EMB_DIM))
    label = rng.integers(0, EMB_LABELS, n)
    vec = centers[label] + rng.normal(0, 0.8, (n, EMB_DIM))
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        if i == 0:
            continue
        j = int(rng.integers(0, i))
        label[i] = label[j]
        vec[i] = vec[j] + rng.normal(0, 0.01, EMB_DIM)
    vec = vec.astype(np.float32)
    emb = {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": label.astype(np.int32),
    }
    _shift("embeddings", emb, shifts)
    return _write(out, "embeddings", emb)


def make_corpus(out_dir: str, seed: int, scale: float, text_scale: float) -> dict[str, int]:
    """Write every package table under ``out_dir``; return row counts.

    ``scale`` sizes the order/TPC-H tables and ``text_scale`` the
    documents/embeddings, both relative to the sf0.1 fixture tier.
    """
    os.makedirs(out_dir, exist_ok=True)
    shifts = key_shifts(seed)
    rows = _tpch(np.random.default_rng([seed, 2]), scale, out_dir, shifts)
    rows["events"] = _events(np.random.default_rng([seed, 3]), scale, out_dir, shifts)
    rows["documents"] = _documents(
        np.random.default_rng([seed, 4]), int(BASE_ROWS["documents"] * text_scale), out_dir, shifts
    )
    rows["embeddings"] = _embeddings(
        np.random.default_rng([seed, 5]), int(BASE_ROWS["embeddings"] * text_scale), out_dir, shifts
    )
    return rows
