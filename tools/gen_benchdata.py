"""Generate a PERF-ONLY sf1 corpus by scaling the driver's sf0.1
tables 10× (VERDICT r2 item 10): per-query timings at sf0.1 drown in
JVM/stage noise, so ``tests/scale_smoke.py`` also times every query
at sf1, where regressions are measured above the noise floor.

This is a BENCH corpus, not a correctness corpus — the oracle gate
stays at the driver's sf0.01. Scaling preserves workload shape:

- fixed dims (region, nation) are copied;
- every fact/entity table is replicated REPLICAS× with key domains
  shifted per replica, so join fan-outs, per-key cardinalities, and
  group counts scale like real growth (10× users, not 10× rows per
  user);
- documents get a per-replica token suffix so cross-replica docs are
  NOT near-duplicates (otherwise every doc becomes a 10-clique and
  dedup verify cost explodes quadratically instead of scaling
  linearly with real corpus growth);
- embeddings are circularly rolled by replica so cross-replica
  vectors decorrelate while norms/distributions are preserved.

Run: python tools/gen_benchdata.py [src_sf_dir] [dst_dir] [--skew]
Defaults: /root/testdata/sf0.1 -> .benchdata/sf1 (gitignored).

--skew (VERDICT r5 item 2) additionally injects the adversarial
shapes the benign corpus lacks — the 100×-grading bar is skew
survival, so ``tests/scale_smoke.py .benchdata/sf1skew`` runs the
registry against:

- ONE POWER USER holding 10,000 distinct basket items, each unique to
  that user (n_i = 1): the a-priori semi-join must prune the entire
  tail before the pair self-join — uncapped co-occurrence survives
  because rare items never enter the quadratic step;
- a 6-user BOT COHORT sharing one 2,000-item basket (every item
  n_i = 6 ≥ min-support, so the semi-join keeps them): the
  genuinely-universal-item case — uncapped pays the documented
  C(2000,2)-per-user fan-out (bounded, measured, within budget),
  the capped variant clamps it to C(64,2);
- ONE HOT ORDER with 20,000 lineitems (cloned rows, key overridden):
  the classic hot join/window key for the TPC-H q21 single-fact-pass
  plan and any orderkey-partitioned window;
- ONE 100×-LENGTH DOCUMENT (an existing doc's text tiled 100×):
  per-doc shingle/fingerprint fan-out for winnowing, dup-span, and
  dedup blocking paths — one task's explode must not dominate a stage.

r7 additions (VERDICT r6 item 5 — make the rank/prefix-sum rewrites
MEASURABLE):

- CONTINUOUS HIGH-NDV VALUE: every event's value gets a per-event
  deterministic epsilon (portable-hash keyed), so value NDV ≈ rows at
  sf1 (the 10× replication otherwise reuses each sf0.1 value 10×, and
  the benign column already sat at only 66% NDV). Any rank/ECDF/
  quantile path that secretly sorts the value cell relation in one
  task now pays N, not N/10th — the two-pass rewrites
  (global_prefix_sums) are flat by construction.
- DOMINANT EVENT TYPE: 75% of events remapped to 'view' (hash-keyed,
  deterministic; natural 'view' rows in the remaining 25% push the
  total share to ~80%), so per-type partitioned work (q_trimmed_mean's
  grouped prefix sums, per-type windows) sees one partition holding
  ~0.8·N — the skew a uniform type distribution never exercises.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPLICAS = 10

KEY_SHIFTS = {
    # table -> [(column, key-domain)] ; every column in one domain
    # shifts by the same per-replica offset so joins stay consistent
    "customer": [("c_custkey", "cust")],
    "supplier": [("s_suppkey", "supp")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "order"), ("o_custkey", "cust")],
    "lineitem": [("l_orderkey", "order"), ("l_partkey", "part"), ("l_suppkey", "supp")],
    "events": [("event_id", "event"), ("user_id", "user")],
    "documents": [("doc_id", "doc")],
    "embeddings": [("vec_id", "doc")],  # doc_id == vec_id alignment kept
}

COPY = ("region", "nation")


def _domain_sizes(spark: SparkSession, src: str) -> dict[str, int]:
    out: dict[str, int] = {}

    def dom(table: str, col: str, name: str) -> None:
        df = spark.read.parquet(os.path.join(src, f"{table}.parquet"))
        hi = df.agg(F.max(col)).collect()[0][0]
        out[name] = max(out.get(name, 0), int(hi) + 1)

    dom("customer", "c_custkey", "cust")
    dom("supplier", "s_suppkey", "supp")
    dom("part", "p_partkey", "part")
    dom("orders", "o_orderkey", "order")
    dom("events", "event_id", "event")
    dom("events", "user_id", "user")
    dom("documents", "doc_id", "doc")
    dom("embeddings", "vec_id", "doc")
    return out


def scale_table(df: DataFrame, table: str, domains: dict[str, int]) -> DataFrame:
    reps = df.sparkSession.range(REPLICAS).select(F.col("id").cast("int").alias("rep"))
    out = df.crossJoin(F.broadcast(reps))
    for col, dom in KEY_SHIFTS.get(table, []):
        out = out.withColumn(col, (F.col(col) + F.col("rep").cast("long") * domains[dom]).cast(dict(df.dtypes)[col]))
    if table == "documents":
        # suffix every token with the replica id for rep>0: within-replica
        # similarity structure is preserved exactly, cross-replica
        # near-duplication is destroyed (see module docstring)
        out = out.withColumn(
            "text",
            F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.regexp_replace(
                    F.col("text"),
                    F.lit(r"(\S+)"),
                    F.concat(F.lit("$1r"), F.col("rep").cast("string")),
                )
            ),
        )
    if table == "embeddings":
        # circular roll by replica: slice+concat keeps float32 element type
        n = F.size("embedding")
        r = F.col("rep") % n
        out = out.withColumn(
            "embedding",
            F.when(F.col("rep") == 0, F.col("embedding")).otherwise(
                F.concat(F.slice("embedding", r + 1, n - r), F.slice("embedding", 1, r))
            ),
        )
    return out.drop("rep")


#: --skew injection sizes (see module docstring)
POWER_USER_ITEMS = 10_000  # unique-to-user tail: a-priori must prune it
BOT_USERS = 6  # >= COOC_MIN_SUPPORT so the shared basket stays frequent
BOT_BASKET = 2_000  # universal-item fan-out the CAP variant clamps
HOT_ORDER_LINES = 20_000  # one orderkey's lineitem count
LONG_DOC_TILES = 100  # text length multiplier for the one long doc


def inject_skew(spark: SparkSession, table: str, df: DataFrame, domains: dict[str, int]) -> DataFrame:
    """Append the adversarial rows for ``--skew`` (key domains placed
    past REPLICAS× the source domain so injections never collide with
    scaled keys)."""
    if table == "events":
        # r7: high-NDV continuous value + dominant event type (see
        # module docstring) — applied to the whole scaled relation
        # BEFORE the basket injections (perf corpus only; the oracle
        # gate stays at the untouched driver sf0.01)
        from orders_kafka_streams_spark.functions.portable import hash60

        h = hash60(F.col("event_id"))
        df = df.withColumn(
            "value",
            F.col("value") + (h % 1_000_003).cast("double") * F.lit(1e-9),
        ).withColumn(
            "event_type",
            F.when(h % 100 < 75, F.lit("view")).otherwise(F.col("event_type")),
        )
        base_user = domains["user"] * (REPLICAS + 1)
        base_event = domains["event"] * (REPLICAS + 1)
        power = spark.range(POWER_USER_ITEMS).select(
            (F.lit(base_event) + F.col("id")).alias("event_id"),
            F.lit("2024-01-01 12:00:00").cast("timestamp").alias("ts"),
            F.lit(base_user).cast("long").alias("user_id"),
            F.lit("view").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.concat(F.lit('{"k": '), (F.lit(100_000) + F.col("id")).cast("string"), F.lit("}")).alias("props"),
        )
        bots = (
            spark.range(BOT_USERS * BOT_BASKET)
            .select(
                (F.lit(base_event + POWER_USER_ITEMS) + F.col("id")).alias("event_id"),
                F.lit("2024-01-01 12:00:00").cast("timestamp").alias("ts"),
                (F.lit(base_user + 1) + (F.col("id") % BOT_USERS)).cast("long").alias("user_id"),
                F.lit("view").alias("event_type"),
                F.lit(1.0).alias("value"),
                F.concat(
                    F.lit('{"k": '),
                    (F.lit(200_000) + (F.col("id") / BOT_USERS).cast("long")).cast("string"),
                    F.lit("}"),
                ).alias("props"),
            )
        )
        extra = power.unionByName(bots)
        return df.unionByName(extra.select(*df.columns))
    if table == "lineitem":
        hot_key = domains["order"] * (REPLICAS + 1)
        clones = (
            df.limit(HOT_ORDER_LINES)
            .withColumn("l_orderkey", F.lit(hot_key).cast(dict(df.dtypes)["l_orderkey"]))
        )
        return df.unionByName(clones)
    if table == "orders":
        hot_key = domains["order"] * (REPLICAS + 1)
        hot_row = df.limit(1).withColumn(
            "o_orderkey", F.lit(hot_key).cast(dict(df.dtypes)["o_orderkey"])
        )
        return df.unionByName(hot_row)
    if table == "documents":
        long_id = domains["doc"] * (REPLICAS + 1)
        one = df.limit(1)
        tiled = one.withColumn(
            "doc_id", F.lit(long_id).cast(dict(df.dtypes)["doc_id"])
        ).withColumn(
            "text", F.concat_ws(" ", F.array_repeat(F.col("text"), LONG_DOC_TILES))
        )
        if "n_chars" in df.columns:
            tiled = tiled.withColumn(
                "n_chars", F.length("text").cast(dict(df.dtypes)["n_chars"])
            )
        return df.unionByName(tiled.select(*df.columns))
    return df


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--skew"]
    skew = "--skew" in sys.argv[1:]
    src = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    default_dst = os.path.join(repo, ".benchdata", "sf1skew" if skew else "sf1")
    dst = args[1] if len(args) > 1 else default_dst
    os.makedirs(dst, exist_ok=True)

    from orders_kafka_streams_spark.session import get_spark

    spark = get_spark("okss-gen-sf1")
    domains = _domain_sizes(spark, src)
    for table in COPY:
        df = spark.read.parquet(os.path.join(src, f"{table}.parquet"))
        df.write.mode("overwrite").parquet(os.path.join(dst, f"{table}.parquet"))
    for table in KEY_SHIFTS:
        df = spark.read.parquet(os.path.join(src, f"{table}.parquet"))
        out = scale_table(df, table, domains)
        if skew:
            out = inject_skew(spark, table, out, domains)
        out.write.mode("overwrite").parquet(os.path.join(dst, f"{table}.parquet"))
    # completeness marker written LAST: consumers (test_aqe_skew) must treat a
    # corpus without it as absent — an interrupted generation otherwise
    # looks complete because early tables exist
    with open(os.path.join(dst, "_COMPLETE"), "w") as f:
        f.write(f"{REPLICAS}x {src}{' +skew' if skew else ''}\n")
    print(f"wrote {dst} ({REPLICAS}x {src}{' +skew' if skew else ''})")


if __name__ == "__main__":
    main()
