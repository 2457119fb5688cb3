"""Error handling, approximation, and reshaping operators.

- q_err_handle: the reference's poison-pill policy (§2.1 err-handle,
  ``LogAndContinueExceptionHandler`` at Main.java:88) as a first-class
  query: malformed JSON records are captured, not crashed on and not
  silently dropped. Every 100th record is deliberately mangled, then
  routed through the PERMISSIVE edge codec (sources/json_edge.py).
- q_approx_distinct: deterministic KMV sketch next to the exact count
  — bounded-memory distinct counting whose estimate the DuckDB oracle
  recomputes bit-for-bit (r10; engine-native HLL error-gated in tests).
- q_percentile: exact linear-interpolation percentiles (Spark
  ``percentile`` == DuckDB ``quantile_cont``).
- q_unpivot: wide→long reshape (melt).
- q_scalar_subquery: filter against a scalar aggregate subquery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .presentation import cells_sorted
from pyspark.sql import types as T

from ..session import write_once_per_session
from ..sources.json_edge import decode_json
from ..sources.tables import load_table

PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


def poisoned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props as a JSON byte stream with every 100th record mangled
    (leading garbage — Spark's Jackson parser tolerates TRAILING bytes
    after the root value, so a prefix is the reliable poison)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("event_id") % 100 == 0, F.concat(F.lit("x"), "props"))
        .otherwise(F.col("props"))
        .alias("value"),
    )


def _q_err_handle(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = poisoned_events(spark, sf_dir)
    good, corrupt = decode_json(raw, PROPS_SCHEMA, "value", keep_cols=("event_id",))
    g = good.agg(
        F.count(F.lit(1)).alias("n_good"), F.sum("k").alias("k_sum")
    )
    c = corrupt.agg(F.count(F.lit(1)).alias("n_corrupt"))
    return g.crossJoin(c)


#: KMV sketch size. Std error ≈ 1/√(K−2) ≈ 3.2% at 1000 — comfortably
#: inside the 10% test gate for a single deterministic draw. EXACTLY
#: 1000, not 1024: InferWindowGroupLimit only plans the map-side
#: Partial WindowGroupLimit for rank filters at or below
#: spark.sql.window.group.limit.threshold (default 1000) — at 1024 the
#: pushdown silently vanishes and every scan row reaches the window
#: sort (caught by the wgl_partial plan fact, r10).
KMV_K = 1000
#: 2^60 — the hash60 value space, exactly representable as a double.
HASH60_SPACE = 1152921504606846976.0
#: deterministic sampling modulus for the sampled-quantile sketch:
#: keep rows whose salted hash ≡ 0 (mod 8) ⇒ a fixed ~12.5% sample.
QSAMPLE_MOD = 8


def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counts via a DETERMINISTIC KMV (K minimum
    values) sketch (Bar-Yossef et al. 2002) next to the exact counts —
    the bounded-memory path for distinct counting at 100 TB: each task
    keeps only its K smallest hashes per group (two-phase top-k: Spark
    4.1 plans a Partial WindowGroupLimit under the ``row_number ≤ K``
    filter, so no task ever buffers a group's full hash set), and the
    estimate is (K−1)·|H|/h_(K) from the K-th smallest 60-bit hash.

    Engine-native HLL (``approx_count_distinct``) does the same job
    with a smaller sketch but is engine-specific, so its output can't
    be oracle-diffed; KMV over the portable ``hash60`` is recomputed
    bit-for-bit by DuckDB (VERDICT r9 item 3 — this replaced the HLL
    column; the HLL error gate itself lives on in
    tests/test_robustness.py::test_hll_engine_sketch_error_bound).
    Groups with fewer than K distinct hashes report the hash count
    itself (exact up to 60-bit collisions).

    Scale shape: one partial-agg exchange to distinct (flag, h) cells,
    per-task partial top-K, final top-K per group — shuffle carries at
    most K rows per group per task. Exact twin pays the full distinct
    expand; at 100 TB you would drop it and keep only the sketch.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sketches)."""
    from pyspark.sql.window import Window

    from ..functions.portable import hash60

    li = load_table(spark, sf_dir, "lineitem")
    # r12 (guide §2.4, the q_kmv_union form): dense_rank ≤ K over the
    # RAW (flag, h) cells replaces distinct + row_number ≤ K — the
    # rank counts distinct hash values, so the kept distinct set, its
    # count and its max are bit-identical, and the full pre-window
    # distinct exchange disappears. The map-side Partial
    # WindowGroupLimit bounds what each scan task ships at K distinct
    # hashes (× the ≤|lines per order| duplicates, which the oracle's
    # distinct also saw before deduping).
    cells = li.select("l_returnflag", hash60(F.col("l_orderkey")).alias("h"))
    w = Window.partitionBy("l_returnflag").orderBy("h")
    kmv = (
        cells.withColumn("rn", F.dense_rank().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("l_returnflag")
        .agg(F.countDistinct("h").alias("m"), F.max("h").alias("hk"))
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    est = F.when(F.col("m") < KMV_K, F.col("m").cast("double")).otherwise(
        F.round(F.lit(float(KMV_K - 1)) * F.lit(HASH60_SPACE) / F.col("hk"), 4)
    )
    return kmv.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag", est.alias("approx_orders"), "exact_orders"
    )


def _q_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET OPERATIONS (the theta-sketch use case, Dasgupta et
    al. 2016): distinct-count estimates for two sets, their UNION, and
    their INTERSECTION, answered from MERGED KMV sketches — the 100 TB
    pattern where each source/partition keeps a K-minimum-values
    sketch and cross-source distinct questions merge sketches instead
    of re-scanning data. Sets here: orderkeys with an 'R'-returned
    line vs an 'A'-returned line (overlapping by construction — orders
    mix flags). The union sketch is the K smallest of the POOLED
    distinct hashes (exactly what merging two sketches yields — KMV
    merge is associative), and the intersection estimate is
    inclusion-exclusion over the three estimates, floored at 0. Exact
    twins ride along for the error readout.

    Determinism/portability: same hash60 space and (K−1)·|H|/h_(K)
    estimator as q_approx_distinct, so DuckDB recomputes every column
    bit-for-bit — sketch SET ALGEBRA itself is hash-checked, which
    engine-native HLL/theta unions cannot offer an oracle for.

    Scale shape: one distinct-cells exchange per tagged relation, one
    per-tag two-phase top-K (Partial WindowGroupLimit below the
    shuffle — tags are the window key, so no global window), exact
    twins as two aggregates; output is ONE row.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sketches)."""
    from pyspark.sql.window import Window

    from ..functions.portable import hash60

    li = load_table(spark, sf_dir, "lineitem")
    # r11 (guide §2.3/§2.4, second pass): ONE fact scan feeds BOTH the
    # sketch and the exact twins — the per-orderkey flag aggregation
    # (in_a, in_b) is the shared exchange (the exact side consumes it
    # directly; Spark reuses the scan+partial subtree), and the tagged
    # hash cells are derived from it map-side (up to 3 tag rows per
    # key), hashing each DISTINCT orderkey once instead of every fact
    # row. The final (tag, h) distinct keeps the oracle's
    # distinct-on-HASH semantics exactly (a 60-bit collision dedupes
    # identically on both engines).
    keyed = (
        li.filter(F.col("l_returnflag").isin("R", "A"))
        .groupBy("l_orderkey")
        .agg(
            F.max((F.col("l_returnflag") == "R").cast("int")).alias("in_a"),
            F.max((F.col("l_returnflag") == "A").cast("int")).alias("in_b"),
        )
    )
    empty = F.array().cast("array<string>")
    tags = F.concat(
        F.when(F.col("in_a") == 1, F.array(F.lit("a"))).otherwise(empty),
        F.when(F.col("in_b") == 1, F.array(F.lit("b"))).otherwise(empty),
        F.array(F.lit("u")),
    )
    # r12 (guide §2.4): the (tag, h) DISTINCT was a full exchange of
    # the tagged cells whose only job was dedupe before the top-K —
    # dense_rank does both in the rank pass itself: rank ≤ K keeps
    # exactly the K smallest DISTINCT hashes (Spark's
    # InferWindowGroupLimit plans the map-side Partial WindowGroupLimit
    # for dense_rank exactly as for row_number), countDistinct(h) is
    # the old count-after-distinct, max(h) the same K-th smallest.
    # One exchange (the window's) instead of two, bit-identical cells.
    cells = keyed.select(
        hash60(F.col("l_orderkey")).alias("h"), tags.alias("tg")
    ).select(F.explode("tg").alias("tag"), "h")
    w = Window.partitionBy("tag").orderBy("h")
    kmv = (
        cells.withColumn("rn", F.dense_rank().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("tag")
        .agg(F.countDistinct("h").alias("m"), F.max("h").alias("hk"))
    )
    est = F.when(F.col("m") < KMV_K, F.col("m").cast("double")).otherwise(
        F.lit(float(KMV_K - 1)) * F.lit(HASH60_SPACE) / F.col("hk")
    )
    wide = kmv.groupBy().pivot("tag", ["a", "b", "u"]).agg(F.first(est))
    exact = (
        keyed
        .agg(
            F.sum("in_a").alias("exact_a"),
            F.sum("in_b").alias("exact_b"),
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(((F.col("in_a") + F.col("in_b")) == 2).cast("long")).alias(
                "exact_intersect"
            ),
        )
    )
    return wide.crossJoin(F.broadcast(exact)).select(
        F.round(F.col("a"), 4).alias("est_a"),
        F.round(F.col("b"), 4).alias("est_b"),
        F.round(F.col("u"), 4).alias("est_union"),
        F.round(
            F.greatest(F.col("a") + F.col("b") - F.col("u"), F.lit(0.0)), 4
        ).alias("est_intersect"),
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersect",
    )


def _q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via a DETERMINISTIC salted-hash sample
    (keep rows with hash60('qpctl'||key) ≡ 0 mod QSAMPLE_MOD — a fixed
    ~12.5% Bernoulli draw both engines reproduce) next to the exact
    values — the bounded-work path for quantiles at 100 TB: the sample
    is a map-side filter, so the expensive exact-quantile machinery
    runs on N/8 rows. Spark's engine-native KLL sketch
    (``percentile_approx``) is the smaller-memory alternative but is
    engine-specific and can't be oracle-diffed (VERDICT r9 item 3 —
    its error gate lives on in tests/test_robustness.py::
    test_kll_engine_sketch_error_bound); the hash-sample sketch is
    recomputed bit-for-bit by DuckDB (same hash, same rows, and
    ``percentile`` == ``quantile_cont`` already proven by
    q_percentile).

    Scale shape: one scan, one partial+final agg; the sampled and
    exact quantiles ride the same aggregation (null-skipping
    conditional columns), no join. Exact twin kept for the error
    readout; at 100 TB you would keep only the sampled columns.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sketches)."""
    from ..functions.portable import hash60

    orders = load_table(spark, sf_dir, "orders")
    keep = (
        hash60(F.concat(F.lit("qpctl"), F.col("o_orderkey").cast("string")))
        % QSAMPLE_MOD
        == 0
    )
    sampled = F.when(keep, F.col("o_totalprice"))
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile(sampled, F.lit(0.5)), 4).alias("ap50"),
        F.round(F.percentile(sampled, F.lit(0.9)), 4).alias("ap90"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
    )


def _q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


#: q_percentile_distributed rank targets (shared literals — both
#: engines parse the same doubles and compute the same q·n product)
PCTL_QS = (0.5, 0.9, 0.99)


def _q_percentile_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles WITHOUT a per-group sort buffer —
    the 100 TB exact path that completes the quantile triad
    (q_percentile: Spark's ``percentile`` aggregate holds every group
    value in ONE agg buffer, O(group) driver-side-of-the-reducer
    memory; q_approx_percentile: the KLL-style sketch, bounded memory
    but approximate; THIS: exact percentile_disc by rank selection
    over (type, value) CELLS with the grouped distributed two-pass
    prefix sum — bounded memory AND exact). Per event type: the
    ⌈q·n⌉-th smallest value for q ∈ PCTL_QS, i.e. the smallest value
    whose within-type inclusive cumulative count reaches the target
    rank — discrete (no interpolation), so the selected values are
    actual data points and both engines agree bit-for-bit (q·n is the
    same IEEE product from the same literals; ceil of equal doubles is
    equal).

    Scale shape: one partial-agg exchange to (type, value) cells; the
    grouped two-pass prefix sum (sampling.global_prefix_sums
    part=event_type — n_parts range tasks, no per-group sort buffer,
    no single-partition window); rank selection is a conditional MIN
    per type. The dominant-type skew corpus (one type = 0.8·N) is
    exactly the shape where the q_percentile aggregate's per-group
    buffer and a per-type sort both concentrate on one task while
    this plan stays flat.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (profiling / ANALYZE family)."""
    # r11: the cells + grouped two-pass prefix sum come from the
    # family-shared memo (stats._etv_rank) — one events pass for the
    # whole rank family; this query is the rank selection over it.
    from .stats import _etv_rank

    cum = _etv_rank(spark, sf_dir)
    n_type = cum.groupBy("event_type").agg(F.sum("c").alias("n"))
    j = cum.join(F.broadcast(n_type), "event_type")
    aggs = [F.max("n").alias("n")]
    for q in PCTL_QS:
        tag = f"p{int(round(q * 100))}"
        aggs.append(
            F.min(
                F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("value"))
            ).alias(tag)
        )
    return j.groupBy("event_type").agg(*aggs).transform(cells_sorted, "event_type")  # <= |event types| rows


def _q_percentile_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group INTERPOLATED percentiles (percentile_cont
    semantics) over the same grouped two-pass prefix-sum machinery —
    the quantile family's fourth form (exact-agg / KLL-sketch /
    exact-disc / exact-cont). The SQL-standard definition: zero-based
    position h = q·(n−1); result = v_⌊h⌋₊₁ + (h−⌊h⌋)·(v_⌊h⌋₊₂ − v_⌊h⌋₊₁)
    over the 1-based order statistics, upper rank capped at n. Rank
    selection is two conditional MINs over the inclusive cumulative
    cell counts — the same plan as q_percentile_distributed plus one
    map-side arithmetic step, still no per-group sort buffer.

    The ORACLE is DuckDB's native ``quantile_cont`` — an INDEPENDENT
    implementation, not a mirror of this construction — so the hash
    match proves the rank-interpolation formula itself (verified
    identical at 6 dp on the gate corpus; h and the lerp share
    operand order with the standard definition both engines use).

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (profiling / ANALYZE family)."""
    # r11: cells + prefix sums from the family-shared memo
    # (stats._etv_rank), as in q_percentile_distributed.
    from .stats import _etv_rank

    cum = _etv_rank(spark, sf_dir)
    n_type = cum.groupBy("event_type").agg(F.sum("c").alias("n"))
    j = cum.join(F.broadcast(n_type), "event_type")
    aggs = [F.max("n").alias("n")]
    for q in PCTL_QS:
        tag = f"p{int(round(q * 100))}"
        rlo = F.floor(F.lit(q) * (F.col("n") - 1)) + 1
        rhi = F.least(rlo + 1, F.col("n"))
        aggs.append(
            F.min(F.when(F.col("cum") >= rlo, F.col("value"))).alias(f"_lo_{tag}")
        )
        aggs.append(
            F.min(F.when(F.col("cum") >= rhi, F.col("value"))).alias(f"_hi_{tag}")
        )
    g = j.groupBy("event_type").agg(*aggs)
    out = [F.col("event_type"), F.col("n")]
    for q in PCTL_QS:
        tag = f"p{int(round(q * 100))}"
        h = F.lit(q) * (F.col("n") - 1)
        frac = h - F.floor(h)
        out.append(
            F.round(
                F.col(f"_lo_{tag}")
                + frac * (F.col(f"_hi_{tag}") - F.col(f"_lo_{tag}")),
                6,
            ).alias(tag)
        )
    return g.select(*out).transform(cells_sorted, "event_type")  # <= |event types| rows


def _percentile_interp_oracle() -> str:
    sel = ",\n       ".join(
        f"round(quantile_cont(value, {q}), 6) AS p{int(round(q * 100))}"
        for q in PCTL_QS
    )
    return f"""
SELECT event_type, CAST(count(1) AS BIGINT) AS n,
       {sel}
FROM events WHERE value IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


def _percentile_distributed_oracle() -> str:
    sel = ",\n       ".join(
        f"min(CASE WHEN cum >= ceil({q} * n) THEN value END) AS p{int(round(q * 100))}"
        for q in PCTL_QS
    )
    return f"""
WITH cells AS (
  SELECT event_type, value, CAST(count(1) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT event_type, value,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM cells
),
n AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1)
SELECT event_type, max(n) AS n,
       {sel}
FROM cum JOIN n USING (event_type)
GROUP BY event_type ORDER BY event_type
"""


def _approx_distinct_oracle() -> str:
    from ..functions.portable import hash60_sql

    h = hash60_sql("l_orderkey")
    return f"""
WITH cells AS (
  SELECT DISTINCT l_returnflag, {h} AS h FROM lineitem
),
ranked AS (
  SELECT l_returnflag, h,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
  FROM cells
),
kmv AS (
  SELECT l_returnflag, CAST(count(1) AS BIGINT) AS m, max(h) AS hk
  FROM ranked WHERE rn <= {KMV_K} GROUP BY 1
),
exact AS (
  SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag,
       CASE WHEN m < {KMV_K} THEN CAST(m AS DOUBLE)
            ELSE round({float(KMV_K - 1)!r} * {HASH60_SPACE!r} / hk, 4)
       END AS approx_orders,
       exact_orders
FROM kmv JOIN exact USING (l_returnflag)
"""


def _approx_percentile_oracle() -> str:
    from ..functions.portable import hash60_sql

    h = hash60_sql("'qpctl' || CAST(o_orderkey AS VARCHAR)")
    return f"""
SELECT o_orderstatus,
       round(quantile_cont(CASE WHEN {h} % {QSAMPLE_MOD} = 0
                           THEN o_totalprice END, 0.5), 4) AS ap50,
       round(quantile_cont(CASE WHEN {h} % {QSAMPLE_MOD} = 0
                           THEN o_totalprice END, 0.9), 4) AS ap90,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90
FROM orders GROUP BY o_orderstatus
"""


def _kmv_union_oracle() -> str:
    from ..functions.portable import hash60_sql

    h = hash60_sql("l_orderkey")
    est = (
        f"CASE WHEN m < {KMV_K} THEN CAST(m AS DOUBLE) "
        f"ELSE {float(KMV_K - 1)!r} * {HASH60_SPACE!r} / hk END"
    )
    return f"""
WITH tagged AS (
  SELECT 'a' AS tag, l_orderkey FROM lineitem WHERE l_returnflag = 'R'
  UNION ALL
  SELECT 'b', l_orderkey FROM lineitem WHERE l_returnflag = 'A'
  UNION ALL
  SELECT 'u', l_orderkey FROM lineitem WHERE l_returnflag IN ('R', 'A')
),
cells AS (SELECT DISTINCT tag, {h} AS h FROM tagged),
ranked AS (
  SELECT tag, h, row_number() OVER (PARTITION BY tag ORDER BY h) AS rn
  FROM cells
),
kmv AS (
  SELECT tag, CAST(count(1) AS BIGINT) AS m, max(h) AS hk
  FROM ranked WHERE rn <= {KMV_K} GROUP BY tag
),
wide AS (
  SELECT max(CASE WHEN tag = 'a' THEN {est} END) AS a,
         max(CASE WHEN tag = 'b' THEN {est} END) AS b,
         max(CASE WHEN tag = 'u' THEN {est} END) AS u
  FROM kmv
),
flags AS (
  SELECT l_orderkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS in_b
  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY l_orderkey
),
exact AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS exact_a,
         CAST(sum(in_b) AS BIGINT) AS exact_b,
         CAST(count(1) AS BIGINT) AS exact_union,
         CAST(sum(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_intersect
  FROM flags
)
SELECT round(a, 4) AS est_a, round(b, 4) AS est_b, round(u, 4) AS est_union,
       round(greatest(a + b - u, 0.0), 4) AS est_intersect,
       exact_a, exact_b, exact_union, exact_intersect
FROM wide, exact
"""


def _q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.filter(F.col("l_orderkey") <= 200).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"
    )
    return wide.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    ).withColumn("val", F.round("val", 4))


def _q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1.5× (not 2×) the average: the datagen's price distribution caps
    # near 2× avg, so the 2× threshold selected 0 rows — a trivially
    # hash-matching result that verifies nothing. 1.5× selects ~3.7k.
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_sq_orders")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM _sq_orders
        WHERE o_totalprice > (SELECT round(1.5 * avg(o_totalprice), 4)
                              FROM _sq_orders)
        """
    )


EVENT_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

#: the exact malformed lines injected alongside the payload — the
#: corrupt-side aggregation checks MEMBERSHIP against this set instead
#: of trusting a bare count, so a real event that serialized to
#: invalid JSON (e.g. a NaN/Infinity double) surfaces as
#: n_unexpected_corrupt > 0 (hash mismatch) rather than silently
#: inflating the poison count (round-3 advice).
JSONL_POISON = ("xnot-json", '{"event_id": oops}', "}{")
JSONL_POISON_LINES = len(JSONL_POISON)


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """serde-ser → disk → serde-de, end-to-end in batch: events are
    serialized to JSON-lines exactly the way the Kafka sink face wires
    it (``to_json`` over the typed struct — JsonObjectSerializer.java:
    37-59), written once per session, then read back through the
    PERMISSIVE schema'd edge with JSONL_POISON_LINES deliberately
    malformed lines injected (the LogAndContinueExceptionHandler
    policy, Main.java:88) and re-aggregated. Checksum equality against
    the parquet oracle proves the JSON edge is LOSSLESS for the full
    event schema — timestamps ride as epoch-ms integers so no text
    format ambiguity exists, doubles round-trip via Jackson's
    shortest-exact repr.

    Scale shape: both directions are map-only Catalyst expressions
    (to_json / from_json inside whole-stage codegen); the only
    shuffle is the final per-type checksum agg. Output: one row per
    event_type with counts/sums plus the corrupt-line count."""
    import os

    from ..functions.portable import epoch_ms

    ev = load_table(spark, sf_dir, "events")
    payload = ev.select(
        F.to_json(
            F.struct(
                F.col("event_id"),
                epoch_ms(F.col("ts")).alias("ts_ms"),
                F.col("user_id"),
                F.col("event_type"),
                F.col("value"),
                F.col("props"),
            )
        ).alias("value")
    )

    def write(out: str) -> None:
        payload.write.mode("append").text(out)
        with open(os.path.join(out, "poison.txt"), "w") as fh:
            fh.write("".join(line + "\n" for line in JSONL_POISON))

    out = write_once_per_session(spark, "okss-jsonl", sf_dir, write)
    raw = spark.read.text(out)
    good, corrupt = decode_json(raw, EVENT_JSON_SCHEMA, "value")
    g = good.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("value_sum"),
        F.max("ts_ms").alias("max_ts_ms"),
        F.countDistinct("user_id").alias("n_users"),
    )
    is_poison = F.col("raw").isin(*JSONL_POISON)
    c = corrupt.agg(
        F.coalesce(F.sum(is_poison.cast("long")), F.lit(0)).alias("n_corrupt"),
        F.coalesce(F.sum((~is_poison).cast("long")), F.lit(0)).alias("n_unexpected_corrupt"),
    )
    return g.crossJoin(F.broadcast(c))


QUERIES = {
    "q_jsonl_roundtrip": _q_jsonl_roundtrip,
    "q_err_handle": _q_err_handle,
    "q_approx_distinct": _q_approx_distinct,
    "q_kmv_union": _q_kmv_union,
    "q_approx_percentile": _q_approx_percentile,
    "q_percentile": _q_percentile,
    "q_percentile_distributed": _q_percentile_distributed,
    "q_percentile_interp": _q_percentile_interp,
    "q_unpivot": _q_unpivot,
    "q_scalar_subquery": _q_scalar_subquery,
}

ORACLE = {
    "q_jsonl_roundtrip": f"""
SELECT event_type,
       CAST(count(1) AS BIGINT) AS n_events,
       round(sum(value), 4) AS value_sum,
       CAST(max(epoch_ms(ts)) AS BIGINT) AS max_ts_ms,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST({JSONL_POISON_LINES} AS BIGINT) AS n_corrupt,
       CAST(0 AS BIGINT) AS n_unexpected_corrupt
FROM events GROUP BY event_type
""",
    "q_err_handle": """
WITH raw AS (
  SELECT event_id,
         CASE WHEN event_id % 100 = 0 THEN 'x' || props ELSE props END AS value
  FROM events
), flagged AS (
  SELECT event_id, value, json_valid(value) AS ok FROM raw
)
SELECT CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       CAST(sum(CASE WHEN ok THEN CAST(json_extract_string(value, '$.k') AS BIGINT) END) AS BIGINT) AS k_sum,
       CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt
FROM flagged
""",
    "q_approx_distinct": _approx_distinct_oracle(),
    "q_kmv_union": _kmv_union_oracle(),
    "q_approx_percentile": _approx_percentile_oracle(),
    "q_percentile": """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY o_orderstatus
""",
    "q_percentile_distributed": _percentile_distributed_oracle(),
    "q_percentile_interp": _percentile_interp_oracle(),
    "q_unpivot": """
WITH wide AS (
  SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
  FROM lineitem WHERE l_orderkey <= 200
)
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, round(l_quantity, 4) AS val FROM wide
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', round(l_discount, 4) FROM wide
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', round(l_tax, 4) FROM wide
""",
    "q_scalar_subquery": """
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM orders
WHERE o_totalprice > (SELECT round(1.5 * avg(o_totalprice), 4) FROM orders)
""",
}
