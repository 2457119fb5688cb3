"""Time-series operators over the ``events`` stream table (SURVEY §2.6/§2.9):
tumbling / sliding / session windows, late-data (watermark) policy, and
the as-of join — batch formulations whose streaming twins live in
``streaming/``.

Window columns are emitted as epoch-ms longs (window start/end), the
same stamp the reference puts on its output (Main.java:200-203), and
engine-portable for the oracle diff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .presentation import cells_sorted

from ..functions.portable import epoch_ms
from ..sources.tables import load_table
from .asof import asof_join

MIN_MS = 60_000


def tumbling(df: DataFrame, ts: str, size: str, *keys: str) -> DataFrame:
    """Tumbling window aggregation (reference win-tumble, Main.java:169):
    ``window(ts, size)`` — Catalyst computes the bucket arithmetic
    inline; one exchange on (window, keys) with partial aggregation.
    """
    return (
        df.groupBy(F.window(F.col(ts), size), *keys)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            epoch_ms(F.col("window.start")).alias("wstart_ms"),
            epoch_ms(F.col("window.end")).alias("wend_ms"),
            *keys,
            "n",
            "total_value",
        )
    )


def _q_win_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling(load_table(spark, sf_dir, "events"), "ts", "1 minute", "event_type")


def _q_win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 10-min windows sliding by 5: window() expands each row into
    # width/slide = 2 buckets before the exchange — the expansion factor
    # is the plan's cost knob, not state (batch) or timers.
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            epoch_ms(F.col("window.start")).alias("wstart_ms"),
            epoch_ms(F.col("window.end")).alias("wend_ms"),
            "event_type",
            "n",
            "total_value",
        )
    )


def _q_win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Session windows, 30-min gap per user (SURVEY §2.9 time-series row).
    # session_window works in batch aggregation too: assign provisional
    # sessions, merge overlaps — engine-managed gaps-and-islands.
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            "user_id",
            epoch_ms(F.col("session_window.start")).alias("session_start_ms"),
            epoch_ms(F.col("session_window.end")).alias("session_end_ms"),
            "n",
            "total_value",
        )
    )


def _q_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Batch analog of the watermark policy (reference grace period,
    # Main.java:169): with the watermark at max(ts) − 1 h, split events
    # into on-time vs late-dropped and count per type. The broadcast of
    # the 1-row aggregate replaces a driver round-trip.
    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg((F.max(epoch_ms(F.col("ts"))) - 3_600_000).alias("wm_ms"))
    return (
        ev.crossJoin(F.broadcast(wm))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(epoch_ms(F.col("ts")) <= F.col("wm_ms"), 1).otherwise(0)).alias("n_on_time"),
            F.sum(F.when(epoch_ms(F.col("ts")) > F.col("wm_ms"), 1).otherwise(0)).alias("n_late"),
        )
    )


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # purchases matched to the user's latest click at-or-before, 6 h
    # tolerance — the generic operator from operators/asof.py.
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id", "value")
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        right_payload=["value"],
        order_col="event_id",
        tolerance_ms=6 * 3_600_000,
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_ms(F.col("ts")).alias("ts_ms"),
        F.round("value", 4).alias("purchase_value"),
        F.round("value_asof", 4).alias("click_value"),
        epoch_ms(F.col("ts_asof")).alias("click_ts_ms"),
    )


def _asof_projected(spark: SparkSession, sf_dir: str, direction: str) -> DataFrame:
    """Shared purchases←clicks as-of shape for the three directions."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id", "value")
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        right_payload=["value"],
        order_col="event_id",
        tolerance_ms=6 * 3_600_000,
        direction=direction,
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_ms(F.col("ts")).alias("ts_ms"),
        F.round("value", 4).alias("purchase_value"),
        F.round("value_asof", 4).alias("click_value"),
        epoch_ms(F.col("ts_asof")).alias("click_ts_ms"),
    )


def _q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    # purchases matched to the user's EARLIEST click at-or-after, 6 h
    # tolerance — merge_asof(direction='forward').
    return _asof_projected(spark, sf_dir, "forward")


def _q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nearest click either side within 6 h; exact ties go backward
    # (operators/asof.py pins the rule).
    return _asof_projected(spark, sf_dir, "nearest")


BIN_MS = 1_800_000  # 30-min time bins for the range-join prefilter


def range_join(
    intervals: DataFrame,
    points: DataFrame,
    key: str,
    ts: str = "ts",
) -> DataFrame:
    """Point-in-interval range join, binned for scale.

    A naive theta join on ``start <= ts < end`` with only the key as
    equi-conjunct degrades when one key is hot: every (interval, point)
    pair under the key is tested. Here each interval explodes into the
    fixed-width time bins it covers (``sequence`` over bin ids — ≤ 2
    bins for a 30-min interval on 30-min bins) and points carry their
    single bin, so the join is EQUI on (key, bin) — hash-partitioned,
    no per-key quadratic probe — with the exact range check left as a
    residual. The bin width is the tuning knob: narrower bins cut
    false candidates, wider bins cut interval duplication.

    ``intervals`` needs columns: ``interval_id``, key, ``start_ms``,
    ``end_ms``; ``points`` needs key, ts, plus payload.
    """
    binned = intervals.withColumn(
        "bin",
        F.explode(
            F.sequence(
                (F.col("start_ms") / BIN_MS).cast("long"),
                (F.col("end_ms") / BIN_MS).cast("long"),
            )
        ),
    )
    pts = points.withColumn("bin", (epoch_ms(F.col(ts)) / BIN_MS).cast("long")).withColumn(
        "pt_ms", epoch_ms(F.col(ts))
    )
    return binned.join(pts, [key, "bin"], "inner").filter(
        (F.col("pt_ms") >= F.col("start_ms")) & (F.col("pt_ms") < F.col("end_ms"))
    )


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each signup opens a 30-min attribution window for that user; count
    # and sum all the user's events falling inside it. Inner join is
    # total here because the signup event itself lands in its own window.
    ev = load_table(spark, sf_dir, "events")
    intervals = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        epoch_ms(F.col("ts")).alias("start_ms"),
        (epoch_ms(F.col("ts")) + BIN_MS).alias("end_ms"),
    )
    joined = range_join(intervals, ev.select("user_id", "ts", "value"), key="user_id")
    return joined.groupBy("interval_id", "user_id", "start_ms", "end_ms").agg(
        F.count(F.lit(1)).alias("n_in_window"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )



def interval_overlap_join(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """Interval × interval overlap join, binned for scale — the
    generalization of :func:`range_join` from points to intervals.

    Overlap (``a.start <= b.end AND b.start <= a.end``) has no equi
    conjunct, so a naive theta join is a per-key nested-loop probe.
    Both sides explode into the fixed-width time bins they cover; two
    overlapping intervals necessarily share the bin containing the
    later of the two starts, so the EQUI join on (key, bin) loses no
    pairs. A pair sharing several bins appears once per shared bin —
    ``distinct`` after the residual check restores set semantics.

    ``a`` needs (key, a_id, a_start_ms, a_end_ms); ``b`` needs
    (key, b_id, b_start_ms, b_end_ms).
    """
    def binned(df: DataFrame, start: str, end: str) -> DataFrame:
        return df.withColumn(
            "bin",
            F.explode(
                F.sequence(
                    (F.col(start) / BIN_MS).cast("long"),
                    (F.col(end) / BIN_MS).cast("long"),
                )
            ),
        )

    return (
        binned(a, "a_start_ms", "a_end_ms")
        .join(binned(b, "b_start_ms", "b_end_ms"), [key, "bin"], "inner")
        .filter(
            (F.col("a_start_ms") <= F.col("b_end_ms"))
            & (F.col("b_start_ms") <= F.col("a_end_ms"))
        )
        .drop("bin")
        .distinct()
    )


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which user sessions overlapped an error window the same user
    experienced — sessions (gaps-and-islands, q_sessionize) overlap-
    joined against 30-min windows opened by each error event, with the
    overlap duration computed on the surviving pairs."""
    sessions = _q_sessionize(spark, sf_dir).select(
        "user_id",
        F.col("session_id").alias("a_id"),
        F.col("session_start_ms").alias("a_start_ms"),
        F.col("session_end_ms").alias("a_end_ms"),
    )
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("b_id"),
        epoch_ms(F.col("ts")).alias("b_start_ms"),
        (epoch_ms(F.col("ts")) + BIN_MS).alias("b_end_ms"),
    )
    pairs = interval_overlap_join(sessions, errors, key="user_id")
    overlap = F.least("a_end_ms", "b_end_ms") - F.greatest("a_start_ms", "b_start_ms")
    return pairs.select(
        "user_id",
        F.col("a_id").alias("session_id"),
        F.col("b_id").alias("error_event_id"),
        overlap.alias("overlap_ms"),
    )



EWMA_ALPHA = 0.3


def _q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of each user's event
    values, in event-time order: ewma_t = α·x_t + (1−α)·ewma_{t−1},
    seeded with the first value.

    Sequential recurrences don't fit window frames, so this uses the
    collect→sort→fold shape: one shuffle groups each user's events,
    ``array_sort`` orders the (ms, event_id, value) structs, and a
    single ``aggregate`` fold runs the recurrence. State per user is
    one double — the fold is O(events-per-user) with no further
    shuffle, and both engines execute the identical float operation
    sequence, so results are bit-reproducible cross-engine (rounded
    for the hash anyway)."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.array_sort(
        F.collect_list(F.struct(epoch_ms(F.col("ts")).alias("ms"), "event_id", "value"))
    )
    grouped = ev.groupBy("user_id").agg(seq.alias("seq"))
    vals = F.transform(F.col("seq"), lambda s: s.getField("value"))
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(EWMA_ALPHA) * x + F.lit(1 - EWMA_ALPHA) * acc,
    )
    return grouped.select(
        "user_id",
        F.size("seq").alias("n_events"),
        F.round(F.element_at(vals, -1), 6).alias("last_value"),
        F.round(ewma, 6).alias("ewma"),
    )



HIST_BUCKET_WIDTH = 25.0
OUTLIER_Z = 3.0


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram of event values — the profiling
    primitive behind data-quality dashboards. Bucketing is a pure
    projection (floor-divide), so the whole query is one partial+final
    hash aggregation over ~20 bucket keys: the shuffle carries one row
    per bucket per partition regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / HIST_BUCKET_WIDTH).cast("long")
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


def _q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outlier filter: events whose value deviates more than
    OUTLIER_Z sample standard deviations from their event-type mean.
    Per-type mean/stddev come from one partial+final aggregation
    broadcast-joined back (the q_mad_outliers discipline — r7: the old
    unordered per-type window materialized each type's whole partition
    in ONE task, O(N/|types|) rows under the 80%-dominant-type skew
    corpus; the agg partial-combines map-side and the join is a
    broadcast of |types| rows); the z-score and filter are projections
    on top — the declarative twin of the pandas grouped-map z-score
    (q_grouped_map), kept JVM-side for the 100 TB hot path."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("_mean"),
        F.stddev_samp("value").alias("_sd"),
    )
    ev = ev.join(F.broadcast(stats), "event_type")
    z = (F.col("value") - F.col("_mean")) / F.col("_sd")
    return (
        ev.select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("z"),
        )
        .filter(F.abs(F.col("z")) > OUTLIER_Z)
    )



def _q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type distribution (nats) plus the
    frequency table it derives from — the class-balance profiling stat
    a pipeline monitors for drift. Two chained aggregations: the
    per-type count (partial+final over a handful of keys) and a
    single-row reduce; the second stage input is one row per type, so
    cost is independent of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    freq = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    tot = freq.agg(
        F.sum("n_t").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
    )
    p = F.col("n_t") / F.col("n_events")
    return (
        freq.crossJoin(F.broadcast(tot))
        .agg(
            F.first("n_events").alias("n_events"),
            F.first("n_types").alias("n_types"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
        )
    )


def _q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascaded rollup: minute partials re-aggregated
    to hourly (the continuous-aggregate pattern).

    count/sum decompose, so the hourly tier reads the ~60×-smaller
    minute tier instead of raw events — at 100 TB the minute partials
    are what you materialize (partitioned by hour) and every coarser
    resolution derives from them without touching raw data.
    ``n_active_minutes`` only exists because the cascade does.
    """
    ev = load_table(spark, sf_dir, "events")
    minute = ev.groupBy(F.window("ts", "1 minute"), "event_type").agg(
        F.count(F.lit(1)).alias("mn"), F.sum("value").alias("mv")
    )
    return (
        minute.select(
            epoch_ms(F.date_trunc("hour", F.col("window.start"))).alias("hour_ms"),
            "event_type",
            "mn",
            "mv",
        )
        .groupBy("hour_ms", "event_type")
        .agg(
            F.sum("mn").alias("n"),
            F.round(F.sum("mv"), 4).alias("total_value"),
            F.count(F.lit(1)).alias("n_active_minutes"),
        )
    )


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: signup → first click after signup →
    first purchase after that click, per user; one summary row of
    stage conversion counts.

    Each stage is a min-aggregate shuffling on user_id, with the
    previous stage's (user, stage_ts) output — tiny relative to the
    fact — broadcast into the next stage's filter, so raw events are
    scanned per stage but never shuffled into a join. At 100 TB only
    the per-user stage timestamps flow between stages; pre-bucketing
    events by user_id would remove the agg exchanges entirely.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_signup"),
            F.count("t_click").alias("n_click_after_signup"),
            F.count("t_purchase").alias("n_purchase_after_click"),
        )
    )


WEEK_MS = 7 * 24 * 3_600_000


def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-signup week,
    counted as retained in each later week they produced any event
    (offset 0..8 weeks). The workhorse growth-analytics query.

    Weeks are fixed 7-day bins from the epoch-ms (not calendar
    date_trunc) so both engines bin identically and the arithmetic is
    pure int64 — portable and codegen-friendly. Two shuffles: the
    per-user cohort agg, then the (cohort, offset) distinct-count.
    """
    ev = load_table(spark, sf_dir, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(((F.min(epoch_ms(F.col("ts"))) / WEEK_MS).cast("long")).alias("cohort_week"))
    )
    active = ev.select("user_id", (epoch_ms(F.col("ts")) / WEEK_MS).cast("long").alias("wk"))
    return (
        active.join(cohort, "user_id")
        .withColumn("week_offset", F.col("wk") - F.col("cohort_week"))
        .filter(F.col("week_offset").between(0, 8))
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )



#: CUSUM parameters (Page 1954): slack k (in σ units) absorbs noise,
#: decision threshold h flags a sustained mean shift.
CUSUM_K = 0.25
CUSUM_H = 3.0


def _q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM changepoint detection, formulated WITHOUT
    the textbook recursion: CUSUM⁺_i = max(0, CUSUM⁺_{i-1} + z_i − k)
    equals S_i − min_{j≤i} S_j where S is the prefix sum of (z − k) —
    a prefix sum and a running min. r7: both prefixes run as GROUPED
    distributed two-pass forms (sampling.global_prefix_sums
    part=event_type, agg=sum then agg=min) — the old per-type ordered
    windows ranked O(N/|types|) RAW event rows in one task per type,
    the exact single-task-sort class the r6 verdict retired from the
    stats family, and the skew corpus's 80%-dominant type makes one
    such task 0.8·N. The recursive form would force a
    sequential fold (the EWMA path); this algebraic identity keeps
    changepoint detection fully declarative and whole-stage-codegen'd
    at 100 TB.

    μ/σ are rounded to 6 decimals BEFORE standardization on both
    engines, and the prefix sum S is rounded to 6 decimals BEFORE the
    running-min stage (also on both): partial-aggregation/association
    order differs between engines — and between the one-window and
    two-pass forms — in the last ulp, and the prefix chain would
    amplify it; rounding pins the downstream comparison and peak
    readout. Known probabilistic residue (ADVICE r7, accepted): the
    6-dp round is applied to a value whose two-pass association order
    differs from the oracle's sequential sum by ~1 ulp, so a prefix
    sum landing within ~1e-12 of a 5·10⁻⁷ rounding boundary on a
    future fixture/seed could flip one hashed digit — per-value odds
    ~1e-6, detected (not hidden) by the oracle gate, and re-seeding
    the fixture is the documented remedy. Output: per type, event
    count, alarm count (cusum > h), peak cusum."""
    from .dedup import _memo_persist
    from .sampling import global_prefix_sums

    # NULL values dropped on both engines: a NULL z would otherwise
    # flow into the prefix chain as NULL (old window) vs 0 (two-pass
    # sum combine) — review finding, latent until the fixture gains
    # NULL values
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("_mu"),
        F.round(F.stddev_samp("value"), 6).alias("_sd"),
    )
    zdf = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        ((F.col("value") - F.col("_mu")) / F.col("_sd") - CUSUM_K).alias("zk"),
    )
    pre = global_prefix_sums(
        zdf,
        ["ts", "event_id"],
        {"s_raw": "zk"},
        part=("event_type",),
        inclusive=True,
        memo=lambda b: _memo_persist(spark, sf_dir, "cusum_z", b),
    ).select("event_type", "ts", "event_id", F.round("s_raw", 6).alias("s"))
    run = global_prefix_sums(
        pre,
        ["ts", "event_id"],
        {"mins": "s"},
        part=("event_type",),
        inclusive=True,
        agg="min",
        memo=lambda b: _memo_persist(spark, sf_dir, "cusum_s", b),
    )
    scored = run.select("event_type", (F.col("s") - F.col("mins")).alias("cusum"))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("cusum") > CUSUM_H).cast("long")).alias("n_alarms"),
        F.round(F.max("cusum"), 6).alias("peak_cusum"),
    )


SESSION_GAP_MS = 30 * 60 * 1000


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via gaps-and-islands window functions —
    the batch-native counterpart to ``session_window`` (q_win_session):
    a new session starts when a user's inter-event gap reaches 30 min
    (>= gap — matching session_window's half-open [start, last+gap)
    windows, where an event exactly at the window end opens a new one);
    the running sum of session-start markers is the per-user ordinal
    session id, which session_window cannot expose.

    One exchange total: the lag/sum windows shuffle on user_id, and the
    final (user_id, session_id) aggregation is satisfied by that same
    partitioning (user_id is a subset of the grouping key), so Catalyst
    inserts no second shuffle."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = epoch_ms(F.col("ts"))
    prev_ms = F.lag(ms).over(w)
    new_sess = F.when(prev_ms.isNull() | (ms - prev_ms >= SESSION_GAP_MS), 1).otherwise(0)
    sid = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        ev.select("user_id", "event_id", ms.alias("ms"), "value", sid.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ms").alias("session_start_ms"),
            F.max("ms").alias("session_end_ms"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )




def _q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resampling with last-observation-carried-
    forward — the TSDB staple (TimescaleDB's time_bucket_gapfill +
    locf) re-expressed Spark-first: per user, an hourly grid spanning
    [trunc(min ts), trunc(max ts)] is UNIONED with the raw events and
    ONE window carry fills every grid point with the latest value at
    or before it — the same union+carry seam as the as-of joins
    (operators/asof.py): no range join, no per-grid-point probe, one
    user_id exchange total.

    Grid marks order after same-timestamp events via the is_grid flag
    itself (events=0 sort before grid=1; event_id with NULLS FIRST
    pinned on both engines breaks remaining ties), making the carry
    deterministic under duplicate timestamps with no sentinel that a
    real NULL/huge event_id could collide with. Grid points before a
    user's first event stay empty and are counted, not invented.

    Output is the per-user audit (n_hours, n_empty, locf_checksum =
    rounded sum of filled grid values) — the checksum pins every
    carried value without shipping the full grid through the driver
    compare."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    return gapfill_locf(ev)


def gapfill_locf(ev: DataFrame) -> DataFrame:
    """The gap-fill/LOCF body over any (user_id, ts, value, event_id)
    frame — factored out so the hypothesis property test can drive it
    with generated event sets (tests/test_gapfill_property.py)."""
    from pyspark.sql import Window

    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("t"),
    ).select("user_id", "t", F.lit(None).cast("double").alias("v"), F.lit(None).cast("long").alias("event_id"), F.lit(1).alias("is_grid"))
    marks = ev.select(
        "user_id", F.col("ts").alias("t"), F.col("value").alias("v"), "event_id", F.lit(0).alias("is_grid")
    )
    # Secondary sort key is is_grid (events BEFORE grid marks at the
    # same timestamp), then event_id with NULLS FIRST pinned on both
    # engines. Round-3 advice: the previous coalesce(event_id, 2^62)
    # sentinel collided with grid rows whenever a real event had NULL
    # event_id (or event_id >= 2^62), making the carry order
    # nondeterministic; is_grid separates the two row kinds by
    # construction, no sentinel needed.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").asc(), F.col("is_grid").asc(), F.col("event_id").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = (
        marks.unionByName(grid)
        .withColumn("locf", F.last("v", ignorenulls=True).over(w))
        .filter(F.col("is_grid") == 1)
    )
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.col("locf").isNull().cast("long")).alias("n_empty"),
        F.round(F.sum("locf"), 4).alias("locf_checksum"),
    )

def _q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user journeys: for
    every adjacent pair of events within a user's timeline (ordered by
    ts, event_id), count prev_type → next_type and normalize per
    prev_type row — the journey-analysis complement of the funnel
    (which pins ONE path) and the input to next-event prediction,
    anomaly scoring (improbable transitions), and bot detection
    (near-deterministic rows). Reference scope: the pair-matching
    topology of OrderProcessor.process (reference
    src/main/java/com/github/dhoard/kstreams/OrderProcessor.java)
    generalized from one (ORDER_CREATED→ORDER_CONFIRMED) pair to the
    full event-type alphabet.

    Scale shape: ONE exchange on user_id for the lag window, then the
    corpus collapses to |alphabet|² count cells; the row-normalizing
    window runs over that tiny cell relation. Pre-bucketing events by
    user_id would remove the exchange entirely (same note as
    q_sessionize)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    cells = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wrow = Window.partitionBy("prev_type")
    return cells.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(wrow), 6
        ).alias("prob"),
    )


AC_LAGS = (1, 6, 24)  # hourly, shift-scale, daily seasonality probes


def _q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags 1/6/24
    — the seasonality detector behind capacity planning and anomaly
    baselines (a strong lag-24 says 'compare to yesterday's hour, not
    to the last hour'). The series is the ZERO-FILLED hourly grid
    (skipping empty hours would silently misalign every lag — the
    same grid discipline as q_gapfill_locf).

    Scale shape: the corpus collapses to hourly count cells in one
    partial aggregation; lag pairing is a self-JOIN of the tiny cell
    relation on shifted hour keys (no global-order window — the
    series is dim-table sized but the join form stays partitionable
    if it ever isn't). Pearson terms are integer-valued doubles
    (exact, order-independent sums well under 2^53), so both engines
    agree bit-for-bit before the single rounded division.

    Output: (lag, n_pairs, autocorr)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("h")
    )
    cnt = ev.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    bounds = ev.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    series = grid.join(cnt, "h", "left").select(
        "h", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    shifted = None
    for lag in AC_LAGS:
        s = series.select(
            F.lit(lag).alias("lag"),
            (F.col("h") + F.expr(f"INTERVAL {lag} HOUR")).alias("h"),
            F.col("c").alias("cl"),
        )
        shifted = s if shifted is None else shifted.unionByName(s)
    x = F.col("c").cast("double")
    y = F.col("cl").cast("double")
    a = (
        series.join(shifted, "h")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
            F.sum(x * y).alias("sxy"),
        )
    )
    n = F.col("n_pairs").cast("double")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return a.select("lag", "n_pairs", F.round(r, 6).alias("autocorr"))


SEAS_TREND_W = 12  # ± hours of the centered moving-average trend
SEAS_Z = 3.0  # residual-sigma flag threshold


def _q_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection over the hourly event-count series —
    an STL-lite decomposition (count = trend + hour-of-day seasonal +
    residual) that flags hours whose residual exceeds SEAS_Z sigmas:
    the ops question q_autocorr's lag-24 answer sets up ("compare to
    yesterday's hour") made operational. Trend is a centered ±
    SEAS_TREND_W-hour moving average (window truncates at the series
    edges — same semantics both engines); seasonal is the
    hour-of-day mean deviation from the overall mean, over the SAME
    zero-filled grid as q_autocorr (skipping empty hours would
    misalign the seasonal index). Output: the flagged hours
    (hour_ms, c, expected, resid).

    Scale shape: the corpus collapses to hourly count cells in one
    partial aggregation; every window/join after that runs on the
    O(hours) cell relation (the global-order trend window is over
    series cells, dim-table sized — at years×high-resolution scale
    it would range-partition with ±W overlap, the q_shard_layout
    two-pass pattern). The 24-cell seasonal index and the 1-row
    mean/sigma attach as broadcasts.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (profiling / time-series family)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("h")
    )
    cnt = ev.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    bounds = ev.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    series = grid.join(cnt, "h", "left").select(
        "h", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    w = Window.orderBy("h").rowsBetween(-SEAS_TREND_W, SEAS_TREND_W)
    t = series.select("h", "c", F.avg("c").over(w).alias("trend"))
    hod = series.groupBy(F.hour("h").alias("hh")).agg(F.avg("c").alias("hod_avg"))
    mu = series.agg(F.avg("c").alias("mu"))
    e = (
        t.join(F.broadcast(hod), F.hour(t["h"]) == hod["hh"])
        .crossJoin(F.broadcast(mu))
        .select(
            "h",
            "c",
            (F.col("trend") + F.col("hod_avg") - F.col("mu")).alias("expected"),
            (
                F.col("c") - (F.col("trend") + F.col("hod_avg") - F.col("mu"))
            ).alias("resid"),
        )
    )
    sd = e.agg(F.stddev_samp("resid").alias("sd"))
    # Round BOTH sides of the threshold compare (round-before-compare
    # discipline, as q_burstiness): stddev_samp accumulation order
    # differs across engines, so an unrounded boundary residual could
    # flip the emitted ROW SET cross-engine, not just a value.
    return (
        e.crossJoin(F.broadcast(sd))
        .filter(
            F.round(F.abs(F.col("resid")), 6)
            > SEAS_Z * F.round(F.col("sd"), 6)
        )
        .select(
            epoch_ms(F.col("h")).alias("hour_ms"),
            "c",
            F.round("expected", 4).alias("expected"),
            F.round("resid", 4).alias("resid"),
        )
        .transform(cells_sorted, "hour_ms")  # calendar-hour cells
    )


COOC_MIN_SUPPORT = 5  # minimum co-occurring-user count for a pair
COOC_TOP_K = 20  # association pairs reported
#: frequent-item basket size above which pair generation switches to
#: triangle bucketing (see _cooc_pairs). Since identical-basket
#: compression the fan-out is per DISTINCT basket, so the real bound
#: is C(cap, 2) pair rows streamed through ONE Generate task
#: (≈ 8.4M rows at 4096 — comparable to a big scan partition);
#: below that the bucket grid's ~(S+1)/2× row replication + join
#: overhead costs more than it parallelizes (r11 measured the skew
#: corpus's 2000-item bot basket: grid 1.7-2.4 s vs 0.2 s inside the
#: one-pass explode; threshold raised 256 → 4096). It must stay
#: ≥ 2·COOC_PAIR_BUCKETS so the grid branch always has work below the
#: threshold per bucket, and ≤ 16384, which caps the in-explode branch
#: at C(16384,2) ≈ 134M one-task pair rows (~4 GB of 32-byte structs —
#: the absolute ceiling a task should ever own; see the memory note
#: below)
COOC_HEAVY_BASKET = 4096
COOC_PAIR_BUCKETS = 16  # hash buckets per heavy basket (S); a heavy
#: user's pair work spreads over S(S+1)/2 = 136 join cells


def _baskets_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (user_id, item) basket relation, memo-persisted:
    both co-occurrence variants consume it four ways (user count,
    item marginals, both self-join sides) — one events scan + one
    distinct per session instead of four. The relation is two longs
    per row, bounded by |users|·|catalog| — orders of magnitude
    smaller than events, safe to MEMORY_AND_DISK at 100 TB."""
    from .dedup import _memo_persist

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("props").isNotNull()
            & F.get_json_object("props", "$.k").isNotNull()
        )
        return ev.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        ).distinct()

    return _memo_persist(spark, sf_dir, "cooc_baskets", build)


def _cooc_pairs(
    spark: SparkSession, sf_dir: str, fb: DataFrame, tag: str
) -> DataFrame:
    """Weighted unordered item pairs ``(ia < ib, w)`` from the
    frequent-item basket relation ``fb(user_id, k)`` — skew-proof.
    ``sum(w)`` grouped by (ia, ib) equals the co-occurring-user count
    the naive per-user self-join would produce.

    Two compounding defenses against basket skew, both result-
    preserving:

    1. **Identical-basket compression** (the FP-Growth preprocessing
       step — merge equal transactions and carry multiplicity,
       Han et al. 2000): baskets are materialized per user as a
       sorted item array, grouped BY THE ARRAY ITSELF (exact, no
       fingerprint collisions), and each distinct basket generates
       its pairs once with weight w = |users holding it|. A 6-account
       bot cohort sharing one 2·10³-item basket emits its ~2·10⁶
       pairs ONCE with w = 6 instead of 1.2·10⁷ rows — and on real
       data the long head of small identical baskets (single-item
       users, common 2-3 item combos) compresses the same way.

    2. **Triangle bucketing** for the residual single-heavy-basket
       fan-out: a distinct basket above COOC_HEAVY_BASKET frequent
       items hashes its items into S = COOC_PAIR_BUCKETS buckets; the
       (p ≤ q) bucket-pair grid is an S(S+1)/2-row broadcast and the
       pair join key becomes (basket, p, q), so one heavy basket's
       C(m, 2) products spread over 136 cells of (m/S)² each instead
       of serializing in ONE task (the plain user_id self-join
       measured 5-12 s at sf1skew with 26 of 32 cores idle). Each
       unordered pair is generated exactly once: cross-bucket pairs
       (p < q) live in their (min, max) cell with no intra-cell
       filter; same-bucket pairs (p = q) under k_a < k_b; output is
       canonicalized via least/greatest. Light baskets (≤ the
       threshold; p99 basket is ~60 at sf1) keep the direct
       self-join — bucketing them would replicate every row S+1
       times for no benefit.

    The per-user collect_list groups are bounded by the catalog (a
    basket is a set of distinct items), the distinct-basket relation
    is ≤ the user count, and the heavy-basket id set is bounded by
    |fb| / COOC_HEAVY_BASKET (disjoint-basket pigeonhole) — every
    broadcast here is small by construction.

    ``tag`` is REQUIRED (r12, ADVICE r11): the distinct-basket memo is
    keyed (app, sf_dir, tag) but ``fb`` is caller-supplied — two calls
    with different ``fb`` under one tag would silently alias to the
    first call's baskets, so every caller must pick a tag that is 1:1
    with its ``fb`` construction."""
    S = COOC_PAIR_BUCKETS

    def build_dist() -> DataFrame:
        ub = fb.groupBy("user_id").agg(
            F.sort_array(F.collect_list("k")).alias("ks")
        )
        return ub.groupBy("ks").agg(
            F.count(F.lit(1)).alias("w"), F.min("user_id").alias("bid")
        )

    # consumed by BOTH the light and heavy branches — without the memo
    # the two collect_list exchanges above run once per branch (the
    # _baskets_cached discipline). ≤ |users| rows of item arrays.
    from .dedup import _memo_persist

    dist = _memo_persist(spark, sf_dir, tag, build_dist)
    # Light baskets: ordered pairs by DOUBLE explode of the cached
    # basket array — two codegen Generate nodes feeding the partial
    # aggregate map-side, NO exchange and NO self-join (r11, the
    # q_winnow_match posting-list form; the old exploded self-join on
    # bid shuffled the flat postings and sort-merged two copies). The
    # fan-out is bounded at COOC_HEAVY_BASKET² rows per distinct
    # basket, generated and partially-combined inside one task.
    light_pairs = (
        dist.filter(F.size("ks") <= COOC_HEAVY_BASKET)
        .select("w", F.explode("ks").alias("ia"), "ks")
        .select("w", "ia", F.explode("ks").alias("ib"))
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", "w")
    )
    hv = (
        dist.select(
            "bid", "w", F.size("ks").alias("m"), F.explode("ks").alias("k")
        )
        .filter(F.col("m") > COOC_HEAVY_BASKET)
        .withColumn("g", F.pmod(F.hash("k"), F.lit(S)))
    )
    p = spark.range(S).select(F.col("id").cast("int").alias("p"))
    q = spark.range(S).select(F.col("id").cast("int").alias("q"))
    grid = p.crossJoin(q).filter(F.col("p") <= F.col("q"))
    arep = hv.select(
        "bid", "w", F.col("k").alias("ka"), F.col("g").alias("p")
    ).join(F.broadcast(grid), "p")
    brep = hv.select("bid", F.col("k").alias("kb"), F.col("g").alias("q")).join(
        F.broadcast(grid), "q"
    )
    heavy_pairs = (
        arep.join(brep, ["bid", "p", "q"])
        .filter((F.col("p") < F.col("q")) | (F.col("ka") < F.col("kb")))
        .select(
            F.least("ka", "kb").alias("ia"),
            F.greatest("ka", "kb").alias("ib"),
            "w",
        )
    )
    return light_pairs.unionByName(heavy_pairs)


def _q_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket item co-occurrence with lift — the association
    signal behind "users who touched item a also touched b"
    (item-item collaborative filtering's input, Amazon 2003; a-priori
    support pruning): baskets are each user's DISTINCT item set
    (events.props.$.k), pairs are counted once per co-occurring user,
    and lift = P(a,b) / (P(a)·P(b)) normalizes away item popularity.
    Reported: the COOC_TOP_K pairs by lift above COOC_MIN_SUPPORT
    users, with support and confidence.

    Scale shape: the basket relation (distinct user×item) is built
    ONCE and memo-persisted (the _shingled_cached discipline) — it is
    consumed four ways (user count, item marginals, both self-join
    sides), and without the cache each consumer re-scans events and
    re-runs the distinct (measured 8.5 → 16-23 s at sf1 when the
    a-priori path was first added uncached). The pair generation
    self-joins the cached relation on user_id, and the (a, b) pair
    counts partial-combine map-side into ≤ |items|² cells — raw pair
    rows never hit one reducer. Item marginals are an |items|-row
    broadcast; the user count a 1-row broadcast. A-priori pruning IS
    applied before the self-join: n_ab ≥ COOC_MIN_SUPPORT implies
    n_a ≥ COOC_MIN_SUPPORT and n_b ≥ COOC_MIN_SUPPORT (every
    co-occurring user holds both items), so semi-joining baskets
    against the frequent-item set is LOSSLESS — same oracle hash —
    while bounding long-tail fan-out (rare items never enter the
    quadratic step). The remaining per-user fan-out is quadratic in
    the FREQUENT-item basket size and — since r8 — SKEW-PROOF: pair
    generation goes through _cooc_pairs, which triangle-buckets any
    basket above COOC_HEAVY_BASKET frequent items so one bot cohort's
    C(2000, 2) fan-out spreads over 136 (user, bucket-pair) join
    cells instead of serializing on 6 user_id keys (measured 6.7 →
    ~3 s warm at sf1skew). The truncation that CHANGES the answer for
    genuinely-universal-item skew remains the separate, documented
    q_item_cooccurrence_capped variant — this query stays exact.
    Top-k is TakeOrdered, never a global sort. The
    collect_set + nested-transform array form was measured SLOWER
    (12.4 vs 9.5 s at sf1): slice(ks, i+2, …) inside the pair lambda
    re-evaluates per element (the interpreted-HOF hazard
    textfns.shingles documents), while the self-join fan-out stays
    in whole-stage codegen. Pinned in the bench sf1 heavy tier.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sessionization / behavioral
    analytics family)."""
    baskets = _baskets_cached(spark, sf_dir)
    # all-users denominator as a construction-time probe over the
    # cached relation (r11, the consensus-dispatch pattern): it is a
    # corpus constant, and the in-plan form re-ran a countDistinct
    # pass over the cached baskets + a broadcast attach per execution
    # STALENESS CONTRACT (ADVICE r11): the literal is probed ONCE at
    # query construction over the eagerly-materialized memo — valid
    # under the static-corpus driver contract (the parquet inputs
    # never change within a session); a mutable-source deployment
    # must re-construct the query after ingest. Construction also
    # runs a Spark job, so plan-only tooling sees jobs here.
    n_users = F.lit(baskets.agg(F.countDistinct("user_id")).first()[0])
    items = baskets.groupBy("k").agg(F.count(F.lit(1)).alias("n_i"))
    # A-priori semi-join: only items with n_i >= MIN_SUPPORT can
    # appear in a qualifying pair (lossless — see docstring). The
    # frequent-item set is catalog-bounded, so it broadcasts.
    freq = items.filter(F.col("n_i") >= COOC_MIN_SUPPORT).select("k")
    fb = baskets.join(F.broadcast(freq), "k", "left_semi")
    pairs = (
        _cooc_pairs(spark, sf_dir, fb, tag="cooc_dist")
        .groupBy("ia", "ib")
        .agg(F.sum("w").alias("n_ab"))
        .filter(F.col("n_ab") >= COOC_MIN_SUPPORT)
    )
    na = items.select(F.col("k").alias("ia"), F.col("n_i").alias("n_a"))
    nb = items.select(F.col("k").alias("ib"), F.col("n_i").alias("n_b"))
    j = pairs.join(F.broadcast(na), "ia").join(F.broadcast(nb), "ib")
    lift = F.col("n_ab") * n_users / (F.col("n_a") * F.col("n_b"))
    return (
        j.select(
            "ia",
            "ib",
            "n_ab",
            F.round(F.col("n_ab") / n_users, 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "ia", "ib")
        .limit(COOC_TOP_K)
    )


COOC_BASKET_CAP = 64  # max items per user entering the pair self-join


def _q_item_cooccurrence_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_item_cooccurrence with an EXPLICIT per-user basket cap — the
    truncation the a-priori semi-join cannot provide when a single
    power user (bot, shared account) holds 10⁴ individually-frequent
    items: that one key would emit |basket|²/2 ≈ 5·10⁷ pair rows into
    the shuffle. Here each user's basket is truncated to its
    COOC_BASKET_CAP smallest item ids (deterministic head — both
    engines rank by k ascending, so the oracle sees the identical
    truncation), bounding per-key fan-out at C(CAP,2) = 2016 rows.
    This is a DIFFERENT query from q_item_cooccurrence by design:
    support/confidence/lift are computed over the capped baskets, so
    the truncation is visible in the contract rather than silently
    changing the uncapped answer.

    Scale shape: identical to q_item_cooccurrence (one basket
    exchange, reused by marginals and the self-join; broadcast
    frequent-item semi-join; map-side partial pair counts; TakeOrdered
    top-k) plus one rank window PARTITIONED BY user_id — per-user
    partitions, never global. The cap makes the pair stage's per-task
    row count O(|users_in_task| · CAP²) regardless of skew: the
    worst key costs the same as any other.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (behavioral analytics family)."""
    from pyspark.sql import Window

    from .dedup import _memo_persist

    def build() -> DataFrame:
        rw = Window.partitionBy("user_id").orderBy("k")
        return (
            _baskets_cached(spark, sf_dir)
            .withColumn("rn", F.row_number().over(rw))
            .filter(F.col("rn") <= COOC_BASKET_CAP)
            .drop("rn")
        )

    # memo-persisted like the uncapped relation: four consumers, and
    # the rank window would otherwise re-run per consumer
    baskets = _memo_persist(spark, sf_dir, "cooc_baskets_capped", build)
    # construction-time denominator probe — see q_item_cooccurrence
    # (same STALENESS CONTRACT: probed once, static-corpus sessions)
    n_users = F.lit(baskets.agg(F.countDistinct("user_id")).first()[0])
    items = baskets.groupBy("k").agg(F.count(F.lit(1)).alias("n_i"))
    freq = items.filter(F.col("n_i") >= COOC_MIN_SUPPORT).select("k")
    fb = baskets.join(F.broadcast(freq), "k", "left_semi")
    # pair generation via _cooc_pairs (r11): capped baskets are ≤ CAP
    # items so every distinct basket takes the light double-explode
    # path — identical-basket compression + map-side pair fan-out,
    # no per-user self-join; sum(w) ≡ the co-occurring-user count the
    # self-join counted row-by-row.
    pairs = (
        _cooc_pairs(spark, sf_dir, fb, tag="cooc_dist_capped")
        .groupBy("ia", "ib")
        .agg(F.sum("w").alias("n_ab"))
        .filter(F.col("n_ab") >= COOC_MIN_SUPPORT)
    )
    na = items.select(F.col("k").alias("ia"), F.col("n_i").alias("n_a"))
    nb = items.select(F.col("k").alias("ib"), F.col("n_i").alias("n_b"))
    j = pairs.join(F.broadcast(na), "ia").join(F.broadcast(nb), "ib")
    lift = F.col("n_ab") * n_users / (F.col("n_a") * F.col("n_b"))
    return (
        j.select(
            "ia",
            "ib",
            "n_ab",
            F.round(F.col("n_ab") / n_users, 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "ia", "ib")
        .limit(COOC_TOP_K)
    )


XC_PAIRS = (("click", "purchase"), ("view", "click"), ("signup", "purchase"))
XC_MAX_LAG = 24  # hours scanned in each direction


def _q_xcorr_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between event-type hourly count
    series — the causal-ordering question q_autocorr's self-lags
    can't answer: does click activity LEAD purchases (and by how many
    hours)? For each (x, y) pair in XC_PAIRS, Pearson r between
    x(t) and y(t+lag) over the zero-filled hourly grid for every lag
    in ±XC_MAX_LAG; reported: the lag maximizing |r| (tie → smaller
    lag, then earlier sign) with its r, plus r at lag 0 as the
    contemporaneous baseline. Standard ops/attribution tooling (the
    cross-correlogram argmax); all sums are integer-exact, so the
    only float ops are the final divisions — identical IEEE bits
    cross-engine, rounded 6 dp at output.

    Scale shape: the corpus collapses to O(types × hours) count
    cells once; lag alignment is a cell equi-join on h+lag after a
    ≤(2L+1)-row lag explode (cells × 49, still cells); per-(pair,
    lag) sufficient statistics partial-combine map-side to
    |pairs|·(2L+1) rows, and the argmax is a window over those. The
    zero-filled grid matters: skipping empty hours would misalign
    lags exactly like q_seasonal_outliers' seasonal index.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (profiling / time-series family)."""
    from pyspark.sql import Window

    from .dedup import _memo_persist

    def build_series() -> DataFrame:
        ev = load_table(spark, sf_dir, "events").select(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        cnt = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c"))
        bounds = ev.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        grid = bounds.select(
            F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h")
        ).select(F.floor(epoch_ms(F.col("h")) / F.lit(3_600_000)).alias("hh"))
        types = spark.createDataFrame(
            [(t,) for t in sorted({t for p in XC_PAIRS for t in p})],
            "event_type string",
        )
        return (
            grid.crossJoin(F.broadcast(types))
            .join(
                cnt.select(
                    "event_type",
                    F.floor(epoch_ms(F.col("h")) / F.lit(3_600_000)).alias("hh"),
                    "c",
                ),
                ["event_type", "hh"],
                "left",
            )
            .select(
                "event_type",
                "hh",
                F.coalesce("c", F.lit(0)).cast("long").alias("c"),
            )
        )

    # memo-persisted: both join sides (x and y) consume the zero-filled
    # series — one events scan + one cell build per session, not two
    series = _memo_persist(spark, sf_dir, "xcorr_series", build_series)
    pairs = spark.createDataFrame(
        [(x, y) for x, y in XC_PAIRS], "xt string, pair_yt string"
    )
    lags = spark.range(-XC_MAX_LAG, XC_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    x = series.select(
        F.col("event_type").alias("xt"), "hh", F.col("c").alias("xc")
    )
    y = series.select(
        F.col("event_type").alias("yt"),
        F.col("hh").alias("yh"),
        F.col("c").alias("yc"),
    )
    aligned = (
        x.join(F.broadcast(pairs), "xt")
        .crossJoin(F.broadcast(lags))
        .join(
            y,
            (F.col("yt") == F.col("pair_yt"))
            & (F.col("yh") == F.col("hh") + F.col("lag")),
        )
        .select("xt", "yt", "lag", "xc", "yc")
    )
    s = aligned.groupBy("xt", "yt", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xc").alias("sx"),
        F.sum("yc").alias("sy"),
        F.sum(F.col("xc") * F.col("yc")).alias("sxy"),
        F.sum(F.col("xc") * F.col("xc")).alias("sxx"),
        F.sum(F.col("yc") * F.col("yc")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    scored = s.select(
        "xt",
        "yt",
        "lag",
        F.round(num / den, 6).alias("r"),
    )
    w = Window.partitionBy("xt", "yt").orderBy(
        F.desc(F.abs(F.col("r"))), F.asc("lag")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    lag0 = scored.filter(F.col("lag") == 0).select(
        "xt", "yt", F.col("r").alias("r_lag0")
    )
    return (
        best.join(lag0, ["xt", "yt"])
        .select(
            F.col("xt").alias("lead_type"),
            F.col("yt").alias("lag_type"),
            F.col("lag").alias("best_lag"),
            F.col("r").alias("r_best"),
            "r_lag0",
        )
        .transform(cells_sorted, "lead_type", "lag_type")  # type-pair cells
    )


def _xcorr_oracle() -> str:
    pairs = ", ".join(f"('{x}', '{y}')" for x, y in XC_PAIRS)
    types = ", ".join(f"'{t}'" for t in sorted({t for p in XC_PAIRS for t in p}))
    return f"""
WITH b AS (SELECT date_trunc('hour', min(ts)) AS mn, date_trunc('hour', max(ts)) AS mx FROM events),
grid AS (
  SELECT CAST(floor(epoch_ms(g.h) / 3600000) AS BIGINT) AS hh
  FROM (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b) g
),
cnt AS (
  SELECT event_type, CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) AS hh,
         CAST(count(1) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT t.event_type, g.hh, CAST(coalesce(c.c, 0) AS BIGINT) AS c
  FROM grid g
  CROSS JOIN (SELECT unnest([{types}]) AS event_type) t
  LEFT JOIN cnt c ON c.event_type = t.event_type AND c.hh = g.hh
),
lags AS (SELECT CAST(unnest(range(-{XC_MAX_LAG}, {XC_MAX_LAG} + 1)) AS BIGINT) AS lag),
pairs AS (SELECT * FROM (VALUES {pairs}) p(xt, yt)),
aligned AS (
  SELECT p.xt, p.yt, l.lag, x.c AS xc, y.c AS yc
  FROM series x
  JOIN pairs p ON x.event_type = p.xt
  CROSS JOIN lags l
  JOIN series y ON y.event_type = p.yt AND y.hh = x.hh + l.lag
),
s AS (
  SELECT xt, yt, lag,
         CAST(count(1) AS BIGINT) AS n,
         CAST(sum(xc) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS sy,
         CAST(sum(xc * yc) AS BIGINT) AS sxy,
         CAST(sum(xc * xc) AS BIGINT) AS sxx,
         CAST(sum(yc * yc) AS BIGINT) AS syy
  FROM aligned GROUP BY 1, 2, 3
),
scored AS (
  SELECT xt, yt, lag,
         round((n * sxy - sx * sy) /
               sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r
  FROM s
),
best AS (
  SELECT xt, yt, lag, r FROM (
    SELECT xt, yt, lag, r,
           row_number() OVER (PARTITION BY xt, yt
                              ORDER BY abs(r) DESC, lag ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT b.xt AS lead_type, b.yt AS lag_type, b.lag AS best_lag,
       b.r AS r_best, z.r AS r_lag0
FROM best b JOIN scored z ON z.xt = b.xt AND z.yt = b.yt AND z.lag = 0
ORDER BY lead_type, lag_type
"""


def _q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimation (Theil 1950 / Sen 1968) of
    each event type's hourly count series — the median of all
    pairwise slopes, the outlier-resistant answer to "is this metric
    actually trending?" that ordinary least squares gets wrong the
    moment one incident hour spikes (Sen's estimator tolerates ~29%
    corrupted points; it pairs with q_holt_forecast's smoothing and
    q_seasonal_outliers' anomaly flags as the trend leg of the ops
    triad). Slopes are integer-count differences over integer-hour
    gaps — one IEEE division, bit-identical cross-engine — and the
    median is selected by explicit rank (avg of the middle one/two),
    never an engine median() whose interpolation rules differ.

    Scale shape: the corpus collapses to O(types × hours) count cells
    in one partial aggregation; the pairwise-slope fan-out is
    O(hours²) PER TYPE over that cell relation (720 hours → 259k
    pairs — cells, not events). r11: the fan-out side is explicitly
    round-robin repartitioned before the broadcast pair join (AQE
    coalesces the tiny cell aggregate to ONE partition, which made the
    million-row fan-out a single task), and the median rank runs on
    the GROUPED TWO-PASS prefix-sum (sampling.global_prefix_sums,
    part=event_type) instead of a per-type rank window — with a
    handful of types the window was ≤|types| concurrent sort tasks
    over the whole pair relation; the two-pass form range-partitions
    the pairs across the cluster (measured 2.93 → ~1.2 s steady at
    sf0.1, plan: 1-task fan-out → 32-task, per-type Sort+Window →
    range exchange + n_parts local windows). At years×minutes
    granularity the published mitigation is Sen-on-a-sample (median
    over a random pair subset is itself a consistent estimator) —
    the fan-out knob, not a different algorithm. Output: one row per
    type (event_type, n_hours, n_pairs, sen_slope).

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (profiling / time-series family)."""
    from ..session import default_parallelism
    from .sampling import global_prefix_sums

    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.floor(epoch_ms(F.col("ts")) / F.lit(3_600_000)).cast("long").alias("hh"),
    ).agg(F.count(F.lit(1)).alias("c"))
    a = cells.select(
        "event_type", F.col("hh").alias("ha"), F.col("c").alias("ca")
    ).repartition(default_parallelism())
    b = cells.select(
        "event_type", F.col("hh").alias("hb"), F.col("c").alias("cb")
    )
    pairs = a.join(F.broadcast(b), "event_type").filter(F.col("ha") < F.col("hb")).select(
        "event_type",
        "ha",
        "hb",
        (
            (F.col("cb") - F.col("ca")).cast("double") / (F.col("hb") - F.col("ha"))
        ).alias("slope"),
    )
    # n_pairs is CLOSED-FORM (n_hours choose 2) — joining it in from
    # the hours relation saves an unordered count-window pass over the
    # million-row pair relation (measured: the count window was the
    # single largest cost in the first cut)
    hours = cells.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_hours"))
    np_ = hours.select(
        "event_type",
        "n_hours",
        (F.col("n_hours") * (F.col("n_hours") - 1) / 2).cast("long").alias("np"),
    )
    ranked = global_prefix_sums(
        pairs.withColumn("_one", F.lit(1)),
        ["slope", "ha", "hb"],
        {"rk0": "_one"},
        part=("event_type",),
    ).join(F.broadcast(np_), "event_type")
    mid = ranked.filter(
        (F.col("rk0") + 1 == F.floor((F.col("np") + 1) / 2))
        | (F.col("rk0") + 1 == F.floor((F.col("np") + 2) / 2))
    )
    return (
        mid.groupBy("event_type")
        .agg(
            F.max("n_hours").alias("n_hours"),
            F.max("np").alias("n_pairs"),
            F.round(F.avg("slope"), 6).alias("sen_slope"),
        )
        .select("event_type", "n_hours", "n_pairs", "sen_slope")
        .transform(cells_sorted, "event_type")  # <= |event types| rows
    )


def _theil_sen_oracle() -> str:
    return """
WITH cells AS (
  SELECT event_type, CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) AS hh,
         CAST(count(1) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type, a.hh AS ha, b.hh AS hb,
         CAST(b.c - a.c AS DOUBLE) / (b.hh - a.hh) AS slope
  FROM cells a JOIN cells b
    ON a.event_type = b.event_type AND a.hh < b.hh
),
ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope, ha, hb) AS rn,
         CAST(count(1) OVER (PARTITION BY event_type) AS BIGINT) AS np
  FROM pairs
),
med AS (
  SELECT event_type, max(np) AS n_pairs, round(avg(slope), 6) AS sen_slope
  FROM ranked
  WHERE rn = CAST(floor((np + 1) / 2) AS BIGINT)
     OR rn = CAST(floor((np + 2) / 2) AS BIGINT)
  GROUP BY event_type
),
hours AS (
  SELECT event_type, CAST(count(1) AS BIGINT) AS n_hours FROM cells GROUP BY 1
)
SELECT event_type, n_hours, n_pairs, sen_slope
FROM hours JOIN med USING (event_type)
ORDER BY event_type
"""


#: Holt smoothing constants — exactly-representable binary fractions
#: so neither engine's literal parse introduces a ULP of drift (each
#: step's op sequence is identical anyway; this removes even the
#: parse-time question).
HOLT_ALPHA = 0.5
HOLT_BETA = 0.25
HOLT_H = 24  # forecast horizon (hours ahead)


def _q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecasting (Holt 1957 double exponential
    smoothing) of the per-event-type hourly count series — the
    capacity-planning projection that pairs with q_autocorr (detects
    rhythm) and q_seasonal_outliers (flags deviations): level
    l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}), trend b_t = β(l_t−l_{t−1})
    + (1−β)b_{t−1}, initialized l₁=y₁, b₁=y₂−y₁, forecast
    ŷ_{n+h} = l_n + h·b_n. Series is the zero-filled hourly grid
    (missing hours are real zeros — skipping them would inflate the
    trend).

    Scale shape: one partial agg to (type, hour) cells, ONE
    event_type exchange, then the recursion folds per key over the
    collected cell array (the q_ewma collect→sort→fold pattern —
    bounded by hours retained, not events; years of hourly history
    is ~10⁴ doubles per key). The ORACLE deliberately runs a
    different mechanism — a recursive CTE iterating t — with the
    identical arithmetic sequence, so the hash match proves the fold
    IS the recursion, bit-for-bit (IEEE ops in identical order).

    Output: (event_type, n_hours, level, trend, forecast_24h).

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (time-series family)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    )
    cnt = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c"))
    bounds = ev.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h")
    ).crossJoin(F.broadcast(ev.select("event_type").distinct()))
    series = grid.join(cnt, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).cast("double").alias("c")
    )
    g = series.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("h", "c"))), lambda s: s["c"]
        ).alias("v")
    )
    v, a, b = F.col("v"), F.lit(HOLT_ALPHA), F.lit(HOLT_BETA)
    init = F.struct(
        F.element_at(v, 1).alias("l"),
        (F.element_at(v, 2) - F.element_at(v, 1)).alias("b"),
    )
    new_l = lambda acc, x: a * x + (F.lit(1.0) - a) * (acc["l"] + acc["b"])
    folded = F.aggregate(
        F.slice(v, 2, F.size(v) - 1),
        init,
        lambda acc, x: F.struct(
            new_l(acc, x).alias("l"),
            (b * (new_l(acc, x) - acc["l"]) + (F.lit(1.0) - b) * acc["b"]).alias("b"),
        ),
    )
    return g.select(
        "event_type",
        F.size(v).alias("n_hours"),
        F.round(folded["l"], 6).alias("level"),
        F.round(folded["b"], 6).alias("trend"),
        F.round(folded["l"] + F.lit(float(HOLT_H)) * folded["b"], 6).alias(
            "forecast_24h"
        ),
    ).transform(cells_sorted, "event_type")  # <= |event types| rows


RFM_Q = 5  # quantile buckets per RFM dimension


def _q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (Hughes 1994's recency/frequency/monetary
    scoring, the classic behavioral customer segmentation): per user,
    R = hours since last purchase (at the corpus horizon), F =
    purchase count, M = summed purchase value; each dimension scored
    1..RFM_Q by EXPLICIT quantile rank (floor(Q·(rank−1)/n)+1 over
    per-user rows — never ntile(), whose tie placement differs
    cross-engine; ties broken by user_id so both engines rank the
    identical order), R inverted (recent = high). Output: one row per
    (r_score, f_score, m_score) cell with user count and mean
    monetary — the segment table a lifecycle-marketing pipeline
    reads (champions 555 … at-risk 1xx).

    Scale shape (r7 rewrite, VERDICT r6 item 2): one purchases pass
    partial-aggregates per-user (R, F, M) sufficient statistics into
    a memoized relation; each dimension's quantile rank comes from
    the distributed two-pass row_number (sampling.global_row_numbers
    — money/freq/recency are continuous, so the old three GLOBAL
    row_number windows were single-task sorts over O(users) rows at
    100×), joined back on user_id (three O(users) hash joins, all
    distributed); the segment rollup is ≤Q³ cells.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (behavioral analytics family)."""
    from .dedup import _memo_persist
    from .sampling import global_row_numbers

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    horizon = ev.agg(F.max(epoch_ms(F.col("ts"))).alias("hz"))

    def _build_per_user() -> DataFrame:
        return (
            ev.groupBy("user_id")
            .agg(
                F.max(epoch_ms(F.col("ts"))).alias("last_ms"),
                F.count(F.lit(1)).alias("freq"),
                F.round(F.sum("value"), 6).alias("money"),
            )
            .crossJoin(F.broadcast(horizon))
            .select(
                "user_id",
                F.floor((F.col("hz") - F.col("last_ms")) / F.lit(3_600_000)).alias(
                    "rec_h"
                ),
                "freq",
                "money",
            )
        )

    per_user = _memo_persist(spark, sf_dir, "rfm_per_user", _build_per_user)
    q = F.lit(RFM_Q)

    def _build_scored() -> DataFrame:
        # ONE memoized per-user score relation (r11, guide §1.2 /
        # §5): the old form kept three separate rank memos and paid
        # three user_id hash joins plus a count-scalar broadcast
        # attach on EVERY execution of a launch-bound plan; the joins
        # and the n constant belong to the index build. Ranks still
        # come from the distributed two-pass row_number — no global
        # window at any corpus size.
        tot = per_user.agg(F.count(F.lit(1)).alias("n"))

        def score(col: str, asc: bool, out: str) -> DataFrame:
            o = F.asc(col) if asc else F.desc(col)
            ranked = global_row_numbers(
                per_user.select("user_id", col),
                [o, F.asc("user_id")],
            )
            return ranked.crossJoin(F.broadcast(tot)).select(
                "user_id",
                (
                    F.lit(RFM_Q + 1)
                    - (F.floor(q * (F.col("rn") - 1) / F.col("n")) + 1)
                ).cast("int").alias(out),  # invert: HIGH score = good
            )

        return (
            per_user.select("user_id", "money")
            .join(score("rec_h", True, "r_score"), "user_id")
            .join(score("freq", False, "f_score"), "user_id")
            .join(score("money", False, "m_score"), "user_id")
        )

    scored = _memo_persist(spark, sf_dir, "rfm_scored", _build_scored)
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("money"), 6).alias("avg_money"),
        )
        .transform(cells_sorted, "r_score", "f_score", "m_score")  # <= RFM_Q^3 cells
    )


def _rfm_oracle() -> str:
    return f"""
WITH p AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events WHERE event_type = 'purchase'),
hz AS (SELECT max(ms) AS hz FROM p),
per_user AS (
  SELECT user_id,
         CAST(floor((hz.hz - max(ms)) / 3600000) AS BIGINT) AS rec_h,
         CAST(count(1) AS BIGINT) AS freq,
         round(sum(value), 6) AS money
  FROM p CROSS JOIN hz GROUP BY user_id, hz.hz
),
scored AS (
  SELECT user_id, money,
         {RFM_Q + 1} - (CAST(floor({RFM_Q} * (row_number() OVER (ORDER BY rec_h ASC, user_id ASC) - 1)
             / CAST(count(1) OVER () AS DOUBLE)) AS INTEGER) + 1) AS r_score,
         {RFM_Q + 1} - (CAST(floor({RFM_Q} * (row_number() OVER (ORDER BY freq DESC, user_id ASC) - 1)
             / CAST(count(1) OVER () AS DOUBLE)) AS INTEGER) + 1) AS f_score,
         {RFM_Q + 1} - (CAST(floor({RFM_Q} * (row_number() OVER (ORDER BY money DESC, user_id ASC) - 1)
             / CAST(count(1) OVER () AS DOUBLE)) AS INTEGER) + 1) AS m_score
  FROM per_user
)
SELECT r_score, f_score, m_score,
       CAST(count(1) AS BIGINT) AS n_users,
       round(avg(money), 6) AS avg_money
FROM scored GROUP BY 1, 2, 3
ORDER BY r_score, f_score, m_score
"""


#: Holt-Winters constants — exactly-representable binary fractions
#: (the HOLT_ALPHA discipline: parse-time ULP question removed).
HW_ALPHA = 0.5
HW_BETA = 0.25
HW_GAMMA = 0.25
HW_M = 24  # seasonal period (hours)
HW_H = 24  # forecast horizon


def _q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal forecasting (Winters 1960) of
    the per-type hourly count series — the seasonal completion of the
    forecasting triad (q_ewma level → q_holt_forecast level+trend →
    THIS level+trend+24h-seasonal): l_t = α(y_t − s_{t−m}) +
    (1−α)(l_{t−1}+b_{t−1}); b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1};
    s_t = γ(y_t−l_t) + (1−γ)s_{t−m}; initialized with the standard
    two-cycle warm-up (l_m = cycle-1 mean, b_m = mean cycle-to-cycle
    step, s_i = y_i − l_m) and forecast ŷ_{n+24} = l_n + 24·b_n +
    s_n (horizon = one full period, so the seasonal index is the
    newest). Types with fewer than 2m+1 hours are dropped (the
    warm-up is undefined) — documented, not silently zero-padded.

    Scale shape: q_holt_forecast's collect→sort→fold shape with the
    state widened to (l, b, 24-slot seasonal RING) — the fold shifts
    the ring with slice+concat per step, O(m) per element over the
    O(hours) array, still bounded by hours retained, not events. The
    ORACLE runs a recursive CTE carrying the ring as a LIST — the
    hash proves fold == recursion bit-for-bit, including the ring
    rotation (all constants are exact binary fractions; init means
    are LEFT FOLDS on both sides, never bag sums).

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (time-series family)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    )
    cnt = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c"))
    bounds = ev.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h")
    ).crossJoin(F.broadcast(ev.select("event_type").distinct()))
    series = grid.join(cnt, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).cast("double").alias("c")
    )
    g = series.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("h", "c"))), lambda s: s["c"]
        ).alias("v")
    ).filter(F.size("v") >= 2 * HW_M + 1)
    v = F.col("v")
    m = HW_M
    a, b_, gm = F.lit(HW_ALPHA), F.lit(HW_BETA), F.lit(HW_GAMMA)
    # left-fold means over the two warm-up cycles (order-pinned)
    fold_sum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    l0 = fold_sum(F.slice(v, 1, m)) / F.lit(float(m))
    l2 = fold_sum(F.slice(v, m + 1, m)) / F.lit(float(m))
    b0 = (l2 - l0) / F.lit(float(m))
    q0 = F.transform(F.slice(v, 1, m), lambda x: x - l0)
    init = F.struct(l0.alias("l"), b0.alias("b"), q0.alias("q"))

    def step(acc, x):
        sm = F.element_at(acc["q"], 1)
        new_l = a * (x - sm) + (F.lit(1.0) - a) * (acc["l"] + acc["b"])
        new_b = b_ * (new_l - acc["l"]) + (F.lit(1.0) - b_) * acc["b"]
        new_s = gm * (x - new_l) + (F.lit(1.0) - gm) * sm
        return F.struct(
            new_l.alias("l"),
            new_b.alias("b"),
            F.concat(F.slice(acc["q"], 2, m - 1), F.array(new_s)).alias("q"),
        )

    folded = F.aggregate(F.slice(v, m + 1, F.size(v) - m), init, step)
    return g.select(
        "event_type",
        F.size(v).alias("n_hours"),
        F.round(folded["l"], 6).alias("level"),
        F.round(folded["b"], 6).alias("trend"),
        F.round(F.element_at(folded["q"], m), 6).alias("season_last"),
        F.round(
            folded["l"]
            + F.lit(float(HW_H)) * folded["b"]
            + F.element_at(folded["q"], m),
            6,
        ).alias("forecast_24h"),
    ).transform(cells_sorted, "event_type")  # <= |event types| rows


def _holt_winters_oracle() -> str:
    a, b, gm, m = HW_ALPHA, HW_BETA, HW_GAMMA, HW_M
    return f"""
WITH RECURSIVE bnds AS (
  SELECT date_trunc('hour', min(ts)) AS mn, date_trunc('hour', max(ts)) AS mx FROM events
),
grid AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM bnds) g
),
cnt AS (SELECT event_type, date_trunc('hour', ts) AS h, count(1) AS c FROM events GROUP BY 1, 2),
series AS (
  SELECT g.event_type, g.h,
         CAST(coalesce(c.c, 0) AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY g.event_type ORDER BY g.h) AS t
  FROM grid g LEFT JOIN cnt c ON g.event_type = c.event_type AND g.h = c.h
),
n AS (
  SELECT event_type, CAST(max(t) AS INTEGER) AS n_hours FROM series GROUP BY 1
  HAVING max(t) >= {2 * m + 1}
),
arr AS (
  SELECT s.event_type, list(s.y ORDER BY s.t) AS v
  FROM series s JOIN n ON s.event_type = n.event_type
  GROUP BY s.event_type
),
init AS (
  SELECT event_type,
         list_reduce(list_prepend(0.0, v[1:{m}]), (x, y) -> x + y) / {float(m)} AS l,
         (list_reduce(list_prepend(0.0, v[{m + 1}:{2 * m}]), (x, y) -> x + y) / {float(m)}
          - list_reduce(list_prepend(0.0, v[1:{m}]), (x, y) -> x + y) / {float(m)})
           / {float(m)} AS b
  FROM arr
),
q0 AS (
  SELECT a.event_type, i.l, i.b,
         list_transform(a.v[1:{m}], x -> x - i.l) AS q
  FROM arr a JOIN init i ON a.event_type = i.event_type
),
it AS (
  SELECT event_type, {m} AS t, l, b, q FROM q0
  UNION ALL
  SELECT it.event_type, it.t + 1,
         {a} * (s.y - it.q[1]) + (1.0 - {a}) * (it.l + it.b) AS l,
         {b} * (({a} * (s.y - it.q[1]) + (1.0 - {a}) * (it.l + it.b)) - it.l)
           + (1.0 - {b}) * it.b AS b,
         list_append(it.q[2:{m}],
           {gm} * (s.y - ({a} * (s.y - it.q[1]) + (1.0 - {a}) * (it.l + it.b)))
             + (1.0 - {gm}) * it.q[1]) AS q
  FROM it JOIN series s ON s.event_type = it.event_type AND s.t = it.t + 1
),
fin AS (
  SELECT i.event_type, i.l, i.b, i.q
  FROM it i JOIN n ON i.event_type = n.event_type AND i.t = n.n_hours
)
SELECT f.event_type, n.n_hours,
       round(f.l, 6) AS level,
       round(f.b, 6) AS trend,
       round(f.q[{m}], 6) AS season_last,
       round(f.l + {float(HW_H)} * f.b + f.q[{m}], 6) AS forecast_24h
FROM fin f JOIN n ON f.event_type = n.event_type
ORDER BY f.event_type
"""


#: regex patterns over the per-user event-code string (S=signup,
#: C=click, P=purchase, V=view, E=error). Both engines' regex scans
#: are leftmost non-overlapping, so counts agree by construction.
SEQ_PATTERNS = (
    ("cp", "CP"),  # click immediately converting to purchase
    ("ccp", "CC+P"),  # purchase after a click burst (>=2 clicks)
    ("vcp", "VCP"),  # full browse->click->purchase run
    ("ep", "E[VC]*P"),  # purchase recovering from an error
)


def _q_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern matching: each user's
    event history (ordered by ts, event_id) is encoded as a string of
    single-char event codes, and CONTIGUOUS behavioral motifs are
    counted by regex — the complement to q_funnel's milestone
    conversion (funnel asks "did C ever happen after S"; this asks
    "did C happen IMMEDIATELY before P", adjacency a min-per-stage
    funnel cannot express). Per pattern: users matched at least once,
    total occurrences, max per user.

    Scale shape: ONE shuffle keyed by user_id (partial-combinable
    collect_list), then pure map-side work — sort_array makes the
    nondeterministic collect order canonical (ts, then event_id — a
    total order, so both engines build the identical string), and the
    regex counting is per-user codegen. A user's sequence is bounded
    by their activity; unbounded histories would sessionize first
    (q_sessionize) and match within sessions. The 4-pattern unpivot
    (stack) multiplies only the per-user summary rows, never raw
    events, and the final per-pattern rollup shuffles 4 cells.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sessionization / sequence-mining
    family)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            "ts", "event_id", F.upper(F.substring("event_type", 1, 1)).alias("c")
        ).alias("e"),
    )
    seqs = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list("e")), lambda x: x["c"]), ""
        ).alias("seq")
    )
    counted = seqs.select(
        "user_id",
        *[F.regexp_count("seq", F.lit(rx)).alias(name) for name, rx in SEQ_PATTERNS],
    )
    stack_expr = "stack({n}, {args}) as (pattern, n)".format(
        n=len(SEQ_PATTERNS),
        args=", ".join(f"'{name}', {name}" for name, _ in SEQ_PATTERNS),
    )
    return (
        counted.select(F.expr(stack_expr))
        .groupBy("pattern")
        .agg(
            F.sum((F.col("n") > 0).cast("long")).alias("n_users_matched"),
            F.sum("n").alias("n_occurrences"),
            F.max("n").alias("max_per_user"),
        )
        .transform(cells_sorted, "pattern")  # enumerated patterns
    )


DEBOUNCE_MS = 5_000  # min gap from the previous same-key event


def _q_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-fire suppression audit — the instrumentation-cleaning
    pass that precedes any behavioral metric: an event is DROPPED when
    it arrives within 5 s of the previous event of the same
    (user, event_type), the double-click / retry-storm signature.
    Throttle semantics (gap measured from the previous RAW event), not
    chained debounce — the chained form's keep decision depends on the
    previous KEPT event, a sequential recursion (the EWMA-fold path);
    the one-lag rule is the standard declarative form and drops a
    superset of it. Output: per event_type raw/kept/dropped counts and
    the drop fraction — how much of each signal is instrumentation
    noise.

    Scale shape: ONE (user, type) exchange feeds the lag window
    (per-key timelines, never a global order), gaps are exact integer
    ms, and the corpus collapses to |event types| cells.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sessionization / data-cleaning
    family)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = epoch_ms(F.col("ts")) - F.lag(epoch_ms(F.col("ts"))).over(w)
    # first event per key has no gap (lag NULL) — explicitly KEPT
    flagged = ev.select(
        "event_type",
        F.coalesce((gap < DEBOUNCE_MS).cast("long"), F.lit(0)).alias("dropped"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.lit(1) - F.col("dropped")).alias("n_kept"),
            F.sum("dropped").alias("n_dropped"),
            F.round(F.sum("dropped") / F.count(F.lit(1)), 4).alias("drop_frac"),
        )
        .transform(cells_sorted, "event_type")  # <= |event types| rows
    )


BURST_CV_HI = 1.5  # coefficient-of-variation band edges (Poisson CV = 1)
BURST_CV_LO = 0.5
BURST_MIN_EVENTS = 5  # below this, CV is noise


def _q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness profile — the bot/automation detector:
    a Poisson (human-ish, memoryless) event stream has gap
    CV = stddev/mean ≈ 1; schedulers and scripts fire near-periodically
    (CV « 1); scrapers burst (CV » 1). Each user with ≥ 5 inter-arrival
    gaps gets a CV from exact integer sufficient statistics (n, Σg, Σg²
    in int64 — no float until the final divisions), then users bucket
    into regular / poisson-like / bursty bands. Output: one row per
    band with user count and the band's mean CV.

    Scale shape: one user_id exchange for the lag window, per-user
    sufficient statistics partial-combine map-side, and the corpus
    collapses to 3 band cells. Gaps are floored to SECONDS before
    squaring so Σg² stays far from int64 overflow (ms² of a month-long
    gap is ~7e18, one addition from wrapping in Spark while DuckDB
    widens to HUGEINT — second-resolution keeps both engines in exact
    int64 up to ~10⁶ events/user) and both sides stay integer-exact
    until the final divisions.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (profiling / behavioral family)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.floor(
        (epoch_ms(F.col("ts")) - F.lag(epoch_ms(F.col("ts"))).over(w)) / F.lit(1000.0)
    ).alias("g")
    per_user = (
        ev.select("user_id", gap_s)
        .filter(F.col("g").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("g").alias("sg"),
            F.sum(F.col("g") * F.col("g")).alias("sgg"),
        )
        # sg > 0 drops the degenerate all-sub-second-gap user (mean 0
        # would divide by zero, and engines disagree on double/0)
        .filter((F.col("n") >= BURST_MIN_EVENTS) & (F.col("sg") > 0))
    )
    mean = F.col("sg") / F.col("n")
    # greatest(…, 0): equal-gap users can push the computed variance
    # epsilon-negative in float; sqrt(-eps) is NaN on both engines
    var = F.greatest(
        (F.col("sgg") - F.col("sg") * F.col("sg") / F.col("n")) / (F.col("n") - 1),
        F.lit(0.0),
    )
    cv = F.round(F.sqrt(var) / mean, 6)
    banded = per_user.select(
        F.when(cv > BURST_CV_HI, "bursty")
        .when(cv < BURST_CV_LO, "regular")
        .otherwise("poisson_like")
        .alias("band"),
        cv.alias("cv"),
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("cv"), 4).alias("mean_cv"),
        )
        .transform(cells_sorted, "band")  # <= |bands| cells
    )


ATTR_LOOKBACK_MS = 3 * 86_400_000  # attribution window before each conversion
ATTR_CHANNELS = ("click", "view")  # touchpoint event types (ad-channel proxy)


def _q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution — the marketing-analytics
    credit-assignment query: every ``purchase`` is a conversion, the
    same user's click/view events in the 3 days before it are its
    touchpoints, and each channel is credited under three standard
    models at once: first-touch (1.0 to the earliest touch),
    last-touch (1.0 to the latest), and linear (1/k to each of the k
    touches), plus linearly-attributed revenue. The journey-credit
    complement to q_funnel (which counts stage reach) and
    q_transition_matrix (which models step topology).

    Scale shape: one user_id equi-join bounded by the lookback
    predicate (per-user fan-out is capped by activity within 3 days,
    never the whole history), ONE window partitioned by conversion id
    (per-conversion touch lists are lookback-bounded, so no task sees
    unbounded rows), then the corpus collapses to |channels| cells.
    Per-touch linear credits round to 9 dp before summing so both
    engines feed identical terms into the float accumulation.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sessionization / behavioral
    family)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        epoch_ms(F.col("ts")).alias("cms"),
        F.col("value").alias("revenue"),
    )
    touch = ev.filter(F.col("event_type").isin(*ATTR_CHANNELS)).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("event_id").alias("touch_id"),
        epoch_ms(F.col("ts")).alias("tms"),
    )
    j = touch.join(
        conv,
        (touch["user_id"] == conv["user_id"])
        & (F.col("tms") < F.col("cms"))
        & (F.col("tms") >= F.col("cms") - ATTR_LOOKBACK_MS),
    )
    return attribution_rollup(j)


def attribution_rollup(pairs: DataFrame) -> DataFrame:
    """(channel, revenue, conv_id, tms, touch_id) touch-conversion
    pairs → per-channel credit table. Shared by the batch query and
    the streaming twin (whose pair relation the STREAMING engine
    produces via a stream-stream interval join), so both run the
    identical credit windows and rollup."""
    from pyspark.sql import Window

    wp = Window.partitionBy("conv_id")
    asc = wp.orderBy("tms", "touch_id")
    desc = wp.orderBy(F.col("tms").desc(), F.col("touch_id").desc())
    credited = pairs.select(
        "channel",
        "revenue",
        (F.row_number().over(asc) == 1).cast("long").alias("is_first"),
        (F.row_number().over(desc) == 1).cast("long").alias("is_last"),
        F.round(F.lit(1.0) / F.count(F.lit(1)).over(wp), 9).alias("lin"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("is_first").alias("credit_first"),
            F.sum("is_last").alias("credit_last"),
            F.round(F.sum("lin"), 4).alias("credit_linear"),
            F.round(F.sum(F.col("revenue") * F.col("lin")), 4).alias("revenue_linear"),
        )
        .transform(cells_sorted, "channel")  # <= |channels| rows
    )


QUERIES = {
    "q_event_pattern": _q_event_pattern,
    "q_attribution": _q_attribution,
    "q_debounce": _q_debounce,
    "q_burstiness": _q_burstiness,
    "q_seasonal_outliers": _q_seasonal_outliers,
    "q_holt_forecast": _q_holt_forecast,
    "q_item_cooccurrence": _q_item_cooccurrence,
    "q_item_cooccurrence_capped": _q_item_cooccurrence_capped,
    "q_theil_sen": _q_theil_sen,
    "q_xcorr_leadlag": _q_xcorr_leadlag,
    "q_holt_winters": _q_holt_winters,
    "q_rfm_segments": _q_rfm_segments,
    "q_gapfill_locf": _q_gapfill_locf,
    "q_transition_matrix": _q_transition_matrix,
    "q_autocorr": _q_autocorr,
    "q_win_tumble": _q_win_tumble,
    "q_range_join": _q_range_join,
    "q_interval_join": _q_interval_join,
    "q_ewma": _q_ewma,
    "q_histogram": _q_histogram,
    "q_outliers": _q_outliers,
    "q_entropy": _q_entropy,
    "q_rollup_cascade": _q_rollup_cascade,
    "q_funnel": _q_funnel,
    "q_retention": _q_retention,
    "q_win_sliding": _q_win_sliding,
    "q_win_session": _q_win_session,
    "q_sessionize": _q_sessionize,
    "q_late_data": _q_late_data,
    "q_asof_join": _q_asof_join,
    "q_asof_forward": _q_asof_forward,
    "q_asof_nearest": _q_asof_nearest,
    "q_cusum": _q_cusum,
}

def _seasonal_outliers_oracle() -> str:
    return f"""
WITH b AS (SELECT date_trunc('hour', min(ts)) AS mn, date_trunc('hour', max(ts)) AS mx FROM events),
grid AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b),
cnt AS (SELECT date_trunc('hour', ts) AS h, count(1) AS c FROM events GROUP BY 1),
series AS (SELECT g.h, CAST(coalesce(c.c, 0) AS BIGINT) AS c FROM grid g LEFT JOIN cnt c USING (h)),
t AS (
  SELECT h, c,
         avg(c) OVER (ORDER BY h ROWS BETWEEN {SEAS_TREND_W} PRECEDING
                      AND {SEAS_TREND_W} FOLLOWING) AS trend
  FROM series
),
hod AS (SELECT extract(hour FROM h) AS hh, avg(c) AS hod_avg FROM series GROUP BY 1),
m AS (SELECT avg(c) AS mu FROM series),
e AS (
  SELECT h, c, trend + hod_avg - mu AS expected, c - (trend + hod_avg - mu) AS resid
  FROM t JOIN hod ON extract(hour FROM t.h) = hod.hh CROSS JOIN m
),
sd AS (SELECT stddev_samp(resid) AS sd FROM e)
SELECT epoch_ms(h) AS hour_ms, c, round(expected, 4) AS expected, round(resid, 4) AS resid
FROM e CROSS JOIN sd WHERE round(abs(resid), 6) > {SEAS_Z} * round(sd, 6)
ORDER BY hour_ms
"""


def _item_cooccurrence_oracle() -> str:
    return f"""
WITH baskets AS (
  SELECT DISTINCT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
  WHERE props IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
),
users AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM baskets),
items AS (SELECT k, CAST(count(1) AS BIGINT) AS n_i FROM baskets GROUP BY k),
pairs AS (
  SELECT a.k AS ia, b.k AS ib, CAST(count(1) AS BIGINT) AS n_ab
  FROM baskets a JOIN baskets b ON a.user_id = b.user_id AND a.k < b.k
  GROUP BY a.k, b.k
  HAVING count(1) >= {COOC_MIN_SUPPORT}
)
SELECT ia, ib, n_ab,
       round(CAST(n_ab AS DOUBLE) / n_users, 6) AS support,
       round(CAST(n_ab AS DOUBLE) / na.n_i, 6) AS confidence,
       round(CAST(n_ab AS DOUBLE) * n_users / (na.n_i * nb.n_i), 6) AS lift
FROM pairs
JOIN items na ON pairs.ia = na.k
JOIN items nb ON pairs.ib = nb.k
CROSS JOIN users
ORDER BY lift DESC, ia, ib
LIMIT {COOC_TOP_K}
"""


def _item_cooccurrence_capped_oracle() -> str:
    return f"""
WITH raw AS (
  SELECT DISTINCT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
  WHERE props IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
),
baskets AS (
  SELECT user_id, k FROM (
    SELECT user_id, k,
           row_number() OVER (PARTITION BY user_id ORDER BY k) AS rn
    FROM raw
  ) WHERE rn <= {COOC_BASKET_CAP}
),
users AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM baskets),
items AS (SELECT k, CAST(count(1) AS BIGINT) AS n_i FROM baskets GROUP BY k),
pairs AS (
  SELECT a.k AS ia, b.k AS ib, CAST(count(1) AS BIGINT) AS n_ab
  FROM baskets a JOIN baskets b ON a.user_id = b.user_id AND a.k < b.k
  GROUP BY a.k, b.k
  HAVING count(1) >= {COOC_MIN_SUPPORT}
)
SELECT ia, ib, n_ab,
       round(CAST(n_ab AS DOUBLE) / n_users, 6) AS support,
       round(CAST(n_ab AS DOUBLE) / na.n_i, 6) AS confidence,
       round(CAST(n_ab AS DOUBLE) * n_users / (na.n_i * nb.n_i), 6) AS lift
FROM pairs
JOIN items na ON pairs.ia = na.k
JOIN items nb ON pairs.ib = nb.k
CROSS JOIN users
ORDER BY lift DESC, ia, ib
LIMIT {COOC_TOP_K}
"""


def _event_pattern_oracle() -> str:
    counts = ",\n         ".join(
        f"len(regexp_extract_all(seq, '{rx}')) AS {name}"
        for name, rx in SEQ_PATTERNS
    )
    unions = "\n  UNION ALL ".join(
        f"SELECT '{name}' AS pattern, {name} AS n FROM counted"
        for name, _ in SEQ_PATTERNS
    )
    return f"""
WITH seqs AS (
  SELECT user_id,
         string_agg(upper(substr(event_type, 1, 1)), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
),
counted AS (
  SELECT {counts}
  FROM seqs
),
u AS (
  {unions}
)
SELECT pattern,
       CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_matched,
       CAST(sum(n) AS BIGINT) AS n_occurrences,
       CAST(max(n) AS INTEGER) AS max_per_user
FROM u GROUP BY pattern ORDER BY pattern
"""


def _holt_oracle() -> str:
    a, b = HOLT_ALPHA, HOLT_BETA
    return f"""
WITH RECURSIVE bnds AS (
  SELECT date_trunc('hour', min(ts)) AS mn, date_trunc('hour', max(ts)) AS mx FROM events
),
grid AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM bnds) g
),
cnt AS (SELECT event_type, date_trunc('hour', ts) AS h, count(1) AS c FROM events GROUP BY 1, 2),
series AS (
  SELECT g.event_type, g.h,
         CAST(coalesce(c.c, 0) AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY g.event_type ORDER BY g.h) AS t
  FROM grid g LEFT JOIN cnt c ON g.event_type = c.event_type AND g.h = c.h
),
n AS (SELECT event_type, CAST(max(t) AS INTEGER) AS n_hours FROM series GROUP BY 1),
it AS (
  SELECT s1.event_type, 1 AS t, s1.y AS l, s2.y - s1.y AS b
  FROM series s1 JOIN series s2 ON s1.event_type = s2.event_type AND s1.t = 1 AND s2.t = 2
  UNION ALL
  SELECT it.event_type, it.t + 1,
         {a} * s.y + (1.0 - {a}) * (it.l + it.b),
         {b} * (({a} * s.y + (1.0 - {a}) * (it.l + it.b)) - it.l) + (1.0 - {b}) * it.b
  FROM it JOIN series s ON s.event_type = it.event_type AND s.t = it.t + 1
),
fin AS (
  SELECT i.event_type, i.l, i.b
  FROM it i JOIN n ON i.event_type = n.event_type AND i.t = n.n_hours
)
SELECT f.event_type, n.n_hours,
       round(f.l, 6) AS level,
       round(f.b, 6) AS trend,
       round(f.l + {float(HOLT_H)} * f.b, 6) AS forecast_24h
FROM fin f JOIN n ON f.event_type = n.event_type
ORDER BY f.event_type
"""


ORACLE = {
    "q_event_pattern": _event_pattern_oracle(),
    "q_debounce": f"""
WITH g AS (
  SELECT event_type,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
  FROM events
),
f AS (
  SELECT event_type,
         CASE WHEN gap < {DEBOUNCE_MS} THEN 1 ELSE 0 END AS dropped
  FROM g
)
SELECT event_type,
       CAST(count(1) AS BIGINT) AS n_raw,
       CAST(sum(1 - dropped) AS BIGINT) AS n_kept,
       CAST(sum(dropped) AS BIGINT) AS n_dropped,
       round(sum(dropped) / CAST(count(1) AS DOUBLE), 4) AS drop_frac
FROM f GROUP BY event_type ORDER BY event_type
""",
    "q_burstiness": f"""
WITH g AS (
  SELECT user_id,
         CAST(floor((epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) / 1000.0) AS BIGINT) AS g
  FROM events
),
pu AS (
  SELECT user_id,
         CAST(count(1) AS BIGINT) AS n,
         CAST(sum(g) AS BIGINT) AS sg,
         CAST(sum(g * g) AS BIGINT) AS sgg
  FROM g WHERE g IS NOT NULL
  GROUP BY user_id
  HAVING count(1) >= {BURST_MIN_EVENTS} AND sum(g) > 0
),
cvt AS (
  SELECT round(sqrt(greatest((sgg - sg * sg / CAST(n AS DOUBLE)) / (n - 1), 0.0))
               / (sg / CAST(n AS DOUBLE)), 6) AS cv
  FROM pu
),
banded AS (
  SELECT CASE WHEN cv > {BURST_CV_HI} THEN 'bursty'
              WHEN cv < {BURST_CV_LO} THEN 'regular'
              ELSE 'poisson_like' END AS band, cv
  FROM cvt
)
SELECT band, CAST(count(1) AS BIGINT) AS n_users, round(avg(cv), 4) AS mean_cv
FROM banded GROUP BY band ORDER BY band
""",
    "q_attribution": f"""
WITH conv AS (
  SELECT user_id, event_id AS conv_id, epoch_ms(ts) AS cms, value AS revenue
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id, event_type AS channel, event_id AS touch_id, epoch_ms(ts) AS tms
  FROM events WHERE event_type IN ('click', 'view')
),
j AS (
  SELECT t.channel, c.conv_id, c.revenue, t.tms, t.touch_id
  FROM touch t JOIN conv c ON t.user_id = c.user_id
   AND t.tms < c.cms AND t.tms >= c.cms - {ATTR_LOOKBACK_MS}
),
credited AS (
  SELECT channel, revenue,
         CASE WHEN row_number() OVER (PARTITION BY conv_id
              ORDER BY tms, touch_id) = 1 THEN 1 ELSE 0 END AS is_first,
         CASE WHEN row_number() OVER (PARTITION BY conv_id
              ORDER BY tms DESC, touch_id DESC) = 1 THEN 1 ELSE 0 END AS is_last,
         round(1.0 / count(1) OVER (PARTITION BY conv_id), 9) AS lin
  FROM j
)
SELECT channel,
       CAST(count(1) AS BIGINT) AS n_touches,
       CAST(sum(is_first) AS BIGINT) AS credit_first,
       CAST(sum(is_last) AS BIGINT) AS credit_last,
       round(sum(lin), 4) AS credit_linear,
       round(sum(revenue * lin), 4) AS revenue_linear
FROM credited GROUP BY channel ORDER BY channel
""",
    "q_seasonal_outliers": _seasonal_outliers_oracle(),
    "q_holt_forecast": _holt_oracle(),
    "q_item_cooccurrence": _item_cooccurrence_oracle(),
    "q_item_cooccurrence_capped": _item_cooccurrence_capped_oracle(),
    "q_theil_sen": _theil_sen_oracle(),
    "q_xcorr_leadlag": _xcorr_oracle(),
    "q_holt_winters": _holt_winters_oracle(),
    "q_rfm_segments": _rfm_oracle(),
    "q_autocorr": """
WITH b AS (SELECT date_trunc('hour', min(ts)) AS mn, date_trunc('hour', max(ts)) AS mx FROM events),
grid AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b),
cnt AS (SELECT date_trunc('hour', ts) AS h, count(1) AS c FROM events GROUP BY 1),
series AS (SELECT g.h, CAST(coalesce(c.c, 0) AS BIGINT) AS c FROM grid g LEFT JOIN cnt c USING (h)),
sh AS (
  SELECT CAST(1 AS INTEGER) AS lag, h + INTERVAL 1 HOUR AS h, c AS cl FROM series
  UNION ALL SELECT CAST(6 AS INTEGER), h + INTERVAL 6 HOUR, c FROM series
  UNION ALL SELECT CAST(24 AS INTEGER), h + INTERVAL 24 HOUR, c FROM series
),
a AS (
  SELECT lag, CAST(count(1) AS BIGINT) AS n_pairs,
         sum(CAST(s.c AS DOUBLE)) AS sx, sum(CAST(sh.cl AS DOUBLE)) AS sy,
         sum(CAST(s.c AS DOUBLE) * CAST(s.c AS DOUBLE)) AS sxx,
         sum(CAST(sh.cl AS DOUBLE) * CAST(sh.cl AS DOUBLE)) AS syy,
         sum(CAST(s.c AS DOUBLE) * CAST(sh.cl AS DOUBLE)) AS sxy
  FROM series s JOIN sh USING (h) GROUP BY lag
)
SELECT lag, n_pairs,
       round((CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 6) AS autocorr
FROM a
""",
    "q_transition_matrix": """
WITH seq AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(count(1) AS BIGINT) AS n_transitions,
       round(count(1) / CAST(sum(count(1)) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS prob
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
    "q_gapfill_locf": f"""
WITH ev AS (SELECT user_id, ts, value, event_id FROM events),
bounds AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS mn, date_trunc('hour', max(ts)) AS mx
  FROM ev GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS t,
         CAST(NULL AS DOUBLE) AS v, CAST(NULL AS BIGINT) AS event_id, 1 AS is_grid
  FROM bounds
),
marks AS (SELECT user_id, ts AS t, value AS v, event_id, 0 AS is_grid FROM ev),
u AS (SELECT * FROM marks UNION ALL SELECT * FROM grid),
f AS (
  SELECT user_id, is_grid,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, is_grid, event_id ASC NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
  FROM u
)
SELECT user_id, CAST(count(1) AS BIGINT) AS n_hours,
       CAST(sum(CASE WHEN locf IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       round(sum(locf), 4) AS locf_checksum
FROM f WHERE is_grid = 1 GROUP BY user_id
""",
    "q_entropy": """
WITH freq AS (SELECT event_type, count(1) AS n_t FROM events GROUP BY event_type),
tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_events, CAST(count(1) AS BIGINT) AS n_types FROM freq)
SELECT n_events, n_types,
       round(-sum((n_t / CAST(n_events AS DOUBLE)) * ln(n_t / CAST(n_events AS DOUBLE))), 6) AS entropy_nats
FROM freq CROSS JOIN tot
GROUP BY n_events, n_types
""",
    "q_histogram": f"""
SELECT CAST(floor(value / {HIST_BUCKET_WIDTH}) AS BIGINT) AS bucket,
       CAST(count(1) AS BIGINT) AS n,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value,
       round(avg(value), 4) AS avg_value
FROM events GROUP BY 1
""",
    "q_outliers": f"""
WITH z AS (
  SELECT event_id, event_type, round(value, 4) AS value,
         round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4) AS z
  FROM events WINDOW w AS (PARTITION BY event_type)
)
SELECT * FROM z WHERE abs(z) > {OUTLIER_Z}
""",
    "q_ewma": f"""
WITH g AS (
  SELECT user_id,
         list_sort(list(struct_pack(ms := epoch_ms(ts), event_id := event_id,
                                    value := value))) AS seq
  FROM events GROUP BY user_id
),
v AS (
  SELECT user_id, len(seq) AS n_events,
         list_transform(seq, s -> s.value) AS vals
  FROM g
)
SELECT user_id, CAST(n_events AS INTEGER) AS n_events,
       round(vals[-1], 6) AS last_value,
       round(CASE WHEN n_events = 1 THEN vals[1]
                  ELSE list_reduce(vals, (a, x) -> {EWMA_ALPHA} * x + {1 - EWMA_ALPHA} * a)
             END, 6) AS ewma
FROM v
""",
    "q_interval_join": f"""
WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
m AS (
  SELECT *, CASE WHEN lag(ms) OVER w IS NULL
                   OR ms - lag(ms) OVER w >= {SESSION_GAP_MS} THEN 1 ELSE 0 END AS nsess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
),
sgrp AS (
  SELECT *, sum(nsess) OVER (PARTITION BY user_id ORDER BY ms, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
),
sessions AS (
  SELECT user_id, CAST(sid AS BIGINT) AS session_id,
         min(ms) AS a_start, max(ms) AS a_end
  FROM sgrp GROUP BY 1, 2
),
errors AS (
  SELECT user_id, event_id, epoch_ms(ts) AS b_start, epoch_ms(ts) + {BIN_MS} AS b_end
  FROM events WHERE event_type = 'error'
)
SELECT s.user_id, s.session_id, e.event_id AS error_event_id,
       least(s.a_end, e.b_end) - greatest(s.a_start, e.b_start) AS overlap_ms
FROM sessions s JOIN errors e
  ON s.user_id = e.user_id AND s.a_start <= e.b_end AND e.b_start <= s.a_end
""",
    "q_sessionize": f"""
WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
m AS (
  SELECT *, CASE WHEN lag(ms) OVER w IS NULL
                   OR ms - lag(ms) OVER w >= {SESSION_GAP_MS} THEN 1 ELSE 0 END AS nsess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
),
s AS (
  SELECT *, sum(nsess) OVER (PARTITION BY user_id ORDER BY ms, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id, CAST(sid AS BIGINT) AS session_id,
       min(ms) AS session_start_ms, max(ms) AS session_end_ms,
       CAST(count(1) AS BIGINT) AS n, round(sum(value), 4) AS total_value
FROM s GROUP BY 1, 2
""",
    "q_retention": """
WITH cohort AS (
  SELECT user_id, min(epoch_ms(ts)) // 604800000 AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), active AS (
  SELECT user_id, epoch_ms(ts) // 604800000 AS wk FROM events
)
SELECT cohort_week, wk - cohort_week AS week_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM active JOIN cohort USING (user_id)
WHERE wk - cohort_week BETWEEN 0 AND 8
GROUP BY 1, 2
""",
    "q_funnel": """
WITH s AS (
  SELECT user_id, min(ts) AS t_signup FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN s USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s.t_signup
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY e.user_id
)
SELECT CAST(count(1) AS BIGINT) AS n_signup,
       CAST(count(t_click) AS BIGINT) AS n_click_after_signup,
       CAST(count(t_purchase) AS BIGINT) AS n_purchase_after_click
FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
""",
    "q_range_join": """
WITH intervals AS (
  SELECT event_id AS interval_id, user_id,
         epoch_ms(ts) AS start_ms, epoch_ms(ts) + 1800000 AS end_ms
  FROM events WHERE event_type = 'signup'
)
SELECT interval_id, i.user_id AS user_id, start_ms, end_ms,
       CAST(count(1) AS BIGINT) AS n_in_window,
       round(sum(e.value), 4) AS total_value
FROM intervals i JOIN events e
  ON i.user_id = e.user_id
 AND epoch_ms(e.ts) >= i.start_ms AND epoch_ms(e.ts) < i.end_ms
GROUP BY 1, 2, 3, 4
""",
    "q_rollup_cascade": """
WITH minute AS (
  SELECT date_trunc('minute', ts) AS m, event_type,
         count(1) AS mn, sum(value) AS mv
  FROM events GROUP BY 1, 2
)
SELECT epoch_ms(date_trunc('hour', m)) AS hour_ms, event_type,
       CAST(sum(mn) AS BIGINT) AS n,
       round(sum(mv), 4) AS total_value,
       CAST(count(1) AS BIGINT) AS n_active_minutes
FROM minute GROUP BY 1, 2
""",
    "q_win_tumble": """
SELECT epoch_ms(date_trunc('minute', ts)) AS wstart_ms,
       epoch_ms(date_trunc('minute', ts)) + 60000 AS wend_ms,
       event_type, CAST(count(1) AS BIGINT) AS n,
       round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2, 3
""",
    "q_win_sliding": """
WITH expanded AS (
  SELECT event_type, value,
         epoch_ms(ts) - (epoch_ms(ts) % 300000) - k.off AS wstart_ms
  FROM events CROSS JOIN (VALUES (0), (300000)) k(off)
)
SELECT wstart_ms, wstart_ms + 600000 AS wend_ms, event_type,
       CAST(count(1) AS BIGINT) AS n, round(sum(value), 4) AS total_value
FROM expanded GROUP BY 1, 2, 3
""",
    "q_win_session": """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       epoch_ms(min(ts)) AS session_start_ms,
       epoch_ms(max(ts)) + 1800000 AS session_end_ms,
       CAST(count(1) AS BIGINT) AS n,
       round(sum(value), 4) AS total_value
FROM s GROUP BY user_id, sid
""",
    "q_late_data": """
WITH wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS wm_ms FROM events)
SELECT event_type,
       CAST(sum(CASE WHEN epoch_ms(ts) <= wm_ms THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
       CAST(sum(CASE WHEN epoch_ms(ts) > wm_ms THEN 1 ELSE 0 END) AS BIGINT) AS n_late
FROM events CROSS JOIN wm
GROUP BY event_type
""",
    "q_asof_join": """
WITH u AS (
  SELECT user_id, ts, event_id, 1 AS side, value AS lvalue, NULL::DOUBLE AS rvalue
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, event_id, 0 AS side, NULL, value
  FROM events WHERE event_type = 'click'
), m AS (
  SELECT *,
         last_value(CASE WHEN side = 0 THEN rvalue END IGNORE NULLS) OVER w AS click_value_raw,
         last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER w AS click_ts_raw
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
       round(lvalue, 4) AS purchase_value,
       CASE WHEN click_ts_raw IS NOT NULL
             AND epoch_ms(ts) - epoch_ms(click_ts_raw) <= 21600000
            THEN round(click_value_raw, 4) END AS click_value,
       CASE WHEN click_ts_raw IS NOT NULL
             AND epoch_ms(ts) - epoch_ms(click_ts_raw) <= 21600000
            THEN epoch_ms(click_ts_raw) END AS click_ts_ms
FROM m WHERE side = 1
""",
    "q_cusum": f"""
WITH stats AS (
  SELECT event_type,
         round(avg(value), 6) AS mu,
         round(stddev_samp(value), 6) AS sd
  FROM events WHERE value IS NOT NULL GROUP BY event_type
), z AS (
  SELECT e.event_type, e.ts, e.event_id, (e.value - s.mu) / s.sd AS z
  FROM events e JOIN stats s USING (event_type)
  WHERE e.value IS NOT NULL
), pre AS (
  SELECT event_type, ts, event_id,
         round(sum(z - {CUSUM_K}) OVER w, 6) AS s
  FROM z
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), c AS (
  SELECT event_type,
         s - min(s) OVER (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM pre
)
SELECT event_type,
       CAST(count(1) AS BIGINT) AS n,
       CAST(sum(CASE WHEN cusum > {CUSUM_H} THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       round(max(cusum), 6) AS peak_cusum
FROM c GROUP BY event_type
""",
    "q_asof_forward": """
WITH u AS (
  SELECT user_id, ts, event_id, 1 AS side, value AS lvalue, NULL::DOUBLE AS rvalue
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, event_id, 0 AS side, NULL, value
  FROM events WHERE event_type = 'click'
), m AS (
  SELECT *,
         first_value(CASE WHEN side = 0 THEN rvalue END IGNORE NULLS) OVER w AS click_value_raw,
         first_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER w AS click_ts_raw
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side DESC, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
       round(lvalue, 4) AS purchase_value,
       CASE WHEN click_ts_raw IS NOT NULL
             AND epoch_ms(click_ts_raw) - epoch_ms(ts) <= 21600000
            THEN round(click_value_raw, 4) END AS click_value,
       CASE WHEN click_ts_raw IS NOT NULL
             AND epoch_ms(click_ts_raw) - epoch_ms(ts) <= 21600000
            THEN epoch_ms(click_ts_raw) END AS click_ts_ms
FROM m WHERE side = 1
""",
    "q_asof_nearest": """
WITH u AS (
  SELECT user_id, ts, event_id, 1 AS side, value AS lvalue, NULL::DOUBLE AS rvalue
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, event_id, 0 AS side, NULL, value
  FROM events WHERE event_type = 'click'
), m AS (
  SELECT *,
         last_value(CASE WHEN side = 0 THEN rvalue END IGNORE NULLS) OVER wb AS bv,
         last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER wb AS bts,
         first_value(CASE WHEN side = 0 THEN rvalue END IGNORE NULLS) OVER wf AS fv,
         first_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER wf AS fts
  FROM u
  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY ts, side DESC, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
), g AS (
  SELECT *,
         (bts IS NOT NULL AND epoch_ms(ts) - epoch_ms(bts) <= 21600000) AS b_ok,
         (fts IS NOT NULL AND epoch_ms(fts) - epoch_ms(ts) <= 21600000) AS f_ok
  FROM m
), pick AS (
  SELECT *,
         (b_ok AND (NOT f_ok
                    OR epoch_ms(ts) - epoch_ms(bts) <= epoch_ms(fts) - epoch_ms(ts)))
           AS choose_back
  FROM g
)
SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
       round(lvalue, 4) AS purchase_value,
       CASE WHEN choose_back THEN round(bv, 4)
            WHEN f_ok THEN round(fv, 4) END AS click_value,
       CASE WHEN choose_back THEN epoch_ms(bts)
            WHEN f_ok THEN epoch_ms(fts) END AS click_ts_ms
FROM pick WHERE side = 1
""",
}
