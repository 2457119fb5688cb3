"""Driver-facing queries that execute THROUGH the streaming engine.

Each callable builds a readStream plan, drains it — into a memory sink
(``run_to_memory``), or as an availableNow foreachBatch gate through
:func:`_drain` (per-batch parquet appends via :func:`_ingest_sink`) —
and returns the drained result, so the driver's oracle diff checks
real Structured Streaming semantics (watermark finalization,
stream-stream join state) against ANSI SQL:

- q_stream_win_tumble: append-mode watermarked tumble — emits exactly
  the windows the watermark closed; the oracle applies the same
  cutoff (wend ≤ max(ts) − delay).
- q_stream_pair_join: stream-stream interval join; single-batch drain
  ⇒ no eviction losses, oracle is the plain interval join.
- q_stream_pair_match: the keyed-state fidelity matcher —
  sequential per-key semantics are SQL-expressible (running
  last-click state = windowed carry), so even this is oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window

from ..streaming.keyed_state import pair_match_stateful
from pyspark.sql import functions as F

from .presentation import cells_sorted

from ..sources.tables import load_table

from ..functions.portable import epoch_ms
from ..session import fresh_session_dir
from ..streaming.pipeline import (
    events_file_stream,
    process_all_available,
    run_to_memory,
    stream_dead_letter,
    stream_pair_join,
    stream_tumbling_agg,
)

WATERMARK_MS = 60_000
JOIN_WINDOW_MS = 3_600_000
DL_WATERMARK_MS = 600_000  # stream_dead_letter's 10-minute delay

#: per-query drain cap for the availableNow foreachBatch gates
DRAIN_TIMEOUT_S = 300


def _drain(writer, tag: str) -> None:
    """Start ``writer`` as an availableNow query and wait for it, with
    the completion CHECKED — a drain that outlives the cap would
    otherwise race the read-back and silently return a partial
    index/pair set with no error. The query is stopped on every exit."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(f"{tag}: stream drain did not complete in {DRAIN_TIMEOUT_S}s")
    finally:
        q.stop()


def _ingest_sink(spark: SparkSession, sf_dir: str, tag: str, stream, per_batch):
    """The one foreachBatch ingest scaffold: each micro-batch's
    ``per_batch(batch)`` is appended as parquet to a fresh session dir
    under ``tag`` (a failed drain raises; the next call starts from an
    empty dir), the drain is :func:`_drain`-checked, and the assembled
    output is read back. ``per_batch`` owns any repartition of the
    (often 1-partition) file batch."""
    import os

    out_path = fresh_session_dir(spark, tag, sf_dir)

    def _fb(batch, batch_id: int) -> None:
        per_batch(batch).write.mode("append").parquet(out_path)

    _drain(stream.writeStream.foreachBatch(_fb), tag)
    if not [n for n in os.listdir(out_path) if not n.startswith("_")]:
        # zero micro-batches fired, so no parquet was ever written —
        # surface a clear empty-stream signal instead of the opaque
        # AnalysisException the read-back would throw (ADVICE r8)
        raise RuntimeError(
            f"{tag}: stream produced no micro-batches (empty source at "
            f"{sf_dir}) — nothing was written to {out_path}"
        )
    return spark.read.parquet(out_path)


def _q_stream_win_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(spark, sf_dir)
    tab = run_to_memory(stream_tumbling_agg(ev, watermark="60 seconds"), "win_tumble")
    return spark.table(tab)


def _q_stream_pair_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(spark, sf_dir)
    tab = run_to_memory(stream_pair_join(ev, window="1 hour", watermark="1 hour"), "pair_join")
    return spark.table(tab)


def _q_stream_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-driven dead letters through the streaming engine: the
    LEFT OUTER stream-stream join NULL-pads a purchase only after the
    watermark proves no matching click can still arrive, so the memory
    sink holds exactly the dead letters whose event time the final
    watermark passed — the oracle applies the same cutoff
    (event_timestamp < min(max_click, max_purchase) − delay: each
    side's watermark node sits after its event_type filter, so the
    global watermark is the min over the two filtered maxima)."""
    ev = events_file_stream(spark, sf_dir)
    tab = run_to_memory(
        stream_dead_letter(ev, window="1 hour", watermark="10 minutes"), "dead_letter"
    )
    return spark.table(tab)


def _q_stream_pair_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(spark, sf_dir)
    tab = run_to_memory(pair_match_stateful(ev), "pair_match")
    return spark.table(tab)


def _q_stream_win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session windows through the streaming engine: append mode emits
    # exactly the sessions the watermark has closed (end <= max ts - delay).
    ev = events_file_stream(spark, sf_dir)
    sess = (
        ev.withWatermark("ts", "60 seconds")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            "user_id",
            epoch_ms(F.col("session_window.start")).alias("session_start_ms"),
            epoch_ms(F.col("session_window.end")).alias("session_end_ms"),
            "n",
            "total_value",
        )
    )
    tab = run_to_memory(sess, "win_session")
    return spark.table(tab)


def _q_stream_win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(spark, sf_dir)
    slid = (
        ev.withWatermark("ts", "60 seconds")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            epoch_ms(F.col("window.start")).alias("wstart_ms"),
            epoch_ms(F.col("window.end")).alias("wend_ms"),
            "event_type",
            "n",
            "total_value",
        )
    )
    tab = run_to_memory(slid, "win_sliding")
    return spark.table(tab)


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # at-least-once input (the stream unioned with itself = every event
    # delivered twice) deduplicated by key within the watermark —
    # dropDuplicatesWithinWatermark holds one state row per event_id
    # and EVICTS it when the watermark passes, unlike dropDuplicates
    # whose streaming state grows forever.
    ev = events_file_stream(spark, sf_dir)
    dup = ev.union(events_file_stream(spark, sf_dir))
    deduped = (
        dup.withWatermark("ts", "60 seconds")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", "user_id")
    )
    tab = run_to_memory(deduped, "stream_dedup")
    return spark.table(tab)


def _q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming SCD2 maintenance: the foreachBatch merge folds the
    # event stream into the effective-dated dimension; hash-diffed
    # against the BATCH scd2 oracle (the merge invariant is also
    # batch-split-tested in tests/test_scd2_stream.py).
    import os

    from ..streaming.scd2_merge import scd2_sink

    ev = events_file_stream(spark, sf_dir)
    # the snapshot swap renames beside its path, so the dimension lives
    # one level inside the session dir (whose _OWNER record must stay)
    dim_path = os.path.join(fresh_session_dir(spark, "okss-scd2", sf_dir), "dim")
    _drain(ev.writeStream.foreachBatch(scd2_sink(dim_path)), "okss-scd2")
    return spark.read.parquet(dim_path)


def _q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: per DAY window and event type, the PSI
    of that window's value distribution against the static all-time
    baseline — the production shape of model-input monitoring (the
    batch q_psi_drift audits offline; this emits per-window scores as
    windows close). The engine runs the watermarked (window, type,
    bin) cell aggregation; the PSI fold over ≤PSI_BINS cells per key
    and the baseline join happen batch-side on the drained sink (the
    baseline is a static broadcast either way)."""
    from .stats import PSI_ALERT, PSI_BIN_W, PSI_BINS

    ev = events_file_stream(spark, sf_dir)
    b = F.least(F.lit(PSI_BINS - 1), F.floor(F.col("value") / PSI_BIN_W)).cast("int")
    cells = (
        ev.withWatermark("ts", "60 seconds")
        .groupBy(F.window("ts", "1 day"), "event_type", b.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            epoch_ms(F.col("window.start")).alias("wstart_ms"),
            "event_type",
            "b",
            "c",
        )
    )
    tab = run_to_memory(cells, "stream_drift_cells")
    got = spark.table(tab)
    # static baseline: all-time per-bin distribution (Laplace-smoothed)
    allb = (
        load_table(spark, sf_dir, "events")
        .select(b.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_all"))
    )
    n_all = load_table(spark, sf_dir, "events").count()
    # every derived frame below shares the sink's attribute ids, so the
    # non-grid sides re-alias their join columns (fresh expr ids) and
    # join on explicit conditions — the documented self-join pattern
    keys = got.select("wstart_ms", "event_type").distinct()
    grid = keys.crossJoin(spark.range(PSI_BINS).select(F.col("id").cast("int").alias("b")))
    got_c = got.select(
        F.col("wstart_ms").alias("cw"),
        F.col("event_type").alias("cet"),
        F.col("b").alias("cb"),
        "c",
    )
    tot = (
        got.groupBy("wstart_ms", "event_type")
        .agg(F.sum("c").alias("n_t"))
        .select(F.col("wstart_ms").alias("tw"), F.col("event_type").alias("tet"), "n_t")
    )
    j = (
        grid.join(
            got_c,
            (F.col("wstart_ms") == F.col("cw"))
            & (F.col("event_type") == F.col("cet"))
            & (F.col("b") == F.col("cb")),
            "left",
        )
        .join(
            tot,
            (F.col("wstart_ms") == F.col("tw")) & (F.col("event_type") == F.col("tet")),
        )
        .join(F.broadcast(allb.select(F.col("b").alias("ab"), "c_all")),
              F.col("b") == F.col("ab"), "left")
    )
    p_t = (F.coalesce("c", F.lit(0)) + 1).cast("double") / (F.col("n_t") + PSI_BINS)
    p_a = (F.coalesce("c_all", F.lit(0)) + 1).cast("double") / F.lit(float(n_all + PSI_BINS))
    term = (p_t - p_a) * F.log(p_t / p_a)
    return (
        j.select("wstart_ms", "event_type", term.alias("term"))
        .groupBy("wstart_ms", "event_type")
        .agg(F.round(F.sum("term"), 6).alias("psi"))
        .select(
            "wstart_ms", "event_type", "psi", (F.col("psi") > PSI_ALERT).alias("drifted")
        )
    )


def _q_stream_dedup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CHAINED stateful operators in one streaming query (Spark 4):
    # at-least-once input → dropDuplicatesWithinWatermark → tumbling
    # windowed agg, both holding state in the same query — the shape a
    # real exactly-once metrics pipeline needs (dedup the transport
    # layer's redeliveries BEFORE counting). The oracle is the plain
    # tumble over distinct events with the same watermark cutoff:
    # dedup-by-event_id of the doubled stream is exactly the original.
    ev = events_file_stream(spark, sf_dir)
    dup = ev.union(events_file_stream(spark, sf_dir))
    deduped = dup.withWatermark("ts", "60 seconds").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = (
        deduped.groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            epoch_ms(F.col("window.start")).alias("wstart_ms"),
            epoch_ms(F.col("window.end")).alias("wend_ms"),
            "event_type",
            "n",
            "total_value",
        )
    )
    tab = run_to_memory(agg, "stream_dedup_agg")
    return spark.table(tab)


def _q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stream-static enrichment: the streaming fact side joins a static
    # dim computed in batch (per-user lifetime click stats). The static
    # side is planned once and broadcast per micro-batch — no stream
    # state at all, the canonical dimension-enrichment pattern.
    profile = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"), F.round(F.sum("value"), 4).alias("click_value"))
    )
    purchases = events_file_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    joined = purchases.join(F.broadcast(profile), "user_id").select(
        "event_id",
        "user_id",
        F.round("value", 4).alias("purchase_value"),
        "n_clicks",
        "click_value",
    )
    tab = run_to_memory(joined, "stream_static")
    return spark.table(tab)



def _q_stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment — the feature-store SERVING
    pattern: purchase facts ARRIVE as a stream and each is joined to
    the SCD2 account-dimension VERSION valid at its event time via a
    native stream-static LEFT OUTER join with the interval predicate
    (from ≤ ms < to, to NULL = current) — no watermark, no state
    store; the static side is planned once per micro-batch. Interval
    containment over contiguous versions IS the batch query's
    window-carry (an equal-from/to version has an empty [x, x)
    interval, so the later same-ms version wins exactly like the
    carry's version tiebreak), and facts before a user's first
    version survive NULL-padded — so the query shares q_scd2_pit's
    oracle verbatim. A fact's verdict depends only on itself and the
    static dimension ⇒ batch-split invariant by construction.

    At scale the static side rebroadcasts per micro-batch (Spark's
    stream-static contract); a 100 TB dimension would bucket both
    sides on user_id instead — the equi-key is in the join, so the
    planner picks SMJ/bucketed when the dim stops fitting broadcast."""
    from .warehouse import scd2

    ev_b = load_table(spark, sf_dir, "events")
    dim = scd2(ev_b.filter(F.col("event_type").isin("signup", "error"))).select(
        F.col("user_id").alias("d_user"),
        "version",
        F.col("event_type").alias("state"),
        "valid_from_ms",
        "valid_to_ms",
    )
    facts = (
        events_file_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", epoch_ms(F.col("ts")).alias("ms"), "value")
    )
    joined = facts.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("ms") >= F.col("valid_from_ms"))
        & (F.col("valid_to_ms").isNull() | (F.col("ms") < F.col("valid_to_ms"))),
        "left",
    ).select(
        "event_id",
        "user_id",
        "ms",
        F.round("value", 4).alias("value"),
        F.col("version").alias("pit_version"),
        F.col("state").alias("pit_state"),
    )
    tab = run_to_memory(joined, "pit_enrich_stream")
    return spark.table(tab)


def _q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running EWMA through the streaming engine (explicit
    keyed state, streaming/keyed_state.py). Single-batch drain folds each
    user's full event sequence in (ts, event_id) order, so every output
    row's ewma equals the prefix fold of the recurrence — which is
    SQL-expressible, hence oracle-checked like the pair matcher."""
    from ..streaming.keyed_state import stream_ewma
    from .timeseries import EWMA_ALPHA

    ev = events_file_stream(spark, sf_dir)
    tab = run_to_memory(stream_ewma(ev, EWMA_ALPHA), "ewma_stream")
    return spark.table(tab).withColumn("ewma", F.round("ewma", 6))


def _q_stream_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source admission quota enforced AT INGEST: documents ARRIVE
    as a stream, each is scored with the batch classifier's exact
    expressions (stateless — curation.classifier_scores on the
    streaming plan), and a stateful O(sources) counter admits at most
    SOURCE_QUOTA quality-passing docs per source in arrival (doc_id)
    order (streaming/keyed_state.py). The batch q_source_quota ranks by
    margin — a full-pass notion; the ingest twin is the
    arrival-order cap a live corpus intake actually runs, and ITS
    batch equivalent (first-N by doc_id among margin>0 docs) is the
    oracle. Batch-split invariance: the counter carries across
    micro-batches (tests/test_stream_quota.py)."""
    from ..functions.textfns import tokens
    from ..streaming.pipeline import documents_file_stream
    from ..streaming.keyed_state import stream_source_quota
    from .curation import SOURCE_QUOTA, classifier_scores

    docs = documents_file_stream(spark, sf_dir)
    base = docs.select("doc_id", "source", tokens(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    scored = (
        classifier_scores(base)
        .filter(F.col("keep"))
        .select("doc_id", "source", "margin")
    )
    tab = run_to_memory(stream_source_quota(scored, SOURCE_QUOTA), "source_quota_stream")
    return spark.table(tab)


def _q_stream_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming admission twin of the mixture-interleave schedule
    (VERDICT r10 item 5): documents ARRIVE as a stream and each is
    stamped with its per-source arrival rank by an O(sources) stateful
    counter (streaming/keyed_state.py — the q_stream_source_quota
    ledger without the cap); its global training position then follows
    from the MEMOIZED corpus schedule outside the stream: the stride
    key within_rank / √(source tokens) (weights are the batch
    temperature table, an O(sources) broadcast) and one grouped
    two-pass rank over the drained relation — the
    q_stream_transition_matrix drain-then-rollup shape, because a
    global position is a full-order property no bounded state can
    finalize mid-stream. The batch q_interleave_mixture shuffles
    within a source by seeded hash (a full-pass notion); the ingest
    twin interleaves in ARRIVAL (doc_id) order — the same batch→ingest
    semantic shift as q_source_quota → q_stream_source_quota — and ITS
    batch equivalent is the oracle. Batch-split invariance: the
    counter carries across micro-batches
    (tests/test_stream_interleave.py)."""
    from ..streaming.keyed_state import stream_interleave_ranks
    from ..streaming.pipeline import documents_file_stream
    from .sampling import global_row_numbers
    from .text import _tokenized

    docs = documents_file_stream(spark, sf_dir).select("doc_id", "source")
    tab = run_to_memory(stream_interleave_ranks(docs), "interleave_stream")
    ranked = spark.table(tab)
    w = (
        _tokenized(spark, sf_dir, "source")
        .groupBy("source")
        .agg(F.sqrt(F.sum(F.size("t")).cast("double")).alias("wt"))
    )
    stride = ranked.join(F.broadcast(w), "source").select(
        "doc_id",
        "source",
        "within_rank",
        (F.col("within_rank").cast("double") / F.col("wt")).alias("key"),
    )
    pos = global_row_numbers(stride, ["key", "source", "within_rank"])
    return pos.select(
        "doc_id", "source", "within_rank", F.col("rn").alias("interleave_pos")
    )


def _q_stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix fed by the streaming engine: the
    stateful per-user last-event cursor (streaming/keyed_state.py)
    emits adjacent prev→next pairs; the matrix rollup runs over the
    drained pair relation. The emitted pair SET is batch-split
    invariant (state carries the cursor across micro-batches —
    tests/test_stream_transitions.py), so the matrix equals the batch
    window-lag form and shares q_transition_matrix's oracle."""
    from ..streaming.keyed_state import stream_transitions

    ev = events_file_stream(spark, sf_dir)
    tab = run_to_memory(stream_transitions(ev), "transitions_stream")
    cells = (
        spark.table(tab)
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w = Window.partitionBy("prev_type")
    return cells.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(w), 6
        ).alias("prob"),
    )


def _q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution fed by the streaming engine: the
    touch × conversion lookback join runs as a stream-stream INNER
    interval join (touches wait in join state bounded by the 3-day
    lookback + watermark; Spark's join state replaces any hand-rolled
    touch buffer), and the credit windows + rollup (shared verbatim
    with the batch query via timeseries.attribution_rollup) run over
    the drained pair relation. Inner-join emission is eager — a pair
    emits when both sides have arrived, no window-close dependence —
    so the drained pair SET equals the batch join exactly and the
    query shares q_attribution's oracle verbatim."""
    from .timeseries import ATTR_CHANNELS, attribution_rollup

    ev = events_file_stream(spark, sf_dir)
    touches = (
        ev.filter(F.col("event_type").isin(*ATTR_CHANNELS))
        .select(
            F.col("user_id").alias("t_user"),
            F.col("event_type").alias("channel"),
            F.col("event_id").alias("touch_id"),
            F.col("ts").alias("t_ts"),
        )
        .withWatermark("t_ts", "1 hour")
    )
    convs = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("conv_id"),
            F.col("value").alias("revenue"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    pairs = touches.join(
        convs,
        F.expr(
            "t_user = c_user AND t_ts < c_ts AND t_ts >= c_ts - INTERVAL 3 DAYS"
        ),
        "inner",
    ).select(
        "channel",
        "revenue",
        "conv_id",
        epoch_ms(F.col("t_ts")).alias("tms"),
        "touch_id",
    )
    tab = run_to_memory(pairs, "attr_pairs_stream")
    return attribution_rollup(spark.table(tab))


def _q_stream_unconverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join — the engine capability
    q_stream_attribution's inner join doesn't exercise: touches that
    NEVER convert within the 3-day lookback emit as null-padded rows
    only once the watermark proves no future conversion can match
    (Spark holds the touch in join state until wm passes t_ts +
    lookback, then emits the null row — the 'abandoned journey'
    feed for retargeting/funnel-leak analytics). Matched pairs emit
    eagerly like the inner join. Rollup per channel: matched
    touch→conversion pairs, distinct converted touches, distinct
    expired-unmatched touches, and the contact rate.

    Oracle: the batch LEFT interval join with unmatched rows
    restricted to touches whose full lookback window the final
    watermark CLOSED (t_ts + 3 days < max(ts) − 1 h — the wm-filter
    pattern; matched pairs carry no window-close dependence). Touches
    in the un-closed tail are EXCLUDED from the unmatched count on
    both sides, so the drained relation equals the batch one.

    Scale shape: join state is O(touches inside the lookback
    horizon) per key range — bounded by the watermark, the point of
    using the engine's state instead of a hand-rolled buffer; the
    rollup runs over the drained pair relation (|channels| cells)."""
    from .timeseries import ATTR_CHANNELS

    ev = events_file_stream(spark, sf_dir)
    touches = (
        ev.filter(F.col("event_type").isin(*ATTR_CHANNELS))
        .select(
            F.col("user_id").alias("t_user"),
            F.col("event_type").alias("channel"),
            F.col("event_id").alias("touch_id"),
            F.col("ts").alias("t_ts"),
        )
        .withWatermark("t_ts", "1 hour")
    )
    convs = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("conv_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    pairs = touches.join(
        convs,
        F.expr(
            "t_user = c_user AND t_ts < c_ts AND t_ts >= c_ts - INTERVAL 3 DAYS"
        ),
        "leftOuter",
    ).select("channel", "touch_id", "conv_id")
    tab = run_to_memory(pairs, "unconverted_stream")
    drained = spark.table(tab)
    return (
        drained.groupBy("channel")
        .agg(
            F.sum(F.col("conv_id").isNotNull().cast("long")).alias("n_pairs"),
            F.count_distinct(
                F.when(F.col("conv_id").isNotNull(), F.col("touch_id"))
            ).alias("n_converted_touches"),
            F.count_distinct(
                F.when(F.col("conv_id").isNull(), F.col("touch_id"))
            ).alias("n_unmatched_touches"),
        )
        .select(
            "channel",
            "n_pairs",
            "n_converted_touches",
            "n_unmatched_touches",
            F.round(
                F.col("n_converted_touches")
                / (F.col("n_converted_touches") + F.col("n_unmatched_touches")),
                6,
            ).alias("contact_rate"),
        )
        .transform(cells_sorted, "channel")  # <= |channels| rows
    )


def _stream_unconverted_oracle() -> str:
    from .timeseries import ATTR_CHANNELS

    chans = ", ".join(f"'{c}'" for c in ATTR_CHANNELS)
    d3 = 3 * 24 * 3_600_000
    return f"""
WITH touches AS (
  SELECT user_id AS t_user, event_type AS channel, event_id AS touch_id,
         epoch_ms(ts) AS tms
  FROM events WHERE event_type IN ({chans})
),
convs AS (
  SELECT user_id AS c_user, event_id AS conv_id, epoch_ms(ts) AS cms
  FROM events WHERE event_type = 'purchase'
),
wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS w FROM events),
matched AS (
  SELECT t.channel, t.touch_id, c.conv_id
  FROM touches t JOIN convs c
    ON t.t_user = c.c_user AND t.tms < c.cms AND t.tms >= c.cms - {d3}
),
unmatched AS (
  SELECT t.channel, t.touch_id, CAST(NULL AS BIGINT) AS conv_id
  FROM touches t CROSS JOIN wm
  WHERE t.tms + {d3} < wm.w
    AND NOT EXISTS (
      SELECT 1 FROM convs c
      WHERE c.c_user = t.t_user AND t.tms < c.cms AND t.tms >= c.cms - {d3}
    )
),
pairs AS (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
SELECT channel,
       CAST(sum(CASE WHEN conv_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pairs,
       CAST(count(DISTINCT CASE WHEN conv_id IS NOT NULL THEN touch_id END)
         AS BIGINT) AS n_converted_touches,
       CAST(count(DISTINCT CASE WHEN conv_id IS NULL THEN touch_id END)
         AS BIGINT) AS n_unmatched_touches,
       round(count(DISTINCT CASE WHEN conv_id IS NOT NULL THEN touch_id END)
             / CAST(count(DISTINCT CASE WHEN conv_id IS NOT NULL THEN touch_id END)
                    + count(DISTINCT CASE WHEN conv_id IS NULL THEN touch_id END)
                    AS DOUBLE), 6) AS contact_rate
FROM pairs GROUP BY channel ORDER BY channel
"""


def _q_stream_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B monitor fed by the streaming engine —
    the deployment shape mSPRT was designed for: the ENGINE aggregates
    watermarked 1-day windows into per-arm sufficient-statistic cells
    as they close; the cumulative likelihood-ratio fold (shared
    verbatim with the batch query via stats.msprt_curve) runs over the
    drained O(days) cell relation, so the experimenter reads a live
    always-valid p-value after every closed day. Shares q_msprt's
    oracle — the streamed curve equals the offline one exactly."""
    from ..functions.portable import hash60
    from .stats import DAY_MS, MSPRT_SALT, msprt_curve

    ev = events_file_stream(spark, sf_dir)
    arm = hash60(F.concat(F.lit(MSPRT_SALT + "|"), F.col("user_id"))) % 2
    a0 = lambda c: F.when(arm == 0, c).otherwise(F.lit(0.0))  # noqa: E731
    a1 = lambda c: F.when(arm == 1, c).otherwise(F.lit(0.0))  # noqa: E731
    cells = (
        ev.withWatermark("ts", "60 seconds")
        .groupBy(F.window("ts", "1 day"))
        .agg(
            F.sum(F.when(arm == 0, 1).otherwise(0)).alias("na"),
            F.round(F.sum(a0(F.col("value"))), 6).alias("sa"),
            F.round(F.sum(a0(F.col("value") * F.col("value"))), 6).alias("qa"),
            F.sum(F.when(arm == 1, 1).otherwise(0)).alias("nb"),
            F.round(F.sum(a1(F.col("value"))), 6).alias("sb"),
            F.round(F.sum(a1(F.col("value") * F.col("value"))), 6).alias("qb"),
        )
        .select(
            F.floor(epoch_ms(F.col("window.start")) / F.lit(DAY_MS)).alias("day"),
            "na",
            "sa",
            "qa",
            "nb",
            "sb",
            "qb",
        )
    )
    tab = run_to_memory(cells, "msprt_cells_stream")
    return msprt_curve(spark.table(tab))


def _q_stream_percentile_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-(day, type) percentiles fed by the streaming engine —
    q_percentile_distributed's deployment shape (VERDICT r7 item 5):
    the ENGINE aggregates watermarked 1-day windows into
    (day, event_type, value) count cells as they close (append mode ==
    emit-final-only, state is O(open windows × types × distinct
    values)); the drained cell relation then runs the SAME grouped
    two-pass prefix-sum rank selection as the batch query
    (sampling.global_prefix_sums part=(day, event_type) — no per-group
    sort buffer, no single-partition window), so an operator reads
    exact p50/p90/p99 per closed day without the engine ever holding a
    per-group value buffer. Oracle: the batch SQL restricted to
    watermark-closed windows (the q_stream_msprt wm-filter pattern —
    append never emits the tail day).

    The drained memory-sink relation is localCheckpoint'd before the
    helper: global_prefix_sums joins the relation back against an
    aggregate of itself (the triangular-offset attach), and a
    memory-sink view cannot be self-joined (the r6 analyzer trap —
    conflicting references); the checkpoint is O(cells), the same
    lineage-cut class the dedup/similarity in-query cuts use."""
    ev = events_file_stream(spark, sf_dir)
    tab = run_to_memory(stream_pctl_cells(ev), "pctl_cells_stream")
    return pctl_rank_select(spark.table(tab).localCheckpoint())


def stream_pctl_cells(ev: DataFrame) -> DataFrame:
    """Watermarked (day, event_type, value) count cells of a raw event
    stream — the engine-managed state of the streaming-percentile
    pipeline (seam for the batch-split invariance test)."""
    from .stats import DAY_MS

    return (
        ev.filter(F.col("value").isNotNull())
        .withWatermark("ts", "60 seconds")
        .groupBy(F.window("ts", "1 day"), "event_type", "value")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.floor(epoch_ms(F.col("window.start")) / F.lit(DAY_MS)).alias("day"),
            "event_type",
            "value",
            "c",
        )
    )


def pctl_rank_select(drained: DataFrame) -> DataFrame:
    """q_percentile_distributed's grouped two-pass rank selection over
    any (day, event_type, value, c) cell relation. ``drained`` must be
    self-joinable (localCheckpoint a memory-sink table first)."""
    from .robustness import PCTL_QS
    from .sampling import global_prefix_sums

    # r12 (VERDICT r11 item 5): the per-group total rides the SAME
    # two-pass rank machinery (group_totals taps the per-partition
    # totals cells the prefix sum already aggregates) — the r11 form
    # paid a second full aggregation over the drained cells plus its
    # own broadcast join to attach n. One aggregation pass + one
    # broadcast join now serve both the rank and the total; n = sum of
    # the per-partition partial sums = sum(c) per group, exact long
    # arithmetic, bit-identical to the separate aggregate.
    j = global_prefix_sums(
        drained,
        ["value"],
        {"cum": "c"},
        part=("day", "event_type"),
        inclusive=True,
        group_totals={"n": "cum"},
    )
    aggs = [F.max("n").alias("n")]
    for q in PCTL_QS:
        tag = f"p{int(round(q * 100))}"
        aggs.append(
            F.min(
                F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("value"))
            ).alias(tag)
        )
    return (
        j.groupBy("day", "event_type")
        .agg(*aggs)
        .transform(cells_sorted, "day", "event_type")  # day x type cells
    )


def _q_stream_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FDR-controlled multi-metric experiment readout fed by the
    streaming engine — q_bh_fdr's deployment shape: the ENGINE
    aggregates watermarked 1-day windows into (day, metric, arm)
    moment cells as they close; after every closed day the cumulative
    Welch z family is re-ranked and the BH step-up re-applied
    (stats.bh_daily, the shared fold), so the experimenter reads a
    live 'which metrics are currently rejected at FDR α' table —
    the multi-metric complement to q_stream_msprt's single-metric
    always-valid p. Oracle: the batch SQL restricted to
    watermark-closed windows (the msprt/q_stream_drift wm-filter
    pattern — append mode never emits the tail day).

    Scale shape: streaming state is O(open windows × metrics × arms)
    cells; the drained relation is O(days × m) and every post-drain
    window (cumulative, per-day rank) orders those cells, never
    events. Cumulative sums run over the ORDERED day axis — a
    deterministic accumulation order, unlike the batch bag-sum."""
    from ..functions.portable import hash60
    from .stats import BH_SALT, BH_TYPES, DAY_MS, bh_daily

    ev = events_file_stream(spark, sf_dir).filter(
        F.col("event_type").isin(*BH_TYPES)
    )
    arm = hash60(F.concat(F.lit(BH_SALT + "|"), F.col("user_id"))) % 2
    cells = (
        ev.withWatermark("ts", "60 seconds")
        .groupBy(F.window("ts", "1 day"), "event_type", arm.alias("arm"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("s"),
            F.round(F.sum(F.col("value") * F.col("value")), 6).alias("ss"),
        )
        .select(
            F.floor(epoch_ms(F.col("window.start")) / F.lit(DAY_MS)).alias("day"),
            "event_type",
            "arm",
            "n",
            "s",
            "ss",
        )
    )
    tab = run_to_memory(cells, "bh_cells_stream")
    return bh_daily(spark.table(tab))


def _q_stream_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce audit fed by the streaming engine: the stateful
    per-(user, type) last-timestamp cursor (streaming/keyed_state.py)
    flags each arriving event against the carried previous raw event;
    the per-type rollup runs over the drained verdict relation. The
    flag SET is batch-split invariant (state seeds the first gap of
    every micro-batch — tests/test_stream_debounce.py), so the audit
    equals the batch lag-window form and shares q_debounce's oracle."""
    from ..streaming.keyed_state import stream_debounce
    from .timeseries import DEBOUNCE_MS

    ev = events_file_stream(spark, sf_dir)
    tab = run_to_memory(stream_debounce(ev, DEBOUNCE_MS), "debounce_stream")
    return (
        spark.table(tab)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.lit(1) - F.col("dropped")).alias("n_kept"),
            F.sum("dropped").alias("n_dropped"),
            F.round(F.sum("dropped") / F.count(F.lit(1)), 4).alias("drop_frac"),
        )
        .transform(cells_sorted, "event_type")  # <= |event types| rows
    )


def _q_stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental near-dup dedup (VERDICT r2 item 8): delta
    documents ARRIVE as a stream; each micro-batch is shingled /
    signed / banded from its text with the corpus build's exact
    expressions and probes the memoized band index (base ∪ ingested
    delta — the end-of-ingest state) via foreachBatch, appending
    per-doc verdicts. Because the candidate side is static and
    complete, the verdict per doc is identical however the stream
    batches the delta — the batch-split invariant is unit-tested
    (tests/test_stream_dedup_incremental.py) and the assembled output
    is hash-diffed against the BATCH q_dedup_incremental oracle below,
    the same twin pattern as q_stream_scd2."""
    from ..streaming.pipeline import documents_file_stream
    from .dedup import DELTA_MOD, dedup_incremental_probe

    docs = documents_file_stream(spark, sf_dir).filter(
        F.col("doc_id") % DELTA_MOD == DELTA_MOD - 1
    )

    def probe(batch):
        # a file-source micro-batch inherits the FILE's partitioning
        # (often 1) — spread it before the shingle/probe work
        batch = batch.repartition(spark.sparkContext.defaultParallelism)
        return dedup_incremental_probe(spark, sf_dir, batch.select("doc_id", "text"))

    return _ingest_sink(spark, sf_dir, "okss-dedup-inc", docs, probe)


def _q_stream_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming containment ingest gate: submissions ARRIVE as a
    stream (the deterministic excerpt probes, derived per micro-batch
    from arriving docs with the batch fixture's exact expressions —
    dedup.excerpt_docs) and each batch probes the memoized BASE corpus
    shingle index for asymmetric containment via foreachBatch — an
    arriving doc substantially contained in an existing one is dropped
    BEFORE it enters the corpus, the admission complement of the batch
    q_dedup_containment sweep. A verdict depends only on the probe doc
    and the static base, so the assembled pair set is batch-split
    invariant (tests/test_containment.py) and equals the batch
    sweep restricted to excerpt→base pairs (oracle below)."""
    from ..streaming.pipeline import documents_file_stream
    from .dedup import containment_probe, excerpt_docs

    docs = documents_file_stream(spark, sf_dir)

    def probe(batch):
        # a file-source micro-batch inherits the FILE's partitioning
        # (often 1) — spread it before the shingle/probe work
        batch = batch.repartition(spark.sparkContext.defaultParallelism)
        return containment_probe(spark, sf_dir, excerpt_docs(batch.select("doc_id", "text")))

    return _ingest_sink(spark, sf_dir, "okss-containment", docs, probe)


def _q_stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index ingest: embeddings ARRIVE as a stream and
    each micro-batch is signed with the multi-table LSH Arrow kernel
    and appended to the index — the continuously-ingesting face of
    the vector store (new vectors become searchable one micro-batch
    after arrival; the probe join is unchanged). The signature of a
    vector depends only on that vector, so the assembled index is
    identical however the stream batches the corpus — hash-diffed
    against the batch index build via the oracle below."""
    from ..streaming.pipeline import embeddings_file_stream
    from .similarity import _dvec, _lsh_sigs_long

    emb = embeddings_file_stream(spark, sf_dir)
    return _ingest_sink(
        spark,
        sf_dir,
        "okss-ann-ingest",
        emb,
        lambda batch: _lsh_sigs_long(batch.select("vec_id", _dvec().alias("e"))),
    )


def _q_stream_knn_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming BINARY-signature index ingest: embeddings ARRIVE as a
    stream and each micro-batch is sign-masked with the batch index's
    exact unrolled expressions (similarity._binary_sig_cols) and
    appended — the continuously-ingesting face of the cheapest vector
    tier (16 bytes/vector; q_knn_binary's probe join is unchanged,
    new vectors become Hamming-searchable one micro-batch after
    arrival). A signature depends only on its vector, so the
    assembled index is identical however the stream batches the
    corpus — hash-diffed against the batch build via the oracle."""
    from ..streaming.pipeline import embeddings_file_stream
    from .similarity import _binary_sig_cols, _dvec

    emb = embeddings_file_stream(spark, sf_dir)
    return _ingest_sink(
        spark,
        sf_dir,
        "okss-bin-ingest",
        emb,
        lambda batch: batch.select("vec_id", _dvec().alias("e")).select(
            "vec_id", *_binary_sig_cols()
        ),
    )


def _q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality gate: documents ARRIVE as a stream; each
    micro-batch is tokenized and scored with the batch classifier's
    exact expressions (curation.classifier_scores) via foreachBatch —
    the ingest-time quality-gating every production corpus pipeline
    runs, with per-doc decisions identical to the offline batch gate
    (same oracle as q_quality_classifier)."""
    from ..functions.textfns import tokens
    from ..streaming.pipeline import documents_file_stream
    from .curation import classifier_scores

    docs = documents_file_stream(spark, sf_dir)

    def gate(batch):
        # spread the (possibly 1-partition) file batch before scoring
        batch = batch.repartition(spark.sparkContext.defaultParallelism)
        base = batch.select("doc_id", "source", tokens(F.col("text")).alias("t")).filter(
            F.size("t") > 0
        )
        return classifier_scores(base)

    return _ingest_sink(spark, sf_dir, "okss-qgate", docs, gate)


def _q_stream_pii_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PII ingest gate: documents ARRIVE as a stream; each
    micro-batch is scanned and redaction-accounted with the batch
    audit's exact shared block (privacy.pii_doc_scan) via
    foreachBatch — the scrub-before-anything-else step a corpus
    ingest runs. A doc's verdict depends only on that doc, so the
    assembled output is invariant to how the stream batches the
    corpus and hash-matches the batch per-doc scan (oracle below).
    Scale shape: map-only regex per micro-batch — no state store, no
    shuffle; the gate rides the ingest scan."""
    from ..streaming.pipeline import documents_file_stream
    from .privacy import pii_doc_scan

    docs = documents_file_stream(spark, sf_dir)

    def gate(batch):
        # spread the (possibly 1-partition) file batch before the scan
        batch = batch.repartition(spark.sparkContext.defaultParallelism)
        return pii_doc_scan(batch)

    return _ingest_sink(spark, sf_dir, "okss-piigate", docs, gate)


def _q_stream_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming phrase monitor: documents ARRIVE as a stream and each
    micro-batch is scanned for the query phrase with the map-only
    per-doc form (text.phrase_doc_counts — count adjacent bigram hits
    in the doc's token array; no index, no state, no shuffle), the
    ingest-time complement to q_phrase_search's posting-list join.
    A doc's count depends only on that doc, so the assembled output
    is invariant to how the stream batches the corpus and equals the
    per-doc regex oracle. Scale shape: rides the ingest scan."""
    from ..streaming.pipeline import documents_file_stream
    from .text import phrase_doc_counts

    docs = documents_file_stream(spark, sf_dir)

    def scan(batch):
        batch = batch.repartition(spark.sparkContext.defaultParallelism)
        return phrase_doc_counts(batch)

    return _ingest_sink(spark, sf_dir, "okss-phrase", docs, scan)


def _q_stream_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental view maintenance: documents arrive as a
    stream and each micro-batch's (source, lang) partial cells merge
    ADDITIVELY into the persisted view snapshot (streaming/ivm.py) —
    the live half of q_ivm_refresh. Counts/sums are
    self-maintainable, so the final snapshot is batch-split invariant
    and hash-matches the full-table recompute oracle (shared with
    q_ivm_refresh). Per-batch cost: the batch scan + a cell-sized
    merge; history is never rescanned."""
    import os

    from ..streaming.ivm import ivm_sink
    from ..streaming.pipeline import documents_file_stream

    docs = documents_file_stream(spark, sf_dir)
    view_path = os.path.join(fresh_session_dir(spark, "okss-ivm", sf_dir), "view")
    _drain(docs.writeStream.foreachBatch(ivm_sink(view_path)), "okss-ivm")
    cells = spark.read.parquet(view_path)
    return cells.select(
        "source",
        "lang",
        "n_docs",
        "sum_chars",
        F.round(F.col("sum_chars") / F.col("n_docs"), 6).alias("avg_chars"),
    ).transform(cells_sorted, "source", "lang")  # source x lang cells


def _q_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming STATE introspection via the state data source
    (SPARK-45511, `spark.read.format("statestore")`): run the
    watermarked tumbling aggregation to a checkpointed sink, then
    read the state store itself — the rows still IN FLIGHT (windows
    the final watermark has not closed). This is the debugging /
    capacity-audit surface streaming operators need in production
    ("how much state is this query holding, and for which keys?"),
    and it is exactly verifiable: append mode emitted and EVICTED
    every window with wend <= watermark, so remaining state must be
    the complement (wend > max(ts) − delay — the oracle's cutoff is
    q_stream_win_tumble's, flipped). Scale shape: the state source
    reads per-partition state files in parallel; nothing rescans the
    input."""
    import os

    ev = events_file_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "60 seconds")
        .groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ckpt = os.path.join(fresh_session_dir(spark, "okss-stateinspect", sf_dir), "ckpt")
    _drain(
        agg.writeStream.outputMode("append").format("noop").option("checkpointLocation", ckpt),
        "okss-stateinspect",
    )
    st = spark.read.format("statestore").load(ckpt)
    return st.select(
        epoch_ms(F.col("key.window.start")).alias("wstart_ms"),
        epoch_ms(F.col("key.window.end")).alias("wend_ms"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
    ).transform(cells_sorted, "wstart_ms", "event_type")  # window x type cells


def _q_stream_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource's STREAMING face: readStream on
    format("order_events") drains the deterministic order stream
    through the real offset protocol (initialOffset → latestOffset →
    partitions → commit, CHUNK rows per micro-batch — ceil(n/CHUNK)
    real batches, checkpointed), micro-batches append to parquet, and
    the assembled rows aggregate to the SAME per-facility relation as
    the batch read — shared oracle, so the hash match verifies offset
    tracking and replay safety, not just row generation."""
    import os

    from ..sources.pysource import PYSRC_N, register

    register(spark)
    ev = spark.readStream.format("order_events").option("n", PYSRC_N).load()
    base = fresh_session_dir(spark, "okss-pysource", sf_dir)
    out_path, ckpt = os.path.join(base, "rows"), os.path.join(base, "ckpt")
    process_all_available(
        ev.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt)
        .start()
    )
    rows = spark.read.parquet(out_path)
    orders = rows.groupBy("order_id", "facility").agg(
        (F.max("ts_ms") - F.min("ts_ms")).alias("processing_ms")
    )
    return (
        orders.groupBy("facility")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("processing_ms").alias("total_ms"),
            F.round(F.avg("processing_ms"), 4).alias("avg_ms"),
        )
        .transform(cells_sorted, "facility")  # <= |facilities| rows
    )


def _q_stream_pysource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full jar-free topology: custom Python STREAM SOURCE →
    custom Python STREAM SINK. The order stream drains CHUNK rows per
    micro-batch; each epoch's task files are committed by a per-epoch
    manifest (exactly-once-per-batch visibility — a replayed epoch
    re-commits the same manifest name). Reading back only
    manifest-committed files and aggregating must equal the batch
    read (shared oracle): offsets, epochs, and the commit protocol
    all verified by one hash."""
    import os

    from ..sources.pysource import (
        PYSRC_N,
        read_manifest,
        register,
        register_sink,
    )

    register(spark)
    register_sink(spark)
    base = fresh_session_dir(spark, "okss-pysink-stream", sf_dir)
    out, ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")
    os.makedirs(out)
    ev = spark.readStream.format("order_events").option("n", PYSRC_N).load()
    process_all_available(
        ev.writeStream.format("jsonl_manifest")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    files, _ = read_manifest(out)
    rows = spark.read.json(files)
    orders = rows.groupBy("order_id", "facility").agg(
        (F.max("ts_ms") - F.min("ts_ms")).alias("processing_ms")
    )
    return (
        orders.groupBy("facility")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("processing_ms").alias("total_ms"),
            F.round(F.avg("processing_ms"), 4).alias("avg_ms"),
        )
        .transform(cells_sorted, "facility")  # <= |facilities| rows
    )


def _q_stream_excise_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming duplicate-span excision: delta documents ARRIVE as a
    stream; each micro-batch derives positional shingles with the
    corpus build's exact expressions (dedup.shingle_pos_of) and joins
    the memoized corpus-wide shared-shingle set, emitting the same
    merged excision spans the batch q_excise_spans produces for those
    docs — the ingest-time "cut these spans before training" gate. A
    doc's spans depend only on its own positions plus the static
    shared set, so the verdict is invariant to how the delta is
    batched (tests/test_excise_spans.py pins batch-split invariance)
    and the assembled output hash-matches the batch oracle restricted
    to delta docs."""
    from ..streaming.pipeline import documents_file_stream
    from .dedup import DELTA_MOD, _excise_shared, excise_spans_of, shingle_pos_of

    docs = documents_file_stream(spark, sf_dir).filter(
        F.col("doc_id") % DELTA_MOD == DELTA_MOD - 1
    )
    shared = _excise_shared(spark, sf_dir)  # static, built pre-stream

    def probe(batch):
        # spread the (possibly 1-partition) file batch before the
        # shingle/window work — the sf1 foreachBatch lesson
        batch = batch.repartition(spark.sparkContext.defaultParallelism)
        return excise_spans_of(shingle_pos_of(batch.select("doc_id", "text")), shared)

    return _ingest_sink(spark, sf_dir, "okss-excise", docs, probe)


def _q_stream_exact_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-substring gate: delta documents ARRIVE as a
    stream; each micro-batch derives positional L-window hashes with
    the corpus build's exact expressions (dedup.exsub_pos_of) and
    probes the memoized corpus-wide duplicated-window set, emitting
    the same true-boundary spans batch q_exact_substrings produces for
    those docs — the ingest-time "this passage already exists ≥ L
    tokens verbatim" verdict (Lee et al. ExactSubstr as an ingest
    gate). A doc's spans depend only on its own positions plus the
    static shared set, so the verdict is invariant to how the delta is
    batched (pinned in tests/test_exact_substrings.py) and the
    assembled output hash-matches the batch oracle restricted to delta
    docs."""
    from ..streaming.pipeline import documents_file_stream
    from .dedup import (
        DELTA_MOD,
        _exsub_shared,
        exact_substring_spans,
        exsub_pos_of,
    )

    docs = documents_file_stream(spark, sf_dir).filter(
        F.col("doc_id") % DELTA_MOD == DELTA_MOD - 1
    )
    shared = _exsub_shared(spark, sf_dir)  # static, built pre-stream

    def probe(batch):
        batch = batch.repartition(spark.sparkContext.defaultParallelism)
        return exact_substring_spans(
            exsub_pos_of(batch.select("doc_id", "text")), shared
        )

    return _ingest_sink(spark, sf_dir, "okss-exsub", docs, probe)


def _q_stream_apply_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SURGERY twin (r9): arriving delta documents are
    cleaned at ingest — each micro-batch derives its positional
    L-window hashes, probes the memoized corpus-wide duplicated-window
    set, and applies the token-span excision
    (dedup.apply_excision_of), emitting (doc_id, clean_text,
    removed_tokens, removed_chars) for exactly the batch
    q_apply_excision rows restricted to delta docs. A doc's spans
    depend only on its own positions plus the static shared set, so
    the cleaned text is invariant to how the delta is batched (the
    q_stream_exact_substrings contract, inherited span-for-span)."""
    from ..streaming.pipeline import documents_file_stream
    from .dedup import (
        DELTA_MOD,
        _exsub_shared,
        apply_excision_of,
        exact_substring_spans,
        exsub_pos_of,
    )

    docs = documents_file_stream(spark, sf_dir).filter(
        F.col("doc_id") % DELTA_MOD == DELTA_MOD - 1
    )
    shared = _exsub_shared(spark, sf_dir)  # static, built pre-stream

    def per_batch(batch):
        batch = batch.repartition(spark.sparkContext.defaultParallelism).select(
            "doc_id", "text"
        )
        spans = exact_substring_spans(exsub_pos_of(batch), shared)
        return apply_excision_of(batch, spans)

    return _ingest_sink(spark, sf_dir, "okss-apply-excision", docs, per_batch)


def _q_stream_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CAPSTONE twin (r9): ship-at-ingest. Arriving delta
    documents pass the admission gate (semi-join against the memoized
    corpus survivor relation — quality ∩ near-dup keep ∩
    decontamination, built once pre-stream) and survivors are
    surgically cleaned (exact-substring excision vs the memoized
    corpus shared-window set) and PII-redacted per micro-batch — the
    full q_clean_corpus artifact produced incrementally. Per-doc
    independence (own positions + static relations only) makes the
    output batch-split invariant; equals the batch capstone
    restricted to delta docs (that restriction IS the oracle)."""
    from ..streaming.pipeline import documents_file_stream
    from .curation import clean_survivors, surgery_and_redact
    from .dedup import DELTA_MOD, _exsub_shared, exact_substring_spans, exsub_pos_of

    docs = documents_file_stream(spark, sf_dir).filter(
        F.col("doc_id") % DELTA_MOD == DELTA_MOD - 1
    )
    surv_ids = clean_survivors(spark, sf_dir).select("doc_id")
    shared = _exsub_shared(spark, sf_dir)  # static, built pre-stream

    def per_batch(batch):
        sv = (
            batch.repartition(spark.sparkContext.defaultParallelism)
            .select("doc_id", "source", "text")
            .join(surv_ids, "doc_id", "semi")
        )
        spans = exact_substring_spans(exsub_pos_of(sv.select("doc_id", "text")), shared)
        return surgery_and_redact(sv, spans)

    return _ingest_sink(spark, sf_dir, "okss-clean-corpus", docs, per_batch)



def _q_stream_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest twin of the Gopher repetition gates: arriving
    delta documents are tokenized per micro-batch with the batch
    expressions and scored by text.repetition_metrics — every metric
    is a function of ONE document's own token positions (no corpus
    state at all, the cheapest twin class), so the verdicts are
    batch-split invariant by construction and equal the batch
    q_repetition_filter restricted to the delta — that restriction IS
    the oracle."""
    from ..functions.textfns import tokens
    from ..streaming.pipeline import documents_file_stream
    from .dedup import DELTA_MOD
    from .text import repetition_metrics

    docs = documents_file_stream(spark, sf_dir).filter(
        F.col("doc_id") % DELTA_MOD == DELTA_MOD - 1
    )

    def per_batch(batch):
        base = (
            batch.repartition(spark.sparkContext.defaultParallelism)
            .select("doc_id", tokens(F.col("text")).alias("t"))
            .select("doc_id", "t", F.size("t").alias("n"))
            .filter(F.col("n") >= 3)
        )
        return repetition_metrics(base)

    return _ingest_sink(spark, sf_dir, "okss-repetition", docs, per_batch)


def _q_stream_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming benchmark decontamination: arriving document
    micro-batches shingle their own text and probe the held benchmark
    set (broadcast — benchmarks are tiny by definition) via
    foreachBatch; the assembled per-doc overlaps aggregate to exactly
    the batch q_contamination sweep (same oracle). The overlap of a doc
    depends only on that doc and the static benchmark set, so batch
    slicing is invisible — the ingest-time gate equals the offline
    sweep."""
    from ..streaming.pipeline import documents_file_stream
    from .curation import BENCH_DOCS, CONTAM_OVERLAP_T
    from .dedup import exploded_shingles_of

    docs = documents_file_stream(spark, sf_dir).filter(F.col("doc_id") >= BENCH_DOCS)
    # the benchmark set is STATIC — build (and persist) it once before
    # the stream starts. Shingled DIRECTLY from the BENCH_DOCS rows of
    # the documents table (r4, VERDICT item 4): deriving it from the
    # whole-corpus shingle memo charged this query an 8-second
    # full-corpus build at sf1 whenever the cache was cold, to obtain
    # ~1k grams from 20 documents.
    bench = (
        exploded_shingles_of(
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < BENCH_DOCS)
            .select("doc_id", "text")
        )
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
        .persist()
    )

    def probe(batch):
        # spread the (possibly 1-partition) file batch, then shingle
        # through the single-Generate form: the previous array-form
        # shingle re-evaluated the tokenize→shingle→hash chain up to
        # 3x per row (size filter + explode) — the 14 s sf1 tail the
        # r3 verdict flagged; this is the same 50k-doc batch in ~1 s.
        batch = batch.repartition(spark.sparkContext.defaultParallelism)
        return (
            exploded_shingles_of(batch.select("doc_id", "text"))
            .join(F.broadcast(bench), "g", "left")
            .groupBy("doc_id")
            .agg(
                F.sum(F.coalesce("hit", F.lit(0))).alias("k"),
                F.count(F.lit(1)).alias("tot"),
            )
        )

    try:
        per_doc = _ingest_sink(spark, sf_dir, "okss-contam", docs, probe)
    finally:
        bench.unpersist()
    per_doc = per_doc.withColumn("overlap", F.col("k") / F.col("tot").cast("double"))
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return per_doc.join(src, "doc_id").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("overlap") >= CONTAM_OVERLAP_T).cast("long")).alias(
            "n_contaminated"
        ),
        F.round(F.avg("overlap"), 6).alias("avg_overlap"),
    )


def _q_stream_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ε-DP histogram release: the engine runs the
    watermarked per-day count grid in append mode (cells emit exactly
    once, when their window CLOSES — the suppress-until-close
    semantics), and each finalized cell is stamped with the same
    derived Laplace(1/ε) noise as the batch release. Privacy releases
    are publish-once artifacts, so emit-on-close is the only correct
    streaming cadence (re-releasing updated counts for the same cell
    would burn budget per update); late events beyond the watermark
    are sacrificed BY POLICY and the watermark delay is the knob.
    Released values equal the batch q_dp_histogram rows for every
    closed window (same oracle restricted by the watermark rule).

    Scale shape: engine-managed watermarked agg (cells in state, not
    events) + map-only noise arithmetic on the drained sink."""
    from .privacy import dp_release

    ev = events_file_stream(spark, sf_dir)
    cells = (
        ev.withWatermark("ts", "60 seconds")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "c",
        )
    )
    tab = run_to_memory(cells, "stream_dp_cells")
    # noise stamp = the batch release's exact shared block (same oracle)
    return dp_release(spark.table(tab))


def _q_stream_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SEMANTIC decontamination: embedding micro-batches
    probe the static benchmark suite (label-0 vectors, broadcast —
    eval suites are tiny by definition) as they arrive; each corpus
    vector's best-benchmark cosine depends only on that vector and
    the static suite, so batch slicing is invisible and the
    assembled flag set equals the offline q_semantic_contamination
    sweep exactly (same oracle). This is the ingest-time gate that
    keeps paraphrase-level eval contamination out of a continuously
    growing corpus — the embedding-space twin of
    q_stream_contamination's trigram probe."""
    from ..streaming.pipeline import embeddings_file_stream
    from .similarity import _dvec, _norm, _prepared, sem_bench_side, sem_contam_flags

    emb = embeddings_file_stream(spark, sf_dir)
    # the benchmark suite is STATIC — build it once before the stream
    bench = sem_bench_side(_prepared(spark, sf_dir)).persist()

    def probe(batch):
        # repartition: a file-source micro-batch arrives with the
        # FILE's partitioning (often 1), which would run the
        # |batch|×|bench| scoring single-threaded (measured 130 s vs
        # 16 s at sf1). The norm is computed once per corpus row, in
        # the projection below the cross join.
        corpus = (
            batch.repartition(spark.sparkContext.defaultParallelism)
            .filter(F.col("label") != 0)
            .select("vec_id", _dvec().alias("e"))
            .withColumn("nrm", _norm(F.col("e")))
        )
        # scoring = the batch sweep's exact shared block (same oracle)
        return sem_contam_flags(corpus, bench)

    try:
        return _ingest_sink(spark, sf_dir, "okss-sem-contam", emb, probe)
    finally:
        bench.unpersist()


QUERIES = {
    "q_stream_win_tumble": _q_stream_win_tumble,
    "q_stream_semantic_contamination": _q_stream_semantic_contamination,
    "q_stream_dp_release": _q_stream_dp_release,
    "q_stream_dedup_incremental": _q_stream_dedup_incremental,
    "q_stream_dedup_containment": _q_stream_dedup_containment,
    "q_stream_excise_spans": _q_stream_excise_spans,
    "q_stream_exact_substrings": _q_stream_exact_substrings,
    "q_stream_apply_excision": _q_stream_apply_excision,
    "q_stream_clean_corpus": _q_stream_clean_corpus,
    "q_stream_phrase_search": _q_stream_phrase_search,
    "q_stream_ivm": _q_stream_ivm,
    "q_state_inspect": _q_state_inspect,
    "q_stream_pysource": _q_stream_pysource,
    "q_stream_pysource_sink": _q_stream_pysource_sink,
    "q_stream_ann_ingest": _q_stream_ann_ingest,
    "q_stream_knn_binary_ingest": _q_stream_knn_binary_ingest,
    "q_stream_quality_gate": _q_stream_quality_gate,
    "q_stream_pii_gate": _q_stream_pii_gate,
    "q_stream_contamination": _q_stream_contamination,
    "q_stream_dedup": _q_stream_dedup,
    "q_stream_dedup_agg": _q_stream_dedup_agg,
    "q_stream_drift": _q_stream_drift,
    "q_stream_scd2": _q_stream_scd2,
    "q_stream_static_join": _q_stream_static_join,
    "q_stream_win_session": _q_stream_win_session,
    "q_stream_win_sliding": _q_stream_win_sliding,
    "q_stream_pair_join": _q_stream_pair_join,
    "q_stream_dead_letter": _q_stream_dead_letter,
    "q_stream_pair_match": _q_stream_pair_match,
    "q_stream_pit_enrich": _q_stream_pit_enrich,
    "q_stream_ewma": _q_stream_ewma,
    "q_stream_transition_matrix": _q_stream_transition_matrix,
    "q_stream_source_quota": _q_stream_source_quota,
    "q_stream_interleave": _q_stream_interleave,
    "q_stream_repetition": _q_stream_repetition,
    "q_stream_debounce": _q_stream_debounce,
    "q_stream_msprt": _q_stream_msprt,
    "q_stream_bh_fdr": _q_stream_bh_fdr,
    "q_stream_percentile_distributed": _q_stream_percentile_distributed,
    "q_stream_attribution": _q_stream_attribution,
    "q_stream_unconverted": _q_stream_unconverted,
}

from .pipeline import ORACLE as _PL_ORACLE
from .warehouse import ORACLE as _WH_ORACLE

from .dedup import ORACLE as _DD_ORACLE
from .timeseries import EWMA_ALPHA as _EWMA_ALPHA

ORACLE = {
    # the streaming merge must equal the batch SCD2 build exactly
    "q_stream_scd2": _WH_ORACLE["q_scd2"],
    # interval containment over contiguous versions == the batch
    # window-carry; the streamed enrichment shares its oracle verbatim
    "q_stream_pit_enrich": _WH_ORACLE["q_scd2_pit"],
    # the streaming cell merge must equal the full-table recompute
    "q_stream_ivm": _WH_ORACLE["q_ivm_refresh"],
    # the drained custom-source stream must equal the batch read
    "q_stream_pysource": _PL_ORACLE["q_pysource_batch"],
    "q_stream_pysource_sink": _PL_ORACLE["q_pysource_batch"],
    # the streamed per-batch probes must assemble to the batch verdicts
    "q_stream_dedup_incremental": _DD_ORACLE["q_dedup_incremental"],
    # the streamed span gate must equal the batch excision restricted
    # to the delta docs it ingests
    "q_stream_excise_spans": None,  # filled below (delta-scoped batch SQL)
    # the streamed index must equal the batch signature build
    "q_stream_ann_ingest": None,  # filled below (import-order seam)
    # the streamed per-batch gate must equal the offline batch gate
    "q_stream_quality_gate": None,  # filled below (import-order seam)
    "q_stream_ewma": f"""
WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
g AS (
  SELECT user_id,
         list_sort(list(struct_pack(ms := ms, event_id := event_id, value := value))) AS seq
  FROM e GROUP BY user_id
),
x AS (
  SELECT user_id, unnest(seq) AS s, generate_subscripts(seq, 1) AS i, seq
  FROM g
)
SELECT user_id, s.event_id AS event_id, s.ms AS ts_ms, s.value AS value,
       round(CASE WHEN i = 1 THEN s.value
                  ELSE list_reduce(list_transform(seq[1:i], t -> t.value),
                                   (a, v) -> {_EWMA_ALPHA} * v + {1 - _EWMA_ALPHA} * a)
             END, 6) AS ewma,
       CAST(i AS BIGINT) AS n
FROM x
""",
    "q_stream_dedup": """
SELECT event_id, event_type, user_id FROM events
""",
    "q_stream_drift": f"""
WITH wm AS (SELECT max(epoch_ms(ts)) - {WATERMARK_MS} AS wm_ms FROM events),
binned AS (
  SELECT epoch_ms(date_trunc('day', ts)) AS wstart_ms,
         epoch_ms(date_trunc('day', ts)) + 86400000 AS wend_ms,
         event_type,
         CAST(least(9, floor(value / 20.0)) AS INTEGER) AS b
  FROM events
),
cells AS (
  SELECT wstart_ms, event_type, b, count(1) AS c
  FROM binned CROSS JOIN wm WHERE wend_ms <= wm_ms
  GROUP BY 1, 2, 3
),
tot AS (SELECT wstart_ms, event_type, sum(c) AS n_t FROM cells GROUP BY 1, 2),
allb AS (
  SELECT CAST(least(9, floor(value / 20.0)) AS INTEGER) AS b, count(1) AS c_all
  FROM events GROUP BY 1
),
nall AS (SELECT count(1) AS n FROM events),
grid AS (
  SELECT t.wstart_ms, t.event_type, CAST(u AS INTEGER) AS b
  FROM tot t, unnest(range(0, 10)) AS g(u)
),
j AS (
  SELECT g.wstart_ms, g.event_type,
         CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / (t.n_t + 10) AS p_t,
         CAST(coalesce(a.c_all, 0) + 1 AS DOUBLE) / CAST(n.n + 10 AS DOUBLE) AS p_a
  FROM grid g
  LEFT JOIN cells c ON g.wstart_ms = c.wstart_ms AND g.event_type = c.event_type AND g.b = c.b
  JOIN tot t ON g.wstart_ms = t.wstart_ms AND g.event_type = t.event_type
  LEFT JOIN allb a ON g.b = a.b
  CROSS JOIN nall n
)
SELECT wstart_ms, event_type,
       round(sum((p_t - p_a) * ln(p_t / p_a)), 6) AS psi,
       (round(sum((p_t - p_a) * ln(p_t / p_a)), 6) > 0.2) AS drifted
FROM j GROUP BY 1, 2
""",
    # chained dedup→agg collapses to the plain tumble over (distinct)
    # events; with two stateful operators the engine subtracts the late
    # threshold once more before finalizing windows, hence 2× the delay
    "q_stream_dedup_agg": f"""
WITH wm AS (SELECT max(epoch_ms(ts)) - {2 * WATERMARK_MS} AS wm_ms FROM events),
agg AS (
  SELECT epoch_ms(date_trunc('minute', ts)) AS wstart_ms,
         epoch_ms(date_trunc('minute', ts)) + 60000 AS wend_ms,
         event_type, CAST(count(1) AS BIGINT) AS n,
         round(sum(value), 4) AS total_value
  FROM events GROUP BY 1, 2, 3
)
SELECT wstart_ms, wend_ms, event_type, n, total_value
FROM agg CROSS JOIN wm WHERE wend_ms <= wm_ms
""",
    "q_stream_static_join": """
WITH profile AS (
  SELECT user_id, CAST(count(1) AS BIGINT) AS n_clicks,
         round(sum(value), 4) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id
)
SELECT event_id, e.user_id AS user_id, round(e.value, 4) AS purchase_value,
       n_clicks, click_value
FROM events e JOIN profile USING (user_id)
WHERE e.event_type = 'purchase'
""",
    "q_stream_win_session": f"""
WITH wm AS (SELECT max(epoch_ms(ts)) - {WATERMARK_MS} AS wm_ms FROM events),
o AS (
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
), sess AS (
  SELECT user_id,
         epoch_ms(min(ts)) AS session_start_ms,
         epoch_ms(max(ts)) + 1800000 AS session_end_ms,
         CAST(count(1) AS BIGINT) AS n,
         round(sum(value), 4) AS total_value
  FROM s GROUP BY user_id, sid
)
SELECT user_id, session_start_ms, session_end_ms, n, total_value
FROM sess CROSS JOIN wm WHERE session_end_ms <= wm_ms
""",
    "q_stream_win_sliding": f"""
WITH wm AS (SELECT max(epoch_ms(ts)) - {WATERMARK_MS} AS wm_ms FROM events),
expanded AS (
  SELECT event_type, value,
         epoch_ms(ts) - (epoch_ms(ts) % 300000) - k.off AS wstart_ms
  FROM events CROSS JOIN (VALUES (0), (300000)) k(off)
), agg AS (
  SELECT wstart_ms, wstart_ms + 600000 AS wend_ms, event_type,
         CAST(count(1) AS BIGINT) AS n, round(sum(value), 4) AS total_value
  FROM expanded GROUP BY 1, 2, 3
)
SELECT wstart_ms, wend_ms, event_type, n, total_value
FROM agg CROSS JOIN wm WHERE wend_ms <= wm_ms
""",
    "q_state_inspect": f"""
WITH wm AS (SELECT max(epoch_ms(ts)) - {WATERMARK_MS} AS wm_ms FROM events),
agg AS (
  SELECT epoch_ms(date_trunc('minute', ts)) AS wstart_ms,
         epoch_ms(date_trunc('minute', ts)) + 60000 AS wend_ms,
         event_type, CAST(count(1) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
)
SELECT wstart_ms, wend_ms, event_type, n
FROM agg CROSS JOIN wm WHERE wend_ms > wm_ms
""",
    "q_stream_win_tumble": f"""
WITH wm AS (SELECT max(epoch_ms(ts)) - {WATERMARK_MS} AS wm_ms FROM events),
agg AS (
  SELECT epoch_ms(date_trunc('minute', ts)) AS wstart_ms,
         epoch_ms(date_trunc('minute', ts)) + 60000 AS wend_ms,
         event_type, CAST(count(1) AS BIGINT) AS n,
         round(sum(value), 4) AS total_value
  FROM events GROUP BY 1, 2, 3
)
SELECT wstart_ms, wend_ms, event_type, n, total_value
FROM agg CROSS JOIN wm WHERE wend_ms <= wm_ms
""",
    "q_stream_pair_join": f"""
SELECT p.user_id AS user_id,
       p.event_id AS p_event_id,
       f.event_id AS f_event_id,
       epoch_ms(p.ts) AS placed_ms,
       epoch_ms(f.ts) AS fulfilled_ms,
       epoch_ms(f.ts) - epoch_ms(p.ts) AS processing_ms,
       round(f.value, 4) AS fulfilled_value
FROM events p JOIN events f
  ON p.user_id = f.user_id
 AND p.event_type = 'click' AND f.event_type = 'purchase'
 AND epoch_ms(f.ts) - epoch_ms(p.ts) BETWEEN 0 AND {JOIN_WINDOW_MS}
""",
    "q_stream_dead_letter": f"""
-- the two withWatermark nodes sit AFTER the event_type filters, so each
-- side's watermark tracks its own max event time; the query's global
-- watermark is the MIN of the two (empirically pinned: a purchase is
-- null-padded iff f_ms < min(max_click, max_purchase) - delay, strict)
WITH wm AS (
  SELECT least(
           max(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END),
           max(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
         ) - {DL_WATERMARK_MS} AS wm_ms
  FROM events
),
f AS (
  SELECT event_id, user_id, epoch_ms(ts) AS f_ms FROM events
  WHERE event_type = 'purchase'
),
p AS (
  SELECT user_id, epoch_ms(ts) AS p_ms FROM events WHERE event_type = 'click'
)
SELECT f.event_id AS event_id, f.user_id AS user_id,
       f.f_ms AS event_timestamp,
       'no.matching.placed' AS reason
FROM f CROSS JOIN wm
WHERE NOT EXISTS (
  SELECT 1 FROM p
  WHERE p.user_id = f.user_id
    AND f.f_ms >= p.p_ms AND f.f_ms <= p.p_ms + {JOIN_WINDOW_MS}
)
AND f.f_ms < wm.wm_ms
""",
    "q_stream_pair_match": """
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms
  FROM events WHERE event_type IN ('click', 'purchase')
), carried AS (
  SELECT user_id, event_type, ts_ms,
         last_value(CASE WHEN event_type = 'click' THEN ts_ms END IGNORE NULLS)
           OVER w AS last_click_ms,
         last_value(CASE WHEN event_type = 'purchase' THEN ts_ms END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_ms, event_type, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase_ms
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_type, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, 'order.info' AS event_kind,
       ts_ms AS fulfilled_ms,
       ts_ms - last_click_ms AS processing_ms
FROM carried
WHERE event_type = 'purchase' AND last_click_ms IS NOT NULL
  AND (prev_purchase_ms IS NULL OR last_click_ms > prev_purchase_ms)
""",
}

# the streamed ANN index equals the batch multi-table signature build —
# sigs depend only on the vector, so batch slicing is invisible
from .similarity import _V_CTE as _SIM_V_CTE
from .similarity import _lsh_sigs_cte as _sim_sigs_cte

ORACLE["q_stream_ann_ingest"] = (
    _SIM_V_CTE + f", sigs AS (\n{_sim_sigs_cte()}\n)\nSELECT vec_id, tbl, sig FROM sigs"
)

from .similarity import _binary_sig_sql as _sim_bin_sql

ORACLE["q_stream_knn_binary_ingest"] = (
    _SIM_V_CTE
    + f"\nSELECT vec_id, {_sim_bin_sql(0)} AS lo, {_sim_bin_sql(32)} AS hi FROM v"
)

from .dedup import DELTA_MOD as _EX_DELTA_MOD

ORACLE["q_stream_excise_spans"] = (
    "SELECT * FROM (\n"
    + _DD_ORACLE["q_excise_spans"]
    + f"\n) WHERE doc_id % {_EX_DELTA_MOD} = {_EX_DELTA_MOD - 1}"
)
ORACLE["q_stream_exact_substrings"] = (
    "SELECT * FROM (\n"
    + _DD_ORACLE["q_exact_substrings"]
    + f"\n) WHERE doc_id % {_EX_DELTA_MOD} = {_EX_DELTA_MOD - 1}"
)
ORACLE["q_stream_apply_excision"] = (
    "SELECT * FROM (\n"
    + _DD_ORACLE["q_apply_excision"]
    + f"\n) WHERE doc_id % {_EX_DELTA_MOD} = {_EX_DELTA_MOD - 1}"
)

# the streamed quality gate equals the offline batch classifier
from .curation import ORACLE as _CU_ORACLE

ORACLE["q_stream_quality_gate"] = _CU_ORACLE["q_quality_classifier"]

# the streamed capstone equals the batch clean corpus on delta docs
ORACLE["q_stream_clean_corpus"] = (
    "SELECT * FROM (\n"
    + _CU_ORACLE["q_clean_corpus"]
    + f"\n) WHERE doc_id % {_EX_DELTA_MOD} = {_EX_DELTA_MOD - 1}"
)

# the streamed PII gate equals the batch per-doc scan
from .privacy import _pii_doc_oracle_sql

ORACLE["q_stream_pii_gate"] = _pii_doc_oracle_sql()

# per-doc regex form of the phrase oracle (the batch q_phrase_search
# oracle aggregates this same relation per source)
from .text import PHRASE as _PHRASE

ORACLE["q_stream_phrase_search"] = rf"""
SELECT doc_id, source,
       CAST(len(regexp_extract_all(lower(text), '\b{_PHRASE[0]} {_PHRASE[1]}\b'))
            AS INTEGER) AS n_occurrences
FROM documents
WHERE len(regexp_extract_all(lower(text), '\b{_PHRASE[0]} {_PHRASE[1]}\b')) > 0
"""

# the streamed decontamination sweep equals the offline batch sweep
ORACLE["q_stream_contamination"] = _CU_ORACLE["q_contamination"]


def _stream_containment_oracle() -> str:
    """The batch containment sweep restricted to excerpt→base pairs —
    exactly what the ingest gate emits (probes are the derived
    excerpts; candidates are the pre-existing corpus)."""
    from ..functions.portable import hash60_sql
    from .dedup import (
        CONTAINMENT_T,
        EXCERPT_FRAC,
        EXCERPT_MIN_TOKENS,
        EXCERPT_OFFSET,
        EXCERPT_STRIDE,
        NGRAM_JACCARD_T,
        _SHINGLES,
        _TOKS,
    )

    return f"""
WITH toks0 AS (SELECT doc_id, {_TOKS} AS w FROM documents),
exc AS (
  SELECT doc_id + {EXCERPT_OFFSET} AS doc_id,
         w[1:CAST(ceil({EXCERPT_FRAC} * len(w)) AS INT)] AS w
  FROM toks0 WHERE doc_id % {EXCERPT_STRIDE} = 0 AND len(w) >= {EXCERPT_MIN_TOKENS}
),
sb0 AS (SELECT doc_id, {_SHINGLES} AS ss FROM toks0),
sp0 AS (SELECT doc_id, {_SHINGLES} AS ss FROM exc),
sb AS (SELECT doc_id, list_transform(ss, s -> {hash60_sql('s')}) AS s, len(ss) AS sz FROM sb0),
sp AS (SELECT doc_id, list_transform(ss, s -> {hash60_sql('s')}) AS s, len(ss) AS sz FROM sp0),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         len(list_intersect(x.s, y.s)) AS inter, x.sz AS sza, y.sz AS szb
  FROM sp x CROSS JOIN sb y
  WHERE x.sz > 0 AND y.sz > 0
)
SELECT a, b,
       round(inter / CAST(sza AS DOUBLE), 6) AS containment,
       round(inter / CAST(sza + szb - inter AS DOUBLE), 6) AS jaccard,
       (inter / CAST(sza + szb - inter AS DOUBLE)) < {NGRAM_JACCARD_T} AS subset_only
FROM pairs WHERE inter >= {CONTAINMENT_T} * sza
"""


ORACLE["q_stream_dedup_containment"] = _stream_containment_oracle()


def _stream_quota_oracle() -> str:
    """Arrival-order admission cap: first SOURCE_QUOTA margin-passing
    docs per source in doc_id order (the stream's delivery order) —
    the batch-SQL equivalent of the stateful counter gate."""
    from .curation import SOURCE_QUOTA, _CLS_MARGIN, _TOKS

    return f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
m AS (
  SELECT doc_id, source, round({_CLS_MARGIN}, 6) AS margin
  FROM toks WHERE len(t) > 0 AND ({_CLS_MARGIN}) > 0
),
r AS (
  SELECT doc_id, source, margin,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS src_rank
  FROM m
)
SELECT doc_id, source, margin, src_rank FROM r WHERE src_rank <= {SOURCE_QUOTA}
"""


ORACLE["q_stream_source_quota"] = _stream_quota_oracle()


def _stream_interleave_oracle() -> str:
    """Arrival-order stride interleave: within_rank = per-source doc_id
    rank (the stream's delivery order), weights = √(source token sums)
    over the full corpus (the memoized schedule), global position =
    rank over the same IEEE (key, source, within_rank) total order as
    the batch schedule — integer operands through correctly-rounded
    sqrt/divide ⇒ bit-identical doubles (the q_interleave_mixture
    float-portability argument verbatim)."""
    from .curation import _TOKS

    return f"""
WITH d AS (SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents),
w AS (
  SELECT source, sqrt(CAST(sum(n_tokens) AS DOUBLE)) AS wt FROM d GROUP BY source
),
r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
           AS within_rank
  FROM d
),
s AS (
  SELECT r.doc_id, r.source, r.within_rank,
         CAST(r.within_rank AS DOUBLE) / w.wt AS key
  FROM r JOIN w USING (source)
)
SELECT doc_id, source, within_rank,
       CAST(row_number() OVER (ORDER BY key, source, within_rank) AS BIGINT)
         AS interleave_pos
FROM s
"""


ORACLE["q_stream_interleave"] = _stream_interleave_oracle()

# the streamed per-doc repetition verdicts equal the batch gate
# restricted to the delta docs (per-doc functions, no corpus state)
from .text import ORACLE as _TEXT_ORACLE  # noqa: E402
from .dedup import DELTA_MOD as _DM  # noqa: E402

ORACLE["q_stream_repetition"] = f"""
SELECT * FROM ({_TEXT_ORACLE["q_repetition_filter"]})
WHERE doc_id % {_DM} = {_DM - 1}
"""

# the streamed semantic probe equals the offline embedding sweep
from .similarity import ORACLE as _SIM_ORACLE

ORACLE["q_stream_semantic_contamination"] = _SIM_ORACLE["q_semantic_contamination"]

# the streamed transition pairs equal the batch window-lag pairs
from .timeseries import ORACLE as _TS_ORACLE

ORACLE["q_stream_transition_matrix"] = _TS_ORACLE["q_transition_matrix"]
ORACLE["q_stream_debounce"] = _TS_ORACLE["q_debounce"]
# eager inner-join emission: the drained pair set equals the batch join
ORACLE["q_stream_attribution"] = _TS_ORACLE["q_attribution"]
from .stats import msprt_oracle as _msprt_oracle  # noqa: E402

# append-mode emission: only watermark-closed daily windows drain, so
# the oracle restricts the cells to closed windows (tail day trimmed)
ORACLE["q_stream_msprt"] = _msprt_oracle(closed_windows_only=True)


def _bh_daily_oracle_closed() -> str:
    from .stats import bh_daily_oracle

    return bh_daily_oracle(closed_windows_only=True)


ORACLE["q_stream_bh_fdr"] = _bh_daily_oracle_closed()


def _stream_pctl_oracle() -> str:
    """q_percentile_distributed's formula per (closed day, type): the
    same rank-selection SQL with the msprt wm-filter (append mode
    never emits the tail day)."""
    from .robustness import PCTL_QS
    from .stats import DAY_MS

    sel = ",\n       ".join(
        f"min(CASE WHEN cum >= ceil({q} * n) THEN value END) AS p{int(round(q * 100))}"
        for q in PCTL_QS
    )
    return f"""
WITH cells AS (
  SELECT CAST(floor(epoch_ms(ts) / {DAY_MS}) AS BIGINT) AS day, event_type, value,
         CAST(count(1) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3
),
closed AS (
  SELECT * FROM cells
  WHERE (day + 1) * {DAY_MS} <= (SELECT max(epoch_ms(ts)) - 60000 FROM events)
),
cum AS (
  SELECT day, event_type, value, c,
         CAST(sum(c) OVER (PARTITION BY day, event_type ORDER BY value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM closed
),
n AS (SELECT day, event_type, CAST(sum(c) AS BIGINT) AS n FROM closed GROUP BY 1, 2)
SELECT day, event_type, max(n) AS n,
       {sel}
FROM cum JOIN n USING (day, event_type)
GROUP BY day, event_type ORDER BY day, event_type
"""


ORACLE["q_stream_percentile_distributed"] = _stream_pctl_oracle()
ORACLE["q_stream_unconverted"] = _stream_unconverted_oracle()

# the streamed DP release equals the batch release on CLOSED windows
from .privacy import DP_EPSILON as _DP_EPS
from .privacy import _DP_U as _DP_U_SQL

ORACLE["q_stream_dp_release"] = f"""
WITH wm AS (SELECT max(epoch_ms(ts)) - {WATERMARK_MS} AS wm_ms FROM events),
cells AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(1) AS BIGINT) AS c,
         epoch_ms(date_trunc('day', ts)) + 86400000 AS wend_ms
  FROM events GROUP BY 1, 2, 4
),
closed AS (
  SELECT event_type, day, c FROM cells CROSS JOIN wm WHERE wend_ms <= wm_ms
),
noised AS (
  SELECT event_type, day, c,
         -{1.0 / _DP_EPS} * sign({_DP_U_SQL})
           * ln(1.0 - 2.0 * abs({_DP_U_SQL})) AS noise
  FROM closed
)
SELECT event_type, day,
       greatest(CAST(0 AS BIGINT), c + CAST(round(noise, 0) AS BIGINT)) AS released_count,
       CAST({_DP_EPS} AS DOUBLE) AS epsilon_nominal,
       TRUE AS derived_noise
FROM noised
"""
