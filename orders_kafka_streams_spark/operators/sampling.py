"""Deterministic sampling + dataset-split operators over ``documents``
(north-star extension surface: what a training-data pipeline does
between "raw corpus" and "training shards").

Everything samples by the engine-portable 60-bit hash
(functions/portable.py), never ``rand()``: at 100 TB a sample must be
(a) reproducible across runs/engines, (b) computable without any
coordination — a pure per-row predicate that rides the parquet scan,
and (c) stable under re-partitioning. Hash-mod sampling gives all
three; reservoir/`TABLESAMPLE` give none. The same property makes the
train/val/test split leak-proof: membership is a function of the
document alone, so re-running on a grown corpus never moves an old
document between splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .presentation import cells_sorted

from ..functions.portable import hash60, hash60_sql
from .dedup import ORACLE as _DD_ORACLE
from ..functions.textfns import stopword_count, stopword_count_sql, tokens, tokens_sql
from ..sources.tables import load_table, parallelize

SAMPLE_PCT = 5  # q_sample_hash keeps hash % 100 < 5
STRATUM_K = 20  # q_stratified_sample keeps k docs per (lang, source)
QUALITY_T = 0.45  # q_clean_pipeline keep-threshold (corpus median ≈ 0.455)

_TOKS = tokens_sql("text")


def hash_sample(df: DataFrame, key: str, pct: int) -> DataFrame:
    """Keep ~pct% of rows by portable hash of ``key`` — a scan-level
    predicate (no shuffle, no state, reproducible everywhere)."""
    return df.filter(hash60(F.col(key)) % 100 < pct)


def _q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    return (
        hash_sample(docs, "doc_id", SAMPLE_PCT)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample: exactly k docs per (lang, source) stratum,
    chosen by hash order (deterministic "random"). One window shuffle
    on the stratum key; at scale strata are hash-partitioned so the
    per-stratum top-k heap never sees more than its own partition."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    h = hash60(F.col("doc_id"))
    w = Window.partitionBy("lang", "source").orderBy(F.asc("h"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "lang", "source", h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= STRATUM_K)
        .select("doc_id", "lang", "source", "rk")
    )


def _q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split assignment (80/10/10) as a pure hash
    predicate — leak-proof and append-stable (adding documents never
    reassigns existing ones, unlike any rand()- or row-number-based
    split)."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    bucket = hash60(F.col("doc_id")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.groupBy("lang", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def _q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage AUDIT: q_split_assign's hash split is leak-proof
    against EXACT duplicates by construction (identical doc_ids hash
    together is vacuous; identical TEXTS need not share a split) — the
    real risk is NEAR-duplicate pairs straddling train/test, which
    inflate eval scores exactly like benchmark contamination. This
    query classifies every verified near-dup pair (the memoized MinHash
    relation) by its endpoints' splits; `leaks = pairs crossing
    train↔test/val` is the number every split report should publish.

    Scale shape: the pair relation is already candidates-only
    (banded + verified); classifying it is a map over pairs with the
    hash-split expression computed per endpoint — no join back to the
    corpus, no new shuffle beyond the pair aggregation."""
    from .dedup import _q_dedup_minhash

    pairs = _q_dedup_minhash(spark, sf_dir).select("a", "b")

    def split_of(c: Column) -> Column:
        bucket = hash60(c) % 100
        return F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")

    labeled = pairs.select(
        split_of(F.col("a")).alias("split_a"), split_of(F.col("b")).alias("split_b")
    )
    leak = F.col("split_a") != F.col("split_b")
    return labeled.agg(
        F.count(F.lit(1)).alias("n_neardup_pairs"),
        F.sum(leak.cast("long")).alias("n_leaking_pairs"),
        F.round(
            F.coalesce(F.sum(leak.cast("long")) / F.count(F.lit(1)), F.lit(0.0)), 4
        ).alias("leak_frac"),
    )


N_SHARDS = 16
STRIPE_PARTS = 32  # two-pass range-partition fallback (local default)


def _stripe_parts(df: DataFrame, n_parts: int | None) -> int:
    """Resolve the two-pass helpers' range-partition count: an explicit
    ``n_parts`` wins; otherwise follow the session's
    ``spark.sql.shuffle.partitions`` (floored at STRIPE_PARTS) — on a
    1000-executor cluster the stripe must scale with the configured
    parallelism, not a local constant. Output VALUES are independent
    of the count (property-tested at 16/32/64), so this is purely a
    parallelism knob."""
    if n_parts is not None:
        return n_parts
    try:
        # capped: _triangular_offsets broadcasts an O(n_parts²)
        # pid-pair relation (per group), so a session configured with
        # e.g. 10k shuffle partitions must not drive 10⁸ pairs through
        # a BroadcastNestedLoopJoin. 2048 stripes keep the pair
        # relation ≤ ~2M rows while still saturating any realistic
        # per-stage parallelism for a two-pass prefix sum.
        return min(
            2048,
            max(
                STRIPE_PARTS,
                int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
            ),
        )
    except Exception:  # "auto" under AQE-managed settings, or no session
        return STRIPE_PARTS


def global_row_numbers(
    df: DataFrame, key: list, n_parts: int | None = None, memo=None
) -> DataFrame:
    """``df`` + ``rn`` (1-based global row_number by ``key``, which must
    totally order the rows) WITHOUT a single-partition window — the
    generic two-pass range-partition form (VERDICT r4 item 6), shared
    by striped sharding and the Zipf rank assignment.

    1. ``repartitionByRange`` on the key + sortWithinPartitions:
       partition i's rows ALL order before partition i+1's, and rows
       are locally sorted. ``monotonically_increasing_id`` then encodes
       (partition, local row index) — its documented layout is the
       partition id in the upper bits and the within-partition record
       number in the lower 33 — so the local rank is map-side
       arithmetic, no window at all over the data relation.
    2. A count-per-partition pass (n_parts cells) turns into global
       rank offsets via the triangular self-join over the TINY
       per-partition relation (:func:`_triangular_offsets` — r7: no
       window anywhere in the plan), broadcast-joined back.

    rn = offset[pid] + local_index + 1, exactly the row_number the
    one-window form produces. The relation is persisted before the two
    consuming passes so both see one materialization (range boundaries
    are sampled; two independent evaluations are not guaranteed
    identical). ``memo`` lets query-registry callers route that persist
    through the bounded session memo (dedup._memo_persist) instead of
    registering an unmanaged cache entry per call — pass a callable
    taking the build thunk (r5 review finding; for one-shot callers the
    plain persist is deduped by Spark's CacheManager on the identical
    plan, so growth is bounded by distinct inputs either way)."""
    n_parts = _stripe_parts(df, n_parts)
    cols = df.columns

    def build() -> DataFrame:
        return (
            df.repartitionByRange(n_parts, *key)
            .sortWithinPartitions(*key)
            .select(
                *cols,
                F.spark_partition_id().alias("_pid"),
                F.monotonically_increasing_id().alias("_mid"),
            )
        )

    ranged = memo(build) if memo is not None else build().persist()
    counts = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("c"))
    offsets = _triangular_offsets(counts, (), {"_off": "c"})
    local_ix = F.col("_mid") - F.col("_pid").cast("long") * F.lit(1 << 33)
    return (
        ranged.join(F.broadcast(offsets), "_pid")
        .select(*cols, (F.col("_off") + local_ix + 1).alias("rn"))
    )


def _triangular_offsets(
    totals: DataFrame, part: tuple, sums: dict, agg: str = "sum"
) -> DataFrame:
    """Exclusive prefix sums over the TINY per-range-partition totals
    relation (≤ n_parts rows per ``part`` group) via a triangular
    self-join instead of an unpartitioned running-sum window: pid p's
    offset = Σ totals of pids < p (same ``part``). O(n_parts²) cell
    pairs — trivial — and it keeps the whole two-pass plan free of
    single-partition WindowExec nodes, so the no-global-window plan
    gate (VERDICT r6 item 4) holds with an EMPTY whitelist for every
    query built on these helpers.

    ``totals`` columns: ``_pid``, *part, one total column per entry of
    ``sums`` (out_name -> total column name). Output: ``_pid``, *part,
    one exclusive-prefix column per ``sums`` key. ``agg`` picks the
    combine: ``sum`` (identity 0) or ``max``/``min`` (identity NULL —
    an empty prefix stays NULL, matching the window's first row)."""
    a = totals.select(
        F.col("_pid").alias("_apid"),
        *[F.col(p).alias(f"_a_{p}") for p in part],
    )
    cond = F.col("_bpid") < F.col("_apid")
    for p in part:
        # null-safe: a NULL part value is one group, exactly as
        # Window.partitionBy treats it (plain == would never match and
        # silently zero the NULL group's offsets)
        cond = cond & F.col(f"_a_{p}").eqNullSafe(F.col(f"_b_{p}"))
    b = totals.select(
        F.col("_pid").alias("_bpid"),
        *[F.col(p).alias(f"_b_{p}") for p in part],
        *[F.col(c).alias(f"_b_{n}") for n, c in sums.items()],
    )
    if agg == "sum":
        combine = lambda c: F.coalesce(F.sum(c), F.lit(0))  # noqa: E731
    else:
        combine = F.max if agg == "max" else F.min
    return (
        a.join(F.broadcast(b), cond, "left")
        .groupBy("_apid", *[f"_a_{p}" for p in part])
        .agg(*[combine(f"_b_{n}").alias(n) for n in sums])
        .select(
            F.col("_apid").alias("_pid"),
            *[F.col(f"_a_{p}").alias(p) for p in part],
            *sums,
        )
    )


def global_prefix_sums(
    df: DataFrame,
    key: list,
    sums: dict,
    part: tuple = (),
    n_parts: int | None = None,
    inclusive: bool = False,
    agg: str = "sum",
    memo=None,
    group_totals: dict | None = None,
) -> DataFrame:
    """``df`` + one RUNNING-SUM column per ``sums`` entry (out_name ->
    source column), ordered globally by ``key`` (within each ``part``
    group if given), WITHOUT a single-partition window — the prefix-sum
    generalization of :func:`global_row_numbers` (VERDICT r6 items 1-3:
    the rank/ECDF/quantile family's ``Window.orderBy(value)`` running
    sums become O(N) single-task sorts once the ordered relation is a
    continuous-column cell set).

    ``key`` must uniquely order rows within a ``part`` group (true for
    every cell relation: the keys were just group-by'd). Two passes:

    1. ``repartitionByRange`` on (*part, *key): partition i's rows all
       order before partition i+1's (equal keys co-locate). The local
       running sum is a WindowExec PARTITIONED by the physical range
       partition id (and ``part``) — n_parts concurrent tasks, never a
       global sort.
    2. Per-(partition, part) totals — an O(n_parts·|part groups|) cell
       relation — turn into exclusive global offsets via the
       triangular self-join (:func:`_triangular_offsets`; no window at
       all), broadcast back, and added to the local sums.

    ``inclusive`` picks running-sum frame ROWS UNBOUNDED PRECEDING..
    CURRENT ROW (ECDF style) vs ..1 PRECEDING (rank style, default).
    ``agg`` = ``sum`` (default), ``max`` (running maximum — the
    2D-skyline frontier form) or ``min`` (running minimum — the CUSUM
    prefix-identity form); for the extrema an empty prefix is NULL,
    exactly the window's first-row value. ``memo`` as in
    :func:`global_row_numbers`.

    ``group_totals`` (r12, VERDICT r11 item 5, ``agg='sum'`` only):
    {out_name -> sums entry name} — additionally attach each ``part``
    group's GLOBAL total of that running sum's source column to every
    row, derived from the per-(partition, part) ``totals`` cells this
    helper already aggregates. A consumer that needs both the running
    sum and the group total (the quantile rank-select) previously paid
    a SECOND full aggregation pass over ``df`` plus its own broadcast
    join; the totals ride the existing offsets broadcast instead —
    same values (sum of the per-partition partial sums, exact long
    arithmetic), one fewer exchange + join in the plan."""
    if group_totals and agg != "sum":
        raise ValueError(f"group_totals is defined for agg='sum' only, got agg={agg!r}")
    n_parts = _stripe_parts(df, n_parts)
    cols = df.columns

    def build() -> DataFrame:
        return (
            df.repartitionByRange(n_parts, *list(part), *key)
            .select(*cols, F.spark_partition_id().alias("_pid"))
        )

    ranged = memo(build) if memo is not None else build().persist()
    fn = {"sum": F.sum, "max": F.max, "min": F.min}[agg]
    totals = ranged.groupBy("_pid", *part).agg(
        *[fn(c).alias(f"_t_{n}") for n, c in sums.items()]
    )
    offsets = _triangular_offsets(
        totals, part, {f"_off_{n}": f"_t_{n}" for n in sums}, agg=agg
    )
    hi = 0 if inclusive else -1
    w_local = (
        Window.partitionBy("_pid", *part)
        .orderBy(*key)
        .rowsBetween(Window.unboundedPreceding, hi)
    )

    def _combined(n: str, c: str):
        local = fn(c).over(w_local)
        if agg == "sum":
            return F.col(f"_off_{n}") + F.coalesce(local, F.lit(0))
        # max/min: greatest/least skip NULLs, NULL only when BOTH
        # sides are — the exact combine of two optional partial extrema
        pick = F.greatest if agg == "max" else F.least
        return pick(F.col(f"_off_{n}"), local)

    # null-safe join back (see _triangular_offsets): a NULL part value
    # is a real group and must find its offsets row
    off2 = offsets.select(
        F.col("_pid").alias("_opid"),
        *[F.col(p).alias(f"_o_{p}") for p in part],
        *[f"_off_{n}" for n in sums],
    )
    if group_totals:
        # per-part GLOBAL totals from the already-aggregated per-
        # partition cells — an O(|part groups|) relation folded into
        # the offsets broadcast (null-safe on part, like everything
        # else here)
        gt = totals.groupBy(*part).agg(
            *[
                F.sum(f"_t_{src}").alias(f"_gt_{out}")
                for out, src in group_totals.items()
            ]
        )
        gt2 = gt.select(
            *[F.col(p).alias(f"_g_{p}") for p in part],
            *[f"_gt_{out}" for out in group_totals],
        )
        gcond = F.lit(True)
        for p in part:
            gcond = gcond & F.col(f"_o_{p}").eqNullSafe(F.col(f"_g_{p}"))
        off2 = off2.join(F.broadcast(gt2), gcond).select(
            "_opid",
            *[f"_o_{p}" for p in part],
            *[f"_off_{n}" for n in sums],
            *[F.col(f"_gt_{out}").alias(f"_gtv_{out}") for out in group_totals],
        )
    jcond = F.col("_pid") == F.col("_opid")
    for p in part:
        jcond = jcond & F.col(p).eqNullSafe(F.col(f"_o_{p}"))
    extra = (
        [F.col(f"_gtv_{out}").alias(out) for out in group_totals]
        if group_totals
        else []
    )
    return ranged.join(F.broadcast(off2), jcond).select(
        *cols, *[_combined(n, c).alias(n) for n, c in sums.items()], *extra
    )


def striped_shards(
    docs: DataFrame, n_shards: int, n_parts: int | None = None, memo=None
) -> DataFrame:
    """(doc_id, n_chars, shard): size-striped round-robin assignment —
    docs ranked by (n_chars desc, doc_id asc), dealt shard = rank % n —
    via :func:`global_row_numbers` (no single-partition window; the r4
    form put every doc cell in ONE Sort+Window task)."""
    ranked = global_row_numbers(
        docs.select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.asc("doc_id")],
        n_parts,
        memo=memo,
    )
    return ranked.select(
        "doc_id",
        "n_chars",
        ((F.col("rn") - 1) % n_shards).cast("int").alias("shard"),
    )


#: seed prefix of the deterministic global training-order shuffle —
#: bump to reshuffle; the permutation is a pure function of (seed,
#: doc_id) so re-runs and engines agree bit-exactly
GSHUF_SEED = "gshuf1:"


def global_shuffle(docs: DataFrame, n_shards: int = N_SHARDS, n_parts=None, memo=None):
    """(doc_id, shuffle_pos, shard, pos_in_shard): the deterministic
    corpus-wide training-order permutation (VERDICT r8 item 4) — the
    "shuffle the mixture before sharding" step every training run
    needs between curation and shard writing. Order = the portable
    60-bit hash of (seed || doc_id): pseudo-random, seed-replayable,
    append-unstable BY DESIGN (a global shuffle must re-deal when the
    corpus changes — the append-stable assignment is q_shard_layout's
    hash method). Shards are CONTIGUOUS equal blocks of the permuted
    order (block = ceil(n / n_shards)), so a reader streams shard k
    as positions [k·block, (k+1)·block) and the within-shard order IS
    the training order — unlike modulo dealing, which interleaves.

    Scale shape: rank over the total order (hash, doc_id) via the
    grouped two-pass form (:func:`global_row_numbers` — range
    partition + arithmetic local indices + broadcast triangular
    offsets; no single-task window anywhere), one 1-row count
    broadcast for the block size. Both passes partition-count
    invariant (property-tested), so the permutation is identical on
    32 local threads or 1000 executors."""
    keyed = docs.select(
        "doc_id", hash60(F.concat(F.lit(GSHUF_SEED), F.col("doc_id").cast("string"))).alias("k")
    )
    ranked = global_row_numbers(keyed, ["k", "doc_id"], n_parts, memo=memo)
    tot = docs.agg(F.count(F.lit(1)).alias("_n"))
    block = F.expr(f"(_n + {n_shards - 1}) div {n_shards}")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.col("rn").alias("shuffle_pos"),
            F.floor((F.col("rn") - 1) / block).cast("int").alias("shard"),
            ((F.col("rn") - 1) % block + 1).alias("pos_in_shard"),
        )
    )


def _q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of :func:`global_shuffle` over the documents
    corpus — the permutation relation a shard writer consumes
    directly after q_mixture_manifest / q_prepare_training.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sampling/curation family)."""
    from .dedup import _memo_persist

    docs = parallelize(load_table(spark, sf_dir, "documents")).select("doc_id")
    return global_shuffle(
        docs,
        N_SHARDS,
        memo=lambda build: _memo_persist(spark, sf_dir, "gshuf_rn:documents", build),
    )




BATCH_B = 8  # examples per training batch for the padding audit


def _q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for UNPACKED (pad-to-longest) batching — the
    SFT-pipeline companion to the packing family: a batch of B
    sequences pads every example to the batch max, so the wasted
    fraction is Σ_batches(B·max_b − Σlen) / Σ_batches(B·max_b). Two
    strategies side by side: ``arrival`` (doc_id order — what a naive
    loader does) and ``length_sorted`` (sort by length, batch
    consecutive — the standard bucketing fix, at the cost of
    within-batch length correlation). One row per strategy; the delta
    is the measured case for length bucketing.

    Scale shape: each strategy is ONE grouped two-pass rank (order by
    doc_id / by (n_tokens, doc_id)) + a floor(rank/B) batch key + two
    integer aggregations — exact integer arithmetic to the final
    division, no windows over data, no explode.

    Reference connection: none in dhoard/orders-kafka-streams; SURVEY
    §2.9 extension surface (sampling / batching family)."""
    from .text import _tokenized

    d = _tokenized(spark, sf_dir).select(
        "doc_id", F.size("t").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)

    def strategy(name: str, keys: list) -> DataFrame:
        ranked = global_row_numbers(d, keys)
        batches = (
            ranked.withColumn("batch", F.floor((F.col("rn") - 1) / BATCH_B))
            .groupBy("batch")
            .agg(
                F.count(F.lit(1)).alias("b_n"),
                F.max("n_tokens").alias("b_max"),
                F.sum("n_tokens").alias("b_sum"),
            )
        )
        padded = F.col("b_n") * F.col("b_max")
        return batches.agg(
            F.lit(name).alias("strategy"),
            F.count(F.lit(1)).alias("n_batches"),
            F.sum(padded).alias("padded_tokens"),
            F.sum("b_sum").alias("real_tokens"),
            F.round(
                (F.sum(padded) - F.sum("b_sum")) / F.sum(padded).cast("double"), 6
            ).alias("pad_frac"),
        )

    return strategy("arrival", ["doc_id"]).unionByName(
        strategy("length_sorted", ["n_tokens", "doc_id"])
    )


#: multi-epoch schedule knobs: epoch count and the per-repetition value
#: decay (Muennighoff et al. 2023, "Scaling Data-Constrained Language
#: Models": repeated epochs contribute diminishing effective data —
#: their fitted decay is modeled here by a POWER-OF-TWO rate so
#: rep_value = DECAY^(epoch-1) is exact in binary floating point on
#: both engines, no pow()/exp ulp exposure).
N_EPOCHS = 3
EPOCH_DECAY = 0.5
EPOCH_SEED = "epoch{e}:"


def _q_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch training schedule with repeated-data value
    accounting — the data-constrained regime (Muennighoff et al.
    2023): when the corpus is smaller than the token budget, training
    repeats it for N_EPOCHS with a DIFFERENT seeded shuffle per epoch
    (repeating the same order re-correlates batch composition across
    epochs), and each repetition contributes geometrically less
    effective data. Output one row per (doc, epoch): the within-epoch
    position, the run-global position (epochs are contiguous blocks:
    global = (epoch-1)·N + epoch_pos), and the repetition's effective
    value DECAY^(epoch-1).

    Scale shape: the epoch dimension is a 1-to-N_EPOCHS map-side
    explode (a constant fan-out, not a join); ONE grouped two-pass
    rank over the total order (epoch, seeded hash, doc_id) assigns
    every position — the same machinery and partition-count invariance
    as q_global_shuffle, with the epoch as the leading range key so
    epoch blocks are contiguous by construction; N attaches as a 1-row
    broadcast. rep_value is exact (power-of-two decay), so the only
    floats in the relation are engine-identical.

    Reference connection: none in dhoard/orders-kafka-streams; SURVEY
    §2.9 extension surface (sampling / training-schedule family)."""
    from .dedup import _memo_persist

    docs = parallelize(load_table(spark, sf_dir, "documents")).select("doc_id")
    n = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    keyed = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.lit(N_EPOCHS))).alias("epoch"),
    ).select(
        "doc_id",
        "epoch",
        hash60(
            F.concat(
                F.lit("epoch"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("k"),
    )
    ranked = global_row_numbers(
        keyed,
        ["epoch", "k", "doc_id"],
        memo=lambda build: _memo_persist(spark, sf_dir, "epoch_rn:documents", build),
    )
    return ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "epoch",
        (F.col("rn") - (F.col("epoch") - 1) * F.col("n_corpus")).alias("epoch_pos"),
        F.col("rn").alias("global_pos"),
        # DECAY^(epoch-1) as 1.0 / 2^(epoch-1): integer shift + one
        # exact division — no pow()/libm in the relation at all
        F.expr("cast(1.0 as double) / shiftleft(1, cast(epoch - 1 as int))").alias("rep_value"),
    )


#: curriculum schedule knobs: documents bucket by token count (the
#: sequence-length-warmup difficulty proxy — integer, so the bucket
#: boundary is exact in both engines) into CURRICULUM_BUCKETS stages
#: of CURRICULUM_BUCKET_TOKENS width, open-ended top bucket.
CURRICULUM_BUCKETS = 10
CURRICULUM_BUCKET_TOKENS = 40
CURRICULUM_SEED = "curr1:"


def _q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered training schedule (Bengio et al. 2009): the
    corpus-wide position each document trains at when the run warms up
    easy→hard — here the sequence-length-warmup instance (short docs
    first, the curriculum used to stabilize early training). Stage =
    token-count bucket (integer boundaries — no float edge ambiguity
    cross-engine); WITHIN a stage the order is a seeded-hash shuffle
    (a curriculum that is sorted end-to-end re-introduces content
    correlation inside each batch; sorted-stages-shuffled-ties is the
    standard schedule). Output: (doc_id, n_tokens, stage,
    curriculum_pos) — the companion ordering to q_global_shuffle's
    uniform permutation, consumed by the same shard writer.

    Scale shape: tokenization rides the memoized token projection;
    stage assignment is map-only integer arithmetic; the global
    position is ONE grouped two-pass rank over the total order
    (stage, hash, doc_id) — range partition + arithmetic local row
    numbers + broadcast triangular offsets, no single-task window
    anywhere (same machinery and partition-count invariance as
    q_global_shuffle).

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sampling/curation family)."""
    from .dedup import _memo_persist
    from .text import _tokenized

    base = _tokenized(spark, sf_dir).select(
        "doc_id", F.size("t").alias("n_tokens")
    )
    stage = F.least(
        F.floor(F.col("n_tokens") / CURRICULUM_BUCKET_TOKENS),
        F.lit(CURRICULUM_BUCKETS - 1),
    ).cast("int")
    keyed = base.select(
        "doc_id",
        "n_tokens",
        stage.alias("stage"),
        hash60(F.concat(F.lit(CURRICULUM_SEED), F.col("doc_id").cast("string"))).alias("k"),
    )
    ranked = global_row_numbers(
        keyed,
        ["stage", "k", "doc_id"],
        memo=lambda build: _memo_persist(spark, sf_dir, "curriculum_rn:documents", build),
    )
    return ranked.select(
        "doc_id", "n_tokens", "stage", F.col("rn").alias("curriculum_pos")
    )


IMIX_SEED = "imix1:"  # within-source shuffle seed for the interleave


def _q_interleave_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture-INTERLEAVED training order (stride
    scheduling): each source contributes documents at a rate ∝ its
    temperature weight √(source tokens) — the q_lang_mix temperature
    applied to ORDER instead of admission — so a training run reading
    positions 1..P sees every source in its target proportion from the
    first batch on, instead of the blocked source runs a plain sort
    (or per-source concatenation) produces. Classic stride scheduling:
    the j-th doc of source s lands at key j/w_s; merging all sources
    by key yields the standard deficit-round-robin interleave whose
    per-prefix imbalance is bounded by one doc per source. Within a
    source the order is a seeded-hash shuffle. Output: (doc_id,
    source, within_rank, interleave_pos).

    Float portability: keys are j/√(Σtokens) — integer rank and
    integer token sums through correctly-rounded IEEE sqrt/divide, so
    both engines compute bit-identical doubles and sort identically
    (the q_sample_priority precedent); ties are structurally confined
    to same-key collisions and break on (source, doc_id).

    Scale shape: within-source rank = grouped two-pass prefix sum of
    ones (part=source — a PARTITION BY source window would funnel a
    source's whole corpus slice through one task); global interleave
    position = the two-pass rank over (key, source, rank); weights
    attach as an O(sources) broadcast. Zero window nodes.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sampling/curation family)."""
    from .dedup import _memo_persist
    from .text import _tokenized

    d = _tokenized(spark, sf_dir, "source").select(
        "doc_id", "source", F.size("t").alias("n_tokens")
    )
    w = d.groupBy("source").agg(
        F.sqrt(F.sum("n_tokens").cast("double")).alias("wt")
    )
    keyed = d.select(
        "doc_id",
        "source",
        hash60(F.concat(F.lit(IMIX_SEED), F.col("doc_id").cast("string"))).alias("k"),
        F.lit(1).alias("_one"),
    )
    ranked = global_prefix_sums(
        keyed,
        [F.asc("k"), F.asc("doc_id")],
        {"rk0": "_one"},
        part=("source",),
        memo=lambda build: _memo_persist(spark, sf_dir, "imix:ranked", build),
    ).select("doc_id", "source", (F.col("rk0") + 1).alias("within_rank"))
    stride = ranked.join(F.broadcast(w), "source").select(
        "doc_id",
        "source",
        "within_rank",
        (F.col("within_rank").cast("double") / F.col("wt")).alias("key"),
    )
    pos = global_row_numbers(
        stride,
        ["key", "source", "within_rank"],
        memo=lambda build: _memo_persist(spark, sf_dir, "imix:pos", build),
    )
    return pos.select(
        "doc_id", "source", "within_rank", F.col("rn").alias("interleave_pos")
    )


def _q_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment audit — two strategies side by side:
    (a) HASH sharding (append-stable, coordination-free, the default)
    and (b) SIZE-STRIPED sharding (docs ranked by size, dealt
    round-robin — the distributed longest-processing-time
    approximation whose per-shard size spread is bounded by one max
    doc). Per (method, shard): doc count, char budget, share of the
    corpus — the relation a shard writer consumes and the balance
    evidence a training job wants before reading shards in parallel.

    Scale shape: hash assignment is a scan-level expression. Striping
    needs a TOTAL order; :func:`striped_shards` computes it with the
    two-pass range-partition + per-partition-offset form — the only
    window in the plan runs over the n_parts per-partition count
    cells, never the doc relation (equality with the one-window form
    is property-tested in tests/test_striped_sharding.py)."""
    docs = parallelize(load_table(spark, sf_dir, "documents")).select("doc_id", "n_chars")
    hash_shard = (hash60(F.col("doc_id")) % N_SHARDS).cast("int")
    from .dedup import _memo_persist

    striped = striped_shards(
        docs,
        N_SHARDS,
        memo=lambda build: _memo_persist(spark, sf_dir, "stripe_ranked:documents", build),
    ).withColumn("method", F.lit("striped"))
    hashed = docs.withColumn("shard", hash_shard).withColumn("method", F.lit("hash"))
    both = hashed.unionByName(striped)
    tot = docs.agg(F.sum("n_chars").alias("tot_chars"))
    return (
        both.groupBy("method", "shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .crossJoin(F.broadcast(tot))
        .select(
            "method",
            "shard",
            "n_docs",
            "total_chars",
            F.round(F.col("total_chars") / F.col("tot_chars"), 4).alias("share"),
        )
    )


def _q_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline, end to end:
    quality-score filter → exact dedup (keep lowest doc_id per text
    hash) → per-(lang, source) corpus stats.

    Three stages, two shuffles (dedup groupBy, final groupBy); the
    quality filter is a pure projection that runs inside the scan
    stage, so rejected documents never cross the wire. This is the
    flagship "raw corpus in, training corpus out" query the extension
    surface exists for — each stage is the library operator used by
    its standalone query (q_text_quality, q_dedup_exact, q_doc_stats).
    """
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    t = tokens(F.col("text"))
    n = F.size(t)
    uniq = F.size(F.array_distinct(t))
    sw = stopword_count(t)
    score = (
        0.4 * (uniq.cast("double") / n)
        + 0.3 * F.least(sw.cast("double") / n * 5, F.lit(1.0))
        + 0.3 * F.least(n.cast("double") / 100, F.lit(1.0))
    )
    kept = docs.select(
        "doc_id",
        "lang",
        "source",
        n.alias("n_tokens"),
        score.alias("q"),
        hash60(F.col("text")).alias("text_hash"),
    ).filter(F.col("q") >= QUALITY_T)
    w = Window.partitionBy("text_hash").orderBy(F.asc("doc_id"))
    rep = kept.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return rep.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
    )



def _q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic Bernoulli sample — the curation
    primitive: keep each document with probability equal to its quality
    score (uniform-hash u < p_i), so high-quality docs are
    preferentially retained while every decision stays reproducible
    (hash of doc_id, no RNG state). Scan-level predicate like
    hash_sample: no shuffle before the summary agg. The integer hash
    grid (1e6 buckets) and the 6-decimal-rounded score make the
    comparison exact on both engines — no float-boundary ambiguity."""
    from ..functions.textfns import stopword_count, tokens

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    t = tokens(F.col("text"))
    n = F.size(t)
    score = F.round(
        0.4 * (F.size(F.array_distinct(t)).cast("double") / n)
        + 0.3 * F.least(stopword_count(t).cast("double") / n * 5, F.lit(1.0))
        + 0.3 * F.least(n.cast("double") / 100, F.lit(1.0)),
        6,
    )
    u = (hash60(F.col("doc_id")) % 1_000_000).cast("double") / 1_000_000.0
    # EXPLICIT curation policy: zero-token documents are dropped. Without
    # this filter they'd be dropped anyway — q is NULL when n = 0, and
    # NULL fails u < q on both engines — but as an accident, not a rule.
    kept = (
        docs.filter(n > 0)
        .select("doc_id", "source", score.alias("q"), u.alias("u"))
        .filter(F.col("u") < F.col("q"))
    )
    # quality mass in exact integer micro-units: q sits on the 1e-6
    # grid, so floor(q*1e6 + 0.5) recovers the exact integer on both
    # engines and the sum is order-independent — a rounded float AVG
    # here hit half-edges where engine round() implementations differ
    q_micro = F.floor(F.col("q") * 1_000_000 + 0.5).cast("long")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(q_micro).alias("quality_micro_sum"),
        F.min("doc_id").alias("min_doc_id"),
    )


PRI_K = 100  # priority-sample size (without replacement)
PRI_SALT = "okss-pri-v1"  # deterministic per-doc uniform
_TWO60 = float(1 << 60)


def _q_sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup, JACM 2007) — the
    weighted WITHOUT-replacement sample with an unbiased subset-sum
    estimator: each document draws priority q_i = w_i / u_i (weight
    w_i = n_chars, u_i a deterministic salt-hash uniform in (0, 1]),
    the K largest priorities are the sample, and τ = the (K+1)-th
    priority turns it into an estimator — ŵ_i = max(w_i, τ) sums to an
    unbiased estimate of the TOTAL corpus weight from K rows. The
    without-replacement, heavy-item-favoring complement to
    q_sample_weighted's Bernoulli keep.

    Unlike exponential-key A-ES (u^(1/w)), the priority key needs NO
    transcendental: w·2^60 is exact in a double (14-bit weight shifted
    60), (h+1) converts and divides under IEEE round-to-nearest, so
    both engines compute bit-identical priorities — no ln/pow ulp
    exposure, no rounding tolerance needed before the rank.

    Scale shape: the priority is a scan-level expression; top-(K+1)
    selection is TakeOrdered (per-partition heaps merged at the
    coordinator, no global sort/window over the corpus); the τ row
    attaches back by 1-row broadcast. The final K-row window never
    sees corpus-sized input.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sampling family)."""
    docs = parallelize(load_table(spark, sf_dir, "documents")).filter(
        F.col("n_chars") > 0
    )
    h = hash60(F.concat(F.lit(PRI_SALT + "|"), F.col("doc_id")))
    pri = (F.col("n_chars").cast("double") * F.lit(_TWO60)) / (h + 1).cast("double")
    top = (
        docs.select("doc_id", "n_chars", pri.alias("pri"))
        .orderBy(F.col("pri").desc(), "doc_id")
        .limit(PRI_K + 1)
    )
    ranked = top.select(
        "doc_id",
        "n_chars",
        "pri",
        F.row_number()
        .over(Window.orderBy(F.col("pri").desc(), "doc_id"))
        .alias("rn"),
    )
    tau = ranked.filter(F.col("rn") == PRI_K + 1).select(F.col("pri").alias("tau"))
    return (
        ranked.filter(F.col("rn") <= PRI_K)
        .crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            "n_chars",
            F.round("pri", 4).alias("priority"),
            F.round(F.greatest(F.col("n_chars").cast("double"), F.col("tau")), 4).alias(
                "w_est"
            ),
        )
        .transform(cells_sorted, "doc_id")  # <= PRI_K sampled rows
    )


NEYMAN_TOTAL = 10_000  # planned total sample size allocated across strata


def _q_neyman_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified allocation (Neyman 1934) over the
    event-type strata — the survey-sampling planner that beats
    q_stratified_sample's equal-k and q_split_assign's proportional
    split whenever stratum variances differ: allocating
    n_h = n · (N_h σ_h) / Σ(N_k σ_k) minimizes the variance of the
    stratified mean at fixed total n, so the heavy-tailed strata get
    the samples that actually shrink the error bar. Output per
    stratum: size, σ (sample stddev of value), Neyman fraction, the
    floored per-stratum allocation, and the proportional fraction it
    replaces (the delta is the efficiency story).

    Scale shape: one events pass partial-aggregates (n, Σv, Σv²) per
    stratum (sums rounded 6 dp before the float pipeline, the CUPED
    discipline); the Σ(N_k σ_k) normalizer attaches as a 1-row
    broadcast. |strata| rows end-to-end after the scan. Floors, not
    round(): banker's-vs-half-up .5 behavior differs cross-engine.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sampling family)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 6).alias("s"),
        F.round(F.sum(F.col("value") * F.col("value")), 6).alias("ss"),
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n_rows")) / (
        F.col("n_rows") - 1
    )
    sig = cells.select(
        "event_type", "n_rows", F.sqrt(var).alias("sigma")
    ).withColumn("nh_sig", F.col("n_rows") * F.col("sigma"))
    tot = sig.agg(
        F.sum("nh_sig").alias("denom"), F.sum("n_rows").alias("n_total")
    )
    return (
        sig.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_rows",
            F.round("sigma", 6).alias("sigma"),
            F.round(F.col("nh_sig") / F.col("denom"), 6).alias("neyman_frac"),
            F.floor(
                F.lit(NEYMAN_TOTAL) * F.col("nh_sig") / F.col("denom")
            ).alias("n_alloc"),
            F.round(F.col("n_rows") / F.col("n_total"), 6).alias(
                "proportional_frac"
            ),
        )
        .transform(cells_sorted, "event_type")  # <= |event types| rows
    )


def _neyman_oracle() -> str:
    return f"""
WITH cells AS (
  SELECT event_type, CAST(count(1) AS BIGINT) AS n_rows,
         round(sum(value), 6) AS s, round(sum(value * value), 6) AS ss
  FROM events GROUP BY 1
),
sig AS (
  SELECT event_type, n_rows,
         sqrt((ss - s * s / n_rows) / (n_rows - 1)) AS sigma,
         n_rows * sqrt((ss - s * s / n_rows) / (n_rows - 1)) AS nh_sig
  FROM cells
),
tot AS (SELECT sum(nh_sig) AS denom, CAST(sum(n_rows) AS BIGINT) AS n_total FROM sig)
SELECT event_type, n_rows, round(sigma, 6) AS sigma,
       round(nh_sig / denom, 6) AS neyman_frac,
       CAST(floor({NEYMAN_TOTAL} * nh_sig / denom) AS BIGINT) AS n_alloc,
       round(CAST(n_rows AS DOUBLE) / n_total, 6) AS proportional_frac
FROM sig CROSS JOIN tot
ORDER BY event_type
"""


#: q_temporal_split_embargo: train fraction of the day span + embargo
TEMPORAL_TRAIN_FRAC = 0.7
EMBARGO_DAYS = 2
_DAY_MS = 86_400_000


def _q_temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split with an EMBARGO gap (the purged-split
    discipline of financial/forecasting ML, López de Prado 2018
    simplified): hash splits (q_split_assign) are leak-proof for
    exchangeable documents but WRONG for time series — a model trained
    on events after its test window has seen the future. Cut the day
    axis at TRAIN_FRAC of the observed span, drop an EMBARGO_DAYS
    buffer (serial correlation leaks across an adjacent boundary), and
    report per split: volume, user count, day range, and the USER
    overlap with train — the entity-level contamination a grouped
    split would remove, measured so the pipeline can decide whether
    time-only splitting suffices. Cut arithmetic is integer days from
    the data's own bounds, so the boundary is engine-exact.

    Scale shape: day bounds are a 1-row broadcast; split labeling is a
    scan-level projection; per-split stats one exchange; the overlap
    is a left-semi join of per-split distinct users against the
    broadcastable train-user relation.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sampling / splits family)."""
    from ..functions.portable import epoch_ms

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(epoch_ms(F.col("ts")) / F.lit(_DAY_MS)).alias("day"),
    )
    bounds = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cut = F.col("d0") + F.floor(
        F.lit(TEMPORAL_TRAIN_FRAC) * (F.col("d1") - F.col("d0"))
    )
    lab = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "day",
        F.when(F.col("day") < cut, F.lit("train"))
        .when(F.col("day") < cut + EMBARGO_DAYS, F.lit("embargo"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    stats = lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )
    train_users = lab.filter(F.col("split") == "train").select("user_id").distinct()
    shared = (
        lab.select("split", "user_id")
        .distinct()
        .join(train_users, "user_id", "left_semi")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("users_in_train"))
    )
    # LEFT join + 0-fill: a split whose users are fully disjoint from
    # train (the grouped-split ideal) must still report its row
    return (
        stats.join(shared, "split", "left")
        .select(
            "split",
            "n_events",
            "n_users",
            "first_day",
            "last_day",
            F.coalesce("users_in_train", F.lit(0)).alias("users_in_train"),
            F.round(
                F.coalesce("users_in_train", F.lit(0)) / F.col("n_users"), 6
            ).alias("train_user_overlap"),
        )
        .transform(cells_sorted, "split")  # <= |splits| rows
    )


def _temporal_split_oracle() -> str:
    return f"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch_ms(ts) / {_DAY_MS}) AS BIGINT) AS day
  FROM events
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
lab AS (
  SELECT user_id, day,
         CASE WHEN day < d0 + floor({TEMPORAL_TRAIN_FRAC} * (d1 - d0))
                THEN 'train'
              WHEN day < d0 + floor({TEMPORAL_TRAIN_FRAC} * (d1 - d0))
                       + {EMBARGO_DAYS} THEN 'embargo'
              ELSE 'test' END AS split
  FROM ev CROSS JOIN bounds
),
stats AS (
  SELECT split, CAST(count(1) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         min(day) AS first_day, max(day) AS last_day
  FROM lab GROUP BY 1
),
tu AS (SELECT DISTINCT user_id FROM lab WHERE split = 'train'),
shared AS (
  SELECT split, CAST(count(1) AS BIGINT) AS users_in_train
  FROM (SELECT DISTINCT split, user_id FROM lab) s
  WHERE user_id IN (SELECT user_id FROM tu)
  GROUP BY 1
)
SELECT split, n_events, n_users, first_day, last_day,
       CAST(coalesce(users_in_train, 0) AS BIGINT) AS users_in_train,
       round(CAST(coalesce(users_in_train, 0) AS DOUBLE) / n_users, 6)
         AS train_user_overlap
FROM stats LEFT JOIN shared USING (split)
ORDER BY split
"""


#: q_char_budget_quantiles char-mass fractions (shared literals)
CHAR_QS = (0.5, 0.9, 0.99)


def _q_char_budget_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-MASS-weighted document-length quantiles per source — the
    packing/shard-planning readout q_shard_layout (assignment audit)
    and q_pack (the assignment itself) both presuppose: "docs of
    length ≤ L_q hold q of this source's character budget". Unlike a
    doc-count percentile, the WEIGHTED quantile answers capacity
    questions (what max-length cap keeps 99% of the training mass;
    how skewed is the char budget toward long docs) — for heavy-tailed
    corpora the two differ wildly (half the rows can be far below half
    the mass). L_q = smallest length whose inclusive cumulative char
    mass reaches q·total — a weighted-ECDF rank selection, exact
    integer char sums until the q·total comparison (the same IEEE
    product from the same literals on both engines).

    Scale shape: one partial-agg exchange to (source, n_chars) cells;
    the grouped distributed two-pass prefix sum
    (sampling.global_prefix_sums part=source — lengths are high-NDV,
    so a per-source ordered window would be a single-task sort per
    source at 100×); rank selection is a conditional MIN per source.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (sampling / layout family)."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    cells = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("c")
    ).select(
        "source",
        "n_chars",
        "c",
        (F.col("n_chars").cast("long") * F.col("c")).alias("w"),
    )
    cum = global_prefix_sums(
        cells, ["n_chars"], {"cum_w": "w"}, part=("source",), inclusive=True
    )
    # totals from the helper-persisted relation, not a second source scan
    tot = cum.groupBy("source").agg(
        F.sum("c").alias("n_docs"), F.sum("w").alias("total_chars")
    )
    j = cum.join(F.broadcast(tot), "source")
    aggs = [F.max("n_docs").alias("n_docs"), F.max("total_chars").alias("total_chars")]
    for q in CHAR_QS:
        tag = f"l{int(round(q * 100))}"
        aggs.append(
            F.min(
                F.when(
                    F.col("cum_w") >= F.lit(q) * F.col("total_chars"),
                    F.col("n_chars"),
                )
            ).alias(tag)
        )
    return j.groupBy("source").agg(*aggs).transform(cells_sorted, "source")  # <= |sources| rows


def _char_budget_oracle() -> str:
    sel = ",\n       ".join(
        f"min(CASE WHEN cum_w >= {q} * total_chars THEN n_chars END) AS l{int(round(q * 100))}"
        for q in CHAR_QS
    )
    return f"""
WITH cells AS (
  SELECT source, n_chars, CAST(count(1) AS BIGINT) AS c,
         CAST(n_chars AS BIGINT) * count(1) AS w
  FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT source, n_chars,
         CAST(sum(w) OVER (PARTITION BY source ORDER BY n_chars
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_w
  FROM cells
),
tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         CAST(sum(w) AS BIGINT) AS total_chars
  FROM cells GROUP BY 1
)
SELECT source, max(n_docs) AS n_docs, max(total_chars) AS total_chars,
       {sel}
FROM cum JOIN tot USING (source)
GROUP BY source ORDER BY source
"""


QUERIES = {
    "q_split_leakage": _q_split_leakage,
    "q_char_budget_quantiles": _q_char_budget_quantiles,
    "q_temporal_split_embargo": _q_temporal_split_embargo,
    "q_neyman_alloc": _q_neyman_alloc,
    "q_sample_priority": _q_sample_priority,
    "q_shard_layout": _q_shard_layout,
    "q_global_shuffle": _q_global_shuffle,
    "q_epoch_schedule": _q_epoch_schedule,
    "q_padding_waste": _q_padding_waste,
    "q_curriculum_order": _q_curriculum_order,
    "q_interleave_mixture": _q_interleave_mixture,
    "q_sample_weighted": _q_sample_weighted,
    "q_sample_hash": _q_sample_hash,
    "q_stratified_sample": _q_stratified_sample,
    "q_split_assign": _q_split_assign,
    "q_clean_pipeline": _q_clean_pipeline,
}

_H_DOC = hash60_sql("doc_id")

ORACLE = {
    "q_padding_waste": f"""
WITH d AS (
  SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents WHERE len({_TOKS}) > 0
),
ra AS (SELECT n_tokens, row_number() OVER (ORDER BY doc_id) AS rn FROM d),
rl AS (SELECT n_tokens, row_number() OVER (ORDER BY n_tokens, doc_id) AS rn FROM d),
ba AS (SELECT (rn - 1) // {BATCH_B} AS batch, count(*) AS b_n,
              max(n_tokens) AS b_max, sum(n_tokens) AS b_sum
       FROM ra GROUP BY 1),
bl AS (SELECT (rn - 1) // {BATCH_B} AS batch, count(*) AS b_n,
              max(n_tokens) AS b_max, sum(n_tokens) AS b_sum
       FROM rl GROUP BY 1)
SELECT 'arrival' AS strategy, CAST(count(1) AS BIGINT) AS n_batches,
       CAST(sum(b_n * b_max) AS BIGINT) AS padded_tokens,
       CAST(sum(b_sum) AS BIGINT) AS real_tokens,
       round(CAST(sum(b_n * b_max) - sum(b_sum) AS DOUBLE) / sum(b_n * b_max), 6)
         AS pad_frac
FROM ba
UNION ALL
SELECT 'length_sorted', CAST(count(1) AS BIGINT),
       CAST(sum(b_n * b_max) AS BIGINT), CAST(sum(b_sum) AS BIGINT),
       round(CAST(sum(b_n * b_max) - sum(b_sum) AS DOUBLE) / sum(b_n * b_max), 6)
FROM bl
""",
    "q_epoch_schedule": f"""
WITH e AS (SELECT doc_id, u AS epoch FROM documents, unnest(range(1, {N_EPOCHS} + 1)) AS r(u)),
keyed AS (
  SELECT doc_id, epoch,
         {hash60_sql("'epoch' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} AS k
  FROM e),
n AS (SELECT count(*) AS n_corpus FROM documents),
rn AS (SELECT doc_id, epoch,
              CAST(row_number() OVER (ORDER BY epoch, k, doc_id) AS BIGINT) AS global_pos
       FROM keyed)
SELECT r.doc_id, CAST(r.epoch AS INT) AS epoch,
       CAST(r.global_pos - (r.epoch - 1) * n.n_corpus AS BIGINT) AS epoch_pos,
       r.global_pos,
       1.0 / (1 << (r.epoch - 1)) AS rep_value
FROM rn r, n
""",
    "q_global_shuffle": f"""
WITH base AS (
  SELECT doc_id,
         {hash60_sql(f"'{GSHUF_SEED}' || CAST(doc_id AS VARCHAR)")} AS k
  FROM documents),
tot AS (SELECT (count(*) + {N_SHARDS - 1}) // {N_SHARDS} AS block FROM base),
rn AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS shuffle_pos
       FROM base)
SELECT r.doc_id AS doc_id,
       CAST(r.shuffle_pos AS BIGINT) AS shuffle_pos,
       CAST((r.shuffle_pos - 1) // t.block AS INTEGER) AS shard,
       CAST((r.shuffle_pos - 1) % t.block + 1 AS BIGINT) AS pos_in_shard
FROM rn r, tot t
""",
    "q_neyman_alloc": _neyman_oracle(),
    "q_char_budget_quantiles": _char_budget_oracle(),
    "q_temporal_split_embargo": _temporal_split_oracle(),
    "q_sample_priority": f"""
WITH d AS (
  SELECT doc_id, n_chars,
         {hash60_sql(f"'{PRI_SALT}|' || CAST(doc_id AS VARCHAR)")} + 1 AS h1
  FROM documents WHERE n_chars > 0
),
p AS (
  SELECT doc_id, n_chars,
         (CAST(n_chars AS DOUBLE) * {_TWO60!r}) / CAST(h1 AS DOUBLE) AS pri
  FROM d
),
ranked AS (
  SELECT doc_id, n_chars, pri,
         row_number() OVER (ORDER BY pri DESC, doc_id) AS rn
  FROM p
),
tau AS (SELECT pri AS tau FROM ranked WHERE rn = {PRI_K + 1})
SELECT doc_id, n_chars, round(pri, 4) AS priority,
       round(greatest(CAST(n_chars AS DOUBLE), tau), 4) AS w_est
FROM ranked CROSS JOIN tau
WHERE rn <= {PRI_K}
ORDER BY doc_id
""",
    "q_shard_layout": f"""
WITH d AS (SELECT doc_id, n_chars FROM documents),
hashed AS (
  SELECT 'hash' AS method,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % {N_SHARDS} AS INTEGER) AS shard, n_chars
  FROM d
),
striped AS (
  SELECT 'striped' AS method,
         CAST((row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) - 1) % {N_SHARDS} AS INTEGER) AS shard,
         n_chars
  FROM d
),
allb AS (SELECT * FROM hashed UNION ALL SELECT * FROM striped),
tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tot_chars FROM d)
SELECT method, shard,
       CAST(count(1) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(sum(n_chars) / CAST(tot_chars AS DOUBLE), 4) AS share
FROM allb CROSS JOIN tot
GROUP BY method, shard, tot_chars
""",
    "q_split_leakage": """
WITH labeled AS (
  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(a AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80 THEN 'train' WHEN CAST('0x' || substr(md5(CAST(a AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END AS sa,
         CASE WHEN CAST('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80 THEN 'train' WHEN CAST('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END AS sb
  FROM (__MINHASH__) p
)
SELECT CAST(count(1) AS BIGINT) AS n_neardup_pairs,
       CAST(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT) AS n_leaking_pairs,
       round(COALESCE(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) / CAST(count(1) AS DOUBLE), 0.0), 4) AS leak_frac
FROM labeled
""".replace("__MINHASH__", _DD_ORACLE["q_dedup_minhash"]),

    "q_sample_weighted": f"""
WITH d AS (SELECT doc_id, source, {tokens_sql('text')} AS w FROM documents),
scored AS (
  SELECT doc_id, source,
         round(0.4 * (len(list_distinct(w)) / CAST(len(w) AS DOUBLE))
             + 0.3 * least({stopword_count_sql('w')} / CAST(len(w) AS DOUBLE) * 5, 1.0)
             + 0.3 * least(len(w) / 100.0, 1.0), 6) AS q,
         ({hash60_sql('doc_id')} % 1000000) / 1000000.0 AS u
  FROM d WHERE len(w) > 0
)
SELECT source, CAST(count(1) AS BIGINT) AS n_kept,
       CAST(sum(CAST(floor(q * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS quality_micro_sum,
       min(doc_id) AS min_doc_id
FROM scored WHERE u < q GROUP BY source
""",
    "q_sample_hash": f"""
SELECT source, CAST(count(1) AS BIGINT) AS n_sampled,
       round(avg(n_chars), 4) AS avg_chars,
       min(doc_id) AS min_doc_id
FROM documents
WHERE {_H_DOC} % 100 < {SAMPLE_PCT}
GROUP BY source
""",
    "q_stratified_sample": f"""
WITH h AS (
  SELECT doc_id, lang, source, {_H_DOC} AS hh FROM documents
), ranked AS (
  SELECT doc_id, lang, source,
         CAST(row_number() OVER (PARTITION BY lang, source
                                 ORDER BY hh ASC, doc_id ASC) AS INTEGER) AS rk
  FROM h
)
SELECT doc_id, lang, source, rk FROM ranked WHERE rk <= {STRATUM_K}
""",
    "q_split_assign": f"""
SELECT lang,
       CASE WHEN {_H_DOC} % 100 < 80 THEN 'train'
            WHEN {_H_DOC} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(1) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
""",
    "q_clean_pipeline": f"""
WITH scored AS (
  SELECT doc_id, lang, source, n_chars,
         len({_TOKS}) AS n_tokens,
         0.4 * (len(list_distinct({_TOKS}))::DOUBLE / len({_TOKS}))
       + 0.3 * least({stopword_count_sql(_TOKS)}::DOUBLE / len({_TOKS}) * 5, 1.0)
       + 0.3 * least(len({_TOKS})::DOUBLE / 100, 1.0) AS q,
         {hash60_sql("text")} AS text_hash
  FROM documents
), kept AS (
  SELECT * FROM scored WHERE q >= {QUALITY_T}
), rep AS (
  SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id ASC) AS rk
  FROM kept
)
SELECT lang, source, CAST(count(1) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(q), 6) AS avg_quality
FROM rep WHERE rk = 1
GROUP BY lang, source
""",
}

# curriculum-schedule oracle (r10): same stage boundaries (integer
# token counts — no float edges), same seeded-hash within-stage order,
# same row_number total order as global_row_numbers produces.
ORACLE["q_curriculum_order"] = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
         {hash60_sql(f"'{CURRICULUM_SEED}' || CAST(doc_id AS VARCHAR)")} AS k
  FROM documents
), staged AS (
  SELECT doc_id, n_tokens,
         CAST(least(n_tokens // {CURRICULUM_BUCKET_TOKENS},
                    {CURRICULUM_BUCKETS - 1}) AS INTEGER) AS stage,
         k
  FROM base
)
SELECT doc_id, n_tokens, stage,
       CAST(row_number() OVER (ORDER BY stage, k, doc_id) AS BIGINT)
         AS curriculum_pos
FROM staged
"""

# stride-interleave oracle (r10): same seeded within-source shuffle
# rank, same √(token-sum) weights, same IEEE j/w key (integer operands
# through correctly-rounded sqrt/divide ⇒ bit-identical doubles), same
# (key, source, within_rank) total order.
ORACLE["q_interleave_mixture"] = f"""
WITH d AS (
  SELECT doc_id, source, len({_TOKS}) AS n_tokens,
         {hash60_sql(f"'{IMIX_SEED}' || CAST(doc_id AS VARCHAR)")} AS k
  FROM documents
),
w AS (
  SELECT source, sqrt(CAST(sum(n_tokens) AS DOUBLE)) AS wt FROM d GROUP BY source
),
r AS (
  SELECT doc_id, source, k,
         CAST(row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS BIGINT)
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
