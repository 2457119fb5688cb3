"""Corpus-curation quality gates for LLM training-data pipelines
(north-star extension surface, round 2).

- q_quality_repetition — Gopher-style repetition rules (Rae et al.
  2021, "Scaling Language Models: Methods, Analysis & Insights from
  Training Gopher", App. A): top-token dominance and duplicate-bigram
  fraction, with per-source flag counts. These are the filters that
  remove boilerplate/spam loops from a web crawl.
- q_contamination — benchmark decontamination (the GPT-3 / Llama
  report methodology): fraction of each corpus document's word
  trigrams that appear in a held-out benchmark set; documents above
  the overlap threshold are flagged for removal so eval benchmarks
  don't leak into training data. The benchmark stand-in is the
  shingle set of doc_id < BENCH_DOCS (a real pipeline would load the
  actual benchmark suites through the same seam).

Scale notes: repetition metrics are one explode + two doc_id-keyed
aggregations (token top-count) plus map-only array HOFs (bigrams);
contamination is one explode + a BROADCAST membership join against
the benchmark shingle set (benchmarks are tiny by definition) + one
doc_id-keyed aggregation. Nothing shuffles more than one row per
(doc, gram), and thresholds are int-ratio comparisons — identical
double bits on both engines, no float-boundary ambiguity.

Reference connection: no equivalent in dhoard/orders-kafka-streams
(pure stream processor); SURVEY §2.9 commits to the curation family
for the 100 TB pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .presentation import cells_sorted

from ..functions.portable import hash60, hash60_sql
from ..functions.textfns import stopword_count, stopword_count_sql, tokens_sql
from ..session import write_once_per_session
from ..sources.tables import load_table
from .dedup import _SHINGLED_CTE, _shingled_cached
from .dedup import NGRAM_JACCARD_T as _NG_T
from .text import _tokenized

#: Gopher-style thresholds, tuned on the sf0.01 distribution so each
#: rule flags a non-trivial minority (dominance: 91/500, dup-bigram:
#: 28/500) — a threshold nothing crosses verifies nothing.
REP_DOMINANCE_T = 0.12
REP_DUP_BIGRAM_T = 0.08

BENCH_DOCS = 20  # doc_id < 20 stand in for the benchmark suite
CONTAM_OVERLAP_T = 0.05  # flags 144/480 at sf0.01


def _q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source repetition profile: top-token dominance (most frequent
    token count / n_tokens) and duplicate-bigram fraction
    (1 − distinct/total bigrams), plus how many docs either rule flags.

    Dominance needs a per-(doc, token) count — explode + two doc_id
    aggregations (partial map-side combine keeps the shuffle at one row
    per distinct (doc, token)); the bigram metric stays map-only via
    shifted-slice zip_with (never referencing the token array inside a
    lambda — the O(len²) trap, functions/textfns.py). Docs with fewer
    than 2 tokens are excluded explicitly on both engines.

    The DOC-level keep/drop twin is q_repetition_filter (text.py, r11):
    it cuts on positional occurrence COVERAGE (the published Gopher
    quantity) per document; this query is the cheap per-source
    monitoring rollup of the proxy signals."""
    base = _tokenized(spark, sf_dir, "source").filter(F.size("t") >= 2)
    t = F.col("t")
    n = F.size(t)
    m = n - 1
    bg = F.zip_with(
        F.slice(t, 1, m), F.slice(t, 2, m), lambda x, y: F.concat_ws(" ", x, y)
    )
    per_doc = base.select(
        "doc_id",
        "source",
        n.alias("n"),
        (1 - F.size(F.array_distinct(bg)) / F.size(bg).cast("double")).alias(
            "dup_bigram_frac"
        ),
    )
    top = (
        base.select("doc_id", F.explode(t).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    scored = per_doc.join(top, "doc_id").withColumn(
        "dominance", F.col("top_cnt") / F.col("n").cast("double")
    )
    flagged = (F.col("dominance") > REP_DOMINANCE_T) | (
        F.col("dup_bigram_frac") > REP_DUP_BIGRAM_T
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(flagged.cast("long")).alias("n_flagged"),
        F.round(F.avg("dominance"), 6).alias("avg_dominance"),
        F.round(F.avg("dup_bigram_frac"), 6).alias("avg_dup_bigram_frac"),
    )



def _q_corpus_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL modern curation funnel in one relation — extends the
    r9 capstone (q_clean_corpus: quality ∩ near-dup keep ∩
    decontamination → span excision → redaction) with the r11 gates a
    2023+ pipeline adds on top: the Gopher repetition filter
    (intra-doc boilerplate/loop spam the cross-doc dedup can't see)
    and the memorization-risk triage (docs with near-dup twins are the
    log-linear memorization drivers — the high tier is excluded from
    the shippable corpus rather than merely reported). One row per
    FINAL surviving doc with the capstone's surgery columns.

    Scale shape: two more doc_id-keyed semi/anti joins over relations
    that ride the SAME memoized artifacts the capstone already built
    (token projection, shingles, n-gram pairs, dup-span stats) — the
    funnel extension adds no new corpus pass.

    Reference connection: none in dhoard/orders-kafka-streams; SURVEY
    §2.9 extension surface (curation capstone family)."""
    from .dedup import QUERIES as _DQ2
    from .text import QUERIES as _TQ

    base = _q_clean_corpus(spark, sf_dir)
    rep_keep = (
        _TQ["q_repetition_filter"](spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    risky = (
        _DQ2["q_memorization_risk"](spark, sf_dir)
        .filter(F.col("risk") == "high")
        .select("doc_id")
    )
    return base.join(rep_keep, "doc_id", "semi").join(risky, "doc_id", "anti")


def _contam_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc benchmark-overlap fraction (doc_id, k, tot, overlap) for
    corpus docs with ≥1 trigram — shared by the per-source sweep and
    the end-to-end training-prep gate."""
    sh = _shingled_cached(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") < BENCH_DOCS)
        .select(F.explode("sh").alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = sh.filter((F.col("doc_id") >= BENCH_DOCS) & (F.col("sz") > 0)).select(
        "doc_id", F.explode("sh").alias("g")
    )
    return (
        corpus.join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).alias("k"),
            F.count(F.lit(1)).alias("tot"),
        )
        .withColumn("overlap", F.col("k") / F.col("tot").cast("double"))
    )


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination sweep: for every corpus doc (doc_id ≥
    BENCH_DOCS, ≥1 trigram), the fraction of its distinct word trigrams
    that appear anywhere in the benchmark set's trigrams; per source,
    how many docs exceed the overlap threshold. Reuses the persisted
    hashed-shingle relation (dedup._shingled_cached) — membership over
    60-bit hashes matches the oracle's identical hashing."""
    per_doc = _contam_per_doc(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return per_doc.join(src, "doc_id").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("overlap") >= CONTAM_OVERLAP_T).cast("long")).alias(
            "n_contaminated"
        ),
        F.round(F.avg("overlap"), 6).alias("avg_overlap"),
    )



#: classifier threshold sweep: the candidate margin cuts a pipeline
#: owner reads before picking the quality gate (the FineWeb-Edu-style
#: "choose the score threshold from the keep-rate/diversity trade"
#: table). Literal 1-decimal values — exact on both engines.
CLS_SWEEP_CUTS = (-1.0, -0.5, 0.0, 0.5, 1.0)


def _q_classifier_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate calibration table: for each candidate margin cut,
    the corpus that would survive — docs kept, keep fraction, mean
    kept margin, and how many SOURCES still contribute at least one
    document (the collateral-damage signal: an aggressive cut that
    silently zeroes a source is how mixture bugs ship). One row per
    cut; the q_quality_classifier gate is the CLS_SWEEP_CUTS[2] = 0.0
    row of this table.

    Scale shape: the corpus is scored ONCE (the shared linear head —
    scan-level, no Python); the |cuts| fan-out happens on the SCORED
    projection via a literal array explode (constant multiplier on a
    3-column relation, not on text), and each cut aggregates to one
    row + an O(sources) distinct. Rounding: margins are already
    6-dp-rounded by the shared head; the threshold compare happens on
    the rounded value on BOTH engines, so no boundary ambiguity.

    Reference connection: none in dhoard/orders-kafka-streams; SURVEY
    §2.9 extension surface (curation / quality family)."""
    base = _tokenized(spark, sf_dir, "source").filter(F.size("t") > 0)
    scored = classifier_scores(base).select("doc_id", "source", "margin")
    cuts = F.array(*[F.lit(c) for c in CLS_SWEEP_CUTS])
    fan = scored.select(
        "doc_id", "source", "margin", F.explode(cuts).alias("cut")
    )
    n_total = scored.count()
    return (
        fan.filter(F.col("margin") > F.col("cut"))
        .groupBy("cut")
        .agg(
            F.count(F.lit(1)).alias("n_keep"),
            F.round(F.count(F.lit(1)) / F.lit(float(n_total)), 6).alias("keep_frac"),
            F.round(F.avg("margin"), 6).alias("avg_kept_margin"),
            F.count_distinct("source").alias("n_sources_surviving"),
        )
        .transform(cells_sorted, "cut")  # <= |sweep cuts| rows
    )


#: fixed public weights of the linear quality head (fasttext-style):
#: (uniq_ratio, capped stopword signal, capped length, mean-token-len
#: penalty, bias). Chosen so both classes are non-trivially populated
#: at sf0.01 (~37% keep) — a decision nothing crosses verifies nothing.
CLS_W = (2.0, 1.5, 1.0, -0.5, -1.5)


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring with a LINEAR head: margin = w·x + b
    over cheap per-doc features, keep = margin > 0. The linear form is
    deliberate twice over: (a) at 100 TB a scan-bounded, codegen'd
    scorer (no Python, no shuffle) is how corpus-wide quality gates
    actually run — a fasttext-style linear model over char/word
    features is the published C4/CCNet recipe; (b) it keeps the margin
    float-exact across engines (+,×,÷ on identical operand order are
    IEEE-deterministic; a sigmoid's exp() is not), so the oracle can
    hash-match decisions, not just counts. Monotone in the same
    direction as the sigmoid it replaces — decisions are identical to
    thresholding the sigmoid at 0.5."""
    base = _tokenized(spark, sf_dir, "source").filter(F.size("t") > 0)
    return classifier_scores(base)


def classifier_scores(base: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """The linear-head scoring over a (doc_id, source, t) relation —
    shared by the batch gate and the streaming twin (which tokenizes
    arriving micro-batches with the same expressions, so batch and
    stream decisions are bit-identical). ``extra`` names passthrough
    columns of ``base`` to carry alongside the scores (q_roc_auc
    threads the label column through instead of re-joining on
    doc_id — one less shuffle)."""
    w_uniq, w_sw, w_len, w_ml, bias = CLS_W
    t = F.col("t")
    n = F.size(t)
    uniq_r = F.size(F.array_distinct(t)).cast("double") / n
    sw_r = stopword_count(t).cast("double") / n
    len_n = F.least(n.cast("double") / 200.0, F.lit(1.0))
    ml = (
        F.aggregate(
            F.transform(t, lambda x: F.length(x).cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / n
        / F.lit(10.0)
    )
    margin = (
        F.lit(w_uniq) * uniq_r
        + F.lit(w_sw) * F.least(sw_r * 5, F.lit(1.0))
        + F.lit(w_len) * len_n
        + F.lit(w_ml) * ml
        + F.lit(bias)
    )
    return base.select(
        "doc_id",
        "source",
        *extra,
        F.round(margin, 6).alias("margin"),
        (margin > 0).alias("keep"),
    )


def _q_prepare_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data preparation in ONE lazy plan — the
    capstone composition of the curation surface: model quality gate
    (linear classifier margin > 0) ∩ near-dup corpus keep (cluster
    min-id) ∩ benchmark decontamination (trigram overlap < threshold,
    docs without trigrams pass trivially — stated policy) → overlap
    chunking into training windows → leak-proof hash split. Output one
    row per training chunk: (doc_id, source, split, chunk_idx,
    chunk_tokens).

    Scale story: the gate composition lives in ONE place
    (:func:`clean_survivors`, session-memoized and shared with the
    q_clean_corpus capstone — r9 review finding: the block had been
    duplicated); this query semi-joins the tokenized relation against
    that survivor set (no row explosion before chunking), and the
    split is the append-stable hash predicate — the whole
    corpus-to-chunks path is one semi-join over a memoized relation +
    one map-side explode at 100 TB."""
    base = _tokenized(spark, sf_dir, "source").filter(
        (F.size("t") > 0) & (F.col("doc_id") >= BENCH_DOCS)
    )
    survivors = base.join(
        clean_survivors(spark, sf_dir).select("doc_id"), "doc_id", "semi"
    )
    n = F.size("t")
    n_chunks = (
        F.when(n <= CHUNK_TOKENS, F.lit(1))
        .otherwise(F.ceil((n - CHUNK_TOKENS) / F.lit(CHUNK_STRIDE).cast("double")) + 1)
        .cast("int")
    )
    bucket = hash60(F.col("doc_id")) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    chunks = survivors.select(
        "doc_id",
        "source",
        split.alias("split"),
        n.alias("n_tokens"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE
    return chunks.select(
        "doc_id",
        "source",
        "split",
        "chunk_idx",
        F.least(F.lit(CHUNK_TOKENS), F.col("n_tokens") - start).alias("chunk_tokens"),
    )


CHUNK_TOKENS = 32  # sized to the corpus (docs run ~10-100 tokens) so
CHUNK_STRIDE = 24  # multi-chunk docs actually occur — 8-token overlap
PACK_BUDGET = 2048  # tokens per packed training sequence


def _q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window chunking: split every document into fixed
    CHUNK_TOKENS-token windows advancing by CHUNK_STRIDE (the standard
    overlap chunking before tokenizer packing) and MATERIALIZE one row
    per chunk with its token span. Map-only: chunk indices come from a
    sequence+explode over per-doc arithmetic — no shuffle at all, which
    is exactly what a 100 TB chunker must be. The final chunk is the
    remainder window clamped to the doc end."""
    base = _tokenized(spark, sf_dir, "source").filter(F.size("t") > 0)
    n = F.size("t")
    n_chunks = (
        F.when(n <= CHUNK_TOKENS, F.lit(1))
        .otherwise(F.ceil((n - CHUNK_TOKENS) / F.lit(CHUNK_STRIDE).cast("double")) + 1)
        .cast("int")
    )
    chunks = base.select(
        "doc_id", "source", n.alias("n_tokens"), n_chunks.alias("n_chunks")
    ).select(
        "doc_id",
        "source",
        "n_tokens",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE
    return chunks.select(
        "doc_id",
        "source",
        "chunk_idx",
        (start + 1).alias("tok_start"),  # 1-based inclusive span
        F.least(start + CHUNK_TOKENS, F.col("n_tokens")).alias("tok_end"),
    )


def _q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (in doc_id order WITHIN each
    source) to fixed token budgets of PACK_BUDGET via an exclusive
    running token count — the deterministic bin-by-cumsum packing that
    turns a corpus into equal-budget training sequences. Output: one
    row per (source, bin) with doc/token totals.

    Scale shape: ONE keyed window (partitionBy source, orderBy doc_id)
    then the groupBy reuses the same partitioning — packing is per
    source shard exactly as a production pipeline does it (a single
    global order would funnel the corpus through one partition).
    r11: the cumsum relation comes from the family-shared memo
    (:func:`_pack_cum`)."""
    return _pack_rollup(_pack_binned(spark, sf_dir, PACK_BUDGET))


def _pack_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tokens, cum_excl): the per-source exclusive
    token cumsum in doc_id order — ONE memo-persisted grouped two-pass
    prefix sum shared by the whole packing family (q_seq_pack,
    q_apply_packing, q_pack_mask_audit, q_pack_efficiency — each
    previously re-ran the identical prefix-sum ladder per execution;
    the bin boundary is a map-side floor over the cached cumsum, so
    even the two different budgets share it). Guide §5 reuse; the
    build cost lands in cold construction (the shared-index
    contract)."""
    from .sampling import global_prefix_sums
    from .stats import _ranked_memo

    def build(keep) -> DataFrame:
        base = _tokenized(spark, sf_dir, "source").filter(F.size("t") > 0)
        per_doc = base.select("doc_id", "source", F.size("t").alias("n_tokens"))
        return global_prefix_sums(
            per_doc,
            ["doc_id"],
            {"cum_excl": "n_tokens"},
            part=("source",),
            memo=keep,
        )

    return _ranked_memo(spark, sf_dir, "pack_cum", build)


def _pack_binned(spark: SparkSession, sf_dir: str, budget: int) -> DataFrame:
    """The shared cumsum with this budget's bin boundary applied."""
    return _pack_cum(spark, sf_dir).withColumn(
        "bin", F.floor(F.col("cum_excl") / budget).cast("long")
    )


def seq_pack(per_doc: DataFrame, budget: int) -> DataFrame:
    """Bin-by-exclusive-cumsum packing over any (doc_id, source,
    n_tokens) relation — see _q_seq_pack; fuzzed against a sequential
    reference in tests/test_curation.py.

    r7: the per-source exclusive token cumsum runs as the GROUPED
    distributed two-pass prefix sum (sampling.global_prefix_sums
    part=source) — the old per-source ordered window ranked
    O(docs/|sources|) raw doc rows in one task per source, the
    single-task-sort class the r6 verdict retired; token counts are
    integers, so the two-pass form is bit-identical to the window."""
    from .sampling import global_prefix_sums

    with_bin = global_prefix_sums(
        per_doc,
        ["doc_id"],
        {"cum_excl": "n_tokens"},
        part=("source",),
    ).withColumn(
        "bin",
        F.floor(F.col("cum_excl") / budget).cast("long"),
    )
    return _pack_rollup(with_bin)


def _pack_rollup(with_bin: DataFrame) -> DataFrame:
    """Per-(source, bin) packing summary over a binned cumsum
    relation — the shared tail of :func:`seq_pack` and the
    memo-backed query builders."""
    return with_bin.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _q_apply_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing APPLIED — materialize the training sequences q_seq_pack
    only plans: per (source, bin), the docs' token streams concatenate
    in doc_id order and TRUNCATE at the PACK_BUDGET context boundary
    (cumsum packing never pads, so truncation is the loss mode —
    q_pack_efficiency measures it, this ships it). One row per packed
    sequence: (source, bin, n_docs, raw_tokens, seq_tokens, seq_text)
    — completing the r9 detect → report → APPLY theme for the packing
    family.

    Scale shape: bin assignment is the same grouped two-pass prefix
    sum as q_seq_pack (no per-source window); the assembly groupBy
    collects per-bin structs whose total size is bounded by
    PACK_BUDGET + one overflowing doc — a CONSTANT per group however
    large the corpus — and the concat/slice/join run as codegen array
    HOFs, no Python.

    Reference connection: none in dhoard/orders-kafka-streams; SURVEY
    §2.9 extension surface (curation/compression family)."""
    # r11: the cumsum + bin come from the family-shared memo
    # (_pack_cum) — only the token-stream join and assembly run here
    base = _tokenized(spark, sf_dir, "source").filter(F.size("t") > 0)
    with_bin = _pack_binned(spark, sf_dir, PACK_BUDGET)
    joined = with_bin.join(base.select("doc_id", "t"), "doc_id")
    toks = F.flatten(
        F.transform(F.array_sort(F.collect_list(F.struct("doc_id", "t"))), lambda s: s["t"])
    )
    grouped = joined.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("raw_tokens"),
        toks.alias("toks"),
    )
    return grouped.select(
        "source",
        "bin",
        "n_docs",
        "raw_tokens",
        F.least(F.col("raw_tokens"), F.lit(PACK_BUDGET)).cast("long").alias("seq_tokens"),
        F.array_join(F.slice("toks", 1, PACK_BUDGET), " ").alias("seq_text"),
    )


#: shard fan-out for the materialized sequence shards — sized so the
#: sf0.01 corpus (~10² packed sequences) still puts >1 sequence per
#: shard; a production run sets this to the reader's parallelism.
SEQ_SHARDS = 8


def packed_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PLANNED shard relation — q_apply_packing's training
    sequences composed with q_global_shuffle's deterministic
    permutation (seeded hash order over seq_key = source#bin): one row
    per packed sequence with its (shard, pos_in_shard) assignment,
    shards being CONTIGUOUS equal blocks of the permuted order. This is
    exactly what a 1000-executor shard writer materializes; kept as a
    separate function so the write path and the re-read equality test
    (tests/test_write_shards.py) share one definition."""
    from .sampling import global_shuffle

    packed = _q_apply_packing(spark, sf_dir).withColumn(
        "seq_key", F.concat("source", F.lit("#"), F.col("bin").cast("string"))
    )
    perm = global_shuffle(
        packed.select(F.col("seq_key").alias("doc_id")), SEQ_SHARDS
    ).select(
        F.col("doc_id").alias("seq_key"), "shuffle_pos", "shard", "pos_in_shard"
    )
    return packed.join(perm, "seq_key")


def materialized_shard_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write the planned shards to parquet (one directory per shard,
    rows sorted by pos_in_shard) ONCE per Spark application
    (:func:`..session.write_once_per_session`) and return the directory.

    Scale shape of the write: one hash exchange on shard (SEQ_SHARDS
    writer tasks, each streaming its sorted block straight to its
    partition directory); everything upstream is the packing + two-pass
    permutation plan. At 100 TB the only change is SEQ_SHARDS."""

    def write(out: str) -> None:
        (
            packed_shard_plan(spark, sf_dir)
            .repartition("shard")
            .sortWithinPartitions("pos_in_shard")
            .write.mode("append")
            .partitionBy("shard")
            .parquet(out)
        )

    return write_once_per_session(spark, "okss-shards", sf_dir, write)


def _q_write_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard write MATERIALIZED and audited (VERDICT r9 item 5 — the
    last unmaterialized step between q_clean_corpus and a training
    job): the packed training sequences are permuted by the global
    shuffle, written as parquet one directory per contiguous shard
    block, then READ BACK from disk and re-aggregated — so the
    correctness hash certifies the write→read round trip, not just the
    plan. Per shard: sequence/doc/token accounting, the block extent
    (max_pos), an ORDER checksum (Σ (pos mod M31)·hash31(seq_key)
    mod M31 — any permutation drift, drop, or duplicate moves it) and
    a CONTENT checksum (Σ hash31(seq_text) mod M31 — any payload
    corruption moves it); both reduced modularly on BOTH engines so
    the audit stays exact at any corpus size (r10 advice).
    The DuckDB oracle recomputes all of it from the raw documents
    table: packing, permutation, block assignment, both checksums.

    Scale shape: the write is one exchange (see
    :func:`materialized_shard_dir`); the audit is a scan of the
    written files + one SEQ_SHARDS-row aggregate.

    Reference connection: none in dhoard/orders-kafka-streams; SURVEY
    §2.9 extension surface (curation / shard layout capstone)."""
    from ..functions.portable import MERSENNE31

    out = materialized_shard_dir(spark, sf_dir)
    rd = spark.read.parquet(out)
    return (
        rd.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("raw_tokens").alias("raw_tokens"),
            F.sum("seq_tokens").alias("seq_tokens"),
            F.max("pos_in_shard").alias("max_pos"),
            # checksums are MODULAR (r10 advice): each term is reduced
            # mod M31 before the multiply (product bounded by 2^62 —
            # inside int64 on both engines) and the SUM accumulates as
            # a 38-digit decimal (DuckDB's sum(BIGINT) widens to
            # HUGEINT the same way) before the final mod — so the
            # audit is exact at ANY corpus size, instead of Spark
            # wrapping silently and DuckDB raising once a shard holds
            # a few hundred thousand packed sequences.
            (
                F.sum(
                    (
                        (F.col("pos_in_shard") % MERSENNE31)
                        * (hash60(F.col("seq_key")) % MERSENNE31)
                    ).cast("decimal(38,0)")
                )
                % MERSENNE31
            ).cast("long").alias("order_checksum"),
            (
                F.sum((hash60(F.col("seq_text")) % MERSENNE31).cast("decimal(38,0)"))
                % MERSENNE31
            ).cast("long").alias("content_checksum"),
        )
        .orderBy("shard")
    )


PACK_AUDIT_BUDGET = 256  # audit at a context length the sf0.01 corpus actually fills



def _q_pack_mask_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document attention accounting for the packed training
    layout — the measurement behind "packed training needs document
    masking" (the attention_mask / position-ids reset every SFT and
    pretraining framework implements): inside a packed sequence of
    docs with lengths l_1..l_k, causal attention without a doc mask
    lets T² − Σl_i² of the T² token pairs cross a document boundary
    (ordered pairs; the within-doc block diagonal is Σl_i²). Per
    source: bins, packed tokens, the token-pair CROSS fraction
    Σ_bins(T_b² − Σl_i²) / Σ_bins T_b², and the worst single bin — the
    numbers that decide whether a pipeline can skip masking (pure
    integer arithmetic up to the final division, exact on both
    engines).

    Scale shape: rides the same grouped two-pass packing prefix sum as
    q_seq_pack; the audit aggregates (source, bin) cells — integer
    sums of squares, no pairwise anything, O(docs) total.

    Reference connection: none in dhoard/orders-kafka-streams; SURVEY
    §2.9 extension surface (curation / packing family)."""
    # r11: the cumsum + bin come from the family-shared memo (_pack_cum)
    binned = _pack_binned(spark, sf_dir, PACK_BUDGET)
    cells = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("t"),
        F.sum(F.col("n_tokens") * F.col("n_tokens")).alias("sq"),
    )
    cross = F.col("t") * F.col("t") - F.col("sq")
    return cells.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("t").alias("packed_tokens"),
        F.round(
            F.sum(cross) / F.sum(F.col("t") * F.col("t")), 6
        ).alias("cross_pair_frac"),
        F.round(F.max(cross / (F.col("t") * F.col("t"))), 6).alias(
            "worst_bin_cross_frac"
        ),
    )


def _q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over the seq-pack layout: per source,
    the OVERFLOW fraction of its PACK_AUDIT_BUDGET training sequences —
    cumsum packing never pads (each bin runs to at least the budget),
    so the loss mode is TRUNCATION: tokens past the context boundary
    in an overflowing bin are cut at training time. overflow_frac is
    the fraction of the budget that would be truncated per closed bin;
    with docs_per_bin it decides whether the pipeline needs document
    CHUNKING before packing or a bigger context. The last (open) bin
    per source is excluded.

    Scale shape: a per-(source, bin) re-aggregation of the packing
    relation — bin cells, not documents, in the shuffle."""
    # r11: the audit budget's bins derive from the SAME family-shared
    # cumsum memo (_pack_cum) — the boundary is a map-side floor
    packed = _pack_rollup(_pack_binned(spark, sf_dir, PACK_AUDIT_BUDGET))
    last = packed.groupBy("source").agg(F.max("bin").alias("last_bin"))
    closed = packed.join(F.broadcast(last), "source").filter(F.col("bin") < F.col("last_bin"))
    return closed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_full_bins"),
        F.round(
            F.avg(
                F.greatest(F.col("total_tokens") - PACK_AUDIT_BUDGET, F.lit(0))
                / float(PACK_AUDIT_BUDGET)
            ),
            4,
        ).alias("overflow_frac"),
        F.round(F.avg("n_docs"), 2).alias("docs_per_bin"),
        F.max("total_tokens").alias("max_bin_tokens"),
    )


MIX_BUDGET_FRAC = 0.5  # target corpus share after temperature mixing


def _q_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language mixing — the multilingual-LM
    upsampling rule (weight ∝ tokens^α, α = 0.5): rare languages keep a
    larger fraction of their documents than dominant ones when packing
    a fixed training budget (at sf0.01: en keeps 35%, the four small
    langs ~60%). α is fixed at 0.5 so the weight is ``sqrt`` — IEEE-754
    correctly-rounded and therefore bit-identical across engines,
    unlike ``pow(x, 0.7)`` whose libm implementations differ in the
    last bit (a parity hazard for the data-dependent rate threshold).

    rate_l = min(1, w_l · BUDGET / tokens_l) rounded to 6 decimals on
    both engines; each doc keeps deterministically via the 1e-6-grid
    hash against its language's rate — reproducible, join-free at the
    doc level (the 5-row rate table broadcasts)."""
    base = _tokenized(spark, sf_dir, "lang").filter(F.size("t") > 0)
    per_doc = base.select("doc_id", "lang", F.size("t").alias("n"))
    stats = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n").alias("toks")
    )
    totals = stats.agg(
        F.sum(F.sqrt(F.col("toks"))).alias("z"), F.sum("toks").alias("total")
    )
    rates = (
        stats.crossJoin(F.broadcast(totals))
        .withColumn(
            "rate",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.sqrt(F.col("toks"))
                    / F.col("z")
                    * MIX_BUDGET_FRAC
                    * F.col("total")
                    / F.col("toks"),
                ),
                6,
            ),
        )
        .select("lang", "rate")
    )
    u = (hash60(F.col("doc_id")) % 1_000_000).cast("double") / 1_000_000.0
    kept = per_doc.join(F.broadcast(rates), "lang").filter(u < F.col("rate"))
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n").alias("kept_tokens"),
        F.min("rate").alias("rate"),
    )


DSIR_BUCKETS = 256  # hashed n-gram feature space (DSIR §2.2)


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): model the TARGET distribution (here the English
    subset — the canonical "select data that looks like my target
    domain" use) and the RAW pool as bag-of-hashed-n-gram generative
    models over DSIR_BUCKETS buckets, then score every document with
    its log importance weight Σ_features [log p_target(b) −
    log p_raw(b)] (Laplace-smoothed). Documents scoring > 0 look more
    target-like than pool-like — `selected` is the resampling
    keep-set a curation pipeline feeds the sampler.

    Scale shape: features are unigrams + positional bigrams hashed to
    a FIXED bucket space, so both models are DSIR_BUCKETS-row
    relations built with one partial-aggregated corpus pass and
    broadcast back onto the feature stream; per-doc scoring shuffles
    only doc_id-keyed partials. Log-ratio sums are rounded in-query
    (the unigram-logprob portability policy)."""
    cells = _dsir_cells(spark, sf_dir)
    is_t = (F.col("lang") == "en").cast("long")
    cnt = cells.groupBy("b").agg(
        F.sum("n").alias("cr"), F.sum(is_t * F.col("n")).alias("ct")
    )
    # (r11 attempt, REVERTED on measurement: deriving the totals from
    # ``cnt`` re-planned the groupBy(b) exchange subtree instead of
    # this flat cached-cells aggregate — 1.3-1.45 → 1.5-2.0 s A/B)
    tot = cells.agg(
        F.sum("n").alias("raw_tot"), F.sum(is_t * F.col("n")).alias("tgt_tot")
    )
    ratio = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + 1.0) / (F.col("tgt_tot") + DSIR_BUCKETS))
            - F.log((F.col("cr") + 1.0) / (F.col("raw_tot") + DSIR_BUCKETS))
        ).alias("lr"),
    )
    return (
        cells.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_feats"),
            F.round(F.sum(F.col("n") * F.col("lr")), 4).alias("log_weight"),
        )
        .withColumn("selected", F.col("log_weight") > 0)
    )


def _dsir_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc hashed-feature bucket counts (doc_id, lang, b, n) —
    computed ONCE and session-persisted: the naive form re-ran the
    feature explode + portable md5 hash for each of the three consumers
    (bucket counts, totals, per-doc scoring), which was the whole cost
    (26 s at sf1 → the cells relation is ≤ docs × DSIR_BUCKETS rows and
    every consumer is a cell aggregation)."""
    from ..functions.textfns import shingle_seq, tokens
    from .dedup import _memo_persist

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        t = tokens(F.col("text"))
        feats_arr = F.concat(t, shingle_seq(t, 2))
        return (
            docs.select("doc_id", "lang", F.explode(feats_arr).alias("ft"))
            .withColumn("b", F.pmod(hash60(F.col("ft")), F.lit(DSIR_BUCKETS)))
            .groupBy("doc_id", "lang", "b")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    return _memo_persist(spark, sf_dir, "dsir_cells", build)


def _gate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE memo-persisted per-candidate-doc gate-verdict relation
    shared by q_drop_ledger and q_mixture_manifest: (doc_id, source,
    n_tok, margin, keep_q, keep_d, is_ct) — the three content-gate
    verdicts attached to the candidate base by doc_id-keyed left
    joins, built once per (application, sf_dir).

    r11 (guide §5 reuse): q_drop_ledger re-ran the three gate joins on
    every execution while the manifest memoized only their
    CONJUNCTION under a private tag; persisting the individual
    booleans lets both queries read one cached pass (each derives its
    own verdict map-side), and the build cost lands in cold
    construction where the bench's contract puts shared-index builds."""
    from .dedup import QUERIES as _DQ
    from .dedup import _memo_persist

    def build() -> DataFrame:
        base = _tokenized(spark, sf_dir, "source").filter(
            (F.size("t") > 0) & (F.col("doc_id") >= BENCH_DOCS)
        )
        raw = base.select("doc_id", "source", F.size("t").alias("n_tok"))
        cls = _q_quality_classifier(spark, sf_dir).select(
            "doc_id", "margin", F.col("keep").alias("keep_q")
        )
        dk = _DQ["q_dedup_keep"](spark, sf_dir).select(
            "doc_id", F.col("keep").alias("keep_d")
        )
        ct = (
            _contam_per_doc(spark, sf_dir)
            .filter(F.col("overlap") >= CONTAM_OVERLAP_T)
            .select("doc_id", F.lit(True).alias("is_ct"))
        )
        return (
            raw.join(cls, "doc_id", "left")
            .join(dk, "doc_id", "left")
            .join(ct, "doc_id", "left")
        )

    return _memo_persist(spark, sf_dir, "gate_flags", build)


def _q_drop_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-attribution ledger — "where did my data go?": for every
    candidate training doc, WHICH of q_prepare_training's three gates
    (model quality, near-dup canonical-keep, benchmark contamination)
    would remove it, rolled up per (source, verdict). The capstone
    reports only survivors; curation decisions need the complement
    attributed — a source whose drops are mostly 'dedup' needs a
    different fix than one failing 'quality', and multi-gate drops
    ('quality+dedup') say the gates overlap rather than compose.

    Scale shape: rides the SAME memoized relations the capstone
    uses (token cache, shingle pass, near-dup pair relation) — the
    three verdict joins are doc_id-keyed onto slim flag projections,
    and the rollup shuffles (source, verdict) cells. Verdict labels
    are a fixed-order concat, so the relation is deterministic.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (curation family).

    r11: the three verdict joins now live in the shared memo-persisted
    :func:`_gate_flags` relation (one cached pass for this query AND
    q_mixture_manifest); this query is a map-side verdict projection +
    the (source, verdict) rollup over it."""
    j = _gate_flags(spark, sf_dir)
    fq = F.coalesce(~F.col("keep_q"), F.lit(False))
    fd = F.coalesce(~F.col("keep_d"), F.lit(False))
    fc = F.coalesce(F.col("is_ct"), F.lit(False))
    verdict = F.when(
        ~(fq | fd | fc), F.lit("kept")
    ).otherwise(
        F.concat_ws(
            "+",
            F.when(fq, "quality"),
            F.when(fd, "dedup"),
            F.when(fc, "contam"),
        )
    )
    return (
        j.select("source", verdict.alias("verdict"))
        .groupBy("source", "verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .transform(cells_sorted, "source", "verdict")  # source x verdict cells
    )


SOURCE_QUOTA = 15  # per-source cap: 20 sources × 25 docs at sf0.01 — binds everywhere


def _q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota — the Dolma / RefinedWeb mixing cap:
    every source contributes at most SOURCE_QUOTA documents, chosen by
    model-quality margin (classifier linear head) descending, doc_id
    tie-break. Uncapped web mixes let one dominant crawl drown the
    curated sources; the per-source cap is how published pipelines
    enforce the mixture BEFORE token-level weighting (DSIR) runs.
    Output: one row per KEPT doc (doc_id, source, margin, src_rank).

    Scale shape: the within-source quality rank is the GROUPED
    distributed two-pass prefix sum of ones (global_prefix_sums
    part=source, key=(margin DESC, doc_id)) — a plain
    ``row_number() OVER (PARTITION BY source)`` funnels each source's
    entire corpus slice through ONE task (sources number in the tens
    at 100 TB, so that is a ~5 TB single-task sort), the exact class
    the r6/r7 verdicts retired. The two-pass form ranks in n_parts
    concurrent range partitions; the quota filter is map-side.
    Integer prefix of ones ⇒ bit-identical to the window's rank.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (curation / sampling family).
    """
    from .dedup import _memo_persist
    from .sampling import global_prefix_sums

    base = _tokenized(spark, sf_dir, "source").filter(F.size("t") > 0)
    scored = classifier_scores(base).select(
        "doc_id", "source", "margin", F.lit(1).alias("_one")
    )
    ranked = global_prefix_sums(
        scored,
        [F.desc("margin"), F.asc("doc_id")],
        {"rk0": "_one"},
        part=("source",),
        memo=lambda build: _memo_persist(spark, sf_dir, "source_quota:ranked", build),
    )
    return (
        ranked.select(
            "doc_id",
            "source",
            "margin",
            (F.col("rk0") + 1).cast("long").alias("src_rank"),
        )
        .filter(F.col("src_rank") <= SOURCE_QUOTA)
    )


MANIFEST_QUOTA = 5  # post-gate per-source cap: survivors run 1-11/source at sf0.01


def _q_mixture_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-mixture DATASHEET — the per-source accounting table
    every training run publishes: raw candidate docs/tokens, survivors
    of the three content gates (quality ∩ near-dup keep ∩
    decontamination), the post-gate per-source quota cut, and each
    source's FINAL token share of the mixture. q_drop_ledger answers
    'why did docs drop'; this answers 'what does the mixture actually
    look like' — the number that goes in the model card.

    Scale shape: rides the SAME memoized relations as the capstone
    (token cache, near-dup keep, contamination flags); the gates
    compose as doc_id-keyed semi/anti joins; the post-gate quota rank
    is the GROUPED two-pass prefix sum of ones over survivors (never
    a PARTITION BY source window); the three per-source rollups are
    |sources|-cell aggregations and the share denominator attaches as
    a 1-row broadcast.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (curation family).
    """
    from .dedup import _memo_persist
    from .sampling import global_prefix_sums

    # ONE shared flags relation (also q_drop_ledger's source) feeds
    # the raw rollup AND the survivor subset — one persisted pass
    # instead of three parallel gate pipelines; the conjunction is a
    # map-side projection over the cached rows (r11: the private
    # "manifest:flags" memo merged into _gate_flags)
    gated_flag = (
        F.coalesce("keep_q", F.lit(False))
        & F.coalesce("keep_d", F.lit(False))
        & ~F.coalesce("is_ct", F.lit(False))
    )
    flags = _gate_flags(spark, sf_dir).select(
        "doc_id", "source", "n_tok", "margin", gated_flag.alias("_gated")
    )
    ranked = global_prefix_sums(
        flags.filter(F.col("_gated")).withColumn("_one", F.lit(1)),
        [F.desc("margin"), F.asc("doc_id")],
        {"rk0": "_one"},
        part=("source",),
        memo=lambda build: _memo_persist(spark, sf_dir, "manifest:ranked", build),
    )
    final = ranked.filter(F.col("rk0") + 1 <= MANIFEST_QUOTA)
    per_src = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum("n_tok").alias("tok_raw"),
        F.count(F.when(F.col("_gated"), 1)).alias("n_gated"),
    )
    per_final = final.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_final"), F.sum("n_tok").alias("tok_final")
    )
    # r11 (guide §1.2): the share normalizer is a global window sum
    # over the ≤|sources|-row JOINED rollup (window sum skips the
    # left-join NULLs exactly like the old scalar agg did) — the
    # separate tot job re-aggregated the ranked/final subtree once
    # more per execution
    from pyspark.sql import Window

    _wtot = Window.partitionBy()
    return (
        per_src.join(per_final, "source", "left")
        .withColumn("_tot", F.sum("tok_final").over(_wtot))
        .select(
            "source",
            "n_raw",
            "tok_raw",
            "n_gated",
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
            F.coalesce("tok_final", F.lit(0)).alias("tok_final"),
            F.round(
                F.coalesce("tok_final", F.lit(0)) / F.col("_tot"), 6
            ).alias("share_final"),
        )
        .transform(cells_sorted, "source")  # <= |sources| rows
    )


def _q_apply_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL benchmark decontamination APPLIED: excise every
    maximal token span of a training doc whose every token lies inside
    an EXSUB_L-token window that appears VERBATIM in the benchmark
    suite — the surgical alternative to q_contamination's doc-level
    drop (dropping a 2k-token doc for one leaked benchmark sentence
    wastes the other 95%; Lee et al. 2022's ExactSubstr machinery
    pointed at a reference set instead of the corpus itself). Output:
    (doc_id, clean_text, removed_tokens, removed_chars) for every
    corpus doc — untouched docs pass through with removed = 0.
    tests/test_apply_packing.py pins the closure: after surgery no
    corpus doc shares an L-window with the benchmark.

    Scale shape: the benchmark window set is doc_id < BENCH_DOCS rows
    of the SAME memoized positional relation q_exact_substrings built
    (no second tokenize/hash pass); corpus positions equality-join
    that set (benchmark-sized, broadcastable at any corpus scale),
    runs merge per-doc, and the surgery is the shared
    apply_excision_of join — nothing pairwise, the corpus never
    self-joins.

    Reference connection: none in dhoard/orders-kafka-streams; SURVEY
    §2.9 extension surface (curation/decontamination family —
    completes detect (q_contamination) → APPLY)."""
    from .dedup import _exsub_pos, apply_excision_of, exact_substring_spans

    pos = _exsub_pos(spark, sf_dir)
    bench_windows = (
        pos.filter(F.col("doc_id") < BENCH_DOCS).select("g").distinct()
    )
    corpus_pos = pos.filter(F.col("doc_id") >= BENCH_DOCS)
    spans = exact_substring_spans(corpus_pos, bench_windows)
    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= BENCH_DOCS)
        .select("doc_id", "text")
    )
    return apply_excision_of(corpus, spans)


def _q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHIPPABLE cleaned corpus — the r9 capstone completing
    detect → report → APPLY at corpus level: the doc-level gates
    (classifier margin ∩ near-dup keep ∩ decontamination — exactly
    q_prepare_training's survivor set) select WHICH docs ship, then
    the TEXT-level surgeries rewrite what ships: exact-substring span
    excision (dedup.apply_excision_of against the corpus-wide
    duplicated-window set) followed by PII redaction (the privacy
    family's pattern chain over the PII fixture stream — the fixture
    keeps redaction non-vacuous on synthetic data; swap the
    augmentation for the raw column in production). One row per
    surviving doc: (doc_id, source, final_text, n_tokens_final,
    removed_tokens, n_redactions).

    Scale shape: the gates are 2 semi-joins + 1 anti-join on doc_id
    over memoized relations (token cache, near-dup pair relation,
    contamination cells); the surgery adds one doc-keyed span fold +
    LEFT join (apply_excision_of); redaction is map-only regex in the
    same stage — no row explosion anywhere, the corpus text crosses
    the wire once.

    Reference connection: none in dhoard/orders-kafka-streams; SURVEY
    §2.9 extension surface (curation capstone family)."""
    from .dedup import _exsub_pos, _exsub_shared, exact_substring_spans

    survivors = clean_survivors(spark, sf_dir)
    spans = exact_substring_spans(_exsub_pos(spark, sf_dir), _exsub_shared(spark, sf_dir))
    return surgery_and_redact(survivors, spans)


def clean_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone's survivor relation (doc_id, source, text) —
    session-memoized: the batch capstone consumes it once, the
    streaming twin's admission gate probes it every micro-batch and
    must not re-run the gate joins per trigger."""
    from .dedup import QUERIES as _DQ
    from .dedup import _memo_persist
    from ..functions.textfns import tokens

    def build() -> DataFrame:
        cls_keep = (
            _q_quality_classifier(spark, sf_dir).filter(F.col("keep")).select("doc_id")
        )
        dedup_keep = (
            _DQ["q_dedup_keep"](spark, sf_dir).filter(F.col("keep")).select("doc_id")
        )
        contaminated = (
            _contam_per_doc(spark, sf_dir)
            .filter(F.col("overlap") >= CONTAM_OVERLAP_T)
            .select("doc_id")
        )
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
        return (
            docs.filter(
                (F.col("doc_id") >= BENCH_DOCS) & (F.size(tokens(F.col("text"))) > 0)
            )
            .join(cls_keep, "doc_id", "semi")
            .join(dedup_keep, "doc_id", "semi")
            .join(contaminated, "doc_id", "anti")
        )

    return _memo_persist(spark, sf_dir, "clean_survivors", build)


def surgery_and_redact(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Text-level APPLY stage shared by the batch capstone and its
    streaming twin: excise the given spans from (doc_id, source,
    text), then run the privacy family's fixture augmentation +
    redaction chain — see _q_clean_corpus for semantics."""
    from .dedup import apply_excision_of
    from .privacy import pii_augmented_text, redaction_cols

    cleaned = apply_excision_of(
        docs.select("doc_id", "text"), spans, keep_token_count=True
    )
    base = (
        docs.join(
            cleaned.select("doc_id", "clean_text", "removed_tokens", "kept_tokens"),
            "doc_id",
        )
        .select(
            "doc_id",
            "source",
            F.col("kept_tokens").alias("n_tokens_final"),
            "removed_tokens",
            F.col("clean_text").alias("text"),
        )
    )
    aug = base.withColumn("text", pii_augmented_text())
    red, n_red = redaction_cols()
    return aug.select(
        "doc_id",
        "source",
        red.alias("final_text"),
        "n_tokens_final",
        "removed_tokens",
        n_red.cast("long").alias("n_redactions"),
    )


QUERIES = {
    "q_drop_ledger": _q_drop_ledger,
    "q_mixture_manifest": _q_mixture_manifest,
    "q_clean_corpus": _q_clean_corpus,
    "q_corpus_final": _q_corpus_final,
    "q_apply_decontamination": _q_apply_decontamination,
    "q_source_quota": _q_source_quota,
    "q_dsir_weights": _q_dsir_weights,
    "q_quality_repetition": _q_quality_repetition,
    "q_contamination": _q_contamination,
    "q_doc_chunk": _q_doc_chunk,
    "q_seq_pack": _q_seq_pack,
    "q_pack_mask_audit": _q_pack_mask_audit,
    "q_apply_packing": _q_apply_packing,
    "q_write_shards": _q_write_shards,
    "q_pack_efficiency": _q_pack_efficiency,
    "q_lang_mix": _q_lang_mix,
    "q_quality_classifier": _q_quality_classifier,
    "q_classifier_sweep": _q_classifier_sweep,
    "q_prepare_training": _q_prepare_training,
}

_TOKS = tokens_sql("text")

def _cls_margin_sql(c: str) -> str:
    """Margin expression mirrored term-for-term (same operand order —
    the float-parity contract of q_quality_classifier), over any token
    array column."""
    return (
        f"{CLS_W[0]} * (CAST(len(list_distinct({c})) AS DOUBLE) / len({c}))"
        f" + {CLS_W[1]} * least((CAST({stopword_count_sql(c)} AS DOUBLE) / len({c})) * 5, 1.0)"
        f" + {CLS_W[2]} * least(CAST(len({c}) AS DOUBLE) / 200.0, 1.0)"
        f" + ({CLS_W[3]}) * (list_reduce(list_transform({c}, x -> CAST(length(x) AS DOUBLE)),"
        f" (a, x) -> a + x) / len({c}) / 10.0)"
        f" + ({CLS_W[4]})"
    )


_CLS_MARGIN = _cls_margin_sql("t")

from ..functions.textfns import shingle_seq_sql as _SEQ_SQL

def _seq_pack_oracle(budget: int) -> str:
    """Parameterized seq-pack oracle — shared by q_seq_pack (training
    budget) and q_pack_efficiency (audit budget); interpolating the
    budget here replaces the earlier digit-string substitution, which
    would silently corrupt the SQL if the digits ever appeared in
    another literal."""
    return f"""
WITH d AS (
  SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
  WHERE len({_TOKS}) > 0
),
b AS (
  SELECT doc_id, source, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {budget}) AS BIGINT) AS bin
  FROM d
)
SELECT source, bin, CAST(count(1) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM b GROUP BY source, bin
"""


#: the three gate CTEs shared by the capstone oracle and the drop
#: ledger — near-dup components/keepers, benchmark contamination,
#: and the classifier gate, all over the shingle CTE's relations.
_GATES_CTE = f""",
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
  WHERE len(list_intersect(x.s, y.s)) /
        CAST(x.sz + y.sz - len(list_intersect(x.s, y.s)) AS DOUBLE) >= {_NG_T}
),
edges AS (
  SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b AS u, a AS v FROM pairs
),
walk AS (
  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u
),
clusters AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY u),
keepers AS (
  SELECT d.doc_id FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
  WHERE coalesce(c.cluster_id, d.doc_id) = d.doc_id
),
bench AS (
  SELECT DISTINCT g FROM (SELECT unnest(s) AS g FROM sh WHERE doc_id < {BENCH_DOCS})
),
corpus AS (
  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= {BENCH_DOCS} AND sz > 0
),
contam AS (
  SELECT doc_id
  FROM (
    SELECT c.doc_id,
           sum(CASE WHEN b.g IS NULL THEN 0 ELSE 1 END) AS k,
           count(1) AS tot
    FROM corpus c LEFT JOIN bench b ON c.g = b.g
    GROUP BY c.doc_id
  )
  WHERE k / CAST(tot AS DOUBLE) >= {CONTAM_OVERLAP_T}
),
clskeep AS (
  SELECT doc_id FROM toks WHERE len(w) > 0 AND ({_cls_margin_sql('w')}) > 0
)"""


def _clean_corpus_oracle() -> str:
    """DuckDB twin of _q_clean_corpus: the gates CTE (shared with the
    other capstones) ∩ the exsub span surgery (the q_apply_excision
    shape over the shared toks CTE) → the privacy family's fixture
    augmentation + redaction chain."""
    from ..functions.textfns import shingle_seq_sql
    from .dedup import EXSUB_L
    from .privacy import _AUG_SQL, _red_sql, PII_PATTERNS

    seq16 = shingle_seq_sql("w", EXSUB_L)
    n_red = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))" for _, pat, _ in PII_PATTERNS
    )
    return (
        _SHINGLED_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
        + _GATES_CTE
        + f""",
survivors AS (
  SELECT t.doc_id, d.source, t.w
  FROM toks t
  JOIN documents d ON t.doc_id = d.doc_id
  JOIN keepers k ON t.doc_id = k.doc_id
  JOIN clskeep q ON t.doc_id = q.doc_id
  WHERE t.doc_id >= {BENCH_DOCS} AND len(t.w) > 0
    AND t.doc_id NOT IN (SELECT doc_id FROM contam)
),
eseqs AS (SELECT doc_id, list_transform({seq16}, s -> {hash60_sql('s')}) AS hs
          FROM toks),
epos AS (SELECT doc_id, generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS g
         FROM eseqs),
eshared AS (SELECT g FROM epos GROUP BY g HAVING count(*) >= 2),
edup AS (SELECT doc_id, pos FROM epos JOIN eshared USING (g)),
eflag AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                           <= {EXSUB_L} THEN 0 ELSE 1 END AS new_span
          FROM edup),
eisl AS (SELECT doc_id, pos,
                sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
         FROM eflag),
espans AS (SELECT doc_id, min(pos) AS p0,
                  max(pos) - min(pos) + {EXSUB_L} AS span_tokens
           FROM eisl GROUP BY doc_id, span_id),
tokpos AS (SELECT s.doc_id, generate_subscripts(s.w, 1) - 1 AS i, unnest(s.w) AS tok
           FROM survivors s),
ekept AS (SELECT t.doc_id, t.i, t.tok FROM tokpos t
          WHERE NOT EXISTS (SELECT 1 FROM espans e
                            WHERE e.doc_id = t.doc_id
                              AND t.i >= e.p0 AND t.i < e.p0 + e.span_tokens)),
eclean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
                  count(*) AS kept_n
           FROM ekept GROUP BY doc_id),
cbase AS (SELECT s.doc_id, s.source,
                 CAST(COALESCE(c.kept_n, 0) AS BIGINT) AS n_tokens_final,
                 CAST(len(s.w) - COALESCE(c.kept_n, 0) AS BIGINT) AS removed_tokens,
                 COALESCE(c.clean_text, '') AS text
          FROM survivors s LEFT JOIN eclean c ON s.doc_id = c.doc_id),
caug AS (SELECT doc_id, source, n_tokens_final, removed_tokens, {_AUG_SQL} AS text
         FROM cbase)
SELECT doc_id, source,
       {_red_sql()} AS final_text,
       n_tokens_final,
       removed_tokens,
       CAST({n_red} AS BIGINT) AS n_redactions
FROM caug
"""
    )


def _apply_decontamination_oracle() -> str:
    """DuckDB twin of _q_apply_decontamination — the q_apply_excision
    surgery with the shared-window set swapped for the BENCHMARK
    window set and the surgery restricted to corpus docs."""
    from ..functions.textfns import shingle_seq_sql
    from .dedup import EXSUB_L

    seq16 = shingle_seq_sql("w", EXSUB_L)
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
seqs AS (SELECT doc_id, list_transform({seq16}, s -> {hash60_sql('s')}) AS hs
         FROM toks),
pos AS (SELECT doc_id, generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS g
        FROM seqs),
bw AS (SELECT DISTINCT g FROM pos WHERE doc_id < {BENCH_DOCS}),
dup AS (SELECT doc_id, pos FROM pos JOIN bw USING (g)
        WHERE doc_id >= {BENCH_DOCS}),
flag AS (SELECT doc_id, pos,
                CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                          <= {EXSUB_L} THEN 0 ELSE 1 END AS new_span
         FROM dup),
isl AS (SELECT doc_id, pos,
               sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        FROM flag),
spans AS (SELECT doc_id, min(pos) AS p0,
                 max(pos) - min(pos) + {EXSUB_L} AS span_tokens
          FROM isl GROUP BY doc_id, span_id),
tokpos AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS i, unnest(w) AS tok
           FROM toks WHERE doc_id >= {BENCH_DOCS}),
kept AS (SELECT t.doc_id, t.i, t.tok FROM tokpos t
         WHERE NOT EXISTS (SELECT 1 FROM spans s
                           WHERE s.doc_id = t.doc_id
                             AND t.i >= s.p0 AND t.i < s.p0 + s.span_tokens)),
clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
                 count(*) AS kept_n
          FROM kept GROUP BY doc_id),
orig AS (SELECT doc_id, array_to_string(w, ' ') AS otext, len(w) AS ntok
         FROM toks WHERE doc_id >= {BENCH_DOCS})
SELECT o.doc_id AS doc_id,
       COALESCE(c.clean_text, '') AS clean_text,
       CAST(o.ntok - COALESCE(c.kept_n, 0) AS BIGINT) AS removed_tokens,
       CAST(length(o.otext) - length(COALESCE(c.clean_text, '')) AS BIGINT)
         AS removed_chars
FROM orig o LEFT JOIN clean c USING (doc_id)
"""


ORACLE = {
    "q_clean_corpus": _clean_corpus_oracle(),
    "q_apply_decontamination": _apply_decontamination_oracle(),
    "q_dsir_weights": f"""
WITH d AS (SELECT doc_id, lang, {tokens_sql('text')} AS t FROM documents),
f0 AS (SELECT doc_id, lang, list_concat(t, {_SEQ_SQL('t', 2)}) AS fs FROM d),
fx AS (SELECT doc_id, lang, unnest(fs) AS ft FROM f0),
cells AS (
  SELECT doc_id, lang, {hash60_sql('ft')} % {DSIR_BUCKETS} AS b,
         CAST(count(1) AS BIGINT) AS n
  FROM fx GROUP BY doc_id, lang, b
),
cnt AS (
  SELECT b, CAST(sum(n) AS BIGINT) AS cr,
         CAST(sum(CASE WHEN lang = 'en' THEN n ELSE 0 END) AS BIGINT) AS ct
  FROM cells GROUP BY b
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS raw_tot,
         CAST(sum(CASE WHEN lang = 'en' THEN n ELSE 0 END) AS BIGINT) AS tgt_tot
  FROM cells
),
ratio AS (
  SELECT b, ln((ct + 1.0) / (tgt_tot + {DSIR_BUCKETS}))
            - ln((cr + 1.0) / (raw_tot + {DSIR_BUCKETS})) AS lr
  FROM cnt CROSS JOIN tot
)
SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
       round(sum(n * lr), 4) AS log_weight,
       round(sum(n * lr), 4) > 0 AS selected
FROM cells JOIN ratio USING (b) GROUP BY doc_id
""",
    # the capstone composition: dedup-keep (recursive components) ∩
    # classifier gate ∩ decontamination → chunk → hash split; every
    # fragment reuses the standalone queries' tested SQL shapes
    "q_drop_ledger": _SHINGLED_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + _GATES_CTE
    + f""",
base AS (
  SELECT t.doc_id, d.source,
         t.doc_id NOT IN (SELECT doc_id FROM clskeep) AS fq,
         t.doc_id NOT IN (SELECT doc_id FROM keepers) AS fd,
         t.doc_id IN (SELECT doc_id FROM contam) AS fc
  FROM toks t JOIN documents d ON t.doc_id = d.doc_id
  WHERE len(t.w) > 0 AND t.doc_id >= {BENCH_DOCS}
)
SELECT source,
       CASE WHEN NOT (fq OR fd OR fc) THEN 'kept'
            ELSE concat_ws('+', CASE WHEN fq THEN 'quality' END,
                                CASE WHEN fd THEN 'dedup' END,
                                CASE WHEN fc THEN 'contam' END) END AS verdict,
       CAST(count(1) AS BIGINT) AS n_docs
FROM base GROUP BY 1, 2 ORDER BY source, verdict
""",
    # the datasheet rollup: same gate CTEs, plus the post-gate quota
    # rank on ROUNDED margins (the published score — the order both
    # engines actually computed) and the 1-row share denominator
    "q_mixture_manifest": _SHINGLED_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + _GATES_CTE
    + f""",
raw AS (
  SELECT t.doc_id, d.source, len(t.w) AS n_tok
  FROM toks t JOIN documents d ON t.doc_id = d.doc_id
  WHERE len(t.w) > 0 AND t.doc_id >= {BENCH_DOCS}
),
m AS (
  SELECT doc_id, round({_cls_margin_sql('w')}, 6) AS margin
  FROM toks WHERE len(w) > 0
),
gated AS (
  SELECT r.doc_id, r.source, r.n_tok, m.margin
  FROM raw r JOIN m ON r.doc_id = m.doc_id
  WHERE r.doc_id IN (SELECT doc_id FROM clskeep)
    AND r.doc_id IN (SELECT doc_id FROM keepers)
    AND r.doc_id NOT IN (SELECT doc_id FROM contam)
),
fin AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY margin DESC, doc_id) AS rk
    FROM gated
  ) WHERE rk <= {MANIFEST_QUOTA}
),
praw AS (
  SELECT source, CAST(count(1) AS BIGINT) AS n_raw,
         CAST(sum(n_tok) AS BIGINT) AS tok_raw
  FROM raw GROUP BY 1
),
pg AS (SELECT source, CAST(count(1) AS BIGINT) AS n_gated FROM gated GROUP BY 1),
pf AS (
  SELECT source, CAST(count(1) AS BIGINT) AS n_final,
         CAST(sum(n_tok) AS BIGINT) AS tok_final
  FROM fin GROUP BY 1
),
tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS t FROM fin)
SELECT source, n_raw, tok_raw,
       coalesce(n_gated, 0) AS n_gated,
       coalesce(n_final, 0) AS n_final,
       coalesce(tok_final, 0) AS tok_final,
       round(coalesce(tok_final, 0) / CAST(t AS DOUBLE), 6) AS share_final
FROM praw LEFT JOIN pg USING (source) LEFT JOIN pf USING (source)
CROSS JOIN tot
ORDER BY source
""",
    "q_prepare_training": _SHINGLED_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + _GATES_CTE
    + f""",
surv AS (
  SELECT t.doc_id, d.source, len(t.w) AS n
  FROM toks t JOIN documents d ON t.doc_id = d.doc_id
  WHERE len(t.w) > 0 AND t.doc_id >= {BENCH_DOCS}
    AND t.doc_id IN (SELECT doc_id FROM clskeep)
    AND t.doc_id IN (SELECT doc_id FROM keepers)
    AND t.doc_id NOT IN (SELECT doc_id FROM contam)
),
chunked AS (
  SELECT doc_id, source, n,
         CASE WHEN {hash60_sql('doc_id')} % 100 < 80 THEN 'train'
              WHEN {hash60_sql('doc_id')} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         unnest(range(0, CASE WHEN n <= {CHUNK_TOKENS} THEN 1
                              ELSE CAST(ceil((n - {CHUNK_TOKENS})
                                        / CAST({CHUNK_STRIDE} AS DOUBLE)) AS INTEGER) + 1
                         END)) AS chunk_idx
  FROM surv
)
SELECT doc_id, source, split,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(least({CHUNK_TOKENS}, n - chunk_idx * {CHUNK_STRIDE}) AS INTEGER) AS chunk_tokens
FROM chunked
""",
    "q_quality_classifier": f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
f AS (SELECT doc_id, source, t FROM toks WHERE len(t) > 0)
SELECT doc_id, source,
       round({_CLS_MARGIN}, 6) AS margin,
       (({_CLS_MARGIN}) > 0) AS keep
FROM f
""",
    # ranks the ROUNDED margin (the classifier's published score) so
    # the order compared across engines is the order both actually
    # computed — rounding after ranking would hash-match while hiding
    # an order disagreement inside a 1e-6 band
    "q_source_quota": f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
m AS (
  SELECT doc_id, source, round({_CLS_MARGIN}, 6) AS margin
  FROM toks WHERE len(t) > 0
),
r AS (
  SELECT doc_id, source, margin,
         row_number() OVER (PARTITION BY source
                            ORDER BY margin DESC, doc_id) AS src_rank
  FROM m
)
SELECT doc_id, source, margin, src_rank FROM r WHERE src_rank <= {SOURCE_QUOTA}
""",
    "q_quality_repetition": f"""
WITH d AS (SELECT doc_id, source, {_TOKS} AS w FROM documents),
b AS (
  SELECT doc_id, source, len(w) AS n,
         1 - len(list_distinct(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])))
             / CAST(len(w) - 1 AS DOUBLE) AS dup_bigram_frac,
         w
  FROM d WHERE len(w) >= 2
),
ex AS (SELECT doc_id, unnest(w) AS tok FROM b),
cnt AS (SELECT doc_id, tok, count(1) AS c FROM ex GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS top_cnt FROM cnt GROUP BY 1),
scored AS (
  SELECT b.source, b.dup_bigram_frac, top.top_cnt / CAST(b.n AS DOUBLE) AS dominance
  FROM b JOIN top USING (doc_id)
)
SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
       CAST(count(1) FILTER (dominance > {REP_DOMINANCE_T}
                             OR dup_bigram_frac > {REP_DUP_BIGRAM_T}) AS BIGINT)
         AS n_flagged,
       round(avg(dominance), 6) AS avg_dominance,
       round(avg(dup_bigram_frac), 6) AS avg_dup_bigram_frac
FROM scored GROUP BY source
""",
    "q_contamination": _SHINGLED_CTE
    + f""",
bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < {BENCH_DOCS}),
corpus AS (
  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= {BENCH_DOCS} AND sz > 0
),
per_doc AS (
  SELECT doc_id,
         sum(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END) AS k,
         count(1) AS tot
  FROM corpus GROUP BY doc_id
)
SELECT d.source, CAST(count(1) AS BIGINT) AS n_docs,
       CAST(count(1) FILTER (p.k / CAST(p.tot AS DOUBLE) >= {CONTAM_OVERLAP_T}) AS BIGINT)
         AS n_contaminated,
       round(avg(p.k / CAST(p.tot AS DOUBLE)), 6) AS avg_overlap
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.source
""",
    "q_doc_chunk": f"""
WITH d AS (
  SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
  WHERE len({_TOKS}) > 0
),
c AS (
  SELECT doc_id, source, n_tokens,
         CASE WHEN n_tokens <= {CHUNK_TOKENS} THEN 1
              ELSE CAST(ceil((n_tokens - {CHUNK_TOKENS}) / CAST({CHUNK_STRIDE} AS DOUBLE)) AS INTEGER) + 1
         END AS n_chunks
  FROM d
)
SELECT doc_id, source, CAST(u AS INTEGER) AS chunk_idx,
       CAST(u * {CHUNK_STRIDE} + 1 AS INTEGER) AS tok_start,
       CAST(least(u * {CHUNK_STRIDE} + {CHUNK_TOKENS}, n_tokens) AS INTEGER) AS tok_end
FROM c, unnest(range(0, n_chunks)) AS t(u)
""",
    "q_seq_pack": _seq_pack_oracle(PACK_BUDGET),
    "q_apply_packing": f"""
WITH toksrc AS (
  SELECT doc_id, source, {_TOKS} AS w FROM documents
),
d AS (
  SELECT doc_id, source, w, len(w) AS n_tokens FROM toksrc WHERE len(w) > 0
),
b AS (
  SELECT doc_id, source, w, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {PACK_BUDGET}) AS BIGINT) AS bin
  FROM d
),
g AS (
  SELECT source, bin, CAST(count(1) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
         flatten(list(w ORDER BY doc_id)) AS toks
  FROM b GROUP BY source, bin
)
SELECT source, bin, n_docs, raw_tokens,
       CAST(least(raw_tokens, {PACK_BUDGET}) AS BIGINT) AS seq_tokens,
       array_to_string(toks[1:{PACK_BUDGET}], ' ') AS seq_text
FROM g
""",
    "q_write_shards": None,  # assembled below (needs the gshuf seed)
    "q_lang_mix": f"""
WITH d AS (
  SELECT doc_id, lang, len({_TOKS}) AS n FROM documents WHERE len({_TOKS}) > 0
),
stats AS (SELECT lang, count(1) AS docs, sum(n) AS toks FROM d GROUP BY lang),
t AS (SELECT sum(sqrt(toks)) AS z, sum(toks) AS total FROM stats),
rates AS (
  SELECT lang,
         round(least(1.0, sqrt(toks) / z * {MIX_BUDGET_FRAC} * total / toks), 6) AS rate
  FROM stats CROSS JOIN t
),
kept AS (
  SELECT d.lang, d.n, r.rate
  FROM d JOIN rates r USING (lang)
  WHERE ({hash60_sql('doc_id')} % 1000000) / 1000000.0 < r.rate
)
SELECT lang, CAST(count(1) AS BIGINT) AS n_kept,
       CAST(sum(n) AS BIGINT) AS kept_tokens,
       min(rate) AS rate
FROM kept GROUP BY lang
""",
}

# packing-efficiency audit composes the seq-pack oracle verbatim
ORACLE["q_pack_efficiency"] = f"""
WITH packed AS ({_seq_pack_oracle(PACK_AUDIT_BUDGET)}),
lastb AS (SELECT source, max(bin) AS last_bin FROM packed GROUP BY source),
closed AS (
  SELECT p.* FROM packed p JOIN lastb l USING (source) WHERE p.bin < l.last_bin
)
SELECT source,
       CAST(count(1) AS BIGINT) AS n_full_bins,
       round(avg(greatest(total_tokens - {PACK_AUDIT_BUDGET}, 0) / {float(PACK_AUDIT_BUDGET)}), 4) AS overflow_frac,
       round(avg(n_docs), 2) AS docs_per_bin,
       CAST(max(total_tokens) AS BIGINT) AS max_bin_tokens
FROM closed GROUP BY source
"""

# shard-writer capstone oracle (VERDICT r9 item 5): recompute packing,
# the seeded global-shuffle permutation, contiguous block assignment,
# and both checksums entirely from the raw documents table — the
# engine side reads them back from the MATERIALIZED parquet, so a hash
# match certifies the write→read round trip.
def _write_shards_oracle() -> str:
    from ..functions.portable import MERSENNE31
    from .sampling import GSHUF_SEED

    key_h = hash60_sql(f"'{GSHUF_SEED}' || seq_key")
    seqk_h = hash60_sql("seq_key")
    text_h = hash60_sql("seq_text")
    return f"""
WITH packed AS ({ORACLE["q_apply_packing"]}),
seqs AS (
  SELECT source || '#' || CAST(bin AS VARCHAR) AS seq_key,
         n_docs, raw_tokens, seq_tokens, seq_text
  FROM packed
),
perm AS (
  SELECT seqs.*,
         row_number() OVER (ORDER BY {key_h}, seq_key) AS rn,
         count(1) OVER () AS n
  FROM seqs
),
assigned AS (
  SELECT *,
         CAST(floor((rn - 1) / ((n + {SEQ_SHARDS - 1}) // {SEQ_SHARDS})) AS INT) AS shard,
         (rn - 1) % ((n + {SEQ_SHARDS - 1}) // {SEQ_SHARDS}) + 1 AS pos_in_shard
  FROM perm
)
SELECT shard,
       CAST(count(1) AS BIGINT) AS n_seqs,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(raw_tokens) AS BIGINT) AS raw_tokens,
       CAST(sum(seq_tokens) AS BIGINT) AS seq_tokens,
       CAST(max(pos_in_shard) AS BIGINT) AS max_pos,
       CAST(sum((pos_in_shard % {MERSENNE31}) * ({seqk_h} % {MERSENNE31}))
            % {MERSENNE31} AS BIGINT) AS order_checksum,
       CAST(sum({text_h} % {MERSENNE31}) % {MERSENNE31} AS BIGINT) AS content_checksum
FROM assigned GROUP BY shard ORDER BY shard
"""


ORACLE["q_write_shards"] = _write_shards_oracle()

# threshold sweep over the shared 6-dp-rounded margin; total count via
# a scalar subquery, per-cut keep aggregates + source-diversity
ORACLE["q_classifier_sweep"] = f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
sc AS (
  SELECT doc_id, source, round({_CLS_MARGIN}, 6) AS margin
  FROM toks WHERE len(t) > 0
),
cuts AS (SELECT unnest({list(CLS_SWEEP_CUTS)}) AS cut),
n AS (SELECT count(*) AS n_total FROM sc)
SELECT CAST(c.cut AS DOUBLE) AS cut,
       CAST(count(*) AS BIGINT) AS n_keep,
       round(count(*) / CAST(n.n_total AS DOUBLE), 6) AS keep_frac,
       round(avg(s.margin), 6) AS avg_kept_margin,
       CAST(count(DISTINCT s.source) AS BIGINT) AS n_sources_surviving
FROM cuts c JOIN sc s ON s.margin > c.cut, n
GROUP BY c.cut, n.n_total
ORDER BY c.cut
"""

# the full-funnel capstone: the clean-corpus oracle as a derived table
# joined to the repetition-keep and not-high-memorization gates (their
# oracles nested verbatim - the consensus wrapping pattern)
def _corpus_final_oracle() -> str:
    from .dedup import ORACLE as _DORACLE
    from .text import ORACLE as _TORACLE

    return f"""
SELECT cc.* FROM ({ORACLE["q_clean_corpus"]}) cc
JOIN (SELECT doc_id FROM ({_TORACLE["q_repetition_filter"]}) WHERE keep) r
  USING (doc_id)
WHERE cc.doc_id NOT IN (
  SELECT doc_id FROM ({_DORACLE["q_memorization_risk"]}) WHERE risk = 'high'
)
"""


ORACLE["q_corpus_final"] = _corpus_final_oracle()

# cross-doc attention accounting over the same packed layout: integer
# sums of squares per (source, bin) cell, divisions only at publish
ORACLE["q_pack_mask_audit"] = f"""
WITH d AS (
  SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
  WHERE len({_TOKS}) > 0
),
b AS (
  SELECT doc_id, source, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {PACK_BUDGET}) AS BIGINT) AS bin
  FROM d
),
cells AS (
  SELECT source, bin, count(1) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS t,
         CAST(sum(n_tokens * n_tokens) AS BIGINT) AS sq
  FROM b GROUP BY source, bin
)
SELECT source,
       CAST(count(1) AS BIGINT) AS n_bins,
       CAST(sum(t) AS BIGINT) AS packed_tokens,
       round(CAST(sum(t * t - sq) AS DOUBLE) / sum(t * t), 6) AS cross_pair_frac,
       round(max(CAST(t * t - sq AS DOUBLE) / (t * t)), 6) AS worst_bin_cross_frac
FROM cells GROUP BY source
"""
