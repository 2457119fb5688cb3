"""Deduplication family (north-star extension surface): exact,
n-gram-Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

All variants follow the same scale architecture:

1. **signature** — per-doc, computed inline with Catalyst higher-order
   functions (no explode, no Python): shingles → portable hashes →
   MinHash / SimHash.
2. **blocking** — candidate generation via equality join on a compact
   key (LSH band key, SimHash chunk, shingle posting), never an O(n²)
   cross join. Each blocking join is one hash-shuffle on the key;
   skew (hot shingles / hot buckets) is AQE-split.
3. **verify** — exact measure (Jaccard / Hamming / cosine) only on
   candidate pairs.

The DuckDB oracles recompute the same signatures from the same
portable md5-based hashes (functions/portable.py) — bit-identical —
but may verify pairs O(n²) since the oracle only runs at sf0.01.

Reference connection: the reference's only dedup-ish behavior is
last-writer-wins on duplicate order events (OrderProcessor.java:114);
SURVEY §2.9 commits to this full family for the 100 TB pipeline.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .presentation import cells_sorted

from ..functions.portable import MERSENNE31, hash60, hash60_sql
from ..functions.textfns import (
    shingle_seq_sql,
    shingles,
    shingles_sql,
    tokens,
    tokens_sql,
)
from ..sources.tables import load_table, parallelize

#: fixed MinHash permutations (seed=42): h_i(x) = (a_i * x + b_i) mod 2^31-1.
#: 16 perms = 4 bands × 4 rows → LSH s-curve threshold ≈ (1/4)^(1/4) ≈ 0.71.
PERMS = (
    (1373158607, 239081663),
    (53710185, 1592467581),
    (590620972, 525901256),
    (479341424, 299655412),
    (1581559893, 220106707),
    (1453201079, 1590571865),
    (1915941033, 1171165722),
    (186699714, 1268073012),
    (906070221, 68252793),
    (63989048, 201209005),
    (469521478, 499635468),
    (1085242217, 1292825378),
    (56985562, 1205264595),
    (427000597, 1537640408),
    (1395616197, 1506083910),
    (1170252924, 900911954),
)
N_BANDS, N_ROWS = 4, 4
JACCARD_T = 0.7
NGRAM_JACCARD_T = 0.8
SIMHASH_BITS = 32
SIMHASH_MAX_DIST = 2
COSINE_T = 0.4


def _hash31(col: Column) -> Column:
    return hash60(col) % MERSENNE31


def minhash_signature(shingle_arr: Column) -> list[Column]:
    """16 MinHash values of a shingle array — pure codegen, no shuffle."""
    base = F.transform(shingle_arr, _hash31)

    def perm(a: int, b: int):
        # closure factory: PySpark infers HOF arity from the lambda's
        # parameter count, so default-arg capture (lambda h, a=a: ...)
        # would be misread as a 3-arg lambda.
        return lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE31

    return [F.array_min(F.transform(base, perm(a, b))) for a, b in PERMS]


def simhash(toks: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over distinct token hashes: bit k of the result is the
    sign of the per-bit vote sum. One fold over the hash array per bit
    (static expression tree, integer arithmetic → order-independent and
    engine-portable). A mapInPandas variant would do one pass for all
    bits if this ever dominates a profile; at document row counts the
    codegen'd folds are fine."""
    hs = F.transform(F.array_distinct(toks), hash60)

    def vote(k: int):
        # closure factory (see minhash_signature): keeps the merge
        # lambda binary so PySpark infers the right HOF arity.
        return lambda acc, h: acc + (F.shiftright(h, k) % 2) * 2 - 1

    out = F.lit(0).cast("long")
    for k in range(bits):
        votes = F.aggregate(hs, F.lit(0).cast("long"), vote(k))
        out = out + F.when(votes > 0, F.lit(1 << k).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


#: one persisted relation per (application, sf_dir, tag) — memoized so
#: repeated query invocations in a long-lived driver session reuse one
#: cache entry deliberately instead of re-registering the persist each
#: call (Spark's CacheManager would dedupe the identical plan anyway,
#: but the memo makes the lifecycle explicit and survives plan-text
#: drift). Entries for dead applications are pruned on insert, and the
#: memo is BOUNDED: beyond _PERSIST_MEMO_MAX live relations the
#: least-recently-USED entry is unpersisted and dropped, so a
#: long-lived session iterating over many sf_dirs/tags can't pin
#: unbounded executor storage (Spark's own LRU would evict blocks, but
#: unpersisting releases the CacheManager entry and the lineage pin).
_PERSIST_MEMO: "OrderedDict[tuple[str, str, str], DataFrame]" = OrderedDict()

#: live persisted relations kept per application (shingles, bands,
#: pairs, k-means assignments, BPE vocab, ANN/posting/DSIR indexes
#: across TWO sf_dirs — a session timing sf0.1 then sf1 thrashed the
#: sf1 pass at a cap of 16; anything beyond this is a sweep workload
#: that should not accumulate cache).
_PERSIST_MEMO_MAX = 48


def _memo_persist(spark: SparkSession, sf_dir: str, tag: str, build) -> DataFrame:
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, tag)
    df = _PERSIST_MEMO.get(key)
    if df is None:
        for stale in [k for k in _PERSIST_MEMO if k[0] != app_id]:
            del _PERSIST_MEMO[stale]
        while len(_PERSIST_MEMO) >= _PERSIST_MEMO_MAX:
            _, lru = _PERSIST_MEMO.popitem(last=False)
            lru.unpersist()  # the live application's entry (stale ones went above)
        df = build().persist()
        # Materialize EAGERLY: the memo is a shared checkpoint artifact,
        # so its build cost belongs to the first builder's CONSTRUCTION
        # (a cold timing of that query includes it), not to whichever
        # consumer happens to EXECUTE first. Lazily-built memos made a
        # min-of-2 timing effectively min-of-ONE warm sample (the first
        # timed run paid an 8-15 s build, r10: q_dedup_consensus 18.4 s
        # cold vs 3.4 s warm), so memo-backed queries read as the
        # noisiest under ambient load. count() computes every partition
        # into the cache.
        df.count()
    else:
        _PERSIST_MEMO.pop(key)  # re-append below → most-recently-used
    _PERSIST_MEMO[key] = df
    return df


def _shingled_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_shingled`` marked MEMORY_AND_DISK: every dedup variant scans
    the shingled corpus 2-3× (inverted index / signature build + both
    sides of the verify join), and the tokenize→shingle→md5 chain is
    the single most expensive per-doc expression in the engine
    (measured 3.5 s/pass at sf0.1 vs ~0.5 s for the raw scan). One
    persisted pass amortizes all consumers; MEMORY_AND_DISK spills
    rather than recomputes at 100 TB, where recomputing the hash chain
    per consumer would triple the dominant cost. The cached relation is
    doc_id + long-array shingles — a few bytes per shingle, far
    smaller than the text column it replaces."""
    return _memo_persist(spark, sf_dir, "shingles", lambda: _shingled(spark, sf_dir))


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + HASHED distinct shingles (array<long>) + size.

    Everything downstream (inverted index, prefix filter, MinHash,
    verification intersect) operates on 60-bit hashes instead of
    shingle strings: long-keyed shuffles and long-array intersects are
    several× cheaper than 20-40-char strings, and a 60-bit space makes
    within-corpus collisions negligible (p ≈ |pairs|·s²/2⁶¹), so
    hashed-set Jaccard is exact in practice — the oracle hashes the
    same way, so even a collision would agree cross-engine.
    """
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    return shingled_of(docs)


def shingled_of(docs: DataFrame) -> DataFrame:
    """The tokenize→shingle→hash chain over an arbitrary (doc_id, text)
    relation — shared by the corpus build and the streaming incremental
    probe (which shingles arriving micro-batches with the exact same
    expressions, so batch and stream verdicts are bit-identical).

    Shape note (r4 profiling): the chain is projected ONCE and ``sz``
    is derived from the hashed array in a SECOND projection.
    CollapseProject declines to inline a non-cheap alias referenced
    twice, so the tokenize→shingle→hash work runs once per row —
    the previous single-projection form evaluated it twice (once for
    ``sh``, once for ``size``): 5.2 s → 0.9 s materializing sf1.
    Consumers that only need the exploded grams should use
    :func:`exploded_shingles_of` (the Generate form is another ~2×
    on top when the array itself is never needed)."""
    hashed = docs.select(
        "doc_id", F.transform(shingles(tokens(F.col("text"))), hash60).alias("sh")
    )
    return hashed.select("doc_id", "sh", F.size("sh").alias("sz"))


def exploded_shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, g) — one row per distinct hashed shingle, straight from
    text through a single Generate: no array materialization, no
    re-evaluation of the chain for a separate size column (docs with
    zero shingles vanish, exactly like the ``sz > 0`` filter). The
    shape for one-shot probes over UNCACHED text, e.g. streaming
    micro-batches; cached multi-consumer scans keep the array form
    (:func:`shingled_of` + persist)."""
    return docs.select(
        "doc_id",
        F.explode(F.transform(shingles(tokens(F.col("text"))), hash60)).alias("g"),
    )


def _prefix_postings(inv: DataFrame, threshold: float) -> DataFrame:
    """AllPairs prefix relation over an exploded (doc_id, sz, g)
    posting index: each doc's (sz − ⌈τ·sz⌉ + 1) RAREST shingles by
    global document frequency (ties by g) — the pigeonhole witness set
    for both |A∩B| ≥ τ·min-side predicates (Jaccard) and the
    asymmetric |A∩B| ≥ τ·|A| (containment); shared so the prefix
    length formula, the rarity tie-break, and the broadcast decision
    (distinct-shingle count ≪ corpus at any SF with a bounded
    vocabulary) live in exactly one place (review finding)."""
    rarity = inv.groupBy("g").agg(F.count(F.lit(1)).alias("df_n"))
    w = Window.partitionBy("doc_id").orderBy("df_n", "g")
    return (
        inv.join(F.broadcast(rarity), "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select("doc_id", "sz", "g")
    )


def ngram_jaccard_pairs(shingled: DataFrame, threshold: float) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard with AllPairs/ppjoin-style
    PREFIX FILTERING — exact results at index-join cost.

    A naive inverted-index self-join explodes quadratically on hot
    shingles (every doc pair sharing a common trigram becomes a join
    row — measured 35 s at sf0.1 on this corpus's tiny shared
    vocabulary). Prefix filtering restores the bound: sort each doc's
    shingles by global document frequency (rarest first); Jaccard ≥ τ
    forces |A∩B| ≥ τ·|A|, so two qualifying docs MUST collide within
    their first (sz − ⌈τ·sz⌉ + 1) rarest shingles. Only those prefix
    postings are joined — rare shingles have short postings lists —
    then candidates are verified with the exact intersection. No false
    negatives; identical output to the O(n²) oracle.
    """
    inv = shingled.select("doc_id", "sz", F.explode("sh").alias("g"))
    prefix = _prefix_postings(inv, threshold)
    cand = (
        prefix.select(F.col("doc_id").alias("a"), F.col("sz").alias("pza"), "g")
        .join(prefix.select(F.col("doc_id").alias("b"), F.col("sz").alias("pzb"), "g"), "g")
        .filter(F.col("a") < F.col("b"))
        # length filter (also exact): jaccard ≥ τ ⇒ τ·|B| ≤ |A∩B| ≤ |A|,
        # so wildly different sizes can't qualify — prune before verify.
        .filter(
            (F.col("pza") >= F.lit(threshold) * F.col("pzb"))
            & (F.col("pzb") >= F.lit(threshold) * F.col("pza"))
        )
        .select("a", "b")
        .distinct()
    )
    sa = shingled.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha"), F.col("sz").alias("sza"))
    sb = shingled.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb"), F.col("sz").alias("szb"))
    common = F.size(F.array_intersect("sha", "shb"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("jaccard", F.round(common / (F.col("sza") + F.col("szb") - common), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact dedup by content hash; the summary row keeps the query
    # meaningful whether or not the corpus contains exact dups.
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(hash60(F.col("text")).alias("h"))
    return h.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_exact_dups"),
    )


def _ngram_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized persisted n-gram pair relation: FOUR queries consume the
    same verify join (ngram, clusters, keep, consensus) and it is the
    single most expensive dedup stage (~2.3 s at sf0.1) — one persisted
    pass amortizes all of them (measured: q_dedup_ngram 2.35 → 0.12 s
    steady, q_dedup_keep 0.09 s, q_dedup_clusters 0.02 s). The pair set
    is tiny relative to the corpus (only near-dups), so the cache cost
    is negligible at any scale."""
    return _memo_persist(
        spark,
        sf_dir,
        "ngram_pairs",
        lambda: ngram_jaccard_pairs(_shingled_cached(spark, sf_dir), NGRAM_JACCARD_T),
    )


def _q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_pairs_cached(spark, sf_dir)


#: asymmetric-containment dedup knobs: threshold, and the deterministic
#: excerpt fixture (the corpus's near-dups are all symmetric twins, so
#: without injection subset_only would be vacuously false — the
#: "a threshold nothing crosses verifies nothing" rule; same mirrored-
#: injection pattern as q_pii_scan's doc_id-residue fixtures).
CONTAINMENT_T = 0.9
EXCERPT_STRIDE = 25  # docs with doc_id % 25 == 0 get an excerpt twin
EXCERPT_OFFSET = 1_000_000
EXCERPT_FRAC = 0.6  # excerpt keeps the first 60% of tokens
EXCERPT_MIN_TOKENS = 10


def containment_pairs(shingled: DataFrame, threshold: float) -> DataFrame:
    """Ordered near-dup pairs (a, b) with shingle-set CONTAINMENT
    |S(a)∩S(b)| / |S(a)| ≥ threshold — the asymmetric complement of
    n-gram Jaccard: a short document wholly embedded in a long one has
    Jaccard ≈ |a|/|b| (arbitrarily small) but containment 1.0, so
    Jaccard-only dedup keeps both copies. ``subset_only`` marks
    exactly those pairs (containment fires, Jaccard ≥ NGRAM_JACCARD_T
    does not) — the quote/boilerplate/excerpt duplicates an LLM corpus
    sweep wants attributed separately from symmetric twins.

    Candidate generation is the AllPairs prefix filter adapted to the
    asymmetric predicate: containment ≥ τ forces |A∩B| ≥ ⌈τ·|A|⌉, so a
    qualifying A must collide with B inside A's (|A| − ⌈τ·|A|⌉ + 1)
    RAREST shingles (global-df order). Only those probe-side prefix
    postings join the full inverted index — the containee side cannot
    be length-pruned (a tiny doc contained in a huge one is the
    point), which is the inherent cost model of subset queries: probe
    prefixes are rare by construction, so their posting lists stay
    short. No false negatives; verification is the exact intersect.
    """
    inv = shingled.filter(F.col("sz") > 0).select(
        "doc_id", "sz", F.explode("sh").alias("g")
    )
    prefix = _prefix_postings(inv, threshold).select(F.col("doc_id").alias("a"), "g")
    cand = (
        prefix.join(inv.select(F.col("doc_id").alias("b"), "g"), "g")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = shingled.select(
        F.col("doc_id").alias("a"), F.col("sh").alias("sha"), F.col("sz").alias("sza")
    )
    sb = shingled.select(
        F.col("doc_id").alias("b"), F.col("sh").alias("shb"), F.col("sz").alias("szb")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("_i", inter)
        .filter(F.col("_i") >= F.lit(threshold) * F.col("sza"))
        .select(
            "a",
            "b",
            F.round(F.col("_i") / F.col("sza"), 6).alias("containment"),
            F.round(F.col("_i") / (F.col("sza") + F.col("szb") - F.col("_i")), 6).alias(
                "jaccard"
            ),
            (
                F.col("_i") / (F.col("sza") + F.col("szb") - F.col("_i"))
                < F.lit(NGRAM_JACCARD_T)
            ).alias("subset_only"),
        )
    )


def _containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ deterministic excerpt twins: every EXCERPT_STRIDE-th
    doc contributes a derived doc holding its first ⌈60%⌉ tokens
    (space-rejoined — the tokenizer splits on single spaces, so
    re-tokenizing recovers exactly the token prefix, and contiguous
    k-shingles of a token prefix are a strict subset of the full
    doc's). The oracle derives the same excerpts from the same parquet
    (mirrored injection), so containment(excerpt→original) = 1.0 on
    both engines by construction."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.union(excerpt_docs(docs))


def excerpt_docs(docs: DataFrame) -> DataFrame:
    """The deterministic excerpt derivation over any (doc_id, text)
    relation — shared by the batch fixture and the streaming probe
    twin (which derives the same excerpts from arriving micro-batches
    with the same expressions, so batch and stream verdicts are
    identical)."""
    t = tokens(F.col("text"))
    return (
        docs.select("doc_id", t.alias("t"))
        .filter(
            (F.col("doc_id") % EXCERPT_STRIDE == 0)
            & (F.size("t") >= EXCERPT_MIN_TOKENS)
        )
        .select(
            (F.col("doc_id") + EXCERPT_OFFSET).alias("doc_id"),
            F.array_join(
                F.slice(
                    F.col("t"),
                    1,
                    F.ceil(F.lit(EXCERPT_FRAC) * F.size("t")).cast("int"),
                ),
                " ",
            ).alias("text"),
        )
    )


def containment_probe(
    spark: SparkSession, sf_dir: str, delta_docs: DataFrame
) -> DataFrame:
    """Containment verdicts of a (small) probe relation against the
    BASE corpus — the ingest-time face of :func:`containment_pairs`:
    an arriving submission substantially contained in an existing doc
    (|S(d)∩S(b)|/|S(d)| ≥ CONTAINMENT_T) should be dropped BEFORE it
    enters the corpus. Never BASE×BASE: the probe side is one
    micro-batch, shingled with the corpus chain's exact expressions
    and equality-joined on shingle hash against the memoized corpus
    index (explode over the persisted array relation — map-only from
    cache), so the cost is O(probe shingles × matching postings).
    A verdict depends only on the probe doc and the static base, so
    the assembled output is batch-split invariant by construction."""
    base_inv = (
        _shingled_cached(spark, sf_dir)
        .filter(F.col("sz") > 0)
        .select(
            F.col("doc_id").alias("b"), F.col("sz").alias("szb"), F.explode("sh").alias("g")
        )
    )
    probe = shingled_of(delta_docs).filter(F.col("sz") > 0)
    pinv = probe.select(
        F.col("doc_id").alias("a"), F.col("sz").alias("sza"), F.explode("sh").alias("g")
    )
    counts = pinv.join(base_inv, "g").groupBy("a", "b", "sza", "szb").agg(
        F.count(F.lit(1)).alias("_i")
    )
    jac = F.col("_i") / (F.col("sza") + F.col("szb") - F.col("_i"))
    return (
        counts.filter(F.col("_i") >= F.lit(CONTAINMENT_T) * F.col("sza"))
        .select(
            "a",
            "b",
            F.round(F.col("_i") / F.col("sza"), 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
            (jac < F.lit(NGRAM_JACCARD_T)).alias("subset_only"),
        )
    )


def _containment_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memo_persist(
        spark,
        sf_dir,
        "containment_shingles",
        lambda: shingled_of(parallelize(_containment_docs(spark, sf_dir))),
    )


def _containment_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized containment pair relation — shared by the pair sweep
    and the keep/drop artifact (same lifecycle as the n-gram pair
    memo: the verify join is the expensive stage; the pair set is
    tiny)."""
    return _memo_persist(
        spark,
        sf_dir,
        "containment_pairs",
        lambda: containment_pairs(_containment_shingled(spark, sf_dir), CONTAINMENT_T),
    )


def _q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup over the excerpt-injected corpus —
    see :func:`containment_pairs` (semantics + prefix-filter scale
    story) and :func:`_containment_docs` (mirrored fixture).

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (dedup family)."""
    return _containment_pairs_cached(spark, sf_dir)


def _q_containment_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop curation artifact of the containment sweep — the
    RefinedWeb-style rule 'a document substantially contained in a
    LARGER document is redundant': doc a is dropped iff some pair
    (a, b) has containment ≥ τ and |S(b)| > |S(a)| (ties broken to
    the smaller doc_id — exact twins collapse to the min-id
    canonical, matching q_dedup_keep's convention). ``dropped_for``
    records the smallest qualifying dominator for audit; chains are
    dropped wholesale (an excerpt of a dropped twin is still
    redundant — its content survives via the twin's canonical).

    Scale shape: rides the MEMOIZED pair relation (tiny — near-dups
    only) joined to the shingle-size projection; the verdict join is
    doc_id-keyed; one left join attaches flags to the corpus.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (dedup / curation family)."""
    sh = _containment_shingled(spark, sf_dir).filter(F.col("sz") > 0)
    pairs = _containment_pairs_cached(spark, sf_dir).select("a", "b")
    sizes = sh.select("doc_id", "sz")
    p = (
        pairs.join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb")), "b")
        .filter(
            (F.col("szb") > F.col("sza"))
            | ((F.col("szb") == F.col("sza")) & (F.col("b") < F.col("a")))
        )
    )
    doms = p.groupBy("a").agg(F.min("b").alias("dropped_for"))
    return (
        sh.select("doc_id")
        .join(doms.withColumnRenamed("a", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("dropped_for").isNull().alias("keep"),
            "dropped_for",
        )
    )


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # memoized like the n-gram pairs: consensus + the standalone query
    # share one persisted pass over the signature/band/verify chain
    return _memo_persist(spark, sf_dir, "minhash_pairs", lambda: _minhash_pairs(spark, sf_dir))


def _minhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band relation from a signature table —
    shared by the full pair build and the incremental delta dedup."""
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws("-", *[F.col(f"mh{j * N_ROWS + r}") for r in range(N_ROWS)])
                    for j in range(N_BANDS)
                ]
            )
        ).alias("band", "key"),
    )


def _minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures, explode-first (16 min-aggs in ONE groupBy —
    see _minhash_pairs for the measured projection-collapse trap)."""
    return minhash_sig_of(_shingled_cached(spark, sf_dir).filter(F.col("sz") > 0))


def minhash_sig_of(sh: DataFrame) -> DataFrame:
    """Signature build over an arbitrary shingled relation — shared by
    the corpus index build and the streaming incremental probe."""
    # sh carries hash60(shingle) longs already; reduce mod 2^31-1 for the
    # affine perms (keeps a*h+b inside int64).
    inv = sh.select("doc_id", F.explode("sh").alias("g")).withColumn(
        "h", F.col("g") % MERSENNE31
    )
    return inv.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE31).alias(f"mh{i}")
            for i, (a, b) in enumerate(PERMS)
        ]
    )


def _bands_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized band relation (|docs| × N_BANDS compact rows): the full
    pair build and the incremental delta dedup both probe it."""
    return _memo_persist(
        spark,
        sf_dir,
        "minhash_bands",
        lambda: _minhash_bands(_minhash_sig(spark, sf_dir)),
    )


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding + exact-Jaccard verification of candidates.

    Signatures are computed explode-first: one md5 per (doc, shingle),
    then 16 ``min`` aggregates in ONE groupBy. The array-transform
    formulation (minhash_signature) is semantically identical but
    Catalyst's projection collapse re-inlines the md5 chain into each
    of the 16 consumers — measured 16× hash cost (33 s → ~3 s at
    sf0.1). The groupBy shuffles only (doc_id, 60-bit hash) pairs.
    """
    sh = _shingled_cached(spark, sf_dir).filter(F.col("sz") > 0)
    bands = _bands_cached(spark, sf_dir)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha"), F.col("sz").alias("sza"))
    sb = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb"), F.col("sz").alias("szb"))
    common = F.size(F.array_intersect("sha", "shb"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("jaccard", F.round(common / (F.col("sza") + F.col("szb") - common), 6))
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("a", "b", "jaccard")
    )


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # memoized like the n-gram pairs (consensus is the second consumer)
    return _memo_persist(spark, sf_dir, "simhash_pairs", lambda: _simhash_pairs(spark, sf_dir))


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit signatures, Hamming ≤ 2, with 3-chunk
    pigeonhole blocking (distance ≤ 2 ⇒ at least one of 3 chunks equal)
    instead of an O(n²) cross join."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    # explode-first signature build (cf. _q_dedup_minhash): one md5 per
    # distinct (doc, token), 32 conditional-sum votes in ONE groupBy —
    # the array-fold form (simhash()) re-hashes the token array once
    # per bit when Catalyst inlines the projection.
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("w")
    ).withColumn("h", hash60(F.col("w")))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum((F.shiftright(F.col("h"), k) % 2) * 2 - 1).alias(f"v{k}")
            for k in range(SIMHASH_BITS)
        ]
    )
    sim_col = None
    for k in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{k}") > 0, F.lit(1 << k).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim_col = bit if sim_col is None else sim_col + bit
    sim = votes.select("doc_id", sim_col.alias("s"))
    n_chunks = SIMHASH_MAX_DIST + 1
    chunk_bits = SIMHASH_BITS // n_chunks + 1
    chunks = sim.select(
        "doc_id",
        "s",
        F.posexplode(
            F.array(
                *[
                    (F.shiftright(F.col("s"), c * chunk_bits) % (1 << chunk_bits))
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk", "ckey"),
    )
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "ckey"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.col("x.s").alias("s_a"),
            F.col("y.s").alias("s_b"),
        )
        .distinct()
    )
    dist = F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b")))
    return (
        cand.withColumn("hamming", dist)
        .filter(F.col("hamming") <= SIMHASH_MAX_DIST)
        .select("a", "b", "hamming")
    )


#: vectors per block-matrix cell side. Bounds every task's working set
#: (two blocks ≈ 2 × EMB_BLOCK × d × 8 B ≈ 1 MB) independent of N.
EMB_BLOCK = 1024


def _q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via a DISTRIBUTED block-matrix
    join — exact all-pairs cosine with no driver collect and no
    full-matrix broadcast.

    Both sides of the conceptual N×N similarity matrix are grouped into
    bounded blocks of ≤ EMB_BLOCK vectors (``floor(vec_id / EMB_BLOCK)``
    — vec_ids are dense; for arbitrary ids the block key would be a
    portable hash bucketed by a cheap count). The upper-triangular
    block-pair grid (ablk ≤ bblk — valid because the block key is
    monotone in vec_id, so a < b ⇒ blk(a) ≤ blk(b)) is formed by
    replicating A-block rows against a BROADCAST list of block IDS
    (ints only — the heavy vector payloads move through hash shuffles,
    never a broadcast), then equi-joining the B blocks on bblk. Each
    grid cell is one numpy float64 matmul inside mapInArrow
    (Arrow-batched BLAS; r12 — cells resliced off the Arrow buffers,
    no per-row unpacking): per-task memory is two blocks, shuffle volume
    O((NA+NB)·N·d) — both bounded per task and fully distributed.

    Exact all-pairs is inherently O(N²·d) compute; this operator
    distributes that exactly (the oracle is the same O(n²) join). The
    sub-quadratic 100 TB path is the LSH-bucketed / IVF family in
    operators/similarity.py — same verify kernel, blocking by bucket
    instead of by the full grid.

    The sf0.01 oracle corpus fits in ONE block, so the multi-block
    grid cells (ablk < bblk) are additionally verified against a numpy
    reference on synthetic multi-block inputs in
    tests/test_block_matrix.py.
    """
    emb = parallelize(load_table(spark, sf_dir, "embeddings"))
    return embedding_cosine_pairs(emb, COSINE_T)


def embedding_cosine_pairs(
    emb: DataFrame, thresh: float, block: int = EMB_BLOCK
) -> DataFrame:
    """Block-matrix exact cosine pair join over any (vec_id, embedding)
    relation — see _q_dedup_embedding for the architecture."""
    blocks = (
        emb.select(
            "vec_id",
            "embedding",
            F.floor(F.col("vec_id") / block).alias("blk"),
        )
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("vecs"))
    )
    blk_ids = blocks.select(F.col("blk").alias("bblk"))
    grid = (
        blocks.select(F.col("blk").alias("ablk"), F.col("vecs").alias("avecs"))
        .join(F.broadcast(blk_ids), F.col("ablk") <= F.col("bblk"))
        .join(
            blocks.select(F.col("blk").alias("bblk"), F.col("vecs").alias("bvecs")),
            "bblk",
        )
    )

    def kernel(batches):
        # r12 (guide §4.1/§4.2, the q_semdedup recipe): mapInArrow —
        # the mapInPandas form unpacked every list<struct<id, vec>>
        # cell through per-row Python loops (one boxed Row + one boxed
        # float per component). Here each batch column is resliced
        # straight off the Arrow buffers: the struct child arrays are
        # CONTIGUOUS across all cells of the batch, so ids come out as
        # one int64 vector and the vectors as ONE (Σn, d) float matrix
        # (fixed d ⇒ reshape of the flattened child), with per-cell
        # slices recovered from the list lengths. Kernel math
        # (normalize → BLAS matmul → threshold → a<b) is unchanged.
        import numpy as np  # self-contained: workers import nothing of ours
        import pyarrow as pa

        def unpack_col(col):
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            bounds = np.concatenate(
                ([0], np.cumsum(col.value_lengths().to_numpy(zero_copy_only=False)))
            )
            structs = col.flatten()  # all cells' structs, offset-adjusted
            ids = structs.field("vec_id").to_numpy(zero_copy_only=False)
            embl = structs.field("embedding")
            mat = (
                embl.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(len(structs), -1)
            )
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            return bounds, ids, mat

        for rb in batches:
            if rb.num_rows == 0:
                continue
            ab, aids, amat = unpack_col(rb.column(rb.schema.get_field_index("avecs")))
            bb, bids, bmat = unpack_col(rb.column(rb.schema.get_field_index("bvecs")))
            outs_a, outs_b, outs_c = [], [], []
            for i in range(rb.num_rows):
                a0, a1 = ab[i], ab[i + 1]
                b0, b1 = bb[i], bb[i + 1]
                if a0 == a1 or b0 == b1:
                    continue
                sims = amat[a0:a1] @ bmat[b0:b1].T
                ai, bi = np.nonzero(sims >= thresh)
                a_ids, b_ids = aids[a0:a1][ai], bids[b0:b1][bi]
                keep = a_ids < b_ids
                outs_a.append(a_ids[keep])
                outs_b.append(b_ids[keep])
                outs_c.append(np.round(sims[ai, bi][keep], 6))
            if outs_a:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(outs_a), pa.int64()),
                        pa.array(np.concatenate(outs_b), pa.int64()),
                        pa.array(np.concatenate(outs_c), pa.float64()),
                    ],
                    ["a", "b", "cosine"],
                )

    return grid.select("avecs", "bvecs").mapInArrow(
        kernel, schema="a long, b long, cosine double"
    )


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Cluster a pair graph: per node, the minimum node id reachable —
    iterative min-label propagation (the simple-union-find shape used by
    large-scale dedup pipelines to turn near-dup PAIRS into KEEP/DROP
    groups).

    Each iteration is one distributed join + min-aggregate; lineage is
    cut with an eager localCheckpoint so the plan stays flat across
    iterations (mandatory for iterative algorithms on Catalyst).
    Spark 4's WITH RECURSIVE was evaluated as an alternative and does
    not apply: only UNION ALL recursion is supported
    (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), which cannot terminate on
    the cyclic pair graph — the DuckDB oracle's UNION-distinct walk
    stays oracle-only.
    Converges in O(component diameter) iterations — near-dup clusters
    are shallow, so this is a handful of cheap rounds. If a component's
    diameter exceeds ``max_iter`` the labels would be silently WRONG
    (plausible-looking but not the transitive closure), so hitting the
    iteration cap while labels are still changing raises instead of
    returning.
    """
    edges = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    labels = edges.select("u").distinct().withColumn("lbl", F.col("u"))
    changed = -1
    for _ in range(max_iter):
        neigh = (
            edges.join(
                labels.select(F.col("u").alias("v"), F.col("lbl").alias("v_lbl")), "v"
            ).select("u", F.col("v_lbl").alias("lbl"))
        )
        new_labels = (
            labels.unionByName(neigh).groupBy("u").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations; "
            "a component's diameter exceeds the cap — raise max_iter"
        )
    return labels.select(F.col("u").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups: connected components of the n-gram-Jaccard pair
    graph. cluster_id = smallest doc_id in the component (the canonical
    'keeper' under a keep-first policy)."""
    pairs = _ngram_pairs_cached(spark, sf_dir)
    return connected_components(pairs.select("a", "b"))


def _q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level KEEP/DROP decision — the artifact a training-data
    pipeline actually consumes: every document, its near-dup cluster
    (cluster_id = smallest doc_id in the component; singletons form
    their own cluster), and keep = (doc is the canonical member).

    No broadcast hint on the label join: on a clean corpus the label
    table is a tiny fraction of the docs, but real web crawls run
    30-50% near-dup rates, where a forced broadcast of the labels would
    OOM. AQE picks broadcast at runtime when the label side is actually
    small and falls back to a shuffle join when it isn't — the correct
    behavior at both ends of the dup-rate spectrum."""
    pairs = _ngram_pairs_cached(spark, sf_dir)
    clusters = connected_components(pairs.select("a", "b"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cid = F.coalesce("cluster_id", F.col("doc_id"))
    return docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        cid.alias("cluster_id"),
        (cid == F.col("doc_id")).alias("keep"),
    )



#: consensus broadcast dispatch cut: above this many ngram+minhash
#: pairs the candidate set (bounded by |ng|+|mh|, ~16 B/row) stops
#: being driver/executor-broadcast material (~16 MB) and consensus
#: falls back to the single-shuffle union→groupBy form. Probed at
#: construction over the memoized (already materialized) legs.
_CONSENSUS_BROADCAST_MAX = 1_000_000


def _q_dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble dedup: pairs flagged by at least 2 of the 3 signature
    methods (n-gram Jaccard, MinHash+LSH, SimHash) — the standard
    precision lever when any single signature family over-fires on a
    domain. The n-gram and MinHash branches share the persisted shingle
    pass (one hash chain, two consumers); SimHash signs distinct TOKENS
    rather than shingles, so it runs its own tokenize pass — the
    ensemble costs two corpus passes plus three cheap blocking joins,
    not three full pipelines.

    Consensus is SIZE-DISPATCHED candidate-first (r11, the
    q_hybrid_search ``_per_query_rank`` dispatch pattern): each leg's
    pair set is distinct within the leg, so ``n_methods >= 2`` is
    exactly "pair present in >= 2 legs" = (ng∩mh) ∪ ((ng∪mh)∩sh), and
    any such pair is a member of ng∪mh — hence the candidate set is
    bounded by |ng|+|mh|. A construction-time count over the (eagerly
    persisted) ngram/minhash memos — two cached-scan jobs, the same
    driver-side scalar plan choice AQE makes from runtime stats —
    picks the form:

    * ``|ng|+|mh| <= _CONSENSUS_BROADCAST_MAX``: the simhash leg is
      reduced to ``sh ⋉ (ng ∪ mh)`` by ONE broadcast-semi cached scan
      (no shuffle, no sort) before the method-count aggregate. This
      loses only sh rows whose pair is in NEITHER small leg — rows the
      ``n_methods >= 2`` filter would discard anyway (a pair can reach
      2 methods only via membership in ng ∪ mh), so the answer is
      identical; ng/mh singleton rows still flow to the aggregate but
      they are tiny by the dispatch predicate. This is not
      hypothetical: on the sf1skew corpus SimHash's Hamming<=2 cut
      collapses the boilerplate cohort into 14.6 M pairs vs ~2.5 k for
      the other legs, and the union→groupBy form shuffled all of them
      (2.7 s warm) to keep 28; a hint-free semi-join planned as SMJ
      and shuffled+sorted the 14.6 M side (5-7 s) — the measured
      reason the broadcast is explicit, not left to AQE.
    * otherwise (a web-scale corpus where ngram/minhash pairs are
      themselves huge): the single-shuffle union→groupBy form — one
      exchange of the union, never a second pass over any leg."""
    ng = _ngram_pairs_cached(spark, sf_dir).select("a", "b", F.lit("ngram").alias("m"))
    mh = _q_dedup_minhash(spark, sf_dir).select("a", "b", F.lit("minhash").alias("m"))
    sh = _q_dedup_simhash(spark, sf_dir).select("a", "b", F.lit("simhash").alias("m"))
    n_small = ng.count() + mh.count()
    if n_small <= _CONSENSUS_BROADCAST_MAX:
        # r12 (VERDICT r11 item 4): the broadcast-semi reduction of the
        # simhash leg is itself MEMO-PERSISTED — ``sh ⋉ (ng ∪ mh)`` is
        # bounded by |ng|+|mh| (the dispatch predicate just proved that
        # small) and is a pure function of the three leg indexes, so it
        # is index-class: build once at construction (cold pays the
        # full 14.6M-row cached-leg scan there, the declared shared-
        # index contract), serve every steady execution from the
        # bounded cached relation instead of re-scanning the whole
        # simhash leg per run (the r11 skew tier's #1 steady cost,
        # 2.4-2.7 s of InMemoryTableScan feeding a broadcast semi whose
        # output is ~2.5 k rows).
        def _build_sh_hits() -> DataFrame:
            small_k = F.broadcast(
                ng.select("a", "b").unionByName(mh.select("a", "b"))
            )
            return (
                _q_dedup_simhash(spark, sf_dir)
                .select("a", "b")
                .join(small_k, ["a", "b"], "left_semi")
            )

        sh = _memo_persist(spark, sf_dir, "consensus_shk", _build_sh_hits).select(
            "a", "b", F.lit("simhash").alias("m")
        )
    return (
        ng.unionByName(mh)
        .unionByName(sh)
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_methods"),
            F.sort_array(F.collect_list("m")).alias("methods"),
        )
        .filter(F.col("n_methods") >= 2)
        .select("a", "b", "n_methods", F.concat_ws(",", "methods").alias("methods"))
    )



#: memorization-risk tier cuts (Lee et al. 2022; Carlini et al. 2023
#: "Quantifying Memorization"): a NEAR-DUP twin is the strongest
#: memorization driver (sequences seen k times are memorized
#: log-linearly in k), and an extreme corpus-repeated-shingle fraction
#: marks substring-level repetition even without a whole-doc twin. The
#: cuts are tuned so all three tiers are populated at sf0.01 (47 high).
MEMRISK_DUPFRAC_T = 0.9


def _q_memorization_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document memorization-risk audit — the relation a privacy /
    memorization review consumes before training (Lee et al. 2022;
    Carlini et al. 2023): duplication is the dominant predictor of
    verbatim memorization, so each doc reports its duplication
    evidence and a triage tier:

    * ``n_near_dups`` — near-dup partners in the n-gram Jaccard pair
      relation (whole-doc duplication, the log-linear k driver);
    * ``n_dup_shingles`` / ``dup_frac`` — how much of the doc's text
      is corpus-repeated at the substring level (q_dup_spans);
    * ``exposure`` — n_tokens x n_dup_shingles, the integer-exact
      magnitude to sort a review queue by (longer + more repeated =
      more extractable);
    * ``risk`` — high: has a near-dup twin; medium: >= 90% shingles
      corpus-repeated; low otherwise.

    Scale shape: pure composition of MEMOIZED relations (shingles,
    n-gram pairs, dup-span stats) + the token projection — two
    doc_id-keyed joins and one pair-side union; nothing new touches
    the corpus text.

    Reference connection: none in dhoard/orders-kafka-streams; SURVEY
    §2.9 extension surface (privacy / dedup family)."""
    from .text import _tokenized

    toks = _tokenized(spark, sf_dir).select("doc_id", F.size("t").alias("n_tokens"))
    pairs = _ngram_pairs_cached(spark, sf_dir)
    nd = (
        pairs.select(F.col("a").alias("doc_id"))
        .unionByName(pairs.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_near_dups"))
    )
    spans = dup_span_stats(_shingled_cached(spark, sf_dir)).select(
        "doc_id", F.col("n_dup").alias("n_dup_shingles"), "dup_frac"
    )
    near = F.coalesce(F.col("n_near_dups"), F.lit(0))
    risk = (
        F.when(near > 0, F.lit("high"))
        .when(F.col("dup_frac") >= MEMRISK_DUPFRAC_T, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    return (
        toks.join(nd, "doc_id", "left")
        .join(spans, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            near.alias("n_near_dups"),
            "n_dup_shingles",
            "dup_frac",
            (F.col("n_tokens") * F.col("n_dup_shingles")).alias("exposure"),
            risk.alias("risk"),
        )
    )


#: synthetic delta marker: every 5th doc "arrived today". A real
#: pipeline keys this on an ingest-date partition column.
DELTA_MOD = 5


def dedup_incremental_probe(
    spark: SparkSession, sf_dir: str, delta_docs: DataFrame
) -> DataFrame:
    """Per-doc incremental-dedup verdict for an arbitrary micro-batch of
    delta documents (doc_id, text) — the probe side shared by the batch
    query and the streaming twin (streaming_queries.py).

    The batch's shingles/signature/bands are computed from its TEXT with
    the corpus build's exact expressions (streaming-ingest shape); the
    candidate side is the full memoized band index, which contains
    base ∪ all delta — the end-of-ingest index state. Because the
    candidate side is static and complete, the verdict for a doc is
    IDENTICAL however the delta is split into micro-batches — the
    batch-split invariant tested in tests/test_stream_dedup_incremental.py.

    Output per delta doc with sz>0: (doc_id, n_base_dups, n_delta_dups,
    keep) — same contract as q_dedup_incremental."""
    sh_delta = shingled_of(delta_docs).filter(F.col("sz") > 0)
    bands_delta = _minhash_bands(minhash_sig_of(sh_delta))
    bands = _bands_cached(spark, sf_dir)
    sh = _shingled_cached(spark, sf_dir).filter(F.col("sz") > 0)
    cand = (
        bands_delta.alias("x")
        .join(bands.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") != F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("d"), F.col("y.doc_id").alias("o"))
        .distinct()
    )
    sa = sh_delta.select(
        F.col("doc_id").alias("d"), F.col("sh").alias("sha"), F.col("sz").alias("sza")
    )
    sb = sh.select(F.col("doc_id").alias("o"), F.col("sh").alias("shb"), F.col("sz").alias("szb"))
    common = F.size(F.array_intersect("sha", "shb"))
    dups = (
        cand.join(sa, "d")
        .join(sb, "o")
        .withColumn("j", common / (F.col("sza") + F.col("szb") - common))
        .filter(F.col("j") >= JACCARD_T)
    )
    o_delta = F.col("o") % DELTA_MOD == DELTA_MOD - 1
    per = dups.groupBy("d").agg(
        F.sum((~o_delta).cast("long")).alias("n_base_dups"),
        F.sum(o_delta.cast("long")).alias("n_delta_dups"),
        F.min(F.when(o_delta, F.col("o"))).alias("min_delta_partner"),
    )
    ids = sh_delta.select("doc_id")
    return (
        ids.join(per, ids.doc_id == per.d, "left")
        .select(
            "doc_id",
            F.coalesce("n_base_dups", F.lit(0)).alias("n_base_dups"),
            F.coalesce("n_delta_dups", F.lit(0)).alias("n_delta_dups"),
            (
                (F.coalesce("n_base_dups", F.lit(0)) == 0)
                & (
                    F.col("min_delta_partner").isNull()
                    | (F.col("min_delta_partner") > F.col("doc_id"))
                )
            ).alias("keep"),
        )
    )


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) near-dup dedup — how dedup
    actually runs at 100 TB: yesterday's corpus is already deduped, so
    today's delta only needs DELTA×(BASE ∪ DELTA) candidates, never
    BASE×BASE again. The delta's band rows probe the full band
    relation (an equi-join whose left side is only the delta — at real
    scale the base bands live in a bucketed table and the probe is a
    co-located join), candidates verify on exact Jaccard, and each
    delta doc gets a verdict: drop if it duplicates the base, else
    greedy min-id keep within the delta (the cluster-exact variant of
    the within-delta rule is q_dedup_keep's connected components).

    Output per delta doc: (doc_id, n_base_dups, n_delta_dups, keep)."""
    bands = _bands_cached(spark, sf_dir)
    sh = _shingled_cached(spark, sf_dir).filter(F.col("sz") > 0)
    is_delta = F.col("doc_id") % DELTA_MOD == DELTA_MOD - 1
    delta_bands = bands.filter(is_delta)
    cand = (
        delta_bands.alias("x")
        .join(bands.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") != F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("d"), F.col("y.doc_id").alias("o"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("d"), F.col("sh").alias("sha"), F.col("sz").alias("sza"))
    sb = sh.select(F.col("doc_id").alias("o"), F.col("sh").alias("shb"), F.col("sz").alias("szb"))
    common = F.size(F.array_intersect("sha", "shb"))
    dups = (
        cand.join(sa, "d")
        .join(sb, "o")
        .withColumn("j", common / (F.col("sza") + F.col("szb") - common))
        .filter(F.col("j") >= JACCARD_T)
    )
    o_delta = F.col("o") % DELTA_MOD == DELTA_MOD - 1
    per = dups.groupBy("d").agg(
        F.sum((~o_delta).cast("long")).alias("n_base_dups"),
        F.sum(o_delta.cast("long")).alias("n_delta_dups"),
        F.min(F.when(o_delta, F.col("o"))).alias("min_delta_partner"),
    )
    delta_docs = sh.filter(is_delta).select("doc_id")
    return (
        delta_docs.join(per, delta_docs.doc_id == per.d, "left")
        .select(
            "doc_id",
            F.coalesce("n_base_dups", F.lit(0)).alias("n_base_dups"),
            F.coalesce("n_delta_dups", F.lit(0)).alias("n_delta_dups"),
            (
                (F.coalesce("n_base_dups", F.lit(0)) == 0)
                & (
                    F.col("min_delta_partner").isNull()
                    | (F.col("min_delta_partner") > F.col("doc_id"))
                )
            ).alias("keep"),
        )
    )


def _q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method evaluation harness: per-method precision/recall
    against the exact all-pairs Jaccard ≥ JACCARD_T ground truth (the
    AllPairs prefix filter is exact, so the truth relation is
    computable at index-join cost — this is why an eval harness is
    even feasible at scale).

    What each row means: minhash's precision is 1.0 by construction
    (candidates are verify-filtered on true Jaccard) so its RECALL is
    the LSH banding miss rate — the number a production pipeline tunes
    bands/rows against. simhash predicts by Hamming ≤ SIMHASH_MAX_DIST
    on a different similarity (token-set angle), so both its precision
    and recall vs Jaccard-truth are informative. ngram@0.8 is the
    stricter-threshold subset — precision 1.0, recall = the fraction
    of 0.7-pairs that clear 0.8.

    Cost: the three pair relations and the shingle pass are all
    memo-persisted (each already built by its own query); the eval
    adds one broadcast-scale join per method + a 3-row aggregate."""
    truth = ngram_jaccard_pairs(_shingled_cached(spark, sf_dir), JACCARD_T).select("a", "b")
    mh = _q_dedup_minhash(spark, sf_dir).select("a", "b", F.lit("minhash_lsh").alias("method"))
    sh = _q_dedup_simhash(spark, sf_dir).select("a", "b", F.lit("simhash_h2").alias("method"))
    ng = _ngram_pairs_cached(spark, sf_dir).select("a", "b", F.lit("ngram_t08").alias("method"))
    preds = mh.unionByName(sh).unionByName(ng)
    per = (
        preds.join(truth.withColumn("_t", F.lit(1)), ["a", "b"], "left")
        .groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_pred"),
            F.sum(F.coalesce("_t", F.lit(0))).alias("tp"),
        )
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return per.crossJoin(n_truth).select(
        "method",
        "n_pred",
        "n_truth",
        "tp",
        F.round(F.col("tp").cast("double") / F.col("n_pred"), 6).alias("precision"),
        F.round(F.col("tp").cast("double") / F.col("n_truth"), 6).alias("recall"),
    )


def _q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: on the LSH candidate pairs,
    compare the signature-agreement estimate Ĵ = (matching coords)/16
    against the exact Jaccard — the audit that tells you whether the
    PERMS/bands/rows configuration is honest on YOUR corpus (estimator
    bias here ⇒ retune before trusting the banding s-curve at 100 TB).
    Output per pair: a, b, j_exact, j_est, abs_err; all arithmetic on
    ints/sixteenths so both engines agree bit-for-bit."""
    sh = _shingled_cached(spark, sf_dir).filter(F.col("sz") > 0)
    sig = _minhash_sig(spark, sf_dir)
    bands = _bands_cached(spark, sf_dir)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(len(PERMS))])
    sb = sig.select(F.col("doc_id").alias("b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(len(PERMS))])
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(len(PERMS))
    )
    ha = sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha"), F.col("sz").alias("sza"))
    hb = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb"), F.col("sz").alias("szb"))
    common = F.size(F.array_intersect("sha", "shb"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("j_est", F.round(matches / F.lit(float(len(PERMS))), 6))
        .join(ha, "a")
        .join(hb, "b")
        .withColumn(
            "j_exact", F.round(common / (F.col("sza") + F.col("szb") - common), 6)
        )
        .select(
            "a",
            "b",
            "j_exact",
            "j_est",
            F.round(F.abs(F.col("j_exact") - F.col("j_est")), 6).alias("abs_err"),
        )
    )


def _q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty contribution: the fraction of a doc's
    shingles whose FIRST appearance (min doc_id, the ingest-order
    proxy) is this doc — the data-valuation complement of q_dup_spans
    (which scores repetition; this scores what each doc ADDS). Docs
    with novelty ≈ 0 are fully covered by earlier corpus and are
    deletion candidates even when no single pair crosses the near-dup
    threshold. r11 (guide §2.3/§2.4, the dup_span_stats ladder): the
    first-seen doc is an unordered per-shingle window MIN over the
    exploded postings — ONE exchange of the stream — instead of a
    shingle-keyed aggregation joined back against a second exchange
    of the same stream; then one doc rollup."""
    from pyspark.sql import Window

    sh = _shingled_cached(spark, sf_dir).filter(F.col("sz") > 0)
    ex = sh.select("doc_id", F.explode("sh").alias("g"))
    wg = Window.partitionBy("g")
    return (
        ex.withColumn("first_doc", F.min("doc_id").over(wg))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel").cast("double") / F.col("n_shingles"), 6).alias(
                "novelty_frac"
            ),
        )
    )


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring fraction — the doc-level
    signal of substring-level exact dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): the
    share of a document's distinct k-gram shingles that also occur in
    at least one OTHER document. Curation pipelines drop or trim docs
    whose text is mostly corpus-repeated boilerplate even when no
    whole-document near-dup fires.

    Scale design: reuses the persisted hashed-shingle relation (one
    corpus pass shared with every dedup variant); the shared-shingle
    set is computed by a partial-aggregated groupBy on the 60-bit
    shingle hash and joined back shingle-keyed — no forced broadcast
    (on a crawl corpus the shared set is NOT small; AQE picks the
    strategy, same lesson as q_dedup_keep). Output:
    (doc_id, n_shingles, n_dup, dup_frac)."""
    return dup_span_stats(_shingled_cached(spark, sf_dir))


def dup_span_stats(sh: DataFrame) -> DataFrame:
    """Core of q_dup_spans over any (doc_id, sh: array<long>, sz)
    shingle relation — seam for unit tests with synthetic twins.

    r11 (guide §2.3/§2.4): one aggregation ladder instead of the
    count_distinct + join-back — per-(shingle, doc) occurrence cells
    (partial-combined map-side), an unordered per-shingle window
    counting the cell's distinct docs, then the per-doc rollup. The
    old form shuffled the raw exploded postings twice (once into the
    distinct-count, once into the join) and re-ran the explode per
    consumer; this shape shuffles the exploded stream once and only
    cells after that."""
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    cells = ex.groupBy("s", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("s"))
    dup = (
        cells.withColumn("nd", nd)
        .filter(F.col("nd") > 1)
        .groupBy("doc_id")
        .agg(F.sum("c").cast("long").alias("n_dup"))
    )
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0))
    return (
        sh.select("doc_id", "sz")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.col("sz").alias("n_shingles"),
            n_dup.alias("n_dup"),
            F.when(F.col("sz") > 0, F.round(n_dup / F.col("sz"), 4))
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


EXCISE_MIN_TOKENS = 12  # spans shorter than this aren't worth cutting
_EXCISE_N = 3  # shingle width the span geometry is derived from


def shingle_pos_of(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, pos, g): POSITIONAL hashed shingles of an
    arbitrary (doc_id, text) relation — duplicates kept, 0-based
    document order, with the doc's token count carried on every row
    (size(hs) + N − 1, computed map-side from the pre-explode array so
    downstream consumers never need a second pass over the relation —
    r5 review finding). The hashed array is staged through its own
    projection before posexplode (the r4 shingle-chain lesson: HOF
    chains under a Generate re-evaluate per consumer). Shared by the
    corpus build and the streaming micro-batch probe, so batch and
    stream span verdicts are expression-identical."""
    from ..functions.textfns import shingle_seq

    hashed = docs.select(
        "doc_id",
        F.transform(shingle_seq(tokens(F.col("text")), _EXCISE_N), hash60).alias("hs"),
    )
    return hashed.select(
        "doc_id",
        (F.size("hs") + _EXCISE_N - 1).alias("n_tokens"),
        F.posexplode("hs").alias("pos", "g"),
    )


def _shingle_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide :func:`shingle_pos_of`, session-persisted (consumed
    twice by the excision query: shared-shingle histogram + join-back,
    plus the per-doc token-count rollup)."""

    def build() -> DataFrame:
        docs = parallelize(load_table(spark, sf_dir, "documents")).select(
            "doc_id", "text"
        )
        return shingle_pos_of(docs)

    return _memo_persist(spark, sf_dir, "shingle_pos", build)


def _excise_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-wide shared-shingle set (distinct-doc count > 1) —
    session-persisted: the batch query consumes it once, but the
    streaming twin probes it once per micro-batch and must not rebuild
    the histogram each trigger."""

    def build() -> DataFrame:
        return shared_shingles_of(_shingle_pos(spark, sf_dir))

    return _memo_persist(spark, sf_dir, "excise_shared", build)


def shared_shingles_of(pos: DataFrame) -> DataFrame:
    """Distinct shingles occurring in more than one document of a
    positional relation — the static candidate side every excision
    probe joins."""
    return (
        pos.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("g")
    )


def excise_span_rows(
    pos: DataFrame, shared: DataFrame, min_tokens: int = EXCISE_MIN_TOKENS
) -> DataFrame:
    """ONE ROW PER EXCISION SPAN: (doc_id, n_tokens, p0, span_tokens)
    over any positional-shingle relation + shared set — the per-doc
    computation is independent across docs (positions join the static
    shared relation, then doc-local windows), which is what makes the
    streaming twin's verdicts invariant to how the delta is batched.
    Duplicated runs merge when the position gap ≤ N — exactly token
    contiguity: position p covers tokens [p, p+N−1], so the next dup
    at p+N abuts it and the union span has no uncovered token, while
    p+N+1 leaves token p+N unique and must not merge (r5 review: the
    earlier gap ≤ N−1 window-overlap rule split a contiguous
    duplicated run whose halves could then BOTH fall under the
    min-length cut). The relation is consumed ONCE: n_tokens rides
    every positional row, so no second pass and no join-back. The
    geometry tests pin this seam directly; the per-doc rollup
    (excise_spans_of) composes on top."""
    dup = pos.join(shared, "g").select("doc_id", "pos", "n_tokens")
    w = Window.partitionBy("doc_id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    flagged = dup.withColumn(
        "new_span", F.when(gap.isNull() | (gap > _EXCISE_N), 1).otherwise(0)
    )
    isl = flagged.withColumn(
        "span_id",
        F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("p0"),
            F.max("pos").alias("p1"),
            F.max("n_tokens").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "p0",
            (F.col("p1") - F.col("p0") + _EXCISE_N).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_tokens)
    )


def excise_spans_of(
    pos: DataFrame, shared: DataFrame, min_tokens: int = EXCISE_MIN_TOKENS
) -> DataFrame:
    """Per-doc rollup of :func:`excise_span_rows` — the registered
    query surface: (doc_id, n_spans, dup_tokens, longest_span,
    dup_token_frac)."""
    spans = excise_span_rows(pos, shared, min_tokens)
    return (
        spans.groupBy("doc_id", "n_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_tokens").cast("long").alias("dup_tokens"),
            F.max("span_tokens").cast("long").alias("longest_span"),
        )
        .select(
            "doc_id",
            "n_spans",
            "dup_tokens",
            "longest_span",
            F.round(F.col("dup_tokens") / F.col("n_tokens"), 4).alias("dup_token_frac"),
        )
    )


def _q_excise_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span EXCISION boundaries — the actionable artifact
    sub-document dedup actually cuts (the RefinedWeb/"deduplicate text
    datasets" removal step; Penedo et al. 2023, Lee et al. 2022):
    where q_dup_spans reports each doc's duplicated-shingle FRACTION,
    this emits the merged token spans a cleaner would excise. A
    position is duplicated when its 3-shingle also occurs in another
    document; runs of duplicated positions whose covered tokens are
    contiguous (position gap ≤ N) merge into ONE span over tokens
    [p0, p1+N−1], so spans are token-disjoint AND maximal by
    construction; spans shorter than EXCISE_MIN_TOKENS are dropped.
    Output per affected doc: n_spans, dup_tokens, longest_span,
    dup_token_frac.

    Scale shape: the positional shingle relation is built once and
    persisted; the shared-shingle set is a shingle-keyed count
    aggregate (inverted-index cost, partial-aggregated); the
    span-merge is two same-sort window passes + the rollups all on
    ONE doc_id partitioning. Nothing is pairwise: the corpus never
    joins itself, only positions join the shared-shingle relation."""
    return excise_spans_of(_shingle_pos(spark, sf_dir), _excise_shared(spark, sf_dir))


EXSUB_L = 16  # exact duplicated-substring window length (tokens)


def exsub_pos_of(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, g): POSITIONAL hashed EXSUB_L-token windows of a
    (doc_id, text) relation — the exact-substring analogue of
    :func:`shingle_pos_of` (same staged-projection build, window width
    L instead of 3). g is the 60-bit hash of the EXACT L consecutive
    tokens starting at pos, so two equal hashes mean (modulo the 2⁻⁶⁰
    collision odds every dedup family member already accepts) two
    occurrences of the same L-token substring."""
    from ..functions.textfns import shingle_seq, tokens

    hashed = docs.select(
        "doc_id",
        F.transform(shingle_seq(tokens(F.col("text")), EXSUB_L), hash60).alias("hs"),
    )
    return hashed.select("doc_id", F.posexplode("hs").alias("pos", "g"))


def _exsub_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide :func:`exsub_pos_of`, session-persisted (consumed
    twice: occurrence histogram + position join-back)."""

    def build() -> DataFrame:
        docs = parallelize(load_table(spark, sf_dir, "documents")).select(
            "doc_id", "text"
        )
        return exsub_pos_of(docs)

    return _memo_persist(spark, sf_dir, "exsub_pos", build)


def exsub_shared_of(pos: DataFrame) -> DataFrame:
    """L-windows occurring ≥ 2 times in a positional relation — TOTAL
    occurrences, so within-document repeats count (Lee et al. 2022
    deduplicate any substring appearing more than once, including
    self-repeats; the 3-shingle excision family keys on distinct-doc
    counts instead)."""
    return (
        pos.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("g")
    )


def _exsub_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-window set, session-persisted: the batch
    query consumes it once, the streaming ingest gate probes it once
    per micro-batch."""
    return _memo_persist(
        spark,
        sf_dir,
        "exsub_shared",
        lambda: exsub_shared_of(_exsub_pos(spark, sf_dir)),
    )


def exact_substring_spans(pos: DataFrame, shared: DataFrame | None = None) -> DataFrame:
    """One row per maximal exact-duplicate span: (doc_id, p0,
    span_tokens) over a positional L-window relation. A position is
    duplicated when its EXACT L-token window is in ``shared``
    (defaults to :func:`exsub_shared_of` of ``pos`` itself — the
    batch corpus shape; the streaming twin passes the memoized
    corpus-wide set so delta docs probe the full histogram). Runs
    merge while the position gap ≤ L (window p covers tokens
    [p, p+L−1], the next duplicated window at p+L abuts it), so every
    token of an output span lies inside some duplicated L-substring
    and spans are token-disjoint AND maximal at their true
    boundaries — no min-length filter is needed because a single
    shared window is already L tokens."""
    if shared is None:
        shared = exsub_shared_of(pos)
    dup = pos.join(shared, "g").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    flagged = dup.withColumn(
        "new_span", F.when(gap.isNull() | (gap > EXSUB_L), 1).otherwise(0)
    )
    isl = flagged.withColumn(
        "span_id",
        F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("doc_id", "span_id")
        .agg(F.min("pos").alias("mn"), F.max("pos").alias("mx"))
        .select(
            "doc_id",
            F.col("mn").cast("long").alias("p0"),
            (F.col("mx") - F.col("mn") + EXSUB_L).cast("long").alias("span_tokens"),
        )
    )


def _q_exact_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-substring spans, suffix-array-style semantics
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", ExactSubstr): every maximal token span whose every
    token lies inside some EXSUB_L-token substring occurring ≥ 2 times
    in the corpus, reported at its true boundaries. This is the exact
    counterpart of the 3-shingle q_dup_spans / q_excise_spans
    approximations: those flag positions whose tiny shingle is shared
    ANYWHERE (so a span is evidence of re-used 3-grams, not of a long
    exact match); here a flagged position certifies a full L-token
    exact duplicate, which is precisely the unit ExactSubstr removes.
    The suffix array is single-node machinery; the distributed
    re-expression is the positional L-window posting list — the union
    of duplicated L-windows equals the union of all duplicated
    substrings of length ≥ L (any such substring's windows all repeat;
    any repeating window IS one), so merging flagged positions
    reproduces the suffix array's removal set without pairwise doc
    joins or any global sort.

    Scale shape: one persisted positional relation (O(total tokens)
    rows of two longs + an int); the shared set is a partial-aggregated
    groupBy on the window hash (inverted-index cost — at 100 TB this
    is the same shuffle class as q_dup_spans' histogram); the
    span-merge windows partition BY doc_id (bounded by document
    length, never global). Nothing is pairwise and the corpus never
    self-joins.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (dedup family — completes exact /
    near / sub-document with the exact-substring tier)."""
    return exact_substring_spans(
        _exsub_pos(spark, sf_dir), _exsub_shared(spark, sf_dir)
    )


def apply_excision_of(
    docs: DataFrame, spans: DataFrame, keep_token_count: bool = False
) -> DataFrame:
    """Materialize the ExactSubstr REWRITE (Lee et al. 2022 §4.1): cut
    every duplicated-substring span out of the token stream and emit
    the cleaned corpus — (doc_id, clean_text, removed_tokens,
    removed_chars). :func:`exact_substring_spans` computes WHERE to
    cut; this is the surgery that ships. Text re-joins with single
    spaces (token-stream semantics — the tokenizer is
    whitespace-splitting, so only run-length of whitespace is lost,
    and both engines mirror it). removed_chars is measured against
    the same re-joined token stream so the number is engine-portable.

    Scale shape: spans fold to ONE array per affected doc (span count
    is bounded by doc length / L, never corpus size), then one
    doc_id-keyed LEFT join against the corpus and a map-only
    higher-order filter — each token tests membership against its own
    doc's span array (O(tokens × spans_per_doc) inside codegen, no
    Python). Nothing is pairwise; the corpus never self-joins.

    ``keep_token_count=True`` additionally emits ``kept_tokens``
    (= size of the surviving token array) so composing callers
    (curation.surgery_and_redact) get the final token count for free
    instead of re-running the tokenizer chain on the original text —
    the repo's most expensive per-doc expression (r9 review
    finding)."""
    spans_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("p0", "span_tokens")).alias("cuts")
    )
    toks = tokens(F.col("text"))
    cuts = F.coalesce(
        F.col("cuts"), F.array().cast("array<struct<p0:bigint,span_tokens:bigint>>")
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            cuts, lambda s: (i >= s["p0"]) & (i < s["p0"] + s["span_tokens"])
        ),
    )
    extra = (
        [F.size(kept).cast("long").alias("kept_tokens")] if keep_token_count else []
    )
    return (
        docs.join(spans_arr, "doc_id", "left")
        .withColumn("otext", F.array_join(toks, " "))
        .withColumn("clean_text", F.array_join(kept, " "))
        .select(
            "doc_id",
            "clean_text",
            (F.size(toks) - F.size(kept)).cast("long").alias("removed_tokens"),
            (F.length("otext") - F.length("clean_text")).cast("long").alias(
                "removed_chars"
            ),
            *extra,
        )
    )


def _q_apply_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaned-corpus artifact of exact-substring dedup — the
    actual deliverable of ExactSubstr (Lee et al. 2022): every token
    lying inside an L-window that occurs ≥ 2 times in the corpus is
    excised, and the surviving tokens re-join into clean_text. Every
    doc appears (untouched docs pass through with removed = 0), so the
    output IS the training corpus the next pipeline stage reads.
    tests/test_excision_apply.py pins the closure property: re-running
    span detection on the cleaned corpus finds no cross-document
    duplicated L-window (juxtaposition at cut points cannot recreate
    one on this tokenizer because spans are maximal at their true
    boundaries).

    Scale shape: rides the SAME memoized positional relation and
    shared-window set as q_exact_substrings (built once per session),
    plus one doc-keyed span fold and one corpus LEFT join — see
    :func:`apply_excision_of`.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (dedup family — completes detect →
    report → REWRITE)."""
    docs = parallelize(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    spans = exact_substring_spans(_exsub_pos(spark, sf_dir), _exsub_shared(spark, sf_dir))
    return apply_excision_of(docs, spans)


CDC_DIVISOR = 16  # expected chunk length in tokens (gear-CDC cut rate)


def cdc_cuts(t: Column) -> Column:
    """array<int> of cut positions (1-based, position AFTER the
    boundary token) — a boundary falls after every token whose
    portable hash ≡ CDC_DIVISOR−1."""
    n = F.size(t)
    th = F.transform(t, hash60)
    idx = F.sequence(F.lit(1), n)
    pairs = F.zip_with(th, idx, lambda h, i: F.struct(h.alias("h"), i.alias("i")))
    return F.transform(
        F.filter(pairs, lambda p: p["h"] % CDC_DIVISOR == CDC_DIVISOR - 1),
        lambda p: p["i"],
    )


def cdc_segments(t: Column, cuts: Column) -> Column:
    """array<struct<ch,ln>> of chunks given a MATERIALIZED cut-position
    column. ``cuts`` is referenced twice (segment starts AND ends), so
    callers on the hot path should project it with :func:`cdc_cuts`
    first — higher-order functions get no codegen subexpression
    elimination, and the inline form evaluates the whole
    hash→filter→positions chain twice per row (the r4 shingle-chain
    lesson; measured ~1.4× on q_cdc_chunks at sf0.1)."""
    n = F.size(t)
    starts = F.concat(F.array(F.lit(0)), cuts)
    ends = F.concat(cuts, F.array(n))
    segs = F.filter(
        F.zip_with(starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))),
        lambda x: x["e"] > x["s"],
    )
    return F.transform(
        segs,
        lambda x: F.struct(
            hash60(F.concat_ws(" ", F.slice(t, x["s"] + 1, x["e"] - x["s"]))).alias("ch"),
            (x["e"] - x["s"]).alias("ln"),
        ),
    )


def cdc_chunks(t: Column) -> Column:
    """array<struct<ch,ln>> of content-defined chunks of a MATERIALIZED
    token-array column: a boundary falls after every token whose
    portable hash ≡ CDC_DIVISOR−1 — the offset-invariance property
    (shared passages chunk identically wherever they appear) is
    unit-tested in tests/test_cdc_property.py. One-shot Column form
    (cuts evaluated inline, twice); the staged projection in
    :func:`_q_cdc_chunks` is the hot-path shape."""
    return cdc_segments(t, cdc_cuts(t))


def _q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking for SUB-document dedup (the
    storage-dedup / LLM-data "dedup below document granularity" tool,
    gear/Rabin style): a chunk boundary falls after every token whose
    portable hash ≡ DIVISOR−1 (mod DIVISOR) — boundaries depend only on
    CONTENT, so shared passages chunk identically in every document
    that contains them, no matter their offset (the property fixed-size
    chunking lacks). Per source: total chunks, distinct chunk hashes,
    the duplicated-chunk fraction, and mean chunk length.

    Scale shape: chunking is map-only array arithmetic per doc (token
    hashes → cut positions → segment hashes) over the persisted token
    relation; the only shuffle carries (source, chunk_hash) pairs for
    the distinct-count — inverted-index cost, never pairwise. The
    segment lambdas slice the MATERIALIZED token column (not the
    tokenizer expression), dodging the O(len²) re-evaluation trap
    (functions/textfns.py shingles docstring); the cut-position array
    is staged through its own projection so the hash→filter chain runs
    once per row even though segment starts AND ends consume it
    (CollapseProject keeps a non-cheap alias referenced twice)."""
    from .text import _tokenized

    base = _tokenized(spark, sf_dir, "source")
    staged = base.filter(F.size("t") > 0).select(
        "source", "t", cdc_cuts(F.col("t")).alias("cuts")
    )
    ex = staged.select(
        "source", F.explode(cdc_segments(F.col("t"), F.col("cuts"))).alias("c")
    )
    # two-level cell agg instead of count + countDistinct in one pass:
    # the mixed form plans an Expand (rows ×2) and shuffles raw chunk
    # rows; aggregating to (source, chunk-hash) cells first gets
    # map-side combine, so the exchange carries distinct cells only
    # (r5: 0.70 → 0.25 s at sf0.1, same values bit-for-bit — sums of
    # longs regroup associatively, the divisions stay long/long).
    cells = ex.groupBy("source", F.col("c.ch").alias("ch")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("c.ln").alias("sl")
    )
    n_chunks = F.sum("n")
    n_distinct = F.count(F.lit(1))
    return cells.groupBy("source").agg(
        n_chunks.alias("n_chunks"),
        n_distinct.alias("n_distinct"),
        F.round(1.0 - n_distinct / n_chunks, 4).alias("dup_frac"),
        F.round(F.sum("sl") / n_chunks, 2).alias("avg_chunk_tokens"),
    )


OVERLAP_DF_CUTOFF = 10  # a shingle in more than half the 20 sources carries no provenance signal


def _source_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (source, shingle) postings with boilerplate shingles
    dropped — session-persisted like every index relation (built once
    over the memoized shingle cache, probed by each overlap query).

    r12 (VERDICT r11 item 1): the df gate is an unordered per-shingle
    WINDOW COUNT over the distinct postings (the dup_spans/novelty
    ladder) instead of a groupBy(sgl) aggregate joined back. The join
    form's strategy was a BORDERLINE auto-broadcast decision — the
    keep-side size estimate hovers at the 10 MB threshold at the
    sf0.01 gate scale, so the committed exchange count flipped 9↔10
    between hosts (the r11 driver's one red test). The window form
    plans the same on every host (no join, no broadcast estimate),
    drops one postings exchange + the join outright, and the group
    frame is bounded by |sources| rows per shingle (post is distinct
    on (source, sgl)). Same rows: count(*) over the sgl frame IS the
    per-shingle df the aggregate computed."""

    def build() -> DataFrame:
        docs = parallelize(load_table(spark, sf_dir, "documents")).select("doc_id", "source")
        sh = _shingled_cached(spark, sf_dir)
        post = (
            sh.join(docs, "doc_id").select("source", F.explode("sh").alias("sgl")).distinct()
        )
        w_df = Window.partitionBy("sgl")
        return (
            post.withColumn("df", F.count(F.lit(1)).over(w_df))
            .filter(F.col("df") <= OVERLAP_DF_CUTOFF)
            .select("source", "sgl")
        )

    return _memo_persist(spark, sf_dir, "source_postk", build)


def _q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every ordered source
    pair, how many distinct discriminative shingles they share and the
    containment fraction |A∩B|/|A| — the provenance audit that answers
    "is source X scraped from source Y?" before sources are mixed into
    a training set.

    Scale shape: distinct (source, shingle) postings from the memoized
    shingle relation; shingles present in more than OVERLAP_DF_CUTOFF
    sources are dropped — they are corpus-wide boilerplate, not
    provenance evidence, and they are also the pair step's skew (a
    shingle in all sources contributes sources² rows). r11 (guide
    §2.4/§3.3): the ordered source pairs per shingle are generated from
    ONE grouped posting list (collect_list bounded ≤ OVERLAP_DF_CUTOFF
    by the memoized relation's df filter) instead of a self-equi-join
    on the shingle hash — one exchange of the postings rather than two
    plus the join, same ≤ sources² aggregate cells; the corpus text
    never moves."""
    postk = _source_postings(spark, sf_dir)
    sizes = postk.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))
    ss = F.col("ss")
    pair_arr = F.flatten(
        F.transform(
            ss,
            lambda a: F.transform(
                F.filter(ss, lambda b: b != a),
                lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
            ),
        )
    )
    shared = (
        postk.groupBy("sgl")
        .agg(F.collect_list("source").alias("ss"))
        .select(F.explode(pair_arr).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), "n_shingles")),
            "source_a",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_shingles"), 4).alias("containment"),
        )
    )


PAGERANK_D = 0.85
PAGERANK_ITERS = 3


def _q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the verified near-dup graph — the
    canonical-representative signal q_dedup_keep's lowest-id rule
    lacks: within a duplication cluster, the doc most connected to
    other near-dups (highest PR on the symmetric Jaccard graph) is
    the natural canonical copy, and rank mass concentrating on a few
    nodes flags template/boilerplate hubs worth a targeted rule.
    PAGERANK_ITERS unrolled power-iteration steps at damping
    PAGERANK_D on the symmetrized pair relation.

    Scale shape: the graph is the MEMOIZED near-dup pair relation
    (tiny relative to the corpus — only near-dups), and each
    iteration is one edge-keyed join + one dst-keyed partial agg:
    contribution cells in the shuffle, linear plan growth (each
    iteration references the previous once). The graph is symmetric
    so every node has out-degree ≥ 1 — no dangling-mass term needed.
    Per-iteration sums round at 9 dp so cross-engine float order
    can't drift across iterations (the q_kmeans gate).

    Output: (doc_id, deg, pagerank)."""
    pairs = _ngram_pairs_cached(spark, sf_dir).select("a", "b")
    edges = _memo_persist(
        spark,
        sf_dir,
        "dup_edges",
        lambda: pairs.unionByName(
            pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ),
    )
    # edges/deg are referenced once per iteration plus the finalization
    # — persisted so each reference is a cache read, not a rebuild
    deg = _memo_persist(
        spark,
        sf_dir,
        "dup_deg",
        lambda: edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg")),
    )
    n_rel = deg.agg(F.count(F.lit(1)).alias("n"))
    r = deg.crossJoin(F.broadcast(n_rel)).select(
        "a", (F.lit(1.0) / F.col("n")).alias("pr"), "deg", "n"
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            edges.join(r.select("a", (F.col("pr") / F.col("deg")).alias("c")), "a")
            .groupBy("b")
            .agg(F.round(F.sum("c"), 9).alias("s"))
            .withColumnRenamed("b", "a")
            .coalesce(1)  # O(nodes) cells: stay single-partition
        )
        r = (
            deg.join(contrib, "a", "left")
            .crossJoin(F.broadcast(n_rel))
            .select(
                "a",
                (
                    F.lit(1.0 - PAGERANK_D) / F.col("n")
                    + F.lit(PAGERANK_D) * F.coalesce("s", F.lit(0.0))
                ).alias("pr"),
                "deg",
                "n",
            )
            # localCheckpoint: the rank relation is referenced by the
            # next iteration's join AND rebuild — truncating per
            # iteration beats the lazy chained plan (4.1 -> 3.0 s
            # steady at sf0.1; the q_emb_principal lesson)
            .localCheckpoint()
        )
    return r.select(
        F.col("a").alias("doc_id"), "deg", F.round("pr", 6).alias("pagerank")
    )


FUZZY_MAX_DIST = 2  # Levenshtein acceptance threshold for a match
FUZZY_BLOCK = 2  # prefix/suffix block-key width (chars)


def _fuzzy_dirty_expr(name: str, key: str) -> str:
    """Deterministic single-edit corruption of ``name`` keyed by the
    record id — the shared SQL splice (Spark ``F.expr`` and the DuckDB
    oracle run the IDENTICAL string, so the fixture can't drift):
    mode ``key % 3`` deletes (0) or duplicates (1) the character at
    0-based position ``key % length`` or leaves the name clean (2).
    Same fixture-stream idea as privacy.pii_augmented_text — the
    synthetic names carry no real typos, so the gate manufactures a
    known-answer corruption and verifies the RESOLUTION machinery."""
    pos = f"CAST({key} % length({name}) AS INT)"
    return (
        f"CASE {key} % 3 "
        f"WHEN 0 THEN substr({name}, 1, {pos}) || substr({name}, {pos} + 2) "
        f"WHEN 1 THEN substr({name}, 1, {pos} + 1) || substr({name}, {pos} + 1) "
        f"ELSE {name} END"
    )


def _fuzzy_dirty4_expr(name: str, key: str) -> str:
    """q_fuzzy_join's 4-mode corruption splice (VERDICT r5 item 7):
    modes 0-2 are _fuzzy_dirty_expr's delete/duplicate/clean, mode 3
    is a TWO-edit adversarial row class — delete at ``key % len``
    then duplicate at ``(key·7+3) % len`` of the edited string. Two
    edits CAN land on both the prefix and suffix block keys at once,
    so union-of-two-blocks recall is measurably < 1.0 for this class
    — the honesty row that states what the blocking scheme actually
    guarantees (exact recall for ≤1 edit, best-effort beyond),
    mirroring how q_dedup_eval exposes LSH banding misses. A separate
    splice from _fuzzy_dirty_expr so q_linkage_weights' single-edit
    fixture (whose m-probability estimation assumes it) is untouched."""
    pos = f"CAST({key} % length({name}) AS INT)"
    s1 = f"(substr({name}, 1, {pos}) || substr({name}, {pos} + 2))"
    pos2 = f"CAST(({key} * 7 + 3) % length({s1}) AS INT)"
    two = f"substr({s1}, 1, {pos2} + 1) || substr({s1}, {pos2} + 1)"
    return (
        f"CASE {key} % 4 "
        f"WHEN 0 THEN substr({name}, 1, {pos}) || substr({name}, {pos} + 2) "
        f"WHEN 1 THEN substr({name}, 1, {pos} + 1) || substr({name}, {pos} + 1) "
        f"WHEN 2 THEN {name} "
        f"ELSE {two} END"
    )


def _q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution (record linkage): every part
    name is deterministically corrupted by one edit (see
    _fuzzy_dirty_expr), then resolved BACK against the distinct-name
    dictionary via Levenshtein <= FUZZY_MAX_DIST, candidate pairs
    generated only inside blocks — the standard blocking-based ER
    recipe (Fellegi-Sunter blocking step; cf. dedupe/splink's
    predicate blocking). Per corruption mode: records, resolved,
    correctly resolved (name equality — part names repeat, so the
    entity is the NAME, not the key), mean edit distance, and
    MEASURED recall (n_correct/n_records). Mode 3 is the TWO-edit
    adversarial class (r6): its recall is < 1.0 BY DESIGN — two
    edits can break both block keys — so the output states the
    blocking scheme's real contract (exact for ≤1 edit, measured
    best-effort beyond) instead of a benign-fixture 1.0.

    Scale shape: NEVER all-pairs. Candidates come from an equi-join
    on a union of two block keys (first-FUZZY_BLOCK / last-FUZZY_BLOCK
    chars — a single edit can break one of them but
    not both, so recall of ≤1-edit true matches is exact by
    construction);
    the distinct-name dictionary is dimension-sized and broadcast,
    so the corrupted fact stream never shuffles. The expensive
    levenshtein() runs only on deduped in-block pairs, and the
    argmin(dist, name) winner uses a window PARTITIONED by record id
    (no global ordering). At 100 TB: block sizes are bounded by name
    prefix cardinality; a skewed block would salt the same way
    q_pipeline_salted does.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (dedup / record-linkage family)."""
    part = load_table(spark, sf_dir, "part")
    dirty = part.select(
        F.col("p_partkey").alias("rec_id"),
        F.col("p_name").alias("true_name"),
        F.expr(_fuzzy_dirty4_expr("p_name", "p_partkey")).alias("dirty"),
        (F.col("p_partkey") % 4).cast("int").alias("mode"),
    )
    dictionary = part.select(F.col("p_name").alias("cand")).distinct()

    def _blocked(df: DataFrame, col: str) -> DataFrame:
        pre = df.withColumn(
            "bk", F.concat(F.lit("p:"), F.substring(F.col(col), 1, FUZZY_BLOCK))
        )
        suf = df.withColumn(
            "bk", F.concat(F.lit("s:"), F.substring(F.col(col), -FUZZY_BLOCK, FUZZY_BLOCK))
        )
        return pre.unionByName(suf)

    # NOTE: a (rec_id, cand) pair surviving under BOTH block keys is
    # deliberately NOT deduplicated — the duplicates tie on (dist,
    # cand) in the argmin window below and rn=1 returns the identical
    # winner, so a whole (rec_id, cand)-keyed shuffle is saved.
    pairs = (
        _blocked(dirty.select("rec_id", "dirty"), "dirty")
        .join(F.broadcast(_blocked(dictionary, "cand")), "bk")
        .select("rec_id", "dirty", "cand")
    )
    # r11 (guide §1.2 per-task work): two LOSSLESS prunes around the
    # expensive edit-distance. (1) |len(a)−len(b)| ≤ d is implied by
    # levenshtein ≤ d, so the length gate drops most in-block pairs
    # before any DP runs; (2) the THRESHOLD form levenshtein(a, b, d)
    # runs the banded O(d·n) DP with early exit (returns −1 past d)
    # instead of the full O(n²) table — kept pairs get the identical
    # distance value, so the match set and every output number are
    # unchanged (oracle keeps the unbounded formulation).
    scored = (
        pairs.filter(
            F.abs(F.length("dirty") - F.length("cand")) <= FUZZY_MAX_DIST
        )
        .withColumn("dist", F.levenshtein("dirty", "cand", FUZZY_MAX_DIST))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= FUZZY_MAX_DIST))
    )
    # argmin(dist, cand) as a partial-combinable MIN over a struct —
    # each map task pre-reduces its in-block pairs to one winner per
    # record before the rec_id exchange (a row_number window would
    # shuffle and sort EVERY candidate pair; the oracle keeps that
    # formulation as the independent algorithm)
    best = scored.groupBy("rec_id").agg(
        F.min(F.struct("dist", "cand")).alias("m")
    ).select("rec_id", F.col("m.cand").alias("cand"), F.col("m.dist").alias("dist"))
    return (
        dirty.join(best, "rec_id", "left")
        .groupBy("mode")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.count("cand").alias("n_resolved"),
            F.sum((F.col("cand") == F.col("true_name")).cast("long")).alias(
                "n_correct"
            ),
            F.round(F.avg("dist"), 6).alias("avg_dist"),
        )
        .select(
            "mode",
            "n_records",
            "n_resolved",
            "n_correct",
            "avg_dist",
            F.round(F.col("n_correct") / F.col("n_records"), 6).alias("recall"),
        )
        .transform(cells_sorted, "mode")  # 4 corruption-mode rows
    )


def _q_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution + discrete power-law exponent of the
    verified near-dup graph — the scale-free diagnostic that closes
    the graph-analytics set (components → PageRank → triangles →
    THIS): a heavy-tailed degree law (α ≈ 2-3) means template hubs
    (boilerplate families where one canonical serves thousands) and
    predicts hot keys in every pair-relation join; a thin tail means
    the near-dup mass is in small cliques that transitive clustering
    handles cheaply. α is the Clauset-Shalizi-Newman continuous-MLE
    α̂ = 1 + n / Σ ln(dᵢ / (d_min − ½)) over the degree relation
    (the ½-shift is the standard discrete correction). Output: one
    row (n_nodes, n_edges, d_min, d_max, mean_deg, alpha).

    Cross-engine floats: degrees are exact integers; each ln term is
    libm over a deterministic integer ratio, rounded 6 dp per term
    before the sum (the libm-in-VALUES discipline), and α rounds 6 dp
    after one division.

    Scale shape: degrees come from the MEMOIZED near-dup pair
    relation (near-dups only — tiny vs corpus) in one symmetric
    union + groupBy; everything after runs on the O(nodes) degree
    relation, min/max/sums partial-combining map-side to one row.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (dedup / fingerprinting family)."""
    pairs = _ngram_pairs_cached(spark, sf_dir).select("a", "b")
    edges_sym = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = edges_sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    dmin = deg.agg(F.min("deg").alias("d_min"))
    terms = deg.crossJoin(F.broadcast(dmin)).select(
        "deg",
        "d_min",
        F.round(
            F.log(F.col("deg") / (F.col("d_min") - F.lit(0.5))), 6
        ).alias("lt"),
    )
    ne = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        terms.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("d_min").alias("d_min"),
            F.max("deg").alias("d_max"),
            F.round(F.avg("deg"), 6).alias("mean_deg"),
            F.round(
                F.lit(1.0) + F.count(F.lit(1)) / F.sum("lt"), 6
            ).alias("alpha"),
        )
        .crossJoin(F.broadcast(ne))
        .select("n_nodes", "n_edges", "d_min", "d_max", "mean_deg", "alpha")
    )


def _q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the verified near-dup graph — the structure
    diagnostic PageRank's per-node view misses: a high global
    clustering coefficient (3·triangles / wedges) says near-dups come
    in dense template FAMILIES (one canonical per clique is safe to
    keep), while triangle-free pairs suggest chains of borderline
    matches where transitive clustering (q_dedup_clusters) may be
    over-merging distinct documents through middlemen. Output: one row
    (n_nodes, n_edges, n_wedges, n_triangles, clustering_coeff).

    Scale shape: the graph is the MEMOIZED near-dup pair relation
    (near-dups only — tiny vs the corpus). Triangles enumerate as the
    oriented a<b<c two-join (each edge stored once in canonical order,
    so every triangle is counted exactly once and join fan-out is
    bounded by forward-degree — the standard orientation trick);
    wedges are Σ deg·(deg−1)/2 over the symmetric degree relation.
    Integer arithmetic throughout, one final rounded division.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (dedup / fingerprinting family)."""
    pairs = _ngram_pairs_cached(spark, sf_dir).select("a", "b")  # a < b
    wedge = pairs.select(F.col("a").alias("x"), F.col("b").alias("y")).join(
        pairs.select(F.col("a").alias("y"), F.col("b").alias("z")), "y"
    )
    tri = wedge.join(
        pairs.select(F.col("a").alias("x"), F.col("b").alias("z")), ["x", "z"]
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    edges_sym = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = edges_sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("long").alias("n_wedges"),
    )
    ne = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") > 0, F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            )).otherwise(F.lit(0.0)).alias("clustering_coeff"),
        )
    )


FS_SMOOTH = 0.5  # Laplace smoothing for m/u estimates (keeps logs finite)
#: deterministic field-noise injectors: a known fraction of records
#: carries a wrong brand / type / size so the match-class agreement
#: probabilities m are measurably < 1 (clerical-error simulation,
#: same fixture-stream idea as _fuzzy_dirty_expr)
_FS_BRAND = "CASE WHEN p_partkey % 7 = 0 THEN 'Brand#00' ELSE p_brand END"
_FS_TYPE = "CASE WHEN p_partkey % 11 = 0 THEN 'mangled type' ELSE p_type END"
_FS_SIZE = "CASE WHEN p_partkey % 5 = 0 THEN p_size + 1 ELSE p_size END"


def _q_linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage model (Fellegi &
    Sunter 1969; the scoring model behind splink/dedupe): over the
    blocked candidate pairs of a deterministically corrupted copy of
    ``part`` vs the clean table, estimate per comparison field the
    match-class and non-match-class agreement rates m = P(agree|match)
    and u = P(agree|non-match) (ground truth = same part key, which
    the fixture knows), and emit each field's log2 agreement /
    disagreement weights — the additive evidence scores a linkage
    engine sums per pair. Laplace-smoothed so a saturated field
    (name agrees on every true match by construction) still yields a
    finite disagreement weight.

    Scale shape: O(N) by construction — the textbook estimation
    design (splink estimates u from random pairings, never from the
    blocked cross product): the match class is the N true pairs
    (dirty record key-joined to its own clean row), the non-match
    class is N DETERMINISTIC derangement pairs (partner key =
    (rec + 1) mod max_key — reproducible 'random' pairings with no
    shared entity), so estimation is two keyed joins however large the
    corpus. The r5 first cut blocked dirty×clean like q_fuzzy_join —
    the low-cardinality 2-char name blocks over TPC-H's color-word
    vocabulary made that N²/|blocks| (153 s at sf1, caught by the
    scale smoke); blocking belongs to candidate GENERATION
    (q_fuzzy_join), not to m/u estimation. Both classes collapse to
    ONE sufficient-statistic row, then explode to |fields| output
    rows.

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (dedup / record-linkage family)."""
    part = load_table(spark, sf_dir, "part")
    dirty = part.select(
        F.col("p_partkey").alias("rec_id"),
        F.expr(_fuzzy_dirty_expr("p_name", "p_partkey")).alias("dname"),
        F.expr(_FS_BRAND).alias("dbrand"),
        F.expr(_FS_TYPE).alias("dtype"),
        F.expr(_FS_SIZE).alias("dsize"),
    )
    clean = part.select(
        F.col("p_partkey").alias("cand_id"),
        F.col("p_name").alias("cname"),
        F.col("p_brand").alias("cbrand"),
        F.col("p_type").alias("ctype"),
        F.col("p_size").alias("csize"),
    )
    nk = part.agg((F.max("p_partkey") + 1).alias("nkeys"))
    paired = dirty.crossJoin(F.broadcast(nk)).select(
        "*",
        F.col("rec_id").alias("true_cand"),
        ((F.col("rec_id") + 1) % F.col("nkeys")).alias("derange_cand"),
    )
    matches = paired.join(
        clean, F.col("true_cand") == F.col("cand_id")
    ).select(F.lit(1).alias("match"), "dname", "cname", "dbrand", "cbrand",
             "dtype", "ctype", "dsize", "csize")
    nonmatches = paired.join(
        clean, F.col("derange_cand") == F.col("cand_id")
    ).select(F.lit(0).alias("match"), "dname", "cname", "dbrand", "cbrand",
             "dtype", "ctype", "dsize", "csize")
    flags = matches.unionByName(nonmatches).select(
        "match",
        (F.levenshtein("dname", "cname") <= 1).cast("long").alias("f_name"),
        (F.col("dbrand") == F.col("cbrand")).cast("long").alias("f_brand"),
        (F.col("dtype") == F.col("ctype")).cast("long").alias("f_type"),
        (F.col("dsize") == F.col("csize")).cast("long").alias("f_size"),
    )
    fields = ("name", "brand", "type", "size")
    s = flags.agg(
        F.sum("match").alias("nm"),
        F.sum(F.lit(1) - F.col("match")).alias("nn"),
        *[
            F.sum(F.col(f"f_{f}") * F.col("match")).alias(f"am_{f}")
            for f in fields
        ],
        *[
            F.sum(F.col(f"f_{f}") * (F.lit(1) - F.col("match"))).alias(f"au_{f}")
            for f in fields
        ],
    )

    def _row(f: str):
        m = (F.col(f"am_{f}") + FS_SMOOTH) / (F.col("nm") + 2 * FS_SMOOTH)
        u = (F.col(f"au_{f}") + FS_SMOOTH) / (F.col("nn") + 2 * FS_SMOOTH)
        return F.struct(
            F.lit(f).alias("field"),
            F.col("nm").alias("n_match"),
            F.col("nn").alias("n_nonmatch"),
            F.round(m, 6).alias("m"),
            F.round(u, 6).alias("u"),
            F.round(F.log2(m / u), 6).alias("w_agree"),
            F.round(F.log2((F.lit(1.0) - m) / (F.lit(1.0) - u)), 6).alias(
                "w_disagree"
            ),
        )

    return (
        s.select(F.explode(F.array(*[_row(f) for f in fields])).alias("r"))
        .select("r.*")
        .transform(cells_sorted, "field")  # <= |linkage fields| rows
    )


QUERIES = {
    "q_fuzzy_join": _q_fuzzy_join,
    "q_linkage_weights": _q_linkage_weights,
    "q_triangle_count": _q_triangle_count,
    "q_degree_powerlaw": _q_degree_powerlaw,
    "q_cdc_chunks": _q_cdc_chunks,
    "q_dedup_pagerank": _q_dedup_pagerank,
    "q_source_overlap": _q_source_overlap,
    "q_dup_spans": _q_dup_spans,
    "q_excise_spans": _q_excise_spans,
    "q_exact_substrings": _q_exact_substrings,
    "q_apply_excision": _q_apply_excision,
    "q_dedup_exact": _q_dedup_exact,
    "q_memorization_risk": _q_memorization_risk,
    "q_dedup_ngram": _q_dedup_ngram,
    "q_dedup_containment": _q_dedup_containment,
    "q_containment_keep": _q_containment_keep,
    "q_dedup_minhash": _q_dedup_minhash,
    "q_dedup_simhash": _q_dedup_simhash,
    "q_dedup_embedding": _q_dedup_embedding,
    "q_dedup_clusters": _q_dedup_clusters,
    "q_dedup_keep": _q_dedup_keep,
    "q_dedup_consensus": _q_dedup_consensus,
    "q_dedup_eval": _q_dedup_eval,
    "q_dedup_incremental": _q_dedup_incremental,
    "q_novelty": _q_novelty,
    "q_minhash_calibration": _q_minhash_calibration,
}

# --- oracles -----------------------------------------------------------------

_TOKS = tokens_sql("text")
_SHINGLES = shingles_sql("w")
_seq_sql = shingle_seq_sql("w", _EXCISE_N)

_SHINGLED_CTE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
strsh AS (SELECT doc_id, {_SHINGLES} AS ss FROM toks),
sh AS (SELECT doc_id, list_transform(ss, s -> {hash60_sql('s')}) AS s, len(ss) AS sz FROM strsh)
"""

_MH_EXPRS = ",\n         ".join(
    f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MERSENNE31})) AS mh{i}"
    for i, (a, b) in enumerate(PERMS)
)
_BANDS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {j} AS band, "
    + " || '-' || ".join(f"CAST(mh{j * N_ROWS + r} AS VARCHAR)" for r in range(N_ROWS))
    + " AS key FROM sig"
    for j in range(N_BANDS)
)

_SIMHASH_SQL = f"""
list_sum(list_transform(range(0, {SIMHASH_BITS}), k ->
  CASE WHEN list_sum(list_transform(hs, h -> ((h >> k) & 1) * 2 - 1)) > 0
       THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))
"""

def _pagerank_oracle() -> str:
    steps = []
    prev = "r0"
    for it in range(1, PAGERANK_ITERS + 1):
        steps.append(
            f"""c{it} AS (
  SELECT e.b AS a, round(sum(r.pr / r.deg), 9) AS s
  FROM edges e JOIN {prev} r ON e.a = r.a GROUP BY e.b
),
r{it} AS (
  SELECT d.a, (1 - CAST({PAGERANK_D} AS DOUBLE)) / nr.n
         + CAST({PAGERANK_D} AS DOUBLE) * coalesce(c.s, CAST(0 AS DOUBLE)) AS pr,
         d.deg
  FROM deg d CROSS JOIN nr LEFT JOIN c{it} c ON d.a = c.a
)"""
        )
        prev = f"r{it}"
    body = ",\n".join(steps)
    return (
        _SHINGLED_CTE
        + f""",
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
  WHERE len(list_intersect(x.s, y.s)) /
        CAST(x.sz + y.sz - len(list_intersect(x.s, y.s)) AS DOUBLE) >= {NGRAM_JACCARD_T}
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
deg AS (SELECT a, CAST(count(1) AS BIGINT) AS deg FROM edges GROUP BY a),
nr AS (SELECT CAST(count(1) AS BIGINT) AS n FROM deg),
r0 AS (SELECT d.a, CAST(1.0 AS DOUBLE) / nr.n AS pr, d.deg FROM deg d CROSS JOIN nr),
{body}
SELECT a AS doc_id, deg, round(pr, 6) AS pagerank FROM r{PAGERANK_ITERS}
"""
    )


def _linkage_oracle() -> str:
    """Per-field m/u/weight rows composed as UNION ALL selects over
    the one sufficient-statistic row; every float expression mirrors
    the Spark operand order (two divisions, then the quotient into
    log2 — never algebraically simplified)."""
    fields = ("name", "brand", "type", "size")
    stat_cols = ", ".join(
        [
            "CAST(sum(match) AS BIGINT) AS nm",
            "CAST(sum(1 - match) AS BIGINT) AS nn",
            *[f"CAST(sum(f_{f} * match) AS BIGINT) AS am_{f}" for f in fields],
            *[f"CAST(sum(f_{f} * (1 - match)) AS BIGINT) AS au_{f}" for f in fields],
        ]
    )
    selects = []
    for f in fields:
        m = f"((am_{f} + {FS_SMOOTH}) / (nm + {2 * FS_SMOOTH}))"
        u = f"((au_{f} + {FS_SMOOTH}) / (nn + {2 * FS_SMOOTH}))"
        selects.append(
            f"SELECT '{f}' AS field, nm AS n_match, nn AS n_nonmatch,"
            f" round({m}, 6) AS m, round({u}, 6) AS u,"
            f" round(log2({m} / {u}), 6) AS w_agree,"
            f" round(log2((1.0 - {m}) / (1.0 - {u})), 6) AS w_disagree"
            f" FROM s"
        )
    return f"""
WITH dirty AS (
  SELECT p_partkey AS rec_id,
         {_fuzzy_dirty_expr("p_name", "p_partkey")} AS dname,
         {_FS_BRAND} AS dbrand, {_FS_TYPE} AS dtype, {_FS_SIZE} AS dsize
  FROM part
),
clean AS (
  SELECT p_partkey AS cand_id, p_name AS cname, p_brand AS cbrand,
         p_type AS ctype, p_size AS csize
  FROM part
),
nk AS (SELECT max(p_partkey) + 1 AS nkeys FROM part),
paired AS (
  SELECT d.*, d.rec_id AS true_cand, (d.rec_id + 1) % k.nkeys AS derange_cand
  FROM dirty d CROSS JOIN nk k
),
pairs AS (
  SELECT 1 AS match, p.dname, c.cname, p.dbrand, c.cbrand,
         p.dtype, c.ctype, p.dsize, c.csize
  FROM paired p JOIN clean c ON p.true_cand = c.cand_id
  UNION ALL
  SELECT 0 AS match, p.dname, c.cname, p.dbrand, c.cbrand,
         p.dtype, c.ctype, p.dsize, c.csize
  FROM paired p JOIN clean c ON p.derange_cand = c.cand_id
),
flags AS (
  SELECT match,
         CASE WHEN levenshtein(dname, cname) <= 1 THEN 1 ELSE 0 END AS f_name,
         CASE WHEN dbrand = cbrand THEN 1 ELSE 0 END AS f_brand,
         CASE WHEN dtype = ctype THEN 1 ELSE 0 END AS f_type,
         CASE WHEN dsize = csize THEN 1 ELSE 0 END AS f_size
  FROM pairs
),
s AS (SELECT {stat_cols} FROM flags)
SELECT * FROM ({" UNION ALL ".join(selects)}) ORDER BY field
"""


ORACLE = {
    "q_linkage_weights": _linkage_oracle(),
    "q_degree_powerlaw": _SHINGLED_CTE
    + f""",
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
  WHERE len(list_intersect(x.s, y.s)) /
        CAST(x.sz + y.sz - len(list_intersect(x.s, y.s)) AS DOUBLE) >= {NGRAM_JACCARD_T}
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
deg AS (SELECT a, CAST(count(1) AS BIGINT) AS deg FROM edges GROUP BY a),
dm AS (SELECT CAST(min(deg) AS BIGINT) AS d_min FROM deg),
terms AS (
  SELECT deg, d_min, round(ln(deg / (d_min - 0.5)), 6) AS lt
  FROM deg CROSS JOIN dm
),
ne AS (SELECT CAST(count(1) AS BIGINT) AS n_edges FROM pairs),
agg AS (
  SELECT CAST(count(1) AS BIGINT) AS n_nodes,
         CAST(max(d_min) AS BIGINT) AS d_min,
         CAST(max(deg) AS BIGINT) AS d_max,
         round(avg(deg), 6) AS mean_deg,
         round(1.0 + count(1) / sum(lt), 6) AS alpha
  FROM terms
)
SELECT n_nodes, n_edges, d_min, d_max, mean_deg, alpha
FROM agg CROSS JOIN ne
""",
    "q_triangle_count": _SHINGLED_CTE
    + f""",
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
  WHERE len(list_intersect(x.s, y.s)) /
        CAST(x.sz + y.sz - len(list_intersect(x.s, y.s)) AS DOUBLE) >= {NGRAM_JACCARD_T}
),
tri AS (
  SELECT CAST(count(1) AS BIGINT) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.a = e1.b
  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
deg AS (SELECT a, CAST(count(1) AS BIGINT) AS deg FROM edges GROUP BY a),
st AS (
  SELECT CAST(count(1) AS BIGINT) AS n_nodes,
         CAST(sum(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
  FROM deg
),
ne AS (SELECT CAST(count(1) AS BIGINT) AS n_edges FROM pairs)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN round(3.0 * n_triangles / n_wedges, 6) ELSE 0.0 END
         AS clustering_coeff
FROM st CROSS JOIN ne CROSS JOIN tri
""",
    "q_fuzzy_join": f"""
WITH dirty AS (
  SELECT p_partkey AS rec_id, p_name AS true_name,
         {_fuzzy_dirty4_expr("p_name", "p_partkey")} AS dirty,
         CAST(p_partkey % 4 AS INTEGER) AS mode
  FROM part
),
dict AS (SELECT DISTINCT p_name AS cand FROM part),
db AS (
  SELECT rec_id, dirty, 'p:' || substr(dirty, 1, {FUZZY_BLOCK}) AS bk FROM dirty
  UNION ALL
  SELECT rec_id, dirty,
         's:' || substr(dirty, length(dirty) - {FUZZY_BLOCK} + 1, {FUZZY_BLOCK})
  FROM dirty
),
nb AS (
  SELECT cand, 'p:' || substr(cand, 1, {FUZZY_BLOCK}) AS bk FROM dict
  UNION ALL
  SELECT cand, 's:' || substr(cand, length(cand) - {FUZZY_BLOCK} + 1, {FUZZY_BLOCK})
  FROM dict
),
pairs AS (SELECT DISTINCT rec_id, dirty, cand FROM db JOIN nb USING (bk)),
scored AS (
  SELECT rec_id, cand, levenshtein(dirty, cand) AS dist
  FROM pairs WHERE levenshtein(dirty, cand) <= {FUZZY_MAX_DIST}
),
best AS (
  SELECT rec_id, cand, dist FROM (
    SELECT rec_id, cand, dist,
           row_number() OVER (PARTITION BY rec_id ORDER BY dist, cand) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT mode,
       CAST(count(1) AS BIGINT) AS n_records,
       CAST(count(b.cand) AS BIGINT) AS n_resolved,
       CAST(sum(CASE WHEN b.cand = d.true_name THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(avg(b.dist), 6) AS avg_dist,
       round(sum(CASE WHEN b.cand = d.true_name THEN 1 ELSE 0 END)
             / CAST(count(1) AS DOUBLE), 6) AS recall
FROM dirty d LEFT JOIN best b USING (rec_id)
GROUP BY mode
ORDER BY mode
""",
    "q_dedup_pagerank": _pagerank_oracle(),
    "q_source_overlap": _SHINGLED_CTE
    + f""",
post AS (
  SELECT DISTINCT source, sgl FROM (
    SELECT d.source, unnest(sh.s) AS sgl
    FROM sh JOIN documents d USING (doc_id)
  )
),
keep AS (SELECT sgl FROM post GROUP BY sgl HAVING count(1) <= {OVERLAP_DF_CUTOFF}),
postk AS (SELECT source, sgl FROM post JOIN keep USING (sgl)),
sizes AS (SELECT source, CAST(count(1) AS BIGINT) AS n_shingles FROM postk GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(1) AS BIGINT) AS n_shared
  FROM postk a JOIN postk b ON a.sgl = b.sgl AND a.source <> b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, n_shared,
       round(n_shared / CAST(n_shingles AS DOUBLE), 4) AS containment
FROM shared JOIN (SELECT source AS source_a, n_shingles FROM sizes) USING (source_a)
""",
    "q_cdc_chunks": f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
cut AS (
  SELECT doc_id, source, t, len(t) AS n,
         list_filter(range(1, len(t) + 1),
                     i -> ({hash60_sql('t[i]')}) % {CDC_DIVISOR} = {CDC_DIVISOR - 1}) AS cuts
  FROM toks WHERE len(t) > 0
),
seg AS (
  SELECT doc_id, source,
         list_filter(
           list_transform(range(1, len(cuts) + 2),
             j -> struct_pack(s := (list_concat([0], cuts))[j],
                              e := (list_concat(cuts, [n]))[j])),
           x -> x.e > x.s) AS segs,
         t
  FROM cut
),
ch AS (
  SELECT source, unnest(list_transform(segs,
           x -> struct_pack(
             ch := {hash60_sql("array_to_string(list_slice(t, x.s + 1, x.e), ' ')")},
             ln := x.e - x.s))) AS c
  FROM seg
)
SELECT source,
       CAST(count(1) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT c.ch) AS BIGINT) AS n_distinct,
       round(1.0 - count(DISTINCT c.ch) / count(1), 4) AS dup_frac,
       round(avg(c.ln), 2) AS avg_chunk_tokens
FROM ch GROUP BY source
""",
    "q_dedup_exact": f"""
WITH h AS (SELECT {hash60_sql('text')} AS h FROM documents)
SELECT CAST(count(1) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
       CAST(count(1) - count(DISTINCT h) AS BIGINT) AS n_exact_dups
FROM h
""",
    "q_dup_spans": _SHINGLED_CTE
    + """,
ex AS (SELECT doc_id, unnest(s) AS sgl FROM sh),
shared AS (SELECT sgl FROM ex GROUP BY sgl HAVING count(DISTINCT doc_id) > 1),
dup AS (
  SELECT doc_id, CAST(count(1) AS BIGINT) AS n_dup
  FROM ex JOIN shared USING (sgl) GROUP BY doc_id
)
SELECT h.doc_id,
       h.sz AS n_shingles,
       COALESCE(d.n_dup, 0) AS n_dup,
       CASE WHEN h.sz > 0
            THEN round(COALESCE(d.n_dup, 0) / CAST(h.sz AS DOUBLE), 4)
            ELSE 0.0 END AS dup_frac
FROM sh h LEFT JOIN dup d USING (doc_id)
""",
    "q_exact_substrings": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
seqs AS (SELECT doc_id,
                list_transform({shingle_seq_sql("w", EXSUB_L)}, s -> {hash60_sql('s')}) AS hs
         FROM toks),
pos AS (SELECT doc_id, generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS g
        FROM seqs),
shared AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= 2),
dup AS (SELECT doc_id, pos FROM pos JOIN shared USING (g)),
flag AS (SELECT doc_id, pos,
                CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                          <= {EXSUB_L} THEN 0 ELSE 1 END AS new_span
         FROM dup),
isl AS (SELECT doc_id, pos,
               sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        FROM flag)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS p0,
       CAST(max(pos) - min(pos) + {EXSUB_L} AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, span_id
""",
    "q_apply_excision": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
seqs AS (SELECT doc_id,
                list_transform({shingle_seq_sql("w", EXSUB_L)}, s -> {hash60_sql('s')}) AS hs
         FROM toks),
pos AS (SELECT doc_id, generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS g
        FROM seqs),
shared AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= 2),
dup AS (SELECT doc_id, pos FROM pos JOIN shared USING (g)),
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
           FROM toks),
kept AS (SELECT t.doc_id, t.i, t.tok FROM tokpos t
         WHERE NOT EXISTS (SELECT 1 FROM spans s
                           WHERE s.doc_id = t.doc_id
                             AND t.i >= s.p0 AND t.i < s.p0 + s.span_tokens)),
clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
                 count(*) AS kept_n
          FROM kept GROUP BY doc_id),
orig AS (SELECT doc_id, array_to_string(w, ' ') AS otext, len(w) AS ntok FROM toks)
SELECT o.doc_id AS doc_id,
       COALESCE(c.clean_text, '') AS clean_text,
       CAST(o.ntok - COALESCE(c.kept_n, 0) AS BIGINT) AS removed_tokens,
       CAST(length(o.otext) - length(COALESCE(c.clean_text, '')) AS BIGINT)
         AS removed_chars
FROM orig o LEFT JOIN clean c USING (doc_id)
""",
    "q_excise_spans": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
seqs AS (SELECT doc_id,
                list_transform({_seq_sql}, s -> {hash60_sql('s')}) AS hs
         FROM toks),
pos AS (SELECT doc_id, generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS g
        FROM seqs),
shared AS (SELECT g FROM pos GROUP BY g HAVING count(DISTINCT doc_id) > 1),
dup AS (SELECT doc_id, pos FROM pos JOIN shared USING (g)),
flag AS (SELECT doc_id, pos,
                CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                          <= {_EXCISE_N} THEN 0 ELSE 1 END AS new_span
         FROM dup),
isl AS (SELECT doc_id, pos,
               sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        FROM flag),
spans AS (SELECT doc_id, max(pos) - min(pos) + {_EXCISE_N} AS span_tokens
          FROM isl GROUP BY doc_id, span_id
          HAVING max(pos) - min(pos) + {_EXCISE_N} >= {EXCISE_MIN_TOKENS}),
ntok AS (SELECT doc_id, max(pos) + {_EXCISE_N} AS n_tokens FROM pos GROUP BY doc_id)
SELECT s.doc_id AS doc_id,
       CAST(count(1) AS BIGINT) AS n_spans,
       CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
       CAST(max(span_tokens) AS BIGINT) AS longest_span,
       round(CAST(sum(span_tokens) AS DOUBLE) / n.n_tokens, 4) AS dup_token_frac
FROM spans s JOIN ntok n USING (doc_id)
GROUP BY s.doc_id, n.n_tokens
""",
    "q_dedup_ngram": _SHINGLED_CTE
    + f"""
SELECT x.doc_id AS a, y.doc_id AS b,
       round(len(list_intersect(x.s, y.s)) /
             CAST(x.sz + y.sz - len(list_intersect(x.s, y.s)) AS DOUBLE), 6) AS jaccard
FROM sh x JOIN sh y ON x.doc_id < y.doc_id
WHERE len(list_intersect(x.s, y.s)) /
      CAST(x.sz + y.sz - len(list_intersect(x.s, y.s)) AS DOUBLE) >= {NGRAM_JACCARD_T}
""",
    # excerpt-injected corpus (mirrors _containment_docs), ordered
    # pairs by asymmetric containment; the raw (unrounded) ratios gate
    # both thresholds so the compared order is the computed order
    "q_dedup_containment": None,  # filled below from _CONTAINMENT_CTE
    "q_containment_keep": None,  # filled below from _CONTAINMENT_CTE
    "q_dedup_clusters": _SHINGLED_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
  WHERE len(list_intersect(x.s, y.s)) /
        CAST(x.sz + y.sz - len(list_intersect(x.s, y.s)) AS DOUBLE) >= {NGRAM_JACCARD_T}
),
edges AS (
  SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b AS u, a AS v FROM pairs
),
walk AS (
  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u
)
SELECT u AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY u
""",
    "q_dedup_minhash": _SHINGLED_CTE
    + f""",
hashed AS (
  SELECT doc_id, s, sz, list_transform(s, x -> x % {MERSENNE31}) AS hs
  FROM sh WHERE sz > 0
),
sig AS (
  SELECT doc_id, s, sz,
         {_MH_EXPRS}
  FROM hashed
),
bands AS (
{_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
  WHERE x.doc_id < y.doc_id
)
SELECT a, b,
       round(len(list_intersect(sa.s, sb.s)) /
             CAST(sa.sz + sb.sz - len(list_intersect(sa.s, sb.s)) AS DOUBLE), 6) AS jaccard
FROM cand
JOIN sig sa ON sa.doc_id = a
JOIN sig sb ON sb.doc_id = b
WHERE len(list_intersect(sa.s, sb.s)) /
      CAST(sa.sz + sb.sz - len(list_intersect(sa.s, sb.s)) AS DOUBLE) >= {JACCARD_T}
""",
    "q_dedup_keep": _SHINGLED_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
  WHERE len(list_intersect(x.s, y.s)) /
        CAST(x.sz + y.sz - len(list_intersect(x.s, y.s)) AS DOUBLE) >= {NGRAM_JACCARD_T}
),
edges AS (
  SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b AS u, a AS v FROM pairs
),
walk AS (
  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u
),
clusters AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY u)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       coalesce(c.cluster_id, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
""",
    "q_dedup_simhash": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
hashed AS (
  SELECT doc_id, list_transform(list_distinct(w), x -> {hash60_sql('x')}) AS hs
  FROM toks
),
sim AS (SELECT doc_id, {_SIMHASH_SQL} AS s FROM hashed)
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.s, y.s)) AS INTEGER) AS hamming
FROM sim x JOIN sim y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.s, y.s)) <= {SIMHASH_MAX_DIST}
""",
    "q_dedup_embedding": f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                          (a, x) -> a + x)) AS nrm
  FROM embeddings
)
SELECT x.vec_id AS a, y.vec_id AS b,
       round(list_reduce(list_transform(range(1, 1 + len(x.e)), i -> x.e[i] * y.e[i]),
                         (acc, p) -> acc + p) / (x.nrm * y.nrm), 6) AS cosine
FROM v x JOIN v y ON x.vec_id < y.vec_id
WHERE list_reduce(list_transform(range(1, 1 + len(x.e)), i -> x.e[i] * y.e[i]),
                  (acc, p) -> acc + p) / (x.nrm * y.nrm) >= {COSINE_T}
""",
    "q_minhash_calibration": _SHINGLED_CTE
    + f"""
,hashed AS (
  SELECT doc_id, s, sz, list_transform(s, x -> x % {MERSENNE31}) AS hs
  FROM sh WHERE sz > 0
),
sig AS (
  SELECT doc_id, s, sz,
         {_MH_EXPRS}
  FROM hashed
),
bands AS (
{_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
  WHERE x.doc_id < y.doc_id
),
scored AS (
  SELECT c.a, c.b,
         round(len(list_intersect(sa.s, sb.s)) /
               CAST(sa.sz + sb.sz - len(list_intersect(sa.s, sb.s)) AS DOUBLE), 6) AS j_exact,
         round(((CASE WHEN sa.mh0 = sb.mh0 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh4 = sb.mh4 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh5 = sb.mh5 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh6 = sb.mh6 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh7 = sb.mh7 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh8 = sb.mh8 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh9 = sb.mh9 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh10 = sb.mh10 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh11 = sb.mh11 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh12 = sb.mh12 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh13 = sb.mh13 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh14 = sb.mh14 THEN 1 ELSE 0 END) + (CASE WHEN sa.mh15 = sb.mh15 THEN 1 ELSE 0 END)) / 16.0, 6) AS j_est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.a
  JOIN sig sb ON sb.doc_id = c.b
)
SELECT a, b, j_exact, j_est, round(abs(j_exact - j_est), 6) AS abs_err
FROM scored
""",
    "q_novelty": _SHINGLED_CTE
    + """,
ex AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE sz > 0),
fs AS (SELECT g, min(doc_id) AS first_doc FROM ex GROUP BY g)
SELECT e.doc_id,
       CAST(count(1) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(1), 6) AS novelty_frac
FROM ex e JOIN fs f USING (g)
GROUP BY e.doc_id
""",
    "q_dedup_incremental": _SHINGLED_CTE
    + f""",
hashed AS (
  SELECT doc_id, s, sz, list_transform(s, x -> x % {MERSENNE31}) AS hs
  FROM sh WHERE sz > 0
),
sig AS (
  SELECT doc_id, s, sz,
         {_MH_EXPRS}
  FROM hashed
),
bands AS (
{_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT x.doc_id AS d, y.doc_id AS o
  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
  WHERE x.doc_id % {DELTA_MOD} = {DELTA_MOD - 1} AND x.doc_id <> y.doc_id
),
dups AS (
  SELECT d, o FROM cand
  JOIN hashed sa ON sa.doc_id = d
  JOIN hashed sb ON sb.doc_id = o
  WHERE len(list_intersect(sa.s, sb.s)) /
        CAST(sa.sz + sb.sz - len(list_intersect(sa.s, sb.s)) AS DOUBLE) >= {JACCARD_T}
),
per AS (
  SELECT d,
         CAST(sum(CASE WHEN o % {DELTA_MOD} <> {DELTA_MOD - 1} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_base_dups,
         CAST(sum(CASE WHEN o % {DELTA_MOD} = {DELTA_MOD - 1} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_delta_dups,
         min(CASE WHEN o % {DELTA_MOD} = {DELTA_MOD - 1} THEN o END) AS minp
  FROM dups GROUP BY d
)
SELECT dd.doc_id,
       coalesce(per.n_base_dups, 0) AS n_base_dups,
       coalesce(per.n_delta_dups, 0) AS n_delta_dups,
       (coalesce(per.n_base_dups, 0) = 0
        AND (per.minp IS NULL OR per.minp > dd.doc_id)) AS keep
FROM (SELECT doc_id FROM sh
      WHERE sz > 0 AND doc_id % {DELTA_MOD} = {DELTA_MOD - 1}) dd
LEFT JOIN per ON per.d = dd.doc_id
""",
    # one merged WITH: shingle pass -> truth (all-pairs >= JACCARD_T),
    # minhash chain, simhash chain, ngram@0.8 subset -> per-method P/R
    "q_dedup_eval": _SHINGLED_CTE
    + f""",
jac AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         len(list_intersect(x.s, y.s)) /
           CAST(x.sz + y.sz - len(list_intersect(x.s, y.s)) AS DOUBLE) AS j
  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
),
truth AS (SELECT a, b FROM jac WHERE j >= {JACCARD_T}),
hashed AS (
  SELECT doc_id, s, sz, list_transform(s, x -> x % {MERSENNE31}) AS hs
  FROM sh WHERE sz > 0
),
sig AS (
  SELECT doc_id, s, sz,
         {_MH_EXPRS}
  FROM hashed
),
bands AS (
{_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
  WHERE x.doc_id < y.doc_id
),
mh AS (
  SELECT a, b FROM cand
  JOIN sig sa ON sa.doc_id = a
  JOIN sig sb ON sb.doc_id = b
  WHERE len(list_intersect(sa.s, sb.s)) /
        CAST(sa.sz + sb.sz - len(list_intersect(sa.s, sb.s)) AS DOUBLE) >= {JACCARD_T}
),
sdist AS (
  SELECT doc_id, list_transform(list_distinct(w), x -> {hash60_sql('x')}) AS hs
  FROM toks
),
sim AS (SELECT doc_id, {_SIMHASH_SQL} AS s FROM sdist),
shp AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM sim x JOIN sim y ON x.doc_id < y.doc_id
  WHERE bit_count(xor(x.s, y.s)) <= {SIMHASH_MAX_DIST}
),
ng8 AS (SELECT a, b FROM jac WHERE j >= {NGRAM_JACCARD_T}),
preds AS (
  SELECT a, b, 'minhash_lsh' AS method FROM mh
  UNION ALL SELECT a, b, 'simhash_h2' FROM shp
  UNION ALL SELECT a, b, 'ngram_t08' FROM ng8
),
per AS (
  SELECT p.method,
         CAST(count(1) AS BIGINT) AS n_pred,
         CAST(sum(CASE WHEN t.a IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS tp
  FROM preds p LEFT JOIN truth t ON p.a = t.a AND p.b = t.b
  GROUP BY p.method
),
nt AS (SELECT CAST(count(1) AS BIGINT) AS n_truth FROM truth)
SELECT method, n_pred, n_truth, tp,
       round(CAST(tp AS DOUBLE) / n_pred, 6) AS precision,
       round(CAST(tp AS DOUBLE) / n_truth, 6) AS recall
FROM per CROSS JOIN nt
""",
}


# memorization-risk oracle: composes the pair + span oracles verbatim
# (the q_dedup_consensus wrapping pattern) over the token projection
ORACLE["q_memorization_risk"] = f"""
WITH toks AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
nd AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near_dups FROM (
    SELECT a AS doc_id FROM ({ORACLE["q_dedup_ngram"]})
    UNION ALL
    SELECT b AS doc_id FROM ({ORACLE["q_dedup_ngram"]})
  ) GROUP BY doc_id
),
ds AS (SELECT doc_id, n_dup AS n_dup_shingles, dup_frac FROM ({ORACLE["q_dup_spans"]}))
SELECT t.doc_id, t.n_tokens,
       coalesce(nd.n_near_dups, 0) AS n_near_dups,
       ds.n_dup_shingles, ds.dup_frac,
       CAST(t.n_tokens * ds.n_dup_shingles AS BIGINT) AS exposure,
       CASE WHEN coalesce(nd.n_near_dups, 0) > 0 THEN 'high'
            WHEN ds.dup_frac >= {MEMRISK_DUPFRAC_T} THEN 'medium'
            ELSE 'low' END AS risk
FROM toks t LEFT JOIN nd USING (doc_id) JOIN ds ON ds.doc_id = t.doc_id
"""

# consensus oracle: wrap the three standalone method oracles as derived
# tables (DuckDB allows WITH inside a parenthesized subquery), union the
# tagged pair sets, and keep pairs flagged by >= 2 methods.
ORACLE["q_dedup_consensus"] = f"""
WITH u AS (
  SELECT a, b, 'ngram' AS m FROM ({ORACLE["q_dedup_ngram"]})
  UNION ALL
  SELECT a, b, 'minhash' AS m FROM ({ORACLE["q_dedup_minhash"]})
  UNION ALL
  SELECT a, b, 'simhash' AS m FROM ({ORACLE["q_dedup_simhash"]})
)
SELECT a, b, CAST(count(1) AS BIGINT) AS n_methods,
       string_agg(m, ',' ORDER BY m) AS methods
FROM u GROUP BY a, b HAVING count(1) >= 2
"""

#: shared CTE for the containment family: excerpt-injected corpus
#: (mirrors _containment_docs) down to the all-ordered-pairs relation
_CONTAINMENT_CTE = f"""
WITH toks0 AS (SELECT doc_id, {_TOKS} AS w FROM documents),
exc AS (
  SELECT doc_id + {EXCERPT_OFFSET} AS doc_id,
         w[1:CAST(ceil({EXCERPT_FRAC} * len(w)) AS INT)] AS w
  FROM toks0 WHERE doc_id % {EXCERPT_STRIDE} = 0 AND len(w) >= {EXCERPT_MIN_TOKENS}
),
toks AS (SELECT * FROM toks0 UNION ALL SELECT * FROM exc),
strsh AS (SELECT doc_id, {_SHINGLES} AS ss FROM toks),
sh AS (SELECT doc_id, list_transform(ss, s -> {hash60_sql('s')}) AS s, len(ss) AS sz FROM strsh),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         len(list_intersect(x.s, y.s)) AS inter, x.sz AS sza, y.sz AS szb
  FROM sh x JOIN sh y ON x.doc_id <> y.doc_id
  WHERE x.sz > 0 AND y.sz > 0
)"""

ORACLE["q_dedup_containment"] = (
    _CONTAINMENT_CTE
    + f"""
SELECT a, b,
       round(inter / CAST(sza AS DOUBLE), 6) AS containment,
       round(inter / CAST(sza + szb - inter AS DOUBLE), 6) AS jaccard,
       (inter / CAST(sza + szb - inter AS DOUBLE)) < {NGRAM_JACCARD_T} AS subset_only
FROM pairs
WHERE inter >= {CONTAINMENT_T} * sza
"""
)

ORACLE["q_containment_keep"] = (
    _CONTAINMENT_CTE
    + f""",
doms AS (
  SELECT a AS doc_id, min(b) AS dropped_for
  FROM pairs
  WHERE inter >= {CONTAINMENT_T} * sza
    AND (szb > sza OR (szb = sza AND b < a))
  GROUP BY a
)
SELECT s.doc_id, d.dropped_for IS NULL AS keep, d.dropped_for
FROM sh s LEFT JOIN doms d ON s.doc_id = d.doc_id
WHERE s.sz > 0
"""
)
