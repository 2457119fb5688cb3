"""Deterministic k-means over the ``embeddings`` table — the
clustering stage of an embedding-based curation pipeline (cluster →
inspect / reweight / SemDeDup-style prune). The reference engine has
no clustering operator; this extends the same LLM-training-data
surface as operators/dedup.py and operators/similarity.py.

Scale design — Lloyd's algorithm shaped for a 1000-executor cluster:

* **Assignment is map-only.** The K current centroids are collected
  into ONE array row and broadcast; each vector computes all K
  distances with array HOFs and takes the argmin in-row. No
  per-(vector, centroid) shuffle, no row_number window over N·K rows —
  the only data movement for assignment is the K-row broadcast.
* **The update shuffles K·dim cells, not N rows.** Per-dimension means
  go through posexplode → partial-aggregated groupBy(cluster, pos):
  map-side combine reduces each partition to ≤ K·dim cells before the
  exchange, so shuffle volume is independent of corpus size.
* **Iterations are unrolled into one lazy plan** (same pattern as
  q_bpe_train): a fixed ITERS keeps both engines' plans static, no
  driver loop executes anything, and Spark's exchange reuse dedupes
  the shared prefix stages across iterations.

Engine parity: distances are strict left folds over float→double-cast
components (bit-identical in Spark ``F.aggregate`` and DuckDB 2-arg
``list_reduce`` — adding Spark's 0.0 init is exact), argmin ties break
on centroid id, and centroid means are rounded to 6 decimals at every
iteration boundary on BOTH engines so no cross-engine float drift can
accumulate across iterations. Empty clusters simply drop out of the
next round on both engines (textbook Lloyd caveat, semantics shared).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table, parallelize

K_CLUSTERS = 4
KMEANS_ITERS = 3
EMB_DIM = 64
_R = 6  # per-iteration decimal rounding (cross-engine float gate)


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v=array<double>) — float→double cast is exact, so both
    engines fold over identical bits. Memo-persisted: the unrolled plan
    scans it ITERS+1 times."""
    from .dedup import _memo_persist

    def build() -> DataFrame:
        e = parallelize(load_table(spark, sf_dir, "embeddings"))
        return e.select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )

    return _memo_persist(spark, sf_dir, "emb_double", build)


def _d2(a: Column, b: Column) -> Column:
    """Squared L2 distance as a strict left fold (bit-portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _centroid_row(cur: DataFrame) -> DataFrame:
    """K centroids collapsed into one broadcastable array row."""
    return cur.agg(F.collect_list(F.struct("cid", "v")).alias("cs"))


def assign_clusters(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Map-only argmin assignment: broadcast the 1-row centroid array,
    score all K in-row, array_sort picks (min d2, min cid) first."""
    scored = F.transform(
        F.col("cs"),
        lambda c: F.struct(
            F.round(_d2(F.col("v"), c["v"]), _R).alias("d2"), c["cid"].alias("cid")
        ),
    )
    best = F.array_sort(scored).getItem(0)
    return (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", best.alias("best"))
        .select(
            "vec_id",
            "v",
            F.col("best.cid").alias("cluster"),
            F.col("best.d2").alias("d2"),
        )
    )


def update_centroids(assigned: DataFrame) -> DataFrame:
    """Per-dimension means via posexplode → groupBy(cluster, pos):
    partial aggregation bounds the shuffle at K·dim cells. Rebuild the
    ordered array with sort_array(collect_list(struct(pos, m))) — the
    engine-portable ordered-list aggregate."""
    return (
        assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("val"), _R).alias("m"))
        .groupBy("cluster")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("cluster").alias("cid"),
            F.transform("pm", lambda s: s["m"]).alias("v"),
        )
    )


def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMEANS_ITERS unrolled Lloyd iterations from the deterministic
    seed (the K lowest-vec_id vectors), then the final assignment:
    (vec_id, v, cluster, d2). Consumed by q_kmeans and q_semdedup —
    memo-persisted so the unrolled iteration chain (the dominant cost,
    ~8 s of q_semdedup's 11 s at sf0.1) materializes once; the table
    is one row per vector, the same artifact a production pipeline
    would checkpoint between clustering and its consumers."""
    from .dedup import _memo_persist

    return _memo_persist(
        spark, sf_dir, "kmeans_assignments", lambda: _kmeans_assignments_build(spark, sf_dir)
    )


def _kmeans_assignments_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_double(spark, sf_dir)
    w = Window.orderBy("vec_id")
    cur = (
        emb.orderBy("vec_id")
        .limit(K_CLUSTERS)
        .select((F.row_number().over(w) - 1).alias("cid"), "v")
    )
    for _ in range(KMEANS_ITERS):
        cur = update_centroids(assign_clusters(emb, _centroid_row(cur)))
    return assign_clusters(emb, _centroid_row(cur))


def _q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_assignments(spark, sf_dir).select("vec_id", "cluster", "d2")


SEMDEDUP_T = 0.4  # within-cluster cosine cut (28/31347 pairs at sf0.01)
#: max vectors whose gram matrix one task may own (VERDICT r3 item 5):
#: a degenerate clustering (one hot cluster) would otherwise put the
#: whole corpus's O(c²) cosine matrix in a single applyInPandas group.
#: Clusters above the cap run the exact block-pair decomposition —
#: same answers, ≤ CAP² cosines per task. The cap is a pure execution
#: knob (the decomposition recombines exactly at ANY value), so it is
#: ALSO the parallelism grain: r11 swept 4096/2048/1024/512 on the
#: sf1 tiers (where k-means leaves ~4 clusters of ~5k vectors and the
#: old 4096 ran the corpus as ≤12 long gram tasks on 32 cores) —
#: steady 3.5→1.6 s (skew) / 2.7→1.4 s (sf1) at 1024, rising again at
#: 512 as the O(B) per-row fan-out copies overtake the gains
#: (1024² doubles ≈ 8 MB/task).
SEMDEDUP_CLUSTER_CAP = 1024


def _guard_task_size(n: int, cap: int) -> None:
    """Runtime backstop for the adaptive plan choice: the single-task
    gram kernel must never own more than ``cap`` rows. The adaptive
    branch trusts a construction-time size probe; if the input mutated
    between probe and execution (unpersisted nondeterministic source,
    cache eviction + re-sample), a hot cluster would otherwise build an
    unbounded O(c²) matrix in ONE task — fail loudly instead."""
    if n > cap:
        raise ValueError(
            f"semdedup single-task kernel got {n} rows > cap {cap}: cluster "
            "sizes changed between the plan-choice probe and execution — "
            "rerun over a persisted/deterministic input"
        )


def _block_pair_fanout(big: DataFrame, cap: int) -> DataFrame:
    """The exact block-pair fan-out over oversized clusters — one
    (cluster, a, b) group per block pair, every group ≤ 2·cap rows
    (tests/test_semdedup_cap.py asserts the bound on THIS relation).
    Contiguous blocks of ``cap`` by vec_id rank; each row fans out
    once per block pair it participates in — O(B) copies per row, the
    unavoidable price of distributing an O(c²) gram over c²/cap²
    bounded tasks. Input must carry (vec_id, cluster, v, c_sz)."""
    w = Window.partitionBy("cluster").orderBy("vec_id")
    blocked = big.select(
        "vec_id", "cluster", "v",
        ((F.row_number().over(w) - 1) / cap).cast("int").alias("blk"),
        (F.ceil(F.col("c_sz") / cap)).cast("int").alias("nblk"),
    )
    as_src = blocked.select(
        "vec_id", "cluster", "v", F.lit(0).alias("side"),
        F.col("blk").alias("a"),
        F.explode(F.sequence(F.col("blk"), F.col("nblk") - 1)).alias("b"),
    )
    as_tgt = blocked.select(
        "vec_id", "cluster", "v", F.lit(1).alias("side"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("a"),
        F.col("blk").alias("b"),
    )
    return as_src.unionByName(as_tgt)


def semdedup_drops(asg: DataFrame, threshold: float = SEMDEDUP_T,
                   cap: int = SEMDEDUP_CLUSTER_CAP) -> DataFrame:
    """SemDeDup drop decisions over a (vec_id, cluster, v) assignment
    relation. Clusters with ≤ ``cap`` vectors keep the one-group gram
    kernel; larger clusters are decomposed EXACTLY into contiguous
    vec_id-ranked blocks of ``cap`` rows and every block pair (a ≤ b)
    becomes its own task — the same block-matrix shape as
    q_dedup_embedding (operators/dedup.py), so per-task work is
    bounded by cap² no matter how degenerate the clustering. Partial
    verdicts (per target: lowest-id partner in this block pair, max
    cosine among its above-threshold partners) recombine by
    min(kept) / max(max_cos) — associative, so the union over block
    pairs equals the single-matrix answer bit-for-bit (doubles: both
    paths take maxima of the identical cosine values, no re-summation).

    Adaptive plan choice (r5, VERDICT r4 item 2): the r4 form ran the
    size-join + empty block-pair subtree unconditionally, which charged
    the common all-clusters-small case 2.4× its pre-cap budget (sizes
    agg, broadcast join, window, two explodes, union, two extra
    shuffles — all for zero rows). Instead we probe max cluster size
    with ONE tiny count job over the (persisted) assignment relation —
    the same driver-side scalar plan choice AQE makes from runtime
    stats — and emit the pre-cap single-kernel plan when every cluster
    fits, the full decomposition only when one doesn't. Both plans are
    exact, so the branch is invisible to correctness; the cap remains
    the hard backstop for the degenerate-hot-cluster case.
    """
    import numpy as np
    import pandas as pd

    def _partials(ids: np.ndarray, clusters, left: np.ndarray, lids: np.ndarray,
                  cos: np.ndarray) -> list[tuple]:
        # cos: |left| x |targets|; partners must have lower vec_id.
        # Fully vectorized (r5: the per-column Python loop dominated
        # the kernel at ~1.5k-vector clusters): callers pass lids
        # sorted ascending, so argmax over the boolean mask gives the
        # FIRST partner row = the minimum partner id per column.
        # Dropped columns are RARE (drop rates are a few percent), so
        # after the one full-matrix mask pass everything else runs on
        # the surviving-column SLICE — the r10 form's full-matrix
        # np.where built a second |left|x|targets| float64 copy
        # (~170 MB per 4k-block task) only to reduce it to a handful
        # of columns, and that allocation+traffic dominated the pair
        # kernel at sf1 (r11 measured ~2 s of the 3.3 s stage).
        mask = (cos >= threshold) & (lids[:, None] < ids[None, :])
        anyc = mask.any(axis=0)
        if not anyc.any():
            return []
        cols = np.flatnonzero(anyc)
        msub = mask[:, cols]
        csub = cos[:, cols]
        kept = lids[msub.argmax(axis=0)]
        maxc = np.where(msub, csub, -np.inf).max(axis=0)
        return [
            (int(ids[j]), int(clusters[j]), int(kept[k]), float(maxc[k]))
            for k, j in enumerate(cols)
        ]

    def _gram(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        na = np.linalg.norm(a, axis=1)
        nb = np.linalg.norm(b, axis=1)
        return (a @ b.T) / np.outer(na, nb)

    partial_schema = "vec_id long, cluster int, kept long, max_cos double"

    # ---- mapInArrow partition kernels (r12, guide §4.1/§4.2 — VERDICT
    # r11 item 3). applyInPandas crossed the Python boundary once PER
    # GROUP and rebuilt every vector through a pandas object Series +
    # tolist() — one boxed Python float per component, ~8M objects per
    # sf1 run across the ~60 block-pair groups, the dominant kernel-
    # stage cost. The partition kernels below receive whole Arrow
    # record batches, rebuild each (n, d) matrix by reslicing the list
    # column's CONTIGUOUS values buffer (no Python-object traffic),
    # and run the SAME _partials per group — group boundaries, sort
    # order inside a group, and the kernel math are unchanged, so the
    # cap/recombination tests pin the same seam. The repartition on
    # the group key replaces the applyInPandas shuffle one-for-one
    # (same exchange); each partition's batches are accumulated once
    # (a group must be seen whole), bounded by the hash-partitioning
    # grain exactly as the old per-group buffers were.

    def _vmat(col) -> "np.ndarray":
        import pyarrow as pa

        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        return (
            col.flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.float64, copy=False)
            .reshape(len(col), -1)
        )

    def _emit(rows: list):
        import pyarrow as pa

        cols = list(zip(*rows))
        return pa.RecordBatch.from_arrays(
            [
                pa.array(cols[0], pa.int64()),
                pa.array(cols[1], pa.int32()),
                pa.array(cols[2], pa.int64()),
                pa.array(cols[3], pa.float64()),
            ],
            ["vec_id", "cluster", "kept", "max_cos"],
        )

    def small_partition(batches):
        import pyarrow as pa

        bl = [b for b in batches if b.num_rows]
        if not bl:
            return
        tbl = pa.Table.from_batches(bl)
        cl = tbl.column("cluster").to_numpy()
        ids = tbl.column("vec_id").to_numpy()
        vm = _vmat(tbl.column("v"))
        order = np.lexsort((ids, cl))
        cl_s, ids_s = cl[order], ids[order]
        bounds = np.flatnonzero(np.r_[True, cl_s[1:] != cl_s[:-1], True])
        rows: list = []
        for s, t in zip(bounds[:-1], bounds[1:]):
            n = int(t - s)
            _guard_task_size(n, cap)
            if n < 2:
                continue
            sel = order[s:t]
            e = vm[sel]
            gids = ids_s[s:t]
            rows.extend(_partials(gids, cl_s[s:t], e, gids, _gram(e, e)))
        if rows:
            yield _emit(rows)

    def pair_partition(batches):
        # side 0 = candidate partners (block a), side 1 = targets
        # (block b); a < b guarantees all side-0 ids < side-1 ids by
        # the contiguous rank split, a == b falls back to the id mask.
        import pyarrow as pa

        bl = [b for b in batches if b.num_rows]
        if not bl:
            return
        tbl = pa.Table.from_batches(bl)
        cl = tbl.column("cluster").to_numpy()
        ka = tbl.column("a").to_numpy()
        kb = tbl.column("b").to_numpy()
        side = tbl.column("side").to_numpy()
        ids = tbl.column("vec_id").to_numpy()
        vm = _vmat(tbl.column("v"))
        # primary (cluster, a, b) groups; inside a group side then
        # ascending vec_id — the old per-side sort_values("vec_id")
        order = np.lexsort((ids, side, kb, ka, cl))
        cl_s, ka_s, kb_s, side_s = cl[order], ka[order], kb[order], side[order]
        change = (
            (cl_s[1:] != cl_s[:-1]) | (ka_s[1:] != ka_s[:-1]) | (kb_s[1:] != kb_s[:-1])
        )
        bounds = np.flatnonzero(np.r_[True, change, True])
        rows: list = []
        for s, t in zip(bounds[:-1], bounds[1:]):
            sel = order[s:t]
            sd = side_s[s:t]
            src_sel = sel[sd == 0]
            tgt_sel = sel[sd == 1]
            if len(src_sel) == 0 or len(tgt_sel) == 0:
                continue
            e_s, e_t = vm[src_sel], vm[tgt_sel]
            rows.extend(
                _partials(ids[tgt_sel], cl[tgt_sel], e_s, ids[src_sel], _gram(e_s, e_t))
            )
        if rows:
            yield _emit(rows)

    sizes = asg.groupBy("cluster").agg(F.count(F.lit(1)).alias("c_sz"))
    max_sz = (sizes.agg(F.max("c_sz")).first() or [0])[0] or 0
    if max_sz <= cap:
        # every cluster fits in one task: the pre-cap single-kernel
        # plan, bit-identical answers, no decomposition machinery
        out = (
            asg.select("vec_id", "cluster", "v")
            .repartition("cluster")
            .mapInArrow(small_partition, partial_schema)
        )
        return out.select(
            "vec_id", "cluster", "kept", F.round("max_cos", 6).alias("max_cos")
        )

    sized = asg.join(F.broadcast(sizes), "cluster")
    small = sized.filter(F.col("c_sz") <= cap).select("vec_id", "cluster", "v")
    big = sized.filter(F.col("c_sz") > cap)

    small_out = small.repartition("cluster").mapInArrow(small_partition, partial_schema)

    big_partials = (
        _block_pair_fanout(big, cap)
        .select("vec_id", "cluster", "v", "side", "a", "b")
        .repartition("cluster", "a", "b")
        .mapInArrow(pair_partition, partial_schema)
    )
    big_out = big_partials.groupBy("vec_id", "cluster").agg(
        F.min("kept").alias("kept"), F.max("max_cos").alias("max_cos")
    )

    merged = small_out.unionByName(big_out.select("vec_id", "cluster", "kept", "max_cos"))
    return merged.select(
        "vec_id", "cluster", "kept", F.round("max_cos", 6).alias("max_cos")
    )


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): semantic near-dup
    PRUNING decisions — cluster the embedding space with k-means, then
    compare pairs only WITHIN a cluster and drop every vector that has
    a LOWER-id partner above the cosine cut (the deterministic one-pass
    drop rule; a transitive representative per dup group would compose
    this with q_dedup_clusters' connected components). Output: one row
    per dropped vector (vec_id, cluster, kept = its lowest-id
    above-threshold partner, max_cos).

    Scale design: clustering turns the O(N²) semantic-pair search into
    sum-of-cluster-pairs — with K ≈ √N centroids the expected cost is
    O(N^1.5) with a cluster-keyed equi-join (one shuffle each side),
    the same block-then-verify shape as every dedup variant. A hot
    cluster (over-merged region of embedding space) is the skew risk;
    the production knobs are more centroids or an in-cluster LSH
    re-block — both compose with this plan unchanged, and the hard
    backstop is SEMDEDUP_CLUSTER_CAP: any cluster larger than the cap
    runs the exact block-pair decomposition (one bounded task per
    block pair) instead of one O(c²) task. Cosines are strict left
    folds over the double-cast vectors (bit-identical cross-engine),
    so the threshold needs no rounding gate.

    All-pairs cosines run as numpy gram matrices — the block-matrix
    kernel (operators/dedup.py q_dedup_embedding): the round-2
    expression-fold form evaluated ~N²/K interpreted 64-term folds
    (57 s at sf1); the matmul is the same math at BLAS speed.

    The assignment relation is session-memoized (kmeans_assignments)
    BEFORE the cap fan-out: semdedup_drops references it up to four
    times (size audit + small path + both sides of the block-pair
    path), and an unpersisted reference would re-plan the whole
    unrolled k-means chain per branch."""
    asg = kmeans_assignments(spark, sf_dir).select("vec_id", "cluster", "v")
    return semdedup_drops(asg)


KCENTER_K = 8  # coreset size (farthest-point steps)


KCENTER_P = 4  # tournament partitions for the default (batched) path


def _q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center coreset selection by farthest-point sampling (Gonzalez
    1985's 2-approximation) — the geometric data-SELECTION complement
    to SemDeDup's pruning: pick the KCENTER_K vectors that best COVER
    the embedding space (each new pick is the vector farthest from
    everything already picked). The standard seed set for diverse
    few-shot selection, cluster initialization, and coverage-driven
    data pruning. Deterministic: seeded at the lowest vec_id, ties on
    distance break to the lower vec_id.

    Runs TOURNAMENT FPS (kcenter_batched — per-partition exact
    Arrow-kernel FPS, then one exact FPS over the P·K winner pool;
    Gonzalez's bound degrades gracefully to 2(1+ε)): a bounded number
    of Spark jobs at any K, never K−1 driver round-trips. The oracle
    replicates partition seeding, tie rules, and bit-identical
    left-fold arithmetic, so the approximation's exact semantics stay
    hash-pinned.

    Output: (sel_rank, vec_id, min_d2) — min_d2 is the squared-L2
    coverage radius at selection time within the stage's point set
    (the k-center objective's monotone certificate: non-increasing
    down the ranks)."""
    return kcenter_final(
        _kcenter_winners_cached(spark, sf_dir).filter(F.col("lrank") <= KCENTER_K),
        KCENTER_K,
    )


KC_BATCH_P = 4  # tournament partitions (p = vec_id % P)
KC_BATCH_K = 16  # coreset size AND per-partition winner count


def fps_pandas_picks(V, ids, k):
    """Exact farthest-point sampling over one in-memory partition —
    the Arrow-kernel replica of the oracle's recursive CTE. Distances
    are STRICT LEFT FOLDS over dimensions ((0+t1)+t2)+… via a
    vectorized per-dimension accumulation loop, so every double is
    bit-identical to DuckDB's list_reduce left fold and no rounding
    gate is needed inside the algorithm (the semdedup discipline).
    Seed = lowest vec_id; each pick = argmax of (raw mind DESC,
    vec_id ASC); returns ([(rank, vec_id, min_d2_raw)], picked_vecs)
    with min(k, n) entries."""
    import numpy as np

    order = np.argsort(ids)
    V, ids = V[order], ids[order]
    n = len(ids)

    def d2_to(c):
        d = (V[:, 0] - c[0]) ** 2
        for j in range(1, V.shape[1]):
            d = d + (V[:, j] - c[j]) ** 2  # left fold, matches list_reduce
        return d

    picks = [(1, int(ids[0]), 0.0)]
    vecs = [V[0]]
    selected = np.zeros(n, dtype=bool)
    selected[0] = True
    mind = d2_to(V[0])
    while len(picks) < min(k, n):
        m = np.where(selected, -np.inf, mind)
        best = int(np.lexsort((ids, -m))[0])
        picks.append((len(picks) + 1, int(ids[best]), float(mind[best])))
        vecs.append(V[best])
        selected[best] = True
        mind = np.minimum(mind, d2_to(V[best]))
    return picks, vecs


def _q_kcenter_coreset_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tournament (batched) farthest-point sampling for K ≫ 8 — the
    published fix for q_kcenter_coreset's K−1 driver-paced argmax
    jobs (VERDICT r3 item 8 / r5 item 4): run EXACT FPS independently
    inside each of KC_BATCH_P hash partitions (p = vec_id % P), keep
    each partition's KC_BATCH_K winners, then run exact FPS once over
    the P·K winner pool. Gonzalez's 2-approximation degrades
    gracefully under the tournament (2(1+ε); every true center's
    partition keeps a point within its local radius because local FPS
    picks K ≥ final K winners). The ORACLE replicates the tournament
    itself (two recursive CTEs, same seed/tie rules, bit-identical
    left-fold arithmetic), so the hash gate pins the approximation's
    exact semantics — the same oracle generator the default
    q_kcenter_coreset uses since r8.

    Scale shape — ZERO driver-paced jobs (the loop lives inside two
    Arrow kernels): stage 1 is one shuffle on p and one
    applyInPandas task per partition doing O(n_p · K · dim) work
    with K vectorized passes; stage 2 is ONE task over the P·K-row
    winner pool (constant-size, like a broadcast build). Since r8 the
    default q_kcenter_coreset runs THIS tournament too (at its own
    K = KCENTER_K); this query remains
    the K = KC_BATCH_K demonstration pinned in the headline bench.
    At 100 TB,
    P scales with the cluster (more, smaller exact-FPS tasks) while
    the final stage stays P·K rows; job count is 1 + 1 regardless of
    K — vs K driver round-trips for the exact loop. min_d2 is the
    coverage radius at selection time WITHIN each stage's point set
    (stage-2 ranks measure winner-pool coverage).

    Reference connection: none in dhoard/orders-kafka-streams;
    SURVEY §2.9 extension surface (embedding curation family)."""
    return kcenter_final(
        _kcenter_winners_cached(spark, sf_dir).filter(
            F.col("lrank") <= KC_BATCH_K
        ),
        KC_BATCH_K,
    )


def kcenter_local_winners(emb: DataFrame, p: int, k: int) -> DataFrame:
    """Tournament stage 1: per-hash-partition exact FPS, keeping each
    partition's first ``k`` picks WITH their local pick rank —
    (p, lrank, vec_id, v). Greedy FPS is a deterministic sequence, so
    the first j ≤ k picks of a k-deep run are exactly the j-deep run
    (prefix property) — which is what lets one winners relation at
    k = max over the family serve every smaller coreset size by an
    lrank filter (r11, guide §5)."""
    import pandas as pd

    pts = emb.select("vec_id", "v", (F.col("vec_id") % p).alias("p"))

    def local_fps(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        picks, vecs = fps_pandas_picks(V, ids, k)
        return pd.DataFrame(
            {
                "p": pdf["p"].iloc[0],
                "lrank": [r for r, _, _ in picks],
                "vec_id": [i for _, i, _ in picks],
                "v": [w.tolist() for w in vecs],
            }
        )

    return pts.groupBy("p").applyInPandas(
        local_fps, schema="p long, lrank int, vec_id long, v array<double>"
    )


def kcenter_final(winners: DataFrame, k: int) -> DataFrame:
    """Tournament stage 2: ONE exact-FPS task over the ≤ p·k-row
    winner pool — constant-size, like a broadcast build."""
    import pandas as pd

    def final_fps(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        picks, _ = fps_pandas_picks(V, ids, k)
        return pd.DataFrame(
            {
                "sel_rank": [r for r, _, _ in picks],
                "vec_id": [i for _, i, _ in picks],
                "min_d2": [d for _, _, d in picks],
            }
        )

    from .presentation import cells_sorted

    return (
        winners.select("vec_id", "v").withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(final_fps, schema="sel_rank int, vec_id long, min_d2 double")
        .select("sel_rank", "vec_id", F.round("min_d2", _R).alias("min_d2"))
        .transform(cells_sorted, "sel_rank")  # <= k coreset rows
    )


def kcenter_batched(emb: DataFrame, p: int, k: int) -> DataFrame:
    """Tournament FPS over ``emb`` (vec_id, v=array<double>) with
    ``p`` hash partitions and coreset size ``k`` — see
    _q_kcenter_coreset_batched for semantics and scale shape. The
    un-memoized composition (tests and ad-hoc callers); the declared
    queries go through the shared winners memo instead."""
    return kcenter_final(kcenter_local_winners(emb, p, k), k)


#: shared local-winners depth for the declared kcenter queries — valid
#: to share ONE stage-1 relation because both run P = 4 partitions
#: (KCENTER_P == KC_BATCH_P) and FPS prefix-determinism makes a
#: k-deep winner list embed every shallower list (kcenter_local_winners).
_KC_WINNERS_KMAX = max(KCENTER_K, KC_BATCH_K)


def _kcenter_winners_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-1 winners memo (r11, guide §5 reuse): q_kcenter_coreset
    (K = 8) and q_kcenter_coreset_batched (K = 16) each ran their own
    corpus shuffle + per-partition exact-FPS kernel per execution —
    the identical stage-1 computation up to depth. ONE memo-persisted
    winners relation at kmax = 16 serves both through an lrank
    prefix filter; steady executions are ONE constant-size stage-2
    task over ≤ p·kmax cached rows. The relation is p·kmax rows of
    (rank, id, vector) — index-class, bounded by the constants, never
    the corpus."""
    from .dedup import _memo_persist

    assert KCENTER_P == KC_BATCH_P, "winners memo shared across equal P only"
    return _memo_persist(
        spark,
        sf_dir,
        f"kcenter_winners:{KC_BATCH_P}:{_KC_WINNERS_KMAX}",
        lambda: kcenter_local_winners(
            _emb_double(spark, sf_dir), KC_BATCH_P, _KC_WINNERS_KMAX
        ),
    )


def _kcenter_batched_oracle(p: int = KC_BATCH_P, k: int = KC_BATCH_K) -> str:
    """Two recursive CTEs replicating the tournament exactly: windowed
    per-iteration argmax picks, raw (unrounded) left-fold distances,
    seed = lowest vec_id, ties to lower vec_id."""

    def d2(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, 1 + {EMB_DIM}), "
            f"i -> (({a})[i] - ({b})[i]) * (({a})[i] - ({b})[i])), "
            f"(x, y) -> x + y)"
        )

    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, vec_id % {p} AS p
  FROM embeddings
),
seeds AS (
  SELECT p, vec_id AS svid, v AS sv
  FROM (SELECT p, vec_id, v,
               row_number() OVER (PARTITION BY p ORDER BY vec_id) AS rn
        FROM e)
  WHERE rn = 1
),
st AS (
  SELECT e.p, e.vec_id, e.v, {d2("e.v", "s.sv")} AS mind, 1 AS it
  FROM e JOIN seeds s USING (p) WHERE e.vec_id <> s.svid
  UNION ALL
  SELECT p, vec_id, v, least(mind, {d2("v", "pick_v")}) AS mind, it + 1
  FROM (SELECT p, vec_id, v, mind, it,
               first_value(v) OVER (PARTITION BY p ORDER BY mind DESC, vec_id ASC) AS pick_v,
               first_value(vec_id) OVER (PARTITION BY p ORDER BY mind DESC, vec_id ASC) AS pick_id
        FROM st)
  WHERE it + 1 < {k} AND vec_id <> pick_id
),
w AS (
  SELECT svid AS vec_id, sv AS v FROM seeds
  UNION ALL
  SELECT vec_id, v FROM (
    SELECT vec_id, v,
           row_number() OVER (PARTITION BY p, it ORDER BY mind DESC, vec_id ASC) AS pr
    FROM st)
  WHERE pr = 1
),
fseed AS (SELECT vec_id AS svid, v AS sv FROM w ORDER BY vec_id LIMIT 1),
fst AS (
  SELECT w.vec_id, w.v, {d2("w.v", "s.sv")} AS mind, 1 AS it
  FROM w, fseed s WHERE w.vec_id <> s.svid
  UNION ALL
  SELECT vec_id, v, least(mind, {d2("v", "pick_v")}) AS mind, it + 1
  FROM (SELECT vec_id, v, mind, it,
               first_value(v) OVER (ORDER BY mind DESC, vec_id ASC) AS pick_v,
               first_value(vec_id) OVER (ORDER BY mind DESC, vec_id ASC) AS pick_id
        FROM fst)
  WHERE it + 1 < {k} AND vec_id <> pick_id
)
SELECT CAST(1 AS INTEGER) AS sel_rank, svid AS vec_id, 0.0 AS min_d2 FROM fseed
UNION ALL
SELECT CAST(it + 1 AS INTEGER) AS sel_rank, vec_id, round(mind, {_R}) AS min_d2
FROM (SELECT it, vec_id, mind,
             row_number() OVER (PARTITION BY it ORDER BY mind DESC, vec_id ASC) AS pr
      FROM fst)
WHERE pr = 1
ORDER BY sel_rank
"""


def _kmeans_cte_prefix() -> str:
    """The k-means unrolling as a reusable CTE prefix (ends after the
    final assignment CTE a{ITERS+1}; composes into q_kmeans and
    q_cluster_topics)."""

    def d2(a: str, b: str) -> str:
        # strict left fold == Spark's F.aggregate with exact 0.0 init
        return (
            f"round(list_reduce(list_transform(range(1, 1 + {EMB_DIM}), "
            f"i -> (({a})[i] - ({b})[i]) * (({a})[i] - ({b})[i])), "
            f"(x, y) -> x + y), {_R})"
        )

    ctes = []
    prev = "c0"
    for it in range(1, KMEANS_ITERS + 2):
        ctes.append(f"""
a{it} AS (
  SELECT vec_id, v, cid, d2 FROM (
    SELECT e.vec_id, e.v AS v, c.cid, {d2("e.v", "c.v")} AS d2,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {d2("e.v", "c.v")} ASC, c.cid ASC) AS rn
    FROM e CROSS JOIN {prev} c)
  WHERE rn = 1
)""")
        if it <= KMEANS_ITERS:
            ctes.append(f"""
c{it} AS (
  SELECT cid, list(m ORDER BY pos) AS v FROM (
    SELECT cid, u AS pos, round(avg(v[CAST(u AS INTEGER)]), {_R}) AS m
    FROM a{it}, unnest(range(1, 1 + {EMB_DIM})) AS t(u)
    GROUP BY cid, u)
  GROUP BY cid
)""")
        prev = f"c{it}"
    return (
        f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {K_CLUSTERS})
),"""
        + ",".join(ctes)
    )


def _kmeans_oracle() -> str:
    return (
        _kmeans_cte_prefix()
        + f"""
SELECT vec_id, cid AS cluster, d2 FROM a{KMEANS_ITERS + 1}
"""
    )


def _semdedup_oracle() -> str:
    def fold(expr: str) -> str:
        return f"list_reduce(list_transform(range(1, 1 + {EMB_DIM}), i -> {expr}), (p2, q2) -> p2 + q2)"

    cos = (
        f"{fold('a.v[i] * b.v[i]')} / "
        f"(sqrt({fold('a.v[i] * a.v[i]')}) * sqrt({fold('b.v[i] * b.v[i]')}))"
    )
    return f"""
WITH asg AS ({_kmeans_oracle()}),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
p AS (
  SELECT x.cluster, x.vec_id AS a_id, y.vec_id AS b_id, {cos} AS cos
  FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  JOIN e a ON a.vec_id = x.vec_id
  JOIN e b ON b.vec_id = y.vec_id
)
SELECT b_id AS vec_id, cluster, min(a_id) AS kept, round(max(cos), 6) AS max_cos
FROM p WHERE cos >= {SEMDEDUP_T} GROUP BY b_id, cluster
"""




TOPIC_MIN_COUNT = 5  # per-cluster term-count cutoff (kills lift noise)
TOPIC_TOP_K = 5


def _q_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling: the most DISTINCTIVE terms of each k-means
    cluster — per-cluster term frequency lifted over the corpus rate
    (lift = p(w|cluster)/p(w)), min-count-gated, top-TOPIC_TOP_K per
    cluster. The standard corpus-exploration companion to clustering:
    before reweighting or pruning a cluster you ask WHAT it is, and
    the answer is its high-lift vocabulary. Joins the embedding-space
    partition (vec_id) onto the text table (doc_id ≡ vec_id in the
    driver corpus) — the cross-modal seam a production pipeline gets
    from a shared document key.

    Scale shape: assignments are the memoized k-means artifact; token
    counts partial-aggregate to (cluster, word) cells; the corpus
    histogram is the memoized _word_hist broadcast back; ranking is a
    window over ≤vocab cells per cluster. The corpus scans once.

    Output: (cluster, term, n_occurrences, lift, rank)."""
    from .text import _tokenized, _word_hist

    asg = kmeans_assignments(spark, sf_dir).select("vec_id", "cluster")
    toks = _tokenized(spark, sf_dir)
    ex = asg.join(toks, asg.vec_id == toks.doc_id).select(
        "cluster", F.explode("t").alias("w")
    )
    cw = (
        ex.groupBy("cluster", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= TOPIC_MIN_COUNT)
    )
    nc = ex.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_c"))
    gw = _word_hist(spark, sf_dir)
    na = gw.agg(F.sum("wc").alias("n_all"))
    lift = (
        cw.join(nc, "cluster")
        .join(F.broadcast(gw), "w")
        .crossJoin(F.broadcast(na))
        .select(
            "cluster",
            "w",
            "c",
            (
                (F.col("c") / F.col("n_c")) / (F.col("wc") / F.col("n_all"))
            ).alias("lift"),
        )
    )
    wr = Window.partitionBy("cluster").orderBy(F.desc("lift"), F.asc("w"))
    return (
        lift.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOPIC_TOP_K)
        .select(
            "cluster",
            F.col("w").alias("term"),
            F.col("c").alias("n_occurrences"),
            F.round("lift", 4).alias("lift"),
            "rank",
        )
    )


def _cluster_topics_oracle() -> str:
    from ..functions.textfns import tokens_sql

    toks = tokens_sql("text")
    return (
        _kmeans_cte_prefix()
        + f""",
asg AS (SELECT vec_id, cid AS cluster FROM a{KMEANS_ITERS + 1}),
toks AS (SELECT doc_id, {toks} AS t FROM documents),
ex AS (
  SELECT a.cluster, unnest(t.t) AS w
  FROM asg a JOIN toks t ON t.doc_id = a.vec_id
),
cw AS (
  SELECT cluster, w, count(1) AS c FROM ex GROUP BY cluster, w
  HAVING count(1) >= {TOPIC_MIN_COUNT}
),
nc AS (SELECT cluster, CAST(count(1) AS BIGINT) AS n_c FROM ex GROUP BY cluster),
gw AS (SELECT w, count(1) AS wc
       FROM (SELECT unnest({toks}) AS w FROM documents) GROUP BY w),
na AS (SELECT CAST(sum(wc) AS BIGINT) AS n_all FROM gw),
lift AS (
  SELECT cw.cluster, cw.w, cw.c,
         (cw.c / CAST(nc.n_c AS DOUBLE)) / (gw.wc / CAST(na.n_all AS DOUBLE)) AS lift
  FROM cw JOIN nc USING (cluster) JOIN gw USING (w) CROSS JOIN na
)
SELECT cluster, w AS term, CAST(c AS BIGINT) AS n_occurrences,
       round(lift, 4) AS lift, rank
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY cluster
                                    ORDER BY lift DESC, w ASC) AS INTEGER) AS rank
  FROM lift)
WHERE rank <= {TOPIC_TOP_K}
"""
    )



def _q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality audit vs the ground-truth labels: per
    cluster, the majority label and the purity (majority fraction) —
    the one-number check on whether the unsupervised partition
    recovered the known structure. Low-purity clusters are merge
    artifacts (increase K or iterate more); this is the audit run
    before trusting cluster-level curation decisions (SemDeDup
    pruning, per-cluster mixing weights, topic labels).

    Scale shape: one (cluster, label) cell aggregation over the
    memoized assignment artifact joined to the label column — cells
    in the shuffle; the majority pick is a window over ≤K·|labels|
    cells. Output: (cluster, n_vecs, majority_label, n_majority,
    purity)."""
    asg = kmeans_assignments(spark, sf_dir).select("vec_id", "cluster")
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cells = (
        asg.join(lab, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wr = Window.partitionBy("cluster").orderBy(F.desc("c"), F.asc("label"))
    return (
        cells.withColumn("rn", F.row_number().over(wr))
        .withColumn("n_vecs", F.sum("c").over(Window.partitionBy("cluster")))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            "n_vecs",
            F.col("label").alias("majority_label"),
            F.col("c").alias("n_majority"),
            F.round(F.col("c") / F.col("n_vecs"), 4).alias("purity"),
        )
    )


def _cluster_purity_oracle() -> str:
    return (
        _kmeans_cte_prefix()
        + f""",
asg AS (SELECT vec_id, cid AS cluster FROM a{KMEANS_ITERS + 1}),
cells AS (
  SELECT a.cluster, e2.label, count(1) AS c
  FROM asg a JOIN embeddings e2 ON e2.vec_id = a.vec_id
  GROUP BY a.cluster, e2.label
),
ranked AS (
  SELECT cluster, label, c,
         row_number() OVER (PARTITION BY cluster ORDER BY c DESC, label ASC) AS rn,
         CAST(sum(c) OVER (PARTITION BY cluster) AS BIGINT) AS n_vecs
  FROM cells
)
SELECT cluster, n_vecs, label AS majority_label, CAST(c AS BIGINT) AS n_majority,
       round(c / CAST(n_vecs AS DOUBLE), 4) AS purity
FROM ranked WHERE rn = 1
"""
    )

SEMPACK_BUDGET = 512  # tokens per training bin for the packing audit


def _q_semantic_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-packing audit — the in-context-pretraining ordering
    step (Shi et al. 2023, "In-Context Pretraining: Language Modeling
    Beyond Document Boundaries"): packing RELATED documents into the
    same training sequence lets the model attend across document
    boundaries to coherent context, so the packer should order the
    corpus by semantic neighborhood before the token-budget cumsum —
    not by ingestion id. This query quantifies exactly that choice on
    this corpus: both orderings (``doc_order`` = doc_id; ``semantic``
    = (k-means cluster, doc_id)) are packed into SEMPACK_BUDGET-token
    bins by the same exclusive-cumsum rule, and each method reports
    its bin count and the mean INTRA-BIN semantic affinity.

    Affinity per bin = mean pairwise cosine of the bin's (normalized)
    embeddings, computed by the sum-vector identity
    ``(|Σu|² − n) / (n(n−1))`` — one element-wise sum per (bin, dim)
    cell and a dim-length fold, NEVER a pairwise join: the audit costs
    O(docs·dim) regardless of bin sizes, the difference between an
    auditable metric and an O(n²)-per-bin one at 100 TB.

    Scale shape: the cumsum is the grouped two-pass prefix sum (no
    single-task window); affinity aggregates carry (bin, dim) cells;
    the k-means assignment rides the session memo. Floats: per-element
    normalization is exact IEEE on both engines; the (bin, dim) sums
    are order-sensitive, so the published affinity is rounded to 4 dp
    (the established cross-engine sum policy).

    Reference connection: none in dhoard/orders-kafka-streams; SURVEY
    §2.9 extension surface (curation / clustering family)."""
    from .sampling import global_prefix_sums
    from .text import _tokenized

    asg = kmeans_assignments(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "cluster", "v"
    )
    toks = _tokenized(spark, sf_dir).select("doc_id", F.size("t").alias("n_tokens"))
    norm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    d = toks.join(asg, "doc_id").select(
        "doc_id",
        "n_tokens",
        "cluster",
        F.transform("v", lambda x: x / norm).alias("u"),
    )

    def method_stats(method: str, keys: list) -> DataFrame:
        ranked = global_prefix_sums(d, keys, {"cum": "n_tokens"})
        binned = ranked.select(
            "u",
            F.floor(F.coalesce(F.col("cum"), F.lit(0)) / SEMPACK_BUDGET)
            .cast("long")
            .alias("bin"),
        )
        cells = (
            binned.select("bin", F.posexplode("u").alias("pos", "val"))
            .groupBy("bin", "pos")
            .agg(F.sum("val").alias("s"))
            .groupBy("bin")
            .agg(F.sum(F.col("s") * F.col("s")).alias("s2"))
        )
        sizes = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("nb"))
        aff = (F.col("s2") - F.col("nb")) / (F.col("nb") * (F.col("nb") - 1))
        per_bin = sizes.join(cells, "bin")
        return per_bin.agg(
            F.lit(method).alias("method"),
            F.count(F.lit(1)).alias("n_bins"),
            F.sum((F.col("nb") >= 2).cast("long")).alias("multi_bins"),
            F.round(F.avg("nb"), 2).alias("docs_per_bin"),
            F.round(F.avg(F.when(F.col("nb") >= 2, aff)), 4).alias("avg_affinity"),
        )

    return method_stats("doc_order", [F.asc("doc_id")]).unionByName(
        method_stats("semantic", [F.asc("cluster"), F.asc("doc_id")])
    )


def _semantic_pack_oracle() -> str:
    from .text import _TOKS

    norm = "sqrt(list_reduce(list_transform(a.v, y -> y * y), (p2, q2) -> p2 + q2))"

    def leg(method: str, order: str, tag: str) -> str:
        return f"""
pb{tag} AS (
  SELECT u, CAST(floor(coalesce(sum(n_tokens) OVER (
      ORDER BY {order} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      / {SEMPACK_BUDGET}) AS BIGINT) AS bin
  FROM d
),
pc{tag} AS (
  SELECT bin, pos, sum(val) AS s
  FROM (SELECT bin, generate_subscripts(u, 1) AS pos, unnest(u) AS val FROM pb{tag})
  GROUP BY bin, pos
),
ps{tag} AS (SELECT bin, sum(s * s) AS s2 FROM pc{tag} GROUP BY bin),
pn{tag} AS (SELECT bin, count(*) AS nb FROM pb{tag} GROUP BY bin),
pr{tag} AS (
  SELECT '{method}' AS method,
         CAST(count(*) AS BIGINT) AS n_bins,
         CAST(sum(CASE WHEN nb >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS multi_bins,
         round(avg(nb), 2) AS docs_per_bin,
         round(avg(CASE WHEN nb >= 2 THEN (s2 - nb) / (nb * (nb - 1.0)) END), 4)
           AS avg_affinity
  FROM pn{tag} JOIN ps{tag} USING (bin)
)"""

    return (
        _kmeans_cte_prefix()
        + f""",
asg2 AS (SELECT vec_id AS doc_id, cid AS cluster, v FROM a{KMEANS_ITERS + 1}),
toks AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
d AS (
  SELECT t.doc_id, t.n_tokens, a.cluster,
         list_transform(a.v, x -> x / {norm}) AS u
  FROM toks t JOIN asg2 a USING (doc_id)
),{leg("doc_order", "doc_id", "1")},{leg("semantic", "cluster, doc_id", "2")}
SELECT * FROM pr1 UNION ALL SELECT * FROM pr2
"""
    )


QUERIES = {
    "q_kmeans": _q_kmeans,
    "q_semdedup": _q_semdedup,
    "q_kcenter_coreset": _q_kcenter_coreset,
    "q_kcenter_coreset_batched": _q_kcenter_coreset_batched,
    "q_cluster_topics": _q_cluster_topics,
    "q_cluster_purity": _q_cluster_purity,
    "q_semantic_pack": _q_semantic_pack,
}

ORACLE = {
    "q_kmeans": _kmeans_oracle(),
    "q_semdedup": _semdedup_oracle(),
    "q_kcenter_coreset": _kcenter_batched_oracle(KCENTER_P, KCENTER_K),
    "q_kcenter_coreset_batched": _kcenter_batched_oracle(),
    "q_cluster_topics": _cluster_topics_oracle(),
    "q_cluster_purity": _cluster_purity_oracle(),
    "q_semantic_pack": _semantic_pack_oracle(),
}
