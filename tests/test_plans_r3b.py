"""Plan-shape assertions for the round-3 continuation operators:
CCNet perplexity buckets, source-KL divergence, tokenizer fertility,
semantic decontamination, hubness, and the DP histogram release.
Each gate pins the scale property the docstring claims (broadcast
dimension joins, cell-bounded shuffles, TakeOrderedAndProject top-k,
deliberate-broadcast corpus scans)."""

from __future__ import annotations

from .test_plans_r3 import _n_exchanges, plan_of


def test_ccnet_lm_join_is_broadcast(spark, sf_dir):
    """The unigram-LM relation is Heaps-law-small — scoring must be a
    broadcast hash join onto the token stream, never sort-merge."""
    from orders_kafka_streams_spark.operators import text

    plan = plan_of(text._q_ccnet_buckets(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_source_divergence_no_vocab_matrix(spark, sf_dir):
    """KL splits into an observed join + closed-form remainder — the
    V×S smoothed matrix must never materialize as a cartesian over
    the vocabulary (the only nested-loop allowed is the 1-row scalar
    broadcast)."""
    from orders_kafka_streams_spark.operators import text

    plan = plan_of(text._q_source_divergence(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_tokenizer_fertility_piece_map_broadcast(spark, sf_dir):
    from orders_kafka_streams_spark.operators import text

    plan = plan_of(text._q_tokenizer_fertility(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semantic_contamination_bench_broadcast(spark, sf_dir):
    """The benchmark side must broadcast (the deliberate corpus-scan
    shape: map-side dot products, one cell shuffle for the argmax
    window) — a shuffled cross join here would be the 100 TB killer."""
    from orders_kafka_streams_spark.operators import similarity

    plan = plan_of(similarity._q_semantic_contamination(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # argmax must be the partial-aggregable min(struct) groupBy, NOT a
    # window: windows have no map-side combine, so the exchange would
    # carry |corpus|x|bench| scored rows instead of one cell per vector
    assert "Window" not in plan, plan


def test_hubness_topk_take_ordered(spark, sf_dir):
    from orders_kafka_streams_spark.operators import similarity

    plan = plan_of(similarity._q_hubness(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan  # never a global sort
    assert "CartesianProduct" not in plan, plan


def test_heldout_bigram_no_cartesian(spark, sf_dir):
    """Count-relation joins on their keys plus the 1-row scalar
    broadcast — never a cartesian over vocab × positions."""
    from orders_kafka_streams_spark.operators import text

    plan = plan_of(text._q_heldout_bigram(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_kcenter_radius_monotone(spark, sf_dir):
    """The k-center coverage radius certificate: min_d2 at selection
    is non-increasing down the ranks (farthest-point invariant)."""
    from orders_kafka_streams_spark.operators import clustering

    rows = sorted(
        clustering._q_kcenter_coreset(spark, sf_dir).collect(),
        key=lambda r: r["sel_rank"],
    )
    dists = [r["min_d2"] for r in rows[1:]]  # rank 1 is the seed (0.0)
    assert all(a >= b for a, b in zip(dists, dists[1:])), dists
    assert len({r["vec_id"] for r in rows}) == len(rows)


def test_jsonl_roundtrip_lossless(spark, sf_dir):
    """The JSONL edge must round-trip the full event schema losslessly
    AND capture exactly the injected poison lines."""
    from orders_kafka_streams_spark.operators import robustness

    rows = robustness._q_jsonl_roundtrip(spark, sf_dir).collect()
    assert rows and all(r["n_corrupt"] == robustness.JSONL_POISON_LINES for r in rows)
    total = sum(r["n_events"] for r in rows)
    from orders_kafka_streams_spark.sources.tables import load_table

    assert total == load_table(spark, sf_dir, "events").count()


def test_stream_dp_release_closes_windows_only(spark, sf_dir):
    """The streamed DP release must hold the still-open tail window
    back (publish-once) — fewer cells than the full batch grid."""
    from orders_kafka_streams_spark.operators import privacy, streaming_queries as sq

    n_stream = sq._q_stream_dp_release(spark, sf_dir).count()
    n_batch = privacy._q_dp_histogram(spark, sf_dir).count()
    assert 0 < n_stream < n_batch, (n_stream, n_batch)


def test_bootstrap_ci_brackets_point(spark, sf_dir):
    """The Poisson-bootstrap CI must bracket the point estimate and
    be properly ordered (lo ≤ mean ≤ hi, lo < hi)."""
    from orders_kafka_streams_spark.operators import stats

    row = stats._q_bootstrap_ci(spark, sf_dir).collect()[0]
    assert row["boot_lo"] < row["boot_hi"], row
    assert row["boot_lo"] <= row["point_mean"] <= row["boot_hi"], row
    assert row["n_replicas"] == stats.BOOT_B


def test_source_divergence_nonnegative(spark, sf_dir):
    """KL(p‖q) ≥ 0 always (Gibbs) — a negative value means the
    observed/unobserved split dropped a term."""
    from orders_kafka_streams_spark.operators import text

    rows = text._q_source_divergence(spark, sf_dir).collect()
    assert rows and all(r["kl"] >= 0.0 for r in rows), [
        (r["source"], r["kl"]) for r in rows if r["kl"] < 0
    ]


def test_heldout_bigram_scores_are_logprobs(spark, sf_dir):
    """Every per-doc mean is a mean of log-probabilities < 0, and the
    corpus has both train and held-out docs (the backoff path must
    actually run)."""
    from orders_kafka_streams_spark.operators import text

    rows = text._q_heldout_bigram(spark, sf_dir).collect()
    assert rows and all(r["avg_logp"] < 0.0 for r in rows)
    flags = {r["in_train"] for r in rows}
    assert flags == {True, False}, flags


def test_emb_principal_invariants(spark, sf_dir):
    """Power iteration on a covariance matrix: the Rayleigh quotient is
    a positive eigenvalue estimate, bounded by the trace, and the top
    share lies in (0, 1]; n_dims matches the embedding width."""
    from orders_kafka_streams_spark.operators import similarity

    row = similarity._q_emb_principal(spark, sf_dir).collect()[0]
    assert row["n_dims"] == similarity.EMB_DIM
    assert 0.0 < row["top_eigenvalue"] <= row["trace"] + 1e-9, row
    assert 0.0 < row["top_share"] <= 1.0, row
    assert 0 <= row["leading_dim"] < similarity.EMB_DIM


def test_pagerank_mass_conserved(spark, sf_dir):
    """Power-iteration sanity on the symmetric dup graph: ranks sum to
    ~1 (no dangling mass — every node has out-degree ≥ 1) and every
    rank is ≥ the teleport floor (1−d)/N."""
    from orders_kafka_streams_spark.operators import dedup

    rows = dedup._q_dedup_pagerank(spark, sf_dir).collect()
    n = len(rows)
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-3, total
    floor = (1.0 - dedup.PAGERANK_D) / n
    assert all(r["pagerank"] >= floor - 1e-9 for r in rows)


def test_char_entropy_cell_bounded(spark, sf_dir):
    """The only exchanges carry (doc, char) cells / doc aggregates —
    no join strategy risk, no cartesian."""
    from orders_kafka_streams_spark.operators import text

    plan = plan_of(text._q_char_entropy(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_mmr_diversity_property(spark, sf_dir):
    """MMR's reason to exist: each query's 5 picks are distinct, rank 1
    is the exact top-1 (empty-set max), and every later pick scores
    λ·rel − (1−λ)·max-sim ≤ its λ·rel ceiling."""
    from orders_kafka_streams_spark.operators import similarity

    rows = similarity._q_mmr_rerank(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity._q_knn_brute(spark, sf_dir).collect()
        if r["rk"] == 1
    }
    for qid, picks in by_q.items():
        assert len({p["neighbor_id"] for p in picks}) == len(picks)
        first = min(picks, key=lambda p: p["mmr_rank"])
        assert first["neighbor_id"] == top1[qid]


def test_dp_histogram_single_cell_exchange(spark, sf_dir):
    """One partial+final count per grid cell, then map-only noise —
    cells, not events, in the (single) shuffle."""
    from orders_kafka_streams_spark.operators import privacy

    plan = plan_of(privacy._q_dp_histogram(spark, sf_dir))
    assert _n_exchanges(plan) <= 1, plan
    assert "Join" not in plan, plan
