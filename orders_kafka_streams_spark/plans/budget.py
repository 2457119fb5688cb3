"""Registry-wide physical-plan budget analysis (VERDICT r3 item 1).

Every registered query's 100 TB posture is reduced to four machine-
checkable facts about its physical plan at the oracle scale factor:

- ``exchanges``  — shuffle-exchange count (hash / range / single /
  round-robin / rebalance). Each one is a full-data reshuffle; the
  committed budget is the number the plan is SUPPOSED to have, so a
  refactor that sneaks in an extra shuffle fails CI instead of
  surfacing as a bench regression three rounds later.
- ``cartesian``  — ``CartesianProductExec`` present. Never acceptable
  unless the committed entry explicitly allows it (none do today).
- ``bnlj``       — ``BroadcastNestedLoopJoin`` present. Acceptable
  only for 1-row/scalar broadcast cross-joins (the audit-summary
  pattern); each allowance is visible in the committed table.
- ``python``     — the Python-eval nodes present (BatchEvalPython,
  ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas, …).
  Acceptable only for the declared Arrow-kernel queries; a
  row-at-a-time UDF sneaking into a relational query fails the gate.

All of them come from one walk of the physical-plan tree
(``analyze_plan``). ``tools/gen_plan_budgets.py`` snapshots the
registry into ``tests/plan_budgets.json`` (reviewed + committed — the
diff IS the review); ``tests/test_plan_budget.py`` re-analyzes every
query and asserts against the committed table.

Queries registered by ``operators.streaming_queries`` EXECUTE a
Structured Streaming query when called and return the result table,
so their returned-DataFrame plan is a trivial memory-sink scan; they
are recorded with ``gate: streaming`` and covered by the streaming
module's own tests instead of this static gate.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

#: every way Python code can appear in a physical plan, as class-name
#: prefixes (``ArrowEvalPythonUDTFExec`` reports ``ArrowEvalPython``)
PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "PythonMapInArrow",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "ArrowAggregatePython",
    "FlatMapGroupsInPandasWithState",
)


#: physical window operators — each carries a partitionSpec(); an
#: EMPTY spec means the whole input relation sorts in ONE task
_WINDOW_NODES = ("WindowExec", "WindowInPandasExec", "WindowGroupLimitExec")

#: partition keys whose cardinality is a CONSTANT of the query — the
#: probe set (N_QUERIES ids), never a function of corpus size. A
#: window partitioned ONLY by such a key has a constant partition
#: count, so without map-side pruning each of its tasks sorts a
#: corpus-sized slice — the "bounded-partition-count window over an
#: unbounded partition" hazard VERDICT r8 item 1 asked the gate to
#: count alongside the unpartitioned case. The sanctioned shape is
#: rank-filter top-k (``row_number().over(w) <= k``), which Spark's
#: InferWindowGroupLimit rule (SPARK-37099) plans as
#: ``WindowGroupLimit(Partial)`` below the shuffle — each SCAN task
#: keeps only k rows per key before any data moves, so the per-key
#: merge ranks P·k winners, not the corpus. The gate verifies that
#: pushdown actually fired instead of trusting the source pattern.
#: NAMING CONTRACT (ADVICE r9): classification is by attribute NAME.
#: Every probe/query key relation in this repo MUST name its key
#: ``query_id`` — a probe key under another name (probe_id, q_id)
#: silently escapes this gate, and a corpus-scaling column aliased
#: ``query_id`` is falsely flagged. The contract is enforced socially
#: (review + this comment) because the physical plan exposes only
#: attribute names, not the producing relation's cardinality class.
CONST_CARD_KEYS = frozenset({"query_id"})

#: queries allowed a non-zero ``const_key_windows`` count (a
#: constant-cardinality-key window WITHOUT the Partial
#: WindowGroupLimit pushdown), each with the bound that makes the
#: per-key task safe at 100× — mirrors GLOBAL_WINDOW_WHITELIST.
#: Every entry below is an exact-rerank window whose INPUT is a
#: rank-limited shortlist (verified per-window via the r9 plan audit:
#: the corpus-scale shortlist stages all carry Partial WGL; only the
#: bounded rerank windows, which reuse the shortlist's query_id
#: partitioning shuffle-free with a Final-mode WGL, lack one).
CONST_KEY_WINDOW_WHITELIST: dict[str, tuple[int, str]] = {
    # r10 size-dispatched full-depth RRF ranks (VERDICT r9 item 1):
    # the window form runs ONLY when the construction-time candidate
    # upper bound (N_QUERIES × corpus rows, parquet footer) is ≤
    # RANK_WINDOW_MAX_CANDIDATES — the per-key sort is bounded by the
    # threshold, and above it _per_query_rank switches to the grouped
    # two-pass form (zero windows). The gate corpus sits below the
    # threshold, so dossiers record the window branch.
    "q_hybrid_search": (
        2,
        "size-dispatched full-depth vec+lex ranks: window form only "
        "under RANK_WINDOW_MAX_CANDIDATES total candidates "
        "(similarity._per_query_rank; equality of forms tested)",
    ),
    "q_hybrid_search_ann": (
        2,
        "size-dispatched full-depth vec+lex ranks over bucket/posting "
        "candidate subsets — same bound as q_hybrid_search",
    ),
    "q_knn_binary": (
        1,
        "exact-cosine rerank over <=BINARY_SHORTLIST rows/query — "
        "rank-limited upstream by the Hamming two-phase WGL stage",
    ),
    # r11: q_knn_pq / q_knn_ivfpq / q_ann_quality / q_ann_ndcg entries
    # removed — broadcasting the query-bounded rerank shortlist (see
    # OPTIMIZATION_r11.md) lets the rerank rank window plan the
    # map-side Partial WindowGroupLimit, so those plans now carry zero
    # unpushed const-key windows and the staleness gate retires the
    # whitelist rows.
}

#: queries allowed a non-zero ``global_windows`` count, each with the
#: bound that makes the single-task sort safe at 100× (VERDICT r6
#: item 4: "explicit documented whitelist for the K-row/dim-table
#: cases"). Everything else must plan ZERO unpartitioned window nodes
#: — the two-pass helpers (sampling.global_row_numbers /
#: global_prefix_sums) are the replacement, and their offset pass is
#: a triangular join, not a window, so they add nothing here.
GLOBAL_WINDOW_WHITELIST: dict[str, tuple[int, str]] = {
    # K-row post-LIMIT windows (TakeOrderedAndProject feeds them; the
    # window input is a constant-size relation, never the corpus)
    "q_cms_topk": (1, "row_number over CMS_TOPK rows post-limit (stats.py)"),
    "q_hubness": (1, "hub_rank over HUB_TOP_K rows post-limit (similarity.py)"),
    "q_sample_priority": (
        2,
        "row_number over PRI_K+1 rows post-limit; subtree appears "
        "twice (tau branch + sample branch both scan it) (sampling.py)",
    ),
    # K_CLUSTERS-row seed window inside the memoized k-means
    # assignment build (clustering.py:131) — every consumer of
    # kmeans_assignments counts it once per analysis
    "q_kmeans": (1, "K_CLUSTERS-row post-limit seed in kmeans build"),
    "q_semdedup": (1, "K_CLUSTERS-row post-limit seed in kmeans build"),
    "q_cluster_purity": (1, "K_CLUSTERS-row post-limit seed in kmeans build"),
    "q_cluster_topics": (1, "K_CLUSTERS-row post-limit seed in kmeans build"),
    "q_semantic_pack": (1, "K_CLUSTERS-row post-limit seed in kmeans build"),
    # PQ_K-row post-limit codebook seed (similarity.py:400) and the
    # IVF centroid sample — constant-size index-build relations
    "q_knn_pq": (1, "PQ_K-row post-limit codebook seed"),
    "q_knn_ivfpq": (1, "PQ_K-row post-limit codebook seed"),
    "q_ann_ndcg": (2, "PQ/IVF constant-size index seeds (method sweep)"),
    "q_ann_quality": (2, "PQ/IVF constant-size index seeds (method sweep)"),
    # bounded-cell relations: O(days) horizon, O(hours) seasonal,
    # ≤CAL_BINS calibration bins, m-metric BH family — each grows
    # with the time/bin/metric axis, never with row count
    "q_msprt": (1, "running stats over O(days) cells"),
    "q_srm": (1, "running stats over O(days) cells"),
    "q_logrank": (1, "at-risk prefix over O(days) cells"),
    "q_survival_km": (1, "at-risk prefix over O(days) cells"),
    "q_seasonal_outliers": (2, "trend/rank over O(hours) cells"),
    "q_isotonic_calibration": (2, "PAV passes over <=CAL_BINS bins"),
    "q_bh_fdr": (2, "rank + step-up over the m-metric family (|types|x|arms|)"),
    # documented dim-table demo (window_funcs.py:48): ntile over the
    # customer dimension — the query EXISTS to exercise ntile
    "q_window_ntile": (1, "ntile over the customer dim table"),
    # r11: the DoReMi update's token total + normalizer Z as global
    # window sums over the memoized |sources|-row excess-loss relation
    # — one job instead of three sequential scalar-agg jobs; the
    # window input can never exceed the source-catalog cardinality
    "q_doremi_step": (2, "total+Z sums over the |sources|-row KL relation"),
    # r11: the manifest share normalizer over the ≤|sources|-row
    # per-source rollup (left-joined) — replaces a scalar-agg job that
    # re-aggregated the ranked subtree per execution
    "q_mixture_manifest": (1, "share normalizer over the |sources| rollup rows"),
}


_ATTR_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*)#\d+")


def _spec_base_names(node) -> list[str] | None:
    """The base column names of a window node's partitionSpec, or None
    if any spec expression is not a plain attribute reference (a
    computed key is never classified as constant-cardinality)."""
    names: list[str] = []
    spec = node.partitionSpec()
    for i in range(spec.length()):
        m = _ATTR_RE.match(spec.apply(i).toString())
        if m is None:
            return None
        names.append(m.group(1))
    return names


#: nodes a window's input chain may pass through on the way down to
#: its map-side WindowGroupLimit(Partial): the final-mode limit, the
#: sort the window requires, the shuffle, codegen wrappers, and
#: row-preserving Project/Filter nodes (r9 review finding: a pruning
#: projection between the window and its shuffle must not read as
#: "pushdown missing" — the descent still stops at the first join,
#: scan, window, or aggregate, so a WGL belonging to a DIFFERENT
#: window below can't be reached without crossing a stopping node)
_CHAIN_PASS = (
    "SortExec",
    "ShuffleExchangeExec",
    "WholeStageCodegenExec",
    "InputAdapter",
    "ProjectExec",
    "FilterExec",
)


def _partial_limit_below(node) -> bool:
    """True iff a Partial-mode ``WindowGroupLimitExec`` sits in this
    window node's direct input chain — i.e. InferWindowGroupLimit
    (SPARK-37099) fired and every scan task prunes to the top-k per
    key BEFORE the shuffle, making the per-key merge O(P·k) instead
    of O(corpus). The descent stops at the first node that is not a
    sort / shuffle / limit / wrapper, because anything else (a join,
    a scan) means the pruning boundary was never planned."""
    cur = node
    while True:
        cls = cur.getClass().getSimpleName()
        if cls == "WindowGroupLimitExec":
            if cur.mode().toString() == "Partial":
                return True
            cur = cur.children().apply(0)
            continue
        if cls in _CHAIN_PASS:
            cur = cur.children().apply(0)
            continue
        if cls == "AdaptiveSparkPlanExec":
            cur = cur.initialPlan()
            continue
        if cls.endswith("QueryStageExec"):
            cur = cur.plan()
            continue
        return False


def analyze_plan(df: DataFrame) -> dict[str, Any]:
    """The budget facts for one DataFrame's physical plan, read by
    WALKING the plan tree (py4j). The string form of a plan is NOT a
    stable function of the query: once a shared memo has materialized
    (a sibling query's localCheckpoint is enough), AQE reprints cached
    builds with reset indentation, QueryStage wrappers, and
    ``maxToStringFields`` truncation — r5 measured the SAME query
    string-count 8, 15, 21, 27 and 325 depending on which memos
    happened to be hot. The tree has none of that:

    - ``ShuffleExchangeExec`` counts 1; ``ReusedExchangeExec`` is a
      leaf and counts 0 (it is literally the reuse of another counted
      exchange).
    - ``AdaptiveSparkPlanExec`` is entered through its INITIAL input
      plan, so the count never depends on whether AQE has finalized —
      a deliberate stable upper bound (AQE can only remove exchanges
      at runtime, e.g. SMJ→BHJ conversion).
    - ``InMemoryTableScanExec`` is a leaf for the referencing plan; its
      relation's BUILD plan is walked once per distinct cache builder
      (JVM identity), however many times the query re-references the
      same memoized relation (the self-join pattern).
    - QueryStage wrappers (shuffle / broadcast / table-cache) unwrap
      into their contained plan; scalar/IN subquery plans are walked
      like children.
    - ``global_windows``: WindowExec-family nodes whose
      ``partitionSpec()`` is EMPTY — the whole input relation sorted
      in ONE task, the 100×-scale hazard VERDICT r6 item 1 measured
      on continuous-column cell relations (counted over the same
      deduped traversal; the gate allows a non-zero count only for
      the documented bounded-relation whitelist entries).
    - ``cartesian`` / ``bnlj``: a ``CartesianProductExec`` /
      ``BroadcastNestedLoopJoinExec`` node is present; ``python``: the
      sorted ``PYTHON_NODES`` prefixes of the Python-eval nodes present.
    """
    sc = df.sparkSession.sparkContext
    identity = sc._jvm.java.lang.System.identityHashCode
    seen_builders: set[int] = set()
    python: set[str] = set()
    facts: dict[str, Any] = {
        "exchanges": 0,
        "cartesian": False,
        "bnlj": False,
        "global_windows": 0,
        "const_key_windows": 0,
        "wgl_partial": 0,
    }

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "ShuffleExchangeExec":
            facts["exchanges"] += 1
        elif cls == "CartesianProductExec":
            facts["cartesian"] = True
        elif cls == "BroadcastNestedLoopJoinExec":
            facts["bnlj"] = True
        python.update(p for p in PYTHON_NODES if cls.startswith(p))
        if cls == "WindowGroupLimitExec" and node.mode().toString() == "Partial":
            facts["wgl_partial"] += 1
        if cls in _WINDOW_NODES and node.partitionSpec().isEmpty():
            facts["global_windows"] += 1
        elif cls in ("WindowExec", "WindowInPandasExec"):
            # constant-cardinality-key window (VERDICT r8 item 1): a
            # per-probe-key window is only scale-safe when the map-side
            # Partial WindowGroupLimit prunes each scan slice first
            names = _spec_base_names(node)
            if names is not None and set(names) <= CONST_CARD_KEYS:
                if not _partial_limit_below(node.children().apply(0)):
                    facts["const_key_windows"] += 1
        if cls == "AdaptiveSparkPlanExec":
            # initialPlan = after EnsureRequirements (exchanges placed),
            # before any runtime re-optimization — the stable form
            walk(node.initialPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if cls == "InMemoryTableScanExec":
            rel = node.relation()
            key = int(identity(rel.cacheBuilder()))
            if key in seen_builders:
                return
            seen_builders.add(key)
            walk(rel.cachedPlan())
            return
        # scalar/IN subquery side plans execute too but are not
        # children() — without this, q_scalar_subquery reads 0
        sq = node.subqueries()
        for i in range(sq.length()):
            walk(sq.apply(i))
        kids = node.children()
        for i in range(kids.length()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    facts["python"] = sorted(python)
    return facts


def streaming_query_names() -> frozenset[str]:
    """Names whose callables run the streaming engine (see module doc)."""
    from ..operators.streaming_queries import QUERIES as SQ

    return frozenset(SQ)


def analyze_registry(spark: SparkSession, sf_dir: str) -> dict[str, dict[str, Any]]:
    """Analyze EVERY registered query in sorted-name order.

    Sorted order matters: session-memoized relations (the dedup
    shingle cache, the LSH index) are built by whichever caller runs
    first and show as InMemoryTableScan for everyone after — analyzing
    in one fixed order makes the recorded exchange counts reproducible
    between the generator and the test fixture.
    """
    from ..operators import all_queries

    qs = all_queries()
    streaming = streaming_query_names()
    out: dict[str, dict[str, Any]] = {}
    for name in sorted(qs):
        if name in streaming:
            out[name] = {"gate": "streaming"}
            continue
        out[name] = analyze_plan(qs[name](spark, sf_dir))
    return out
