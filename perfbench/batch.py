"""Closed-loop workloads: ``orders_batch`` and ``curation``.

One caller runs the workload's query mix pass after pass, each query
collected to the driver. The first pass after set-up is the cold pass
(plan building, code generation and first-use costs included). After
optional untimed settling passes the ``--seconds`` window opens: warm
passes start until it closes, and at least a minimum number of them
run. ``curation``
gives every pass a fresh input directory, so the package's per-directory
persist memos fill within a pass but never serve a later one.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass

from common import (
    Host,
    PeakRss,
    Tracer,
    canonical_digest,
    heap_live_mb,
    log,
    oracle_digests,
    session_conf,
    shutdown_spark,
)
from corpus import make_corpus


@dataclass(frozen=True)
class Mix:
    #: registry query name -> the tables it reads
    queries: dict[str, tuple[str, ...]]
    #: tables whose records count as the workload's documents
    doc_tables: tuple[str, ...]
    #: order/TPC-H scale and text scale, relative to the sf0.1 tier
    scale: float
    text_scale: float
    fresh_input: bool
    #: untimed passes after the cold pass, while the JIT still settles
    settle_passes: int
    #: warm passes that run even when the window has already closed
    min_warm_passes: int


MIXES = {
    "orders_batch": Mix(
        queries={
            "q_pipeline": ("events",),  # order_pipeline
            "q_dead_letter": ("events",),  # dead_letters
            "q_pipeline_salted": ("events",),  # facility_rollup(pair_orders_salted(...))
            "q_tpch_q3": ("lineitem", "orders", "customer"),
            "q_tpch_q18": ("lineitem", "orders", "customer"),
        },
        doc_tables=("events", "orders"),
        scale=1.0,
        text_scale=0.02,
        fresh_input=False,
        settle_passes=3,
        min_warm_passes=3,
    ),
    "curation": Mix(
        queries={
            "q_text_quality": ("documents",),
            "q_dedup_minhash": ("documents",),
            "q_dedup_ngram": ("documents",),
            "q_semdedup": ("embeddings",),
            "q_knn_ivf": ("embeddings",),
        },
        doc_tables=("documents", "embeddings"),
        scale=0.01,
        text_scale=0.08,
        fresh_input=True,
        settle_passes=0,
        min_warm_passes=1,
    ),
}

#: set-ups timed per run; the first includes the JVM start, the median
#: reflects the later ones
SETUP_REPEATS = 3


@dataclass
class PassResult:
    seconds: float
    query_s: dict[str, float]
    digests: dict[str, str | None]  # None: the query raised


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_noop(df, repeats: int = 3) -> float:
    """Median seconds to run ``df`` into a noop sink."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        _noop(df)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


class ClosedLoop:
    def __init__(self, name: str, host: Host, seed: int, session: ClosedLoop | None = None) -> None:
        """``session``: another loop whose Spark session and registry
        this one shares instead of setting up its own."""
        self.name = name
        self.mix = MIXES[name]
        self.host = host
        self.work = host.work_dir
        self.corpus = os.path.join(self.work, f"corpus-{name}")
        t = time.perf_counter()
        self.rows = make_corpus(self.corpus, seed, self.mix.scale, self.mix.text_scale)
        log(f"{name}: corpus {self.rows} in {time.perf_counter() - t:.1f}s")
        self.n_pass_dirs = 0
        self.spark = session.spark if session else None
        self.queries = session.queries if session else None
        self.layers: dict[str, float] = {}

    # -- set-up ------------------------------------------------------------

    def _input_dir(self) -> str:
        """The directory a pass reads: the corpus itself, or for
        fresh-input mixes a new hard-linked copy of it."""
        if not self.mix.fresh_input:
            return self.corpus
        self.n_pass_dirs += 1
        d = os.path.join(self.work, f"input-{self.name}-{self.n_pass_dirs}")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.corpus, d, copy_function=os.link)
        return d

    def setup(self, event_log_dir: str | None = None) -> float:
        """(Re)create the session and ready the mix: session, registry,
        and every input table resolved. Returns the seconds taken."""
        from orders_kafka_streams_spark.session import get_spark
        from orders_kafka_streams_spark.sources.tables import load_table

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.name}", extra_conf=session_conf(self.host, event_log_dir))
        t1 = time.perf_counter()
        from orders_kafka_streams_spark.operators import all_queries

        self.queries = all_queries()
        t2 = time.perf_counter()
        for table in sorted({t for ts in self.mix.queries.values() for t in ts}):
            load_table(self.spark, self.corpus, table).schema
        t3 = time.perf_counter()
        self.layers.setdefault("session.registry_import_s", t2 - t1)
        self._get_spark_s.append(t1 - t0)
        return t3 - t0

    def launch(self) -> list[float]:
        """Time SETUP_REPEATS set-ups; the first also starts the JVM."""
        self._get_spark_s: list[float] = []
        samples = [self.setup() for _ in range(SETUP_REPEATS)]
        self.layers["session.jvm_launch_s"] = self._get_spark_s[0]
        self.layers["session.get_spark_s"] = statistics.median(self._get_spark_s[1:])
        return samples

    # -- passes ------------------------------------------------------------

    def run_pass(self, tracer: Tracer) -> PassResult:
        sf_dir = self._input_dir()
        query_s: dict[str, float] = {}
        digests: dict[str, str | None] = {}
        results = {}
        with tracer.span("pass", input=sf_dir) as whole:
            for name in self.mix.queries:
                with tracer.span(f"query.{name}") as sp:
                    try:
                        df = self.queries[name](self.spark, sf_dir)
                        results[name] = (df.columns, [tuple(r) for r in df.collect()])
                    except Exception:
                        log(f"{name} raised:\n{traceback.format_exc()}")
                        results[name] = None
                query_s[name] = sp.seconds
        for name, res in results.items():
            digests[name] = None if res is None else canonical_digest(*res)
        return PassResult(whole.seconds, query_s, digests)

    def pass_rows(self) -> int:
        return sum(self.rows[t] for ts in self.mix.queries.values() for t in ts)

    def doc_rows(self) -> int:
        return sum(self.rows[t] for t in self.mix.doc_tables)

    # -- traced probes -----------------------------------------------------

    def probes(self, tracer: Tracer) -> dict[str, float]:
        from orders_kafka_streams_spark.plans.budget import analyze_plan
        from orders_kafka_streams_spark.sources.tables import load_table

        spark, out = self.spark, {}
        spark.sparkContext.setJobGroup("probes", "per-layer probes")
        sf_dir = self._input_dir()
        for table in ("events", "lineitem", "documents"):
            if any(table in ts for ts in self.mix.queries.values()):
                with tracer.span(f"sources.scan.{table}"):
                    out[f"sources.scan_s.{table}"] = _timed_noop(load_table(spark, sf_dir, table))
        if self.name == "orders_batch":
            from orders_kafka_streams_spark.operators.pipeline import (
                dead_letters,
                order_pipeline,
                pair_orders,
                pair_orders_salted,
            )

            ev = load_table(spark, sf_dir, "events")
            scan = out["sources.scan_s.events"]
            pair = _timed_noop(pair_orders(ev))
            out["operators.pipeline.pair_orders_s"] = pair - scan
            out["operators.pipeline.facility_rollup_self_s"] = _timed_noop(order_pipeline(ev)) - pair
            out["operators.pipeline.dead_letters_s"] = _timed_noop(dead_letters(ev)) - scan
            out["operators.pipeline.pair_orders_salted_s"] = _timed_noop(pair_orders_salted(ev)) - scan
        else:
            from pyspark.sql import functions as F

            from orders_kafka_streams_spark.functions.textfns import shingles, tokens

            docs = load_table(spark, sf_dir, "documents")
            toks = _timed_noop(docs.select(tokens(F.col("text")).alias("t")))
            shin = _timed_noop(docs.select(shingles(tokens(F.col("text"))).alias("s")))
            out["functions.textfns.shingles_s"] = shin - toks
            ivf = {(r[0], r[1]) for r in self.queries["q_knn_ivf"](spark, sf_dir).select("query_id", "neighbor_id").collect()}
            brute = {(r[0], r[1]) for r in self.queries["q_knn_brute"](spark, sf_dir).select("query_id", "neighbor_id").collect()}
            out["operators.similarity.ivf_recall_at_k"] = len(ivf & brute) / len(brute)
            out["operators.dedup.pairs"] = float(self.queries["q_dedup_ngram"](spark, sf_dir).count())
        for name in self.mix.queries:
            out[f"plans.exchanges.{name}"] = float(analyze_plan(self.queries[name](spark, sf_dir))["exchanges"])
        return out


LAYER_OF_QUERY = {
    "q_tpch_q3": "operators.relational",
    "q_tpch_q18": "operators.relational",
    "q_text_quality": "operators.text",
    "q_dedup_minhash": "operators.dedup",
    "q_dedup_ngram": "operators.dedup",
    "q_semdedup": "operators.clustering",
    "q_knn_ivf": "operators.similarity",
}


def _check(loop: ClosedLoop, passes: list[PassResult]) -> tuple[int, int]:
    """(attempted, failed) of the passes against the registry's DuckDB
    oracles over the loop's corpus."""
    expected = oracle_digests(loop.corpus, list(loop.mix.queries))
    failed = 0
    for p in passes:
        for q, d in p.digests.items():
            if d != expected[q]:
                failed += 1
                log(f"{loop.name}: {q} {'raised' if d is None else 'differs from its DuckDB oracle'}")
    return sum(len(p.digests) for p in passes), failed


def run(name: str, host: Host, seed: int, seconds: float, trace: bool) -> dict:
    from eventlog import spark_metrics

    loop = ClosedLoop(name, host, seed)
    tracer = Tracer()
    checked: list[tuple[ClosedLoop, list[PassResult]]] = []
    with PeakRss() as rss:
        setup_samples = loop.launch()
        cold = loop.run_pass(tracer)
        log(f"{name}: set-ups {setup_samples}, cold pass {cold.seconds:.2f}s")
        settle = [loop.run_pass(tracer) for _ in range(loop.mix.settle_passes)]
        # warm passes start until the window closes, and at least
        # min_warm_passes of them run
        deadline = time.perf_counter() + seconds
        warm: list[PassResult] = []
        if trace:
            # the traced run reports per-layer metrics only; one untraced
            # warm pass is the baseline of trace.overhead_s
            warm.append(loop.run_pass(tracer))
        else:
            while len(warm) < loop.mix.min_warm_passes or time.perf_counter() < deadline:
                warm.append(loop.run_pass(tracer))
        checked.append((loop, [cold, *settle, *warm]))
        if trace:
            event_dir = os.path.join(loop.work, "eventlog")
            loop.setup(event_log_dir=event_dir)
            # the new session's first pass warms it, as the cold pass did
            checked[0][1].extend(loop.run_pass(tracer) for _ in range(max(1, loop.mix.settle_passes)))
            loop.spark.sparkContext.setJobGroup("traced-pass", "traced pass")
            traced = [(loop, loop.run_pass(tracer))]
            heap_mb = heap_live_mb(loop.spark)
            probe_layers = loop.probes(tracer)
            if name == "orders_batch":
                # curation is not a workload of BENCHMARK.json (README,
                # "Scale and deviations"); its layers are traced here: a
                # warm-up pass, a traced pass and its probes
                cur = ClosedLoop("curation", host, seed, session=loop)
                warm_up = cur.run_pass(tracer)
                traced.append((cur, cur.run_pass(tracer)))
                probe_layers.update(cur.probes(tracer))
                checked.append((cur, [warm_up, traced[1][1]]))
            checked[0][1].append(traced[0][1])
        shutdown_spark(loop.spark)

    log(f"{name}: warm passes {[round(p.seconds, 2) for p in warm]}")
    # correctness, outside every timed region
    attempted = failed = 0
    for lp, passes in checked:
        a, f = _check(lp, passes)
        attempted, failed = attempted + a, failed + f
    log(f"{name}: oracles checked")

    # best of the warm passes, per pass and per query: passes still speed
    # up while the JIT settles, and the host's speed drifts by a fifth for
    # tens of seconds at a time; the fastest pass is the steadiest figure
    # of the warmed program (README, "End-to-end metrics")
    pass_s = min(p.seconds for p in warm)
    # five queries times a few passes are too few samples for a tail
    # percentile, so the "p50" is the middle query's time and the "p99"
    # the slowest query's
    query_ms = {q: min(p.query_s[q] for p in warm) * 1000.0 for q in loop.mix.queries}
    metrics = {
        "setup_s": (statistics.median(setup_samples), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "latency_p50_ms": (statistics.median(query_ms.values()), "ms"),
        "latency_p99_ms": (max(query_ms.values()), "ms"),
        # the two below repeat cold_pass_s and rows_per_s (README)
        "catchup_events_per_s": (loop.pass_rows() / cold.seconds, "1/s"),
        "rows_per_s": (loop.pass_rows() / pass_s, "1/s"),
        "cold_pass_s": (cold.seconds, "s"),
        "docs_per_s": (loop.doc_rows() / pass_s, "1/s"),
    }
    info = {
        "workload": name,
        "passes": len(warm),
        "pass_s": [p.seconds for p in warm],
        "query_ms": query_ms,
        "samples_per_query": len(warm),
        "setup_samples": setup_samples,
        "rows": loop.rows,
        "failed_share": failed / attempted,
    }
    layers = dict(loop.layers)
    if trace:
        layers.update(probe_layers)
        for _, p in traced:
            for q, s in p.query_s.items():
                if q in LAYER_OF_QUERY:
                    layers[f"{LAYER_OF_QUERY[q]}.{q}_s"] = s
        layers.update(spark_metrics(event_dir, job_group="traced-pass"))
        layers["trace.overhead_s"] = traced[0][1].seconds - pass_s
        layers["jvm.heap_live_mb"] = heap_mb
        tracer.dump(os.path.join(os.path.dirname(loop.work), f"trace-{name}.json"))
    return {"metrics": metrics, "layers": layers, "info": info, "attempted": attempted, "failed": failed}
