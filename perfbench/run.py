"""Benchmark entry point.

    python3 perfbench/run.py --workload {orders_stream,orders_batch,curation}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Generates the workload's inputs from
the seed, sizes Spark to the host, measures for ``--seconds``, checks
every result, and prints one JSON object as the last line of stdout:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The line before it carries the
host sizing, sample counts and ``failed_share``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import PACKAGE, ROOT, WORK_ROOT, fresh_dir, log, pin_host  # noqa: E402

WORKLOADS = ("orders_stream", "orders_batch", "curation")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for needed in (PACKAGE, "tools", "tests"):
        if not os.path.isdir(os.path.join(ROOT, needed)):
            log(f"{needed}/ not found under {ROOT}: run from a full checkout")
            return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)

    work = fresh_dir(os.path.join(WORK_ROOT, f"{a.workload}-{os.getpid()}"))
    # the load generator of the streaming workload keeps one thread
    host = pin_host(work, reserved_threads=1 if a.workload == "orders_stream" else 0)
    try:
        if a.workload == "orders_stream":
            import stream

            report = stream.run(host, a.seed, a.seconds, bool(a.trace))
        else:
            import batch

            report = batch.run(a.workload, host, a.seed, a.seconds, bool(a.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        wanted = spec["per_layer"]
        # a layer the workload never enters did no work on it: 0
        values = {m["name"]: (report["layers"].get(m["name"], 0.0), m["unit"]) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = {m["name"]: report["metrics"][m["name"]] for m in wanted}
    metrics = {name: {"value": float(v), "unit": unit} for name, (v, unit) in values.items()}
    print(json.dumps({"host": host.info(), **report["info"]}))
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": int(report["attempted"]),
        "failed": int(report["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
