"""Run one workload over several seeds and report, per end-to-end metric,
the median and the quartile spread ((Q3 - Q1) / median) next to the
metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload orders_stream --seeds 1 2 3 4 5
                                [--seconds S] [--out results.jsonl]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import quartile_spread  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--out", help="append each run's result line to this file")
    a = ap.parse_args()

    runs = []
    for seed in a.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=180,
        )
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        *_, info, last = proc.stdout.strip().splitlines()
        result = json.loads(last)
        runs.append(result)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, "info": json.loads(info), **result}) + "\n")
        print(f"seed {seed}: correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)

    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(values)
        spread = f"spread {quartile_spread(values):.3f}" if len(values) >= 2 else ""
        print(f"{m['name']:24s} median {med:.5g} {m['unit']:5s} {spread} (bound {m['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
