#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's median
and spread (interquartile range over median), next to a third of its
bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload query_mix --seeds 1 2 3 4 5

Run from the repository root. Add ``--trace 1`` for the per-layer
metrics (which have no bound).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        shown = " ".join(f"{k}={m['value']:.3f}" for k, m in result["metrics"].items()
                         if k in bounds and bounds[k] is not None)
        print(f"seed {seed}: correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} {shown}", file=sys.stderr)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        limit = f"{bound / 3:.4f}" if bound else "-"
        flag = "" if bound is None or spread < bound / 3 else "  <-- over"
        print(f"{name:<28} median {med:14.4f}  spread {spread:.4f}  limit {limit}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
