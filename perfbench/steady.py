"""Steadiness check: repeat each workload with different seeds and report
every end-to-end metric's spread against its bound in BENCHMARK.json.

The spread is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. A metric
is steady when its spread is below its bound (``setup_s`` is reported but
not judged). With two or more ``--sets``, the medians of later sets are
also compared with the first set's: a metric may not read worse by more
than its bound.

Usage (from the repository root):
  python3 perfbench/steady.py [--runs 10] [--sets 1] [--seed 100] [WORKLOAD ...]
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


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = list(spec["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    out = subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, text=True, timeout=900)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed}: outputs not correct: {result}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seed", type=int, default=100, help="first seed; each run uses the next one")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    ok = True
    seed = args.seed
    for workload in workloads:
        sets = []
        for _ in range(args.sets):
            runs = []
            for _ in range(args.runs):
                runs.append(run_once(spec, workload, seed))
                print(f"{workload:16s} seed={seed} " + " ".join(
                    f"{k}={v:.4f}" for k, v in runs[-1].items()), flush=True)
                seed += 1
            sets.append(runs)
        for name, (bound, better) in bounds.items():
            for i, runs in enumerate(sets):
                values = [r[name] for r in runs]
                s = spread(values)
                med = statistics.median(values)
                judged = name != "setup_s"
                line = (f"{workload:16s} set{i} {name:12s} median={med:.4f} "
                        f"spread={s:.4f} bound={bound} third={bound / 3:.4f}")
                if judged and s > bound:
                    ok = False
                    line += "  SPREAD OVER BOUND"
                if i > 0:
                    base = statistics.median(r[name] for r in sets[0])
                    worse = (med - base) / base if better == "lower" else (base - med) / base
                    line += f" vs_set0={worse:+.4f}"
                    if worse > bound:
                        ok = False
                        line += "  MEDIAN WORSE THAN BOUND"
                print(line, flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
