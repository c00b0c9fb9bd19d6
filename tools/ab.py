"""Interleaved A/B of two checkouts on one benchmark workload.

Runs the checkouts' own ``perfbench/run.py`` (``--trace 0``, the run
length ``BENCHMARK.json`` fixes) in pairs, one seed per pair, alternating
which side runs first, then prints per end-to-end metric of
``BENCHMARK.json``: q1/median/q3 of each side, the parent's IQR, the
median delta and the change's win count (ties count for neither side).
``gain`` is ``yes`` when the change wins at least nine tenths of the
pairs and its median beats the parent's by more than the parent's IQR —
the rule a claimed speed-up has to meet. A second table gives each
workload item's warm wall per side (the median over a run's warm passes,
read from the ``item_walls=`` dict ``run.py`` prints before its JSON),
so an A/B shows which item moved.

Usage (from any directory):
  python tools/ab.py PARENT CHANGE --workload iterative_sf01 -n 10 --first-seed 11

Each run's record goes to stderr as one JSON line as soon as it finishes;
the table goes to stdout at the end.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    """One benchmark run in ``checkout``: its metrics as name -> value, and
    each item's median warm-pass wall as item -> seconds."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, check=True, capture_output=True, text=True,
    )
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    return {k: m["value"] for k, m in result["metrics"].items()}, item_walls(lines)


def item_walls(lines: list[str]) -> dict:
    """item -> median warm wall from the ``perfbench workload=… item_walls=…``
    line (each item's list starts with its cold pass, which is skipped)."""
    for line in lines:
        if line.startswith("perfbench workload=") and " item_walls=" in line:
            walls = ast.literal_eval(line.split(" item_walls=", 1)[1])
            return {k: statistics.median(v[1:]) for k, v in walls.items() if v[1:]}
    return {}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(metrics: list[dict], workload: str, seeds: list[int], pairs: list[dict]) -> str:
    """Markdown table of the end-to-end ``metrics`` over ``pairs`` (side ->
    metric values, one pair per seed)."""
    lines = [
        f"workload {workload}: {len(pairs)} pairs, seeds {', '.join(map(str, seeds))}",
        "",
        "| metric | parent q1 / median / q3 | change q1 / median / q3 "
        "| parent IQR | median delta | change wins | gain |",
        "|---|---|---|---|---|---|---|",
    ]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["parent"][name] for p in pairs]
        b = [p["change"][name] for p in pairs]
        qa, qb = quartiles(a), quartiles(b)
        iqr = qa[2] - qa[0]
        delta = qb[1] - qa[1]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        better = -delta if lower else delta
        gain = "yes" if wins >= 0.9 * len(pairs) and better > iqr else "no"
        rel = f" ({delta / qa[1]:+.1%})" if qa[1] else ""
        lines.append(
            f"| `{name}` | {qa[0]:.4g} / {qa[1]:.4g} / {qa[2]:.4g} "
            f"| {qb[0]:.4g} / {qb[1]:.4g} / {qb[2]:.4g} | {iqr:.3g} "
            f"| {delta:+.3g}{rel} | {wins}/{len(pairs)} | {gain} |"
        )
    return "\n".join(lines)


def item_report(pairs: list[dict]) -> str:
    """Markdown table of each item's median warm wall per side over
    ``pairs`` (side -> item -> seconds, one pair per seed)."""
    lines = [
        "| item | parent q1 / median / q3 | change q1 / median / q3 | median delta |",
        "|---|---|---|---|",
    ]
    for item in sorted({i for p in pairs for i in p["parent"]}):
        a = [p["parent"][item] for p in pairs if item in p["parent"]]
        b = [p["change"][item] for p in pairs if item in p["change"]]
        if not a or not b:
            continue
        qa, qb = quartiles(a), quartiles(b)
        lines.append(
            f"| `{item}` | {qa[0]:.3g} / {qa[1]:.3g} / {qa[2]:.3g} "
            f"| {qb[0]:.3g} / {qb[1]:.3g} / {qb[2]:.3g} "
            f"| {qb[1] - qa[1]:+.3g} ({(qb[1] - qa[1]) / qa[1]:+.1%}) |"
        )
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("-n", type=int, default=10, help="number of pairs")
    ap.add_argument("--first-seed", type=int, default=1, help="pair i runs seed first-seed + i")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    seeds = [args.first_seed + i for i in range(args.n)]
    pairs, item_pairs = [], []
    for i, seed in enumerate(seeds):
        pair, items = {}, {}
        for side in ("parent", "change") if i % 2 == 0 else ("change", "parent"):
            pair[side], items[side] = run_once(sides[side], args.workload, seed, bench["run_seconds"])
            rec = {"workload": args.workload, "seed": seed, "side": side, "metrics": pair[side],
                   "item_walls": items[side]}
            print(json.dumps(rec), file=sys.stderr, flush=True)
        pairs.append(pair)
        item_pairs.append(items)
    print(report(bench["end_to_end"], args.workload, seeds, pairs))
    print()
    print(item_report(item_pairs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
