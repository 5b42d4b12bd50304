#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload.

Usage:
  python3 tools/perf_pairs.py --parent <checkout> --workload <name> --seeds <spec>
                              [--change <checkout>]

<spec> is a range `1001-1010` or a list `1001,1004`. Pair i runs

  python3 perfbench/run.py --workload <name> --seed <seed i> --seconds <s> --trace 0

once in each checkout (the change defaults to the checkout this script sits
in), the parent first on even pairs and the change first on odd ones. <s> is
BENCHMARK.json's `run_seconds`, which must be the same in both checkouts. Then,
for every end-to-end metric in the change's BENCHMARK.json, it prints every
run, both medians, the parent's quartiles, the pairs the change won (ties
count for neither) and two verdicts:

- gain: the change won at least 9/10 of the pairs run (a pair without a
  result on both sides is no win), its median is better by more than the
  parent's interquartile distance, and no more of its runs failed than the
  parent's;
- bound: the change's median is no worse than the parent's by more than the
  metric's bound; "unresolved" when the parent's own interquartile distance,
  as a share of its median, is wider than the bound, unless every change
  run is better than every parent run.

A run that exits non-zero, prints no result or reports failed operations is
listed as such, and counts as failed. The script writes nothing but its
stdout. The first run in each checkout includes the benchmark's own build
(perfbench/build.py).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
RUN_LIMIT_S = 900


def seeds_of(spec: str) -> list:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(checkout: Path, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                              timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        return {"error": f"no result within {RUN_LIMIT_S} s"}
    lines = proc.stdout.splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = None
    if proc.returncode != 0 or not isinstance(res, dict) or "metrics" not in res:
        return {"error": f"exit {proc.returncode}: {proc.stderr.strip()[-300:]}"}
    return res


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def failed(run: dict) -> bool:
    return "error" in run or not run["correct"] or bool(run["failed"])


def report(metric: dict, parent: list, change: list, change_failed_more: bool) -> None:
    name, unit, bound = metric["name"], metric["unit"], metric["bound"]
    lower = metric["better"] == "lower"
    n_run = len(parent)
    pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
             for p, c in zip(parent, change) if "metrics" in p and "metrics" in c]
    print(f"{name} [{unit}, {metric['better']} is better, bound {bound:.0%}]")
    if not pairs:
        print("  no pair has a result on both sides")
        return
    ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
    print("  parent: " + " ".join(f"{v:.4g}" for v in ps))
    print("  change: " + " ".join(f"{v:.4g}" for v in cs))
    pm, cm = statistics.median(ps), statistics.median(cs)
    q1, q3 = quartiles(ps)
    iqr = q3 - q1
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    gain = (pm - cm) if lower else (cm - pm)
    worse = -gain / pm if pm else 0.0
    print(f"  median {pm:.4g} -> {cm:.4g} ({(cm - pm) / pm:+.1%}); parent quartiles "
          f"{q1:.4g}-{q3:.4g}; change better in {wins}/{n_run} pairs")
    claim = wins >= 0.9 * n_run and gain > iqr and not change_failed_more
    all_better = min(cs) > max(ps) if not lower else max(cs) < min(ps)
    if all_better:
        verdict = "within bound (every change run better)"
    elif pm and iqr / pm > bound:
        verdict = "unresolved (parent spread wider than the bound)"
    elif worse <= bound:
        verdict = "within bound"
    else:
        verdict = "OVER BOUND"
    print(f"  gain: {'yes' if claim else 'no'}; bound: {verdict}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", type=Path, default=HERE)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    a = ap.parse_args()
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    spec = json.loads((sides["change"] / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    parent_seconds = json.loads((sides["parent"] / "BENCHMARK.json").read_text())["run_seconds"]
    if parent_seconds != seconds:
        sys.exit(f"run_seconds differs: parent {parent_seconds}, change {seconds}")
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_once(sides[side], a.workload, seed, seconds)
            runs[side].append(res)
            if "error" in res:
                state = res["error"]
            else:
                state = f"correct={res['correct']} failed={res['failed']}/{res['attempted']}"
            print(f"pair {i + 1} seed {seed} {side}: {state}", flush=True)
    bad = {side: sum(1 for r in runs[side] if failed(r)) for side in runs}
    for side in runs:
        print(f"{side}: {bad[side]}/{len(runs[side])} runs failed or had failed operations")
    for metric in spec["end_to_end"]:
        report(metric, runs["parent"], runs["change"], bad["change"] > bad["parent"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
