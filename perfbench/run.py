#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

Usage:
  python3 perfbench/run.py --workload <names_dup|names_probe|docs_neardup>
                           --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selfcheck

The first run in a checkout builds the program (perfbench/build.py). Every
file the benchmark writes goes under .bench_build/ in the checkout. The
self-check runs each workload at a tiny size, traced and untraced, checks
that every metric BENCHMARK.json names is printed with its unit, and checks
that a corrupted result is caught.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

import build

ROOT = build.ROOT
WORK = build.BUILD / "work"
WORKLOADS = ("names_dup", "names_probe", "docs_neardup")
# A run must end within 180 s, not counting the first build in a checkout.
RUN_LIMIT_S = 170

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def run_jvm(classes: Path, args: list, limit_s: float) -> tuple:
    """Runs the benchmark main; returns (exit code, stdout lines)."""
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    cmd = [build.java(), *ADD_OPENS, "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={WORK / 'tmp'}",
           f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
           "graft.perfbench.Main", *args, "--work", str(WORK), "--cores", str(cores())]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"run: the benchmark did not finish within {limit_s:.0f} s", file=sys.stderr)
        return 1, []
    return proc.returncode, out.splitlines()


def result_of(lines: list):
    """The final result object, or None when the last line is not one."""
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    keys = {"correct", "attempted", "failed", "metrics"}
    return res if isinstance(res, dict) and set(res) == keys else None


def selfcheck(classes: Path) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    gated = {w["name"] for w in spec["workloads"]}
    problems = []
    for wl in WORKLOADS:
        cases = [(0, "0"), (1, "0"), (0, "1")]  # (trace, corrupt)
        for trace, corrupt in cases:
            args = ["--workload", wl, "--seed", "7", "--seconds", "1", "--trace", str(trace),
                    "--scale", "tiny", "--corrupt", corrupt]
            code, lines = run_jvm(classes, args, RUN_LIMIT_S)
            res = result_of(lines)
            tag = f"{wl} trace={trace} corrupt={corrupt}"
            if code != 0 or res is None:
                problems.append(f"{tag}: exit {code}, no result line")
                continue
            print(f"{tag}: {lines[-2] if len(lines) > 1 else ''}", file=sys.stderr)
            if corrupt == "1":
                if res["correct"] or res["failed"] != res["attempted"]:
                    problems.append(f"{tag}: corrupted results not caught: {res}")
                continue
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: {res['failed']}/{res['attempted']} failed")
            # A gated workload prints exactly the metrics BENCHMARK.json names.
            # The ungated one prints the end-to-end set and, traced, the
            # layer metrics of its own operator calls beside the shared ones.
            wanted = spec["per_layer"] if trace else spec["end_to_end"]
            if trace and wl not in gated:
                wanted = [m for m in wanted if not m["name"].startswith(("operators.", "functions."))]
            for m in wanted:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} [{m['unit']}] printed as {got}")
            for name, got in res["metrics"].items():
                if not isinstance(got.get("value"), (int, float)) or not got.get("unit"):
                    problems.append(f"{tag}: metric {name} printed as {got}")
            extra = set(res["metrics"]) - {m["name"] for m in wanted}
            if extra and (wl in gated or not trace):
                problems.append(f"{tag}: metrics not in BENCHMARK.json: {sorted(extra)}")
    for p in problems:
        print(f"selfcheck: {p}", file=sys.stderr)
    print(json.dumps({"selfcheck": "failed" if problems else "ok", "problems": len(problems)}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    classes = build.build()
    if a.selfcheck:
        return selfcheck(classes)
    if a.workload is None or a.seed is None or a.seconds is None or a.trace is None:
        ap.error("--workload, --seed, --seconds and --trace are required")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    code, lines = run_jvm(classes, args, RUN_LIMIT_S)
    res = result_of(lines)
    if code != 0 or res is None:
        print("\n".join(lines[:-1] if res else lines))
        print(f"run: benchmark main exited with code {code} and no result", file=sys.stderr)
        return code or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
