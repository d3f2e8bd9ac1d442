"""Run each workload on several seeds and report, per end-to-end metric,
the median, quartiles and interquartile spread (as a share of the median)
against the metric's bound — the check a benchmark must pass before its
figures can show a regression.

    python3 perfbench/steadiness.py --runs 10 --first-seed 100 [--workload W ...]

Runs are sequential (one Spark at a time).  Prints a Markdown table and, with
``--json PATH``, writes every run's metrics there.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[0] = str(ROOT)

from perfbench import stats  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}: {out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["seed"] = seed
    return res


def summarize(runs: list[dict], spec: dict) -> list[dict]:
    return [
        {"metric": m["name"], "unit": m["unit"], "bound": m["bound"]}
        | stats.quartile_spread([r["metrics"][m["name"]]["value"] for r in runs])
        for m in spec["end_to_end"]
    ]


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--json", type=Path)
    args = ap.parse_args(argv)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]

    all_runs = {}
    for w in workloads:
        runs = []
        for k in range(args.runs):
            r = run_once(w, args.first_seed + k, spec["run_seconds"])
            runs.append(r)
            print(f"{w} seed={r['seed']} wall={r['wall_s']:.0f}s correct={r['correct']} "
                  + " ".join(f"{n}={v['value']:.4g}" for n, v in r["metrics"].items()),
                  file=sys.stderr, flush=True)
        all_runs[w] = runs
    if args.json:
        args.json.write_text(json.dumps(all_runs, indent=1))

    print(f"seeds {args.first_seed}..{args.first_seed + args.runs - 1}, "
          f"run_seconds={spec['run_seconds']}\n")
    print("| workload | metric | median | q1 | q3 | spread | bound | failed/attempted | mean wall |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w, runs in all_runs.items():
        fails = sum(r["failed"] for r in runs)
        tried = sum(r["attempted"] for r in runs)
        wall = statistics.mean(r["wall_s"] for r in runs)
        for row in summarize(runs, spec):
            print(f"| {w} | {row['metric']} ({row['unit']}) | {row['median']:.4g} | "
                  f"{row['q1']:.4g} | {row['q3']:.4g} | {row['spread']:.3f} | "
                  f"{row['bound']} | {fails}/{tried} | {wall:.0f} s |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
