"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the workload's inputs from the seed,
sets the program up, warms it, and measures for ``--seconds`` (tracing
off) and until a fixed set of calls has completed; with ``--trace 1`` it
serves a fixed set of calls untraced and traced and adds the per-layer
probes.  Checks every answer it can afford outside the timed window.  Prints a short summary, then as the last line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones, as named in
BENCHMARK.json).  The full run record (and with tracing, the spans) is
written under ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if sys.path and Path(sys.path[0]).resolve() == ROOT / "perfbench":
    sys.path[0] = str(ROOT)
else:
    sys.path.insert(0, str(ROOT))

from perfbench import harness, procinfo, spans, workloads  # noqa: E402

WORKLOADS = {
    "dashboard_csv": workloads.dashboard,
    "corpus_dedup": workloads.corpus_dedup,
}


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _metrics(values: dict, declared: list[dict]) -> dict:
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RuntimeError(f"run produced no value for {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import tests.traffic_sim  # noqa: F401  (fixture generator + oracle)
        import trafficbigdatasearch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    spec = _spec()

    work = harness.WorkDir(ROOT, args.workload)
    session = harness.Session(work)
    tracer = spans.Tracer()
    ctx = workloads.Ctx(work, session, args.seed, args.seconds, bool(args.trace), tracer)
    ctx.phases["start_s"] = time.perf_counter() - T_START
    try:
        res = WORKLOADS[args.workload](ctx)
        width = session.spark.sparkContext.master
        res["record"]["peak_rss_mb"] = session.peak_rss_mb()
        if res["layers"] is not None:
            res["layers"]["session.peak_rss_mb"] = res["record"]["peak_rss_mb"]
    finally:
        with ctx.phase("teardown"):
            session.close()
            work.remove()

    record = res["record"]
    record.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": procinfo.nproc(), "spark_master": width,
        "error_rate": res["failed"] / max(res["attempted"], 1),
        "e2e": res["e2e"], "layers": res["layers"], "phases_s": ctx.phases,
    })
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (out / f"{stem}.json").write_text(json.dumps(record, indent=1, default=str))
    if args.trace:
        tracer.dump(out / f"{stem}-spans.json")
        metrics = _metrics(res["layers"], spec["per_layer"])
    else:
        metrics = _metrics(res["e2e"], spec["end_to_end"])

    correct = res["failed"] == 0 and not record.get("errors")
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} attempted={res['attempted']} failed={res['failed']} "
          f"error_rate={record['error_rate']:.4g} nproc={record['nproc']} master={width}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
