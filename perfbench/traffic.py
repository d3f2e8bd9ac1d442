"""Traffic-side pieces shared by the dashboard workloads and the traced
probes: fixture generation, layout preparation, traced calls, and the
per-layer probes (exec/JSON split, scans, job counts)."""

from __future__ import annotations

import hashlib
import statistics
from pathlib import Path

from perfbench import answers
from perfbench.calls import KINDS, Call, CallStream

ACCIDENT_FILE = "TF_ZFZD_CASESPECIFICATION.csv"


def generate_fixture(base: Path, seed: int, scale: int) -> dict:
    from tests import traffic_sim

    traffic_sim.generate(base, seed=seed, scale=scale)
    files = sorted(p for p in base.rglob("*.csv"))
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(base)).encode())
        h.update(p.read_bytes())
    return {
        "scale": scale,
        "files": len(files),
        "bytes": sum(p.stat().st_size for p in files),
        "sha256": h.hexdigest()[:16],
    }


def dir_bytes(path: Path, suffix: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob(f"*{suffix}"))


def ingest(spark, base: Path, out: Path) -> None:
    from trafficbigdatasearch_spark.sources.parquet import ingest_reference_layout

    ingest_reference_layout(spark, str(base), str(out), mode="parity")


def engine(spark, path: Path, layout: str):
    from trafficbigdatasearch_spark.engine import TrafficEngine

    return TrafficEngine(spark, str(path), layout=layout, mode="parity")


def frame_fns(eng) -> dict:
    return {
        "accident": eng.accident_count_df,
        "overspeed": eng.overspeed_count_df,
        "avgspeed": eng.average_speed_df,
    }


def json_fns(eng) -> dict:
    return {
        "accident": eng.get_accident_count,
        "overspeed": eng.get_overspeed_count,
        "avgspeed": eng.get_average_speed,
    }


def call_months(call: Call) -> list[str]:
    """``YYYYMM`` months whose files a call reads (the engine's own rule)."""
    import datetime as dt

    from trafficbigdatasearch_spark.engine import months_between
    from trafficbigdatasearch_spark.queries._core import parse_date

    dates = call.args[4:]
    if call.kind == "avgspeed":
        end = parse_date(dates[0])
        start = max(end - dt.timedelta(days=30), dt.date(2016, 6, 1))
        return months_between(start, end)
    return months_between(parse_date(dates[0]), parse_date(dates[1]))


class TracedCalls:
    """Serves calls as ``engine.plan`` (the ``*_df`` builder) followed by
    ``to_json_rows`` — exactly what ``get_*`` does — under a ``call.<kind>``
    span, with one Spark job group per phase for job/stage/task counts."""

    def __init__(self, eng, tracer, tag: str):
        from trafficbigdatasearch_spark.sources import to_json_rows

        self.fns = frame_fns(eng)
        self.to_json_rows = to_json_rows
        self.sc = eng.spark.sparkContext
        self.tracer = tracer
        self.tag = tag
        self.served: list[Call] = []

    def group(self, call: Call, phase: str) -> str:
        return f"{self.tag}-{call.idx}-{phase}"

    def __call__(self, call: Call):
        sp = self.tracer.span
        with sp(f"call.{call.kind}", call_id=f"{self.tag}-{call.idx}"):
            self.sc.setJobGroup(self.group(call, "plan"), "plan")
            with sp("engine.plan"):
                df = self.fns[call.kind](*call.args)
            self.sc.setJobGroup(self.group(call, "json"), "json")
            with sp("sources.to_json_rows"):
                rows = self.to_json_rows(df)
        self.served.append(call)
        return rows

    def job_counts(self) -> dict[str, dict[str, list[int]]]:
        """Per kind: lists of plan jobs, jobs, stages and tasks per call."""
        st = self.sc.statusTracker()
        out = {k: {"plan_jobs": [], "jobs": [], "stages": [], "tasks": []} for k in KINDS}
        for call in self.served:
            plan = list(st.getJobIdsForGroup(self.group(call, "plan")))
            jobs = plan + list(st.getJobIdsForGroup(self.group(call, "json")))
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    stages += 1
                    sinfo = st.getStageInfo(s)
                    tasks += sinfo.numTasks if sinfo else 0
            c = out[call.kind]
            c["plan_jobs"].append(len(plan))
            c["jobs"].append(len(jobs))
            c["stages"].append(stages)
            c["tasks"].append(tasks)
        return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def exec_probe(eng, tracer, stream: CallStream, reps: int) -> dict:
    """Per kind, on the kind's most popular tuple: the built DataFrame sent
    to the ``noop`` sink (``queries.exec``), and ``to_json_rows`` on its
    checkpointed result (``sources.json``: the JSON projection and collect
    alone; a difference of two whole-query timings is mostly noise)."""
    from trafficbigdatasearch_spark.sources import to_json_rows

    fns = frame_fns(eng)
    out = {}
    for kind in KINDS:
        df = fns[kind](*stream.hot[kind][0])  # planned outside both spans
        ex, js = [], []
        for _ in range(reps):
            with tracer.span("probe.queries.exec") as s:
                _noop(df)
            ex.append(s_dur(s))
        result = df.localCheckpoint(eager=True)
        for _ in range(reps):
            with tracer.span("probe.sources.to_json_rows") as s:
                rows = len(to_json_rows(result))
            js.append(s_dur(s))
        out[kind] = {
            "exec_s": statistics.median(ex),
            "json_s": statistics.median(js),
            "rows_out": rows,
        }
    return out


def s_dur(span: dict) -> float:
    return span["end"] - span["start"]


def scan_probe(spark, tracer, csv_base: Path, pq_engine, stream: CallStream, reps: int) -> dict:
    """CSV and Parquet scans of the tables each kind's popular call reads,
    over the months it touches, sent to the ``noop`` sink."""
    from trafficbigdatasearch_spark.sources import (
        read_accident_csv,
        read_fee_csv,
        read_speed_csv,
    )

    csv_t, pq_t, rows_total = [], [], 0
    for kind in KINDS:
        call = Call(-1, kind, stream.hot[kind][0])
        months = call_months(call)
        if kind == "accident":
            csv_frames = lambda: [read_accident_csv(spark, str(csv_base / ACCIDENT_FILE))]
            pq_frames = lambda: [pq_engine.accident()]
        else:
            paths = lambda sfx: [str(csv_base / m / f"{m}{sfx}.csv") for m in months]
            csv_frames = lambda: [
                read_speed_csv(spark, paths("CSYDATA")),
                read_fee_csv(spark, paths("SFZDATA")),
            ]
            pq_frames = lambda: [pq_engine.speed_data(months), pq_engine.fee_data(months)]
        rows_total += sum(df.count() for df in csv_frames())
        for _ in range(reps):
            with tracer.span("probe.sources.csv_scan") as s:
                for df in csv_frames():
                    _noop(df)
            csv_t.append(s_dur(s))
            with tracer.span("probe.sources.parquet_scan") as s:
                for df in pq_frames():
                    _noop(df)
            pq_t.append(s_dur(s))
    # per probe round: one scan of each kind's tables
    csv_round = statistics.median(csv_t) * len(KINDS)
    return {
        "csv_scan_s": statistics.median(csv_t),
        "csv_rows_per_s": rows_total / csv_round,
        "parquet_scan_s": statistics.median(pq_t),
    }


def check_answers(base: Path, records, stream: CallStream, per_kind: int,
                  seed: int) -> tuple[int, list[dict]]:
    """Check every answer of a seeded subset of the distinct calls
    (``per_kind`` of each kind) against the oracle.  Returns (number of
    records that raised or answered wrong, one detail per checked call)."""
    import random

    from tests import traffic_sim

    failed = sum(1 for r in records if not r.ok)
    by_key: dict[tuple, list] = {}
    for r in records:
        if r.ok:
            by_key.setdefault((r.kind, stream.call(r.idx).args), []).append(r)
    keys = sorted(by_key, key=repr)
    random.Random(f"check:{seed}").shuffle(keys)
    details = []
    for kind in KINDS:
        for key in [k for k in keys if k[0] == kind][:per_kind]:
            want = answers.oracle(traffic_sim, base, kind, key[1])
            wrong = sum(1 for r in by_key[key] if not answers.matches(kind, want, r.result))
            failed += wrong
            details.append({"kind": kind, "args": list(key[1]),
                            "answers": len(by_key[key]), "wrong": wrong,
                            "rows": len(want)})
    return failed, details
