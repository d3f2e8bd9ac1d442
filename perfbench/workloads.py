"""The benchmark's workloads.  Each returns a dict with ``attempted``,
``failed``, ``e2e`` (end-to-end metrics, from untraced ops), ``layers``
(per-layer metrics, traced run only) and ``record`` (every supporting
figure, written to the run's output file)."""

from __future__ import annotations

import contextlib
import itertools
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import corpus, curation, harness, procinfo, spans, stats, traffic
from perfbench.calls import KINDS, CallStream, repeat_share

LAYOUT = "reference_csv"
CLIENTS = 2  # a 1/2/4-client sweep gave 1.7x the 1-client rate at 2; 4 saturated
TRAFFIC_SCALE = 5  # tests/traffic_sim.generate scale: 2.1 MB, 16 CSV files, 7 months
CORPUS_SIZE = (2000, 2000)  # base docs, padding copies
SETUP_REPS = 4
# the end-to-end metrics use exactly ops 0..N-1 of the window (24 calls,
# eight per kind: one cycle of the fresh box sizes; or 3 passes), so a
# slower or faster program is measured on the same calls; the window runs
# on past run_seconds until they have completed
MEASURED_OPS = {"dashboard": 24, "corpus": 3}
# traced runs serve ops 0..N-1 (three calls per kind, or one pass) four
# times and pair each traced op with the same op untraced
TRACED_OPS = {"dashboard": 9, "corpus": 1}
# warm-up: a fixed number of rounds of WARM_ROUND_CALLS calls, or of
# WARM_PASSES passes, not "until the rate levels off": the JIT warms by
# work done, and a stop rule fires on noise early in some runs and late in
# others; the per-round rates go into the run record.  In a fresh JVM a
# 4,000-doc pass took 14, 5.3, 4.7, 4.4 and 3.9 s, then held at 4.1-4.4 s
WARM_ROUND_CALLS = 6
WARM_ROUNDS = 2
WARM_PASSES = 5
CHECKS_PER_KIND = 1
PROBE_REPS = 1  # per-layer probes keep a traced run well inside 180 s
# inputs for the layers a workload's own loop does not route through, so
# every traced run reports every per-layer metric
CROSS_TRAFFIC_SCALE = 2
CROSS_CORPUS_SIZE = (1000, 1000)


@dataclass
class Ctx:
    work: harness.WorkDir
    session: harness.Session
    seed: int
    seconds: float
    trace: bool
    tracer: spans.Tracer
    phases: dict = field(default_factory=dict)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall time of one phase of the run, for the run record."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0


def _measure(ctx: Ctx, serve, traced_serve, next_op, clients: int, workload: str) -> dict:
    """The measured window.  Untraced: a closed loop of ``ctx.seconds`` that
    runs on until ops ``0 .. MEASURED_OPS-1`` have completed; ``measured``
    is those ops.  Traced: ops ``0 .. TRACED_OPS-1`` four times: once
    untraced to finish warming (the first pass over them ran 15-20% slower
    than the next), then untraced, traced and untraced, so a JIT still
    warming speeds both sides alike."""
    load_start, cpu_start = procinfo.loadavg(), procinfo.cpu_times()
    out = {}
    with ctx.phase("window"):
        if ctx.trace:
            segs = [harness.closed_loop(fn, next_op, clients, float("inf"),
                                        max_ops=TRACED_OPS[workload])
                    for fn in (serve, serve, traced_serve, serve)]
            out.update(before=segs[1], traced=segs[2], after=segs[3])
            out["all"] = [r for seg in segs for r in seg]
        else:
            n = MEASURED_OPS[workload]
            recs = harness.closed_loop(serve, next_op, clients, ctx.seconds, min_done=n)
            out.update(all=recs, measured=[r for r in recs if r.idx < n],
                       window_s=harness.makespan(recs))
    return out | {
        "loadavg_start": load_start,
        "loadavg_end": procinfo.loadavg(),
        "cpu_steal_share": procinfo.steal_share(cpu_start, procinfo.cpu_times()),
    }


def paired_overhead(before, traced, after) -> float:
    """Tracing overhead: median over ops of the traced latency divided by
    the mean untraced latency of the same op, minus 1."""
    def lat(recs):
        return {r.idx: r.end - r.start for r in recs}

    b, t, a = lat(before), lat(traced), lat(after)
    return statistics.median(t[i] / ((b[i] + a[i]) / 2) for i in t) - 1


def _latency(records) -> dict:
    lat = [r.end - r.start for r in records]
    out = {"n": len(lat), "p50_s": statistics.median(lat)}
    t = stats.tail(lat)
    out["tail"] = {"q": t[0], "s": t[1]} if t else None
    return out


def mix_p50(records) -> float:
    """Each kind's median latency, averaged over the kinds (the designed mix
    weights them equally).  The median of all calls pooled falls in the gap
    between the fast accident calls and the slower overspeed / avgspeed
    calls, where a few calls decide it; the per-kind medians sit inside
    dense clusters."""
    return statistics.mean(
        statistics.median(r.end - r.start for r in records if r.kind == k) for k in KINDS
    )


def _setup_block(cold, warm, first_build, warm_builds) -> dict:
    return {
        "cold_s": cold,
        "warm_s": warm,
        "median_warm_s": statistics.median(warm),
        "first_build_s": first_build,
        "warm_build_s": warm_builds,
    }


def _session_layers(first_build, warm_builds) -> dict:
    return {
        "session.jvm_launch_s": first_build,
        "session.build_s": statistics.median(warm_builds),
    }


def _span_summary(tracer) -> dict:
    selfs = spans.self_times(tracer.spans)
    dur = spans.by_name(tracer.spans)
    own = spans.by_name(tracer.spans, selfs)
    return {
        name: {"n": len(v), "median_s": statistics.median(v),
               "total_s": sum(v), "self_median_s": statistics.median(own[name]),
               "self_total_s": sum(own[name])}
        for name, v in sorted(dur.items())
    }


# --- dashboards ---------------------------------------------------------------


def dashboard(ctx: Ctx) -> dict:
    work = ctx.work
    base = work.sub("traffic")
    with ctx.phase("inputs"):
        fixture = traffic.generate_fixture(base, ctx.seed, TRAFFIC_SCALE)

    with ctx.phase("setup"):
        eng, cold, warm, first_build, warm_builds = harness.repeated_setup(
            ctx.session, lambda spark, rep: traffic.engine(spark, base, LAYOUT),
            SETUP_REPS, ctx.tracer,
        )
    serve_fns = traffic.json_fns(eng)

    def serve(call):
        return serve_fns[call.kind](*call.args)

    stream = CallStream(ctx.seed)
    warm_stream = CallStream(ctx.seed, salt="warmup")
    warm_rates = []
    with ctx.phase("warmup"):
        for k in range(WARM_ROUNDS):
            recs = harness.closed_loop(
                serve, lambda i: warm_stream.call(k * WARM_ROUND_CALLS + i), CLIENTS,
                float("inf"), max_ops=WARM_ROUND_CALLS,
            )
            warm_rates.append(len(recs) / harness.makespan(recs))

    traced = traffic.TracedCalls(eng, ctx.tracer, "w") if ctx.trace else None
    m = _measure(ctx, serve, traced, stream.call, CLIENTS, "dashboard")
    with ctx.phase("checks"):
        failed, checks = traffic.check_answers(base, m["all"], stream, CHECKS_PER_KIND, ctx.seed)

    record = {
        "workload_inputs": {"traffic_fixture": fixture},
        "layout": LAYOUT,
        "loop": "closed",
        "clients": CLIENTS,
        "setup": _setup_block(cold, warm, first_build, warm_builds),
        "warmup_rates_per_s": warm_rates,
        "calls": len(m["all"]),
        "exact_repeat_share": repeat_share([stream.call(r.idx) for r in m["all"]]),
        "errors": sorted({r.error for r in m["all"] if r.error}),
        "answer_checks": checks,
        **{k: m[k] for k in ("loadavg_start", "loadavg_end", "cpu_steal_share")},
    }
    result = {"attempted": len(m["all"]), "failed": failed, "record": record,
              "e2e": None, "layers": None}
    if ctx.trace:
        with ctx.phase("traced"):
            layers = _dashboard_layers(ctx, eng, base, stream, traced, m, record, fixture)
        layers.update(_session_layers(first_build, warm_builds))
        result["layers"] = layers
        result["attempted"] += 1  # the cross-probe's staged-vs-full consistency
        result["failed"] += not record["cross_corpus_probe"]["staged_matches_pass"]
        return result
    recs = m["measured"]
    record.update({
        "measured_calls": len(recs),
        "window_s": m["window_s"],
        "call_latency_s": [r.end - r.start for r in recs],
        "latency": _latency(recs),
        "latency_by_kind": {k: _latency([r for r in recs if r.kind == k]) for k in KINDS},
    })
    result["e2e"] = {
        "setup_s": statistics.median(warm),
        "throughput_per_s": len(recs) / harness.makespan(recs),
        "mix_p50_s": mix_p50(recs),
    }
    return result


def _traced_calls_layers(ctx, tc: traffic.TracedCalls) -> tuple[dict, dict]:
    """Per-layer figures from the calls ``tc`` served: plan time, per-call
    job counts, call p50, and how much of each call span its two children
    cover."""
    counts = tc.job_counts()
    call_spans = [s for s in ctx.tracer.spans
                  if s["name"].startswith("call.") and str(s["call_id"]).startswith(f"{tc.tag}-")]
    ids = {s["id"] for s in call_spans}
    children = [s for s in ctx.tracer.spans if s["parent"] in ids]
    selfs = spans.self_times(call_spans + children)

    def dur(ss):
        return [s["end"] - s["start"] for s in ss]

    layers, cover = {}, {}
    for kind in KINDS:
        mine = [s for s in call_spans if s["name"] == f"call.{kind}"]
        mine_ids = {s["id"] for s in mine}
        plan = [s for s in children if s["parent"] in mine_ids and s["name"] == "engine.plan"]
        js = [s for s in children
              if s["parent"] in mine_ids and s["name"] == "sources.to_json_rows"]
        cover[kind] = (sum(dur(plan)) + sum(dur(js))) / sum(dur(mine))
        c = counts[kind]
        layers[f"engine.plan_s.{kind}"] = statistics.median(dur(plan))
        layers[f"engine.call_p50_s.{kind}"] = statistics.median(dur(mine))
        layers[f"queries.jobs_per_call.{kind}"] = statistics.median(c["jobs"])
        layers[f"queries.stages_per_call.{kind}"] = statistics.median(c["stages"])
        layers[f"queries.tasks_per_call.{kind}"] = statistics.median(c["tasks"])
    layers["engine.plan_jobs"] = statistics.median(
        [n for k in KINDS for n in counts[k]["plan_jobs"]]
    )
    layers["trace.call_self_s"] = statistics.median([selfs[s["id"]] for s in call_spans])
    return layers, {"call_span_coverage": cover, "job_counts": counts}


def _traffic_probes(ctx, spark, eng, csv_base, pq_engine, stream) -> tuple[dict, dict]:
    layers, rows_out = {}, {}
    probe = traffic.exec_probe(eng, ctx.tracer, stream, PROBE_REPS)
    for kind in KINDS:
        layers[f"queries.exec_s.{kind}"] = probe[kind]["exec_s"]
        rows_out[kind] = probe[kind]["rows_out"]
    layers["sources.json_s"] = statistics.median(probe[k]["json_s"] for k in KINDS)
    scans = traffic.scan_probe(spark, ctx.tracer, csv_base, pq_engine, stream, PROBE_REPS)
    layers.update({f"sources.{k}": v for k, v in scans.items()})
    return layers, {"queries.rows_out": rows_out}


def _corpus_layers(probe: dict) -> dict:
    return {
        "functions.text.quality_gate_s": probe["quality_gate_s"],
        "operators.dedup.exact_s": probe["exact_s"],
        "operators.dedup.lsh_pairs_s": probe["lsh_pairs_s"],
        "operators.dedup.lsh_candidate_pairs": probe["lsh_candidate_pairs"],
        "operators.graph.cc_s": probe["cc_s"],
        "operators.graph.cc_jobs": probe["cc_jobs"],
        "operators.sampling.hash_split_s": probe["hash_split_s"],
        "operators.lsh_pairs_per_dropped_doc": probe["pairs_per_dropped_doc"],
        "pipeline.total_s": probe["pass_s"],
    }


def _ingest_probe(ctx, spark, csv_base: Path, out: Path, fixture: dict) -> tuple[dict, object]:
    """Ingest the CSV fixture to Parquet, timed; returns its per-layer
    figures and a Parquet-layout engine over the result."""
    with ctx.tracer.span("probe.sources.ingest") as s:
        traffic.ingest(spark, csv_base, out)
    layers = {
        "sources.ingest_s": s["end"] - s["start"],
        "sources.ingest_bytes_ratio": traffic.dir_bytes(out, ".parquet") / fixture["bytes"],
    }
    return layers, traffic.engine(spark, out, "parquet")


def _dashboard_layers(ctx, eng, base, stream, traced, m, record, fixture) -> dict:
    spark = eng.spark
    layers, extra = _traced_calls_layers(ctx, traced)
    ingest_layers, pq_engine = _ingest_probe(ctx, spark, base, ctx.work.path / "pq-probe",
                                             fixture)
    layers.update(ingest_layers)
    probe_layers, probe_extra = _traffic_probes(ctx, spark, eng, base, pq_engine, stream)
    layers.update(probe_layers)
    # the layers this workload never routes through: a small corpus
    rows = corpus.generate(ctx.seed, *CROSS_CORPUS_SIZE)
    path = ctx.work.path / "cross_docs.parquet"
    curation.write_docs(rows, path)
    probe = curation.staged_probe(spark, spark.read.parquet(str(path)), ctx.tracer)
    layers.update(_corpus_layers(probe))
    layers["trace.overhead_ratio"] = paired_overhead(m["before"], m["traced"], m["after"])
    record.update({
        "untraced_latency_by_kind": {k: _latency([r for r in m["before"] + m["after"]
                                                  if r.kind == k]) for k in KINDS},
        "traced_latency_by_kind": {k: _latency([r for r in m["traced"] if r.kind == k])
                                   for k in KINDS},
        "segment_makespan_s": [harness.makespan(m[k]) for k in ("before", "traced", "after")],
        "cross_corpus_probe": probe | {"docs": len(rows)},
        "spans": _span_summary(ctx.tracer),
        **extra,
        **probe_extra,
    })
    return layers


# --- corpus curation ----------------------------------------------------------


def corpus_dedup(ctx: Ctx) -> dict:
    with ctx.phase("inputs"):
        rows = corpus.generate(ctx.seed, *CORPUS_SIZE)
        path = ctx.work.path / "docs.parquet"
        docs_info = curation.write_docs(rows, path)
    docs_info["near_dup_share"] = CORPUS_SIZE[1] / sum(CORPUS_SIZE)

    with ctx.phase("setup"):
        docs, cold, warm, first_build, warm_builds = harness.repeated_setup(
            ctx.session, lambda spark, rep: spark.read.parquet(str(path)), SETUP_REPS,
            ctx.tracer,
        )
    sc = docs.sparkSession.sparkContext
    digests: list[str] = []
    jobs_per_pass: list[int] = []
    group_ids = itertools.count()

    def serve(_op):
        group = f"pass-{next(group_ids)}"
        sc.setJobGroup(group, "corpus pass")
        ids = curation.full_pass(docs)
        jobs_per_pass.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        digests.append(corpus.digest(ids))
        return ids

    def traced_serve(op):
        with ctx.tracer.span("pipeline.pass", call_id=f"pass-{op}"):
            return serve(op)

    warm_passes = []
    with ctx.phase("warmup"):
        for _ in range(WARM_PASSES):
            t0 = time.perf_counter()
            serve(None)
            warm_passes.append(1.0 / (time.perf_counter() - t0))
    m = _measure(ctx, serve, traced_serve, lambda i: i, 1, "corpus")
    recs = m["all"]
    with ctx.phase("checks"):
        failed, errors = _check_passes(rows, recs, digests)
    record = {
        "workload_inputs": {"corpus": docs_info},
        "loop": "closed",
        "clients": 1,
        "setup": _setup_block(cold, warm, first_build, warm_builds),
        "warmup_passes_per_s": warm_passes,
        "passes": len(recs),
        "pass_s": [r.end - r.start for r in recs],
        "jobs_per_pass": jobs_per_pass,
        "survivors": len(recs[0].result) if recs[0].ok else None,
        "survivor_digest": digests[0],
        "errors": errors + sorted({r.error for r in recs if r.error}),
        **{k: m[k] for k in ("loadavg_start", "loadavg_end", "cpu_steal_share")},
    }
    result = {"attempted": len(recs), "failed": failed, "record": record,
              "e2e": None, "layers": None}
    if ctx.trace:
        with ctx.phase("traced"):
            layers = _corpus_traced(ctx, docs, m, result)
        layers.update(_session_layers(first_build, warm_builds))
        result["layers"] = layers
        return result
    passes = m["measured"]
    record.update({"measured_passes": len(passes), "window_s": m["window_s"]})
    result["e2e"] = {
        "setup_s": statistics.median(warm),
        "throughput_per_s": len(passes) * len(rows) / harness.makespan(passes),
        "mix_p50_s": statistics.median(r.end - r.start for r in passes),
    }
    return result


def _check_passes(rows, recs, digests) -> tuple[int, list[str]]:
    """Number of failed passes and the messages: survivors must be input
    ids with distinct fingerprints, and every pass (warm-up included) must
    keep the same survivors."""
    if len(set(digests)) > 1:
        return len(recs), [f"survivor digest differs across passes: {sorted(set(digests))}"]
    failed, errors = 0, []
    for r in recs:
        errs = corpus.survivor_errors(rows, r.result) if r.ok else [r.error]
        failed += bool(errs)
        errors += errs
    return failed, errors


def _corpus_traced(ctx, docs, m, result) -> dict:
    spark = docs.sparkSession
    record = result["record"]
    probe = curation.staged_probe(spark, docs, ctx.tracer)
    # staged survivors must equal the full pass's, and the probe's full pass
    # must keep the window's survivors
    result["attempted"] += 1
    if not probe["staged_matches_pass"] or probe["pass_digest"] != record["survivor_digest"]:
        result["failed"] += 1
        record["errors"].append("the staged probe kept other survivors than the passes")
    layers = _corpus_layers(probe)
    # the layers this workload never routes through: a small traffic fixture
    base = ctx.work.sub("cross_traffic")
    fixture = traffic.generate_fixture(base, ctx.seed, CROSS_TRAFFIC_SCALE)
    ingest_layers, pq_engine = _ingest_probe(ctx, spark, base, ctx.work.path / "cross_pq",
                                             fixture)
    layers.update(ingest_layers)
    stream = CallStream(ctx.seed)
    tc = traffic.TracedCalls(pq_engine, ctx.tracer, "xp")
    for i in range(2 * len(KINDS)):
        tc(stream.call(i))
    call_layers, extra = _traced_calls_layers(ctx, tc)
    layers.update(call_layers)
    probe_layers, probe_extra = _traffic_probes(ctx, spark, pq_engine, base, pq_engine, stream)
    layers.update(probe_layers)
    layers["trace.overhead_ratio"] = paired_overhead(m["before"], m["traced"], m["after"])
    record.update({
        "segment_pass_s": {k: [r.end - r.start for r in m[k]]
                           for k in ("before", "traced", "after")},
        "staged_probe": probe,
        "cross_traffic_fixture": fixture,
        "spans": _span_summary(ctx.tracer),
        **extra,
        **probe_extra,
    })
    return layers
