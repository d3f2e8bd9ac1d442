"""Corpus-side pieces: input writing, the full curation pass, and the
staged per-layer probe on a checkpointed input."""

from __future__ import annotations

from pathlib import Path

from perfbench import corpus

PASS_FRACTION = 0.9


def write_docs(rows, path: Path) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
    })
    pq.write_table(table, path)
    return {"docs": len(rows), "bytes": path.stat().st_size,
            "sha256": corpus.digest_docs(rows)}


def full_pass(docs) -> list[int]:
    """One curation pass, forced by collecting the survivor ids."""
    from trafficbigdatasearch_spark.pipeline import CorpusPipeline

    out = (
        CorpusPipeline(docs).quality_gate().dedup_exact().dedup_near()
        .sample(PASS_FRACTION).ids().collect()
    )
    return [r[0] for r in out]


def staged_probe(spark, docs, tracer) -> dict:
    """The pass's steps as separate forced calls, each on a checkpointed
    input, in the order ``CorpusPipeline`` composes them; returns per-step
    seconds, candidate-pair and CC job counts, and the staged survivors
    (which must equal the full pass's)."""
    from pyspark.sql import functions as F

    from trafficbigdatasearch_spark.functions import text as T
    from trafficbigdatasearch_spark.operators import dedup, graph, sampling

    sc = spark.sparkContext
    sp = tracer.span

    def timed(name, build):
        with sp(name) as s:
            out = build().localCheckpoint(eager=True)
        return out, s["end"] - s["start"]

    inp = docs.select("doc_id", "text").localCheckpoint(eager=True)
    gated, t_gate = timed(
        "probe.functions.text.quality_gate",
        lambda: inp.filter(T.token_count(F.col("text")) >= 5),
    )
    exact, t_exact = timed(
        "probe.operators.dedup.exact",
        lambda: gated.join(dedup.dedup_exact(gated).select("doc_id"), "doc_id", "left_semi"),
    )
    pairs, t_lsh = timed(
        "probe.operators.dedup.lsh_pairs",
        lambda: dedup.minhash_lsh_pairs(exact, k=16, bands=4, n=3),
    )
    n_pairs = pairs.count()
    sc.setJobGroup("probe-cc", "cc")
    drop, t_cc = timed(
        "probe.operators.graph.cc",
        lambda: graph.dedup_clusters(pairs).filter(~F.col("is_keeper"))
        .select(F.col("id").alias("doc_id")),
    )
    cc_jobs = len(sc.statusTracker().getJobIdsForGroup("probe-cc"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    near, t_anti = timed(
        "probe.pipeline.near_anti_join",
        lambda: exact.join(drop, "doc_id", "left_anti"),
    )
    with sp("probe.operators.sampling.hash_split") as s:
        kept = (
            sampling.hash_split(near, "doc_id",
                                {"keep": PASS_FRACTION, "rest": 1.0 - PASS_FRACTION})
            .filter(F.col("split") == "keep").select("doc_id").collect()
        )
    t_split = s["end"] - s["start"]
    with sp("probe.pipeline.pass") as s:
        full = full_pass(docs)
    dropped_near = exact.count() - near.count()
    return {
        "quality_gate_s": t_gate,
        "exact_s": t_exact,
        "lsh_pairs_s": t_lsh,
        "lsh_candidate_pairs": n_pairs,
        "cc_s": t_cc,
        "cc_jobs": cc_jobs,
        "anti_join_s": t_anti,
        "hash_split_s": t_split,
        "pass_s": s["end"] - s["start"],
        "near_dropped": dropped_near,
        "pairs_per_dropped_doc": n_pairs / max(dropped_near, 1),
        "staged_matches_pass": sorted(r[0] for r in kept) == sorted(full),
        "pass_digest": corpus.digest(full),
    }
