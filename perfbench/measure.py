"""One measured run of one workload: timed job, oracle check, simulated kill
and resume, then the end-to-end or the per-layer metrics."""

from __future__ import annotations

import os
import statistics
import sys
import time

from . import host, inputs, oracles, workloads
from .tracing import Span, Tracer

# per-layer spans that report every counter of BASE
FULL_SPANS = (
    "extract.spans_flat", "extract.views",
    "importance.article_full", "importance.wikidata_places",
    "importance.scored", "importance.wmi",
    "spatial.pip", "spatial.knn", "tiles.tile_importance",
    "dedup.minhash", "similarity.ann_lsh",
)
BASE = (
    ("wall_s", "s", "lower"), ("self_s", "s", "lower"), ("tasks", "count", "lower"),
    ("task_skew", "ratio", "lower"), ("shuffle_read_bytes", "B", "lower"),
    ("shuffle_write_bytes", "B", "lower"), ("spill_bytes", "B", "lower"),
    ("failed_tasks", "count", "lower"), ("rows_out", "count", "higher"),
)
EXTRA = (
    ("session.get_spark.wall_s", "s", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("extract.spans_flat.files_written", "count", "lower"),
    ("importance.scored.smj_joins", "count", "lower"),
    ("importance.scored.bhj_joins", "count", "higher"),
    ("importance.scored.udf_distinct_ratio", "ratio", "lower"),
    ("catalog.commit.wall_s", "s", "lower"),
    ("catalog.commit.self_s", "s", "lower"),
    ("catalog.commit.bytes_written", "B", "lower"),
    ("catalog.commit.files_written", "count", "lower"),
    ("catalog.resume.wall_s", "s", "lower"),
    ("catalog.resume.stages_skipped", "count", "higher"),
    ("catalog.resume.skip_s", "s", "lower"),
    ("spatial.pip_salt.wall_s", "s", "lower"),
    ("spatial.pip_salt.tasks", "count", "lower"),
    ("spatial.pip.salt", "count", "lower"),
    ("spatial.pip.candidate_pairs", "count", "lower"),
    ("spatial.pip.hit_ratio", "ratio", "higher"),
    ("spatial.knn_ladder.wall_s", "s", "lower"),
    ("spatial.knn_ladder.tasks", "count", "lower"),
    ("spatial.knn.candidates_per_point", "ratio", "lower"),
    ("dedup.minhash.candidate_pairs", "count", "lower"),
    ("dedup.minhash.verify_yield", "ratio", "higher"),
    ("similarity.ann_lsh.candidate_pairs", "count", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)
PER_LAYER = tuple(
    (f"{s}.{m}", u, b) for s in FULL_SPANS for m, u, b in BASE
) + EXTRA

END_TO_END = (
    ("setup_s", "s"), ("wall_s", "s"), ("docs_per_s", "docs/s"),
    ("points_per_s", "points/s"), ("resume_s", "s"),
    ("write_bytes_per_input_byte", "ratio"),
)

INPUT_TABLES = {
    "pipeline": ("documents",),
    "curation": ("documents", "embeddings"),
}


def evaluate(expected: dict, got: dict[str, list]) -> tuple[bool, dict]:
    """Per-table verdict (does the output's digest equal the oracle's?); an
    execution passes only when every table matches."""
    verdict = {k: oracles.digest(rows) == expected.get(k) for k, rows in got.items()}
    return bool(verdict) and all(verdict.values()), verdict


def run(spark, workload, seed, seconds, trace, run_id, scratch, *, master, nproc,
        setup_s, session_span):
    tracer = Tracer(spark, run_id, enabled=trace)
    if trace:
        tracer.spans.append(Span(0, "session.get_spark", None, run_id, *session_span))
    phases = {}
    t = time.perf_counter()
    paths = inputs.prepare(workload, seed)
    phases["inputs_s"] = time.perf_counter() - t
    t = time.perf_counter()
    expected = oracles.answers(workload, seed, paths, nproc)
    phases["oracle_s"] = time.perf_counter() - t
    job = workloads.JOBS[workload]

    checks, failed = [], 0
    walls, roots, overheads = [], [], []
    ticks0 = host.cpu_ticks()
    t_loop = time.perf_counter()
    # the job on a fresh catalog, checked against the oracle, until
    # `seconds` have passed (always once)
    while not walls or time.perf_counter() - t_loop < seconds:
        cat_root = os.path.join(scratch, f"catalog{len(walls)}")
        before = tracer.overhead_s
        t = time.perf_counter()
        with tracer.span("job") as root:
            report = job(spark, tracer, paths, cat_root)
        walls.append(time.perf_counter() - t)
        roots.append(root)
        overheads.append(tracer.overhead_s - before)
        t = time.perf_counter()
        ok, verdict = evaluate(expected, workloads.outputs(spark, workload, cat_root))
        phases["check_s"] = time.perf_counter() - t
        failed += not ok
        checks.append(verdict)
        if len(walls) == 1:
            first_root, first_report = cat_root, report
            written = workloads.tree_bytes(cat_root)
    steal = host.steal_pct(ticks0, host.cpu_ticks())
    # the per-layer figures come from the execution whose time is the median
    median_it = sorted(range(len(walls)), key=walls.__getitem__)[(len(walls) - 1) // 2]

    # simulated kill: delete the tables it would have lost, then resume;
    # each resume's rewritten tables are checked, and every table after the
    # last one
    from wikipedia_wikidata_spark.sources.catalog import Catalog

    drop = workloads.RESUME_DROP[workload]
    resumes = []
    for i in range(workloads.RESUMES):
        workloads.drop_tables(Catalog(first_root), drop)
        t = time.perf_counter()
        with tracer.span("catalog.resume") as span:
            report = job(spark, tracer, paths, first_root)
        resumes.append((time.perf_counter() - t, span, report))
        last = i == workloads.RESUMES - 1
        ok, verdict = evaluate(
            expected, workloads.outputs(spark, workload, first_root, None if last else drop))
        failed += not ok
        checks.append(verdict)
    resume_s, resume_span, resume_report = sorted(
        resumes, key=lambda r: r[0])[(len(resumes) - 1) // 2]
    attempted = len(walls) + len(resumes)

    sizes = inputs.sizes({k: paths[k] for k in INPUT_TABLES[workload]})
    in_bytes = sum(v["bytes"] for v in sizes.values())
    docs = sizes[INPUT_TABLES[workload][0]]["rows"]
    if workload == "pipeline":  # the points and corpus views the spatial stages join
        points = first_report["entity_points"]["rows"]
        sizes["polygons"] = {"rows": first_report["view_polygons"]["rows"]}
        sizes["places"] = {"rows": first_report["wikidata_places"]["rows"]}
    else:
        points = sizes["embeddings"]["rows"]
    wall_s = statistics.median(walls)
    peak = host.peak_rss_mb(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    record = {
        "workload": workload, "seed": seed, "run_id": run_id,
        "host": {"nproc": nproc, "master": master, "cpu_steal_pct": round(steal, 3),
                 "spark": spark.version, "python": sys.version.split()[0]},
        "inputs": sizes, "docs": docs, "points": points, "input_bytes": in_bytes,
        "iterations_wall_s": walls, "resumes_s": [r[0] for r in resumes],
        "phases_s": phases,
        "checks": checks,
        "failed_frac": failed / attempted, "peak_rss_mb": peak,
        "resume_skipped": sorted(k for k, m in resume_report.items() if m.get("skipped")),
    }
    if failed:
        # a mismatch is a failure, never a time: no metrics at all
        metrics = {}
    elif not trace:
        values = {
            "setup_s": setup_s, "wall_s": wall_s, "docs_per_s": docs / wall_s,
            "points_per_s": points / wall_s, "resume_s": resume_s,
            "write_bytes_per_input_byte": written / in_bytes,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    else:
        t = time.perf_counter()
        tracer.collect()
        phases["trace_collect_s"] = time.perf_counter() - t
        metrics = per_layer(spark, tracer, workload, first_root, points, roots[median_it],
                            resume_span, resume_report, root_wall=walls[median_it],
                            overhead_s=overheads[median_it],
                            peak_rss_mb=peak)
        trace_dir = os.path.join(inputs.WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        record["trace_file"] = os.path.join(trace_dir, f"{run_id}.jsonl")
        tracer.dump(record["trace_file"])
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return record, result


def _descendants(tracer: Tracer, root_id: int) -> set[int]:
    ids, grew = {root_id}, True
    while grew:
        new = {s.id for s in tracer.spans if s.parent in ids} - ids
        grew = bool(new)
        ids |= new
    return ids


def per_layer(spark, tracer, workload, cat_root, points, root, resume_span, resume_report,
              root_wall, overhead_s, peak_rss_mb):
    from pyspark.sql import functions as F

    from wikipedia_wikidata_spark.operators.dedup import JACCARD_T
    from wikipedia_wikidata_spark.sources.catalog import Catalog

    in_root = _descendants(tracer, root.id)
    main = [s for s in tracer.spans if s.id in in_root or s.name == "session.get_spark"]
    v: dict[str, float] = {n: 0.0 for n, _, _ in PER_LAYER}

    def group(name):
        return [s for s in main if s.name == name]

    for name in FULL_SPANS + ("spatial.pip_salt", "spatial.knn_ladder"):
        spans = group(name)
        if not spans:
            continue
        c = lambda k: sum(s.counters.get(k, 0) for s in spans)  # noqa: E731
        vals = {
            "wall_s": sum(s.wall_s for s in spans),
            "self_s": sum(tracer.self_s(s) for s in spans),
            "tasks": c("tasks"), "failed_tasks": c("failed_tasks"),
            "shuffle_read_bytes": c("shuffle_read_bytes"),
            "shuffle_write_bytes": c("shuffle_write_bytes"),
            "spill_bytes": c("spill_bytes"), "rows_out": c("rows_out"),
            "task_skew": c("skew_num") / c("skew_den") if c("skew_den") else 1.0,
        }
        for k, x in vals.items():
            if f"{name}.{k}" in v:
                v[f"{name}.{k}"] = x
    v["session.get_spark.wall_s"] = sum(s.wall_s for s in group("session.get_spark"))
    v["session.peak_rss_mb"] = peak_rss_mb
    for s in group("extract.spans_flat"):
        v["extract.spans_flat.files_written"] = s.counters.get("files_written", 0)
    joins = lambda name: [j for s in group(name) for j in s.joins]  # noqa: E731
    v["importance.scored.smj_joins"] = sum(n == "SortMergeJoin" for n, _ in joins("importance.scored"))
    v["importance.scored.bhj_joins"] = sum(n == "BroadcastHashJoin" for n, _ in joins("importance.scored"))
    cat = Catalog(cat_root)
    if workload == "pipeline":
        row = cat.read(spark, "scored").agg(
            F.countDistinct("totalcount").alias("d"), F.count(F.lit(1)).alias("n")).collect()[0]
        v["importance.scored.udf_distinct_ratio"] = row["d"] / row["n"] if row["n"] else 0.0
    commits = [s for s in main if "stage" in s.counters]
    v["catalog.commit.wall_s"] = sum(s.wall_s for s in commits)
    v["catalog.commit.self_s"] = sum(tracer.self_s(s) for s in commits)
    v["catalog.commit.bytes_written"] = sum(
        workloads.tree_bytes(s.counters["table"]) for s in commits)
    v["catalog.commit.files_written"] = sum(s.counters["files_written"] for s in commits)
    kids = [s for s in tracer.spans if s.parent == resume_span.id]
    v["catalog.resume.wall_s"] = resume_span.wall_s
    v["catalog.resume.skip_s"] = resume_span.wall_s - sum(s.wall_s for s in kids)
    v["catalog.resume.stages_skipped"] = sum(
        1 for m in resume_report.values() if m.get("skipped"))
    pip = group("spatial.pip")
    if pip:
        v["spatial.pip.salt"] = pip[0].counters.get("pip_salt", 1)
        cand = workloads.pip_candidate_pairs(*workloads.pip_inputs(spark, cat_root))
        v["spatial.pip.candidate_pairs"] = cand
        v["spatial.pip.hit_ratio"] = v["spatial.pip.rows_out"] / cand if cand else 0.0
    if group("spatial.knn"):
        v["spatial.knn.candidates_per_point"] = sum(r for _, r in joins("spatial.knn")) / points
    if group("dedup.minhash"):
        t = int(JACCARD_T * 1000000)
        row = cat.read(spark, "dedup").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("jaccard_e6") >= t).cast("int")).alias("hit")).collect()[0]
        v["dedup.minhash.candidate_pairs"] = row["n"]
        v["dedup.minhash.verify_yield"] = (row["hit"] or 0) / row["n"] if row["n"] else 0.0
    if group("similarity.ann_lsh"):
        v["similarity.ann_lsh.candidate_pairs"] = max(
            (r for _, r in joins("similarity.ann_lsh")), default=0)
    v["trace.wall_s"] = root_wall
    v["trace.overhead_s"] = overhead_s
    units = {n: u for n, u, _ in PER_LAYER}
    return {n: {"value": float(v[n]), "unit": units[n]} for n, _, _ in PER_LAYER}
