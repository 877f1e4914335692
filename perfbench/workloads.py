"""The timed jobs, their resume after a simulated kill, and the readers that
turn their committed tables into rows for the oracle check.

Every job commits its outputs through ``sources/catalog.Catalog`` the way
``plans/pipeline.py`` does, so a kill and a resume mean the same thing in
both workloads: the benchmark deletes the tables a kill would have
lost (``RESUME_DROP``) and runs the job again on the same catalog, which
skips every stage whose committed manifest matches.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from pyspark.sql import functions as F

from wikipedia_wikidata_spark.operators import spatial as sp
from wikipedia_wikidata_spark.plans import pipeline as pl
from wikipedia_wikidata_spark.sources.catalog import Catalog

# pipeline stage -> layer span (named after the module that does the work)
STAGE_LAYER = {
    "spans_flat": "extract.spans_flat",
    "article_full": "importance.article_full",
    "wikidata_places": "importance.wikidata_places",
    "scored": "importance.scored",
    "importance": "importance.wmi",
    "entity_points": "pipeline.entity_points",
    "spatial_assign": "spatial.pip",
    "knn": "spatial.knn",
    "tiles": "tiles.tile_importance",
    **{f"view_{v}": "extract.views" for v in pl.VIEW_NAMES},
}

# tables deleted to simulate a kill: in pipeline right after the PIP
# (spatial_assign) commit, in curation right before its last stage (ann)
# commits
RESUME_DROP = {
    "pipeline": ["knn", "tiles"],
    "curation": ["ann"],
}
# kills and resumes per run; resume_s is their median. On a shared 4-core
# host a single resume was too noisy to hold a 24% bound: one pipeline
# resume in a few ran ~70% slow, and the first resume after the job runs
# ~10-20% slower than later ones
RESUMES = 3


def e6(col: str):
    """floor(x * 1e6 + 0.5) as bigint: the oracles' float quantisation."""
    return F.floor(F.col(col) * 1000000.0 + 0.5).cast("bigint")


def tree_bytes(root: str) -> int:
    """Bytes of every file under ``root``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dirs, fs in os.walk(root) for f in fs
    )


def drop_tables(cat: Catalog, names: list[str]) -> None:
    for name in names:
        shutil.rmtree(cat.path(name), ignore_errors=True)


@contextlib.contextmanager
def _patched(obj, name, wrap):
    orig = getattr(obj, name)
    setattr(obj, name, wrap(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


def _record_commit(span, cat: Catalog, name: str, m: dict) -> None:
    """Note the commit on its span; the table's bytes are read after the
    timed work, from ``span.counters["table"]``."""
    if span is not None:
        span.counters["rows_out"] = span.counters.get("rows_out", 0) + m["rows"]
        span.counters["files_written"] = m["n_partitions"]
        span.counters["table"] = cat.path(name)
        span.counters["stage"] = name
        if "pip_salt" in m:
            span.counters["pip_salt"] = m["pip_salt"]


def _span_call(tracer, name):
    def wrap(fn):
        def inner(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)
        return inner
    return wrap


@contextlib.contextmanager
def pipeline_spans(tracer):
    """Span each stage's ``Catalog.write``/``write_sharded`` call and the
    spatial calls ``run_pipeline`` makes outside them. Patches live only in
    this process and only while the traced job runs."""
    if not tracer.enabled:
        yield
        return

    def commit(fn):
        def inner(self, spark, df_or_build, name, *a, **kw):
            with tracer.span(STAGE_LAYER.get(name, "catalog." + name)) as s:
                m = fn(self, spark, df_or_build, name, *a, **kw)
                _record_commit(s, self, name, m)
            return m
        return inner

    with contextlib.ExitStack() as st:
        st.enter_context(_patched(Catalog, "write", commit))
        st.enter_context(_patched(Catalog, "write_sharded", commit))
        for fn, span in (("suggest_pip_salt", "spatial.pip_salt"),
                         ("suggest_knn_ladder", "spatial.knn_ladder"),
                         ("knn_nearest", "spatial.knn")):
            st.enter_context(_patched(pl, fn, _span_call(tracer, span)))
        yield


def run_pipeline_job(spark, tracer, inputs: dict, cat_root: str) -> dict:
    with pipeline_spans(tracer):
        return pl.run_pipeline(spark, inputs["corpus_dir"], cat_root)


def _skip(cat: Catalog, name: str, fp: str, report: dict) -> bool:
    """The resume rule of ``run_pipeline``: a stage whose committed manifest
    carries this fingerprint is skipped and reported as such."""
    if not cat.is_complete(name, fp):
        return False
    report[name] = {**cat.manifest(name), "skipped": True}
    return True


def run_curation_job(spark, tracer, inputs: dict, cat_root: str) -> dict:
    """``q_dedup_minhash_lsh`` then ``q_emb_ann_lsh``, each committed. The
    two are independent; ANN goes last so that the resume re-runs it: three
    ~4 s ANN resumes fit a run, where three ~10 s dedup resumes do not."""
    from wikipedia_wikidata_spark import queries_training as qt

    cat = Catalog(cat_root)
    fp, run_id = "perfbench:curation", tracer.run_id
    report = {}
    for name, span, build in (
        ("dedup", "dedup.minhash", qt.q_dedup_minhash_lsh),
        ("ann", "similarity.ann_lsh", qt.q_emb_ann_lsh),
    ):
        if _skip(cat, name, fp, report):
            continue
        with tracer.span(span) as s:
            m = cat.write(spark, build(spark, inputs["corpus_dir"]), name, fp, run_id)
            _record_commit(s, cat, name, m)
        report[name] = m
    return report


JOBS = {
    "pipeline": run_pipeline_job,
    "curation": run_curation_job,
}


def pip_inputs(spark, cat_root: str):
    """(points, polygons) that the pipeline's PIP stage joined."""
    cat = Catalog(cat_root)
    return cat.read(spark, "entity_points"), cat.read(spark, "view_polygons")


def pip_candidate_pairs(points, polygons, res: int = 5) -> int:
    """(point, polygon) pairs that share a res-``res`` cell: the pairs
    ``pip_join`` feeds to its bbox + ray-cast join condition. The condition
    runs inside the join, so the join's own row metric counts only matches;
    this untimed count recomputes the cell equi-join's size instead."""
    from wikipedia_wikidata_spark.config import CELL_RES_BITS
    from wikipedia_wikidata_spark.functions.cells import xy_cols

    bits = CELL_RES_BITS[res]
    px, py = xy_cols(F.col("lat"), F.col("lon"), bits)
    pts = points.groupBy(px.alias("x"), py.alias("y")).agg(F.count(F.lit(1)).alias("n_pts"))
    box = sp.polygons_with_bbox(polygons)
    x0, y0 = xy_cols(F.col("min_lat"), F.col("min_lon"), bits)
    x1, y1 = xy_cols(F.col("max_lat"), F.col("max_lon"), bits)
    cov = (
        box.select(F.explode(F.sequence(x0, x1)).alias("x"), y0.alias("y0"), y1.alias("y1"))
        .select("x", F.explode(F.sequence("y0", "y1")).alias("y"))
        .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_polys"))
    )
    row = pts.join(cov, ["x", "y"]).agg(F.sum(F.col("n_pts") * F.col("n_polys"))).collect()[0]
    return int(row[0] or 0)


def _collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def outputs(spark, workload: str, cat_root: str, tables=None) -> dict[str, list]:
    """Committed tables (all, or those named in ``tables``) as rows in the
    oracle's column order (floats are quantised exactly as the oracle
    quantises them)."""
    cat = Catalog(cat_root)
    r = lambda n: cat.read(spark, n)  # noqa: E731
    if workload == "curation":
        readers = {
            "dedup": lambda: r("dedup").select("doc_a", "doc_b", "jaccard_e6"),
            "ann": lambda: r("ann").select("q_id", "n_id", "rank", "cosine_e6"),
        }
    else:
        readers = {
            "importance": lambda: r("importance").select(
                "language", "type", "title", e6("importance"), "wikidata_id"),
            "spatial_assign": lambda: r("spatial_assign").select(
                "language", "title", "wikidata_id", "place_item"),
            "knn": lambda: r("knn").select(
                "language", "title", "nearest_item",
                F.floor(F.col("dist2") * 1000000000.0 + 0.5).cast("bigint")),
            "tiles": lambda: r("tiles").select(
                "zoom", "tile_x", "tile_y", "n_entities", e6("importance_sum")),
        }
    return {k: _collect(read()) for k, read in readers.items() if tables is None or k in tables}
