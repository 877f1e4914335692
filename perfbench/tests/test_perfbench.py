"""The benchmark's own checks: seeded inputs repeat exactly, the output
digest ignores row order, and a corrupted output counts as a failure.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import host, inputs, measure, oracles, workloads  # noqa: E402


def _file_hash(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.fixture()
def work(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "WORK", str(tmp_path))
    return tmp_path


def _generate(workload: str, seed: int) -> dict[str, str]:
    paths = inputs.prepare(workload, seed)
    return {k: _file_hash(p) for k, p in paths.items() if p.endswith(".parquet")}


@pytest.mark.parametrize("workload", ["pipeline", "curation"])
def test_each_seed_generates_identical_inputs(work, workload):
    first = _generate(workload, 3)
    other = _generate(workload, 4)
    for d in os.listdir(work / "inputs"):
        import shutil
        shutil.rmtree(work / "inputs" / d)
    assert _generate(workload, 3) == first
    assert first != other


def test_seed_42_reproduces_the_default_corpus(work, tmp_path_factory):
    from wikipedia_wikidata_spark.sources import synth

    ours = inputs.corpus(42)
    default = str(tmp_path_factory.mktemp("default") / "spans_sf0.01")
    synth.ensure_spans_data(default)
    assert _file_hash(f"{ours}/documents.parquet") == _file_hash(f"{default}/documents.parquet")


def test_curation_ids_stay_below_the_augment_offset(work):
    import pyarrow.parquet as pq

    d = inputs.curation(5)
    for t, col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        ids = pq.read_table(f"{d}/{t}.parquet").column(col).to_pylist()
        assert len(set(ids)) == len(ids) and max(ids) < inputs.ID_SPACE


def test_digest_ignores_row_order_but_not_multiplicity():
    rows = [("en", "A", 3), ("de", "B", None), ("en", "C", 7), ("en", "A", 3)]
    shuffled = rows[:]
    random.Random(1).shuffle(shuffled)
    assert oracles.digest(rows) == oracles.digest(shuffled)
    assert oracles.digest(rows) != oracles.digest(rows[:-1])
    assert oracles.digest(rows) != oracles.digest(rows + [("en", "A", 3)])


def test_corrupted_output_counts_as_a_failure():
    good = {"knn": [("en", "A", "Q1", 10), ("de", "B", "Q2", 20)],
            "tiles": [(4, 1, 2, 5, 123)]}
    expected = {k: oracles.digest(v) for k, v in good.items()}
    ok, verdict = measure.evaluate(expected, good)
    assert ok and all(verdict.values())
    corrupted = json.loads(json.dumps(good))
    corrupted["tiles"][0][4] += 1
    corrupted = {k: [tuple(r) for r in v] for k, v in corrupted.items()}
    ok, verdict = measure.evaluate(expected, corrupted)
    assert not ok and verdict == {"knn": True, "tiles": False}
    ok, _ = measure.evaluate(expected, {"knn": good["knn"][:1], "tiles": good["tiles"]})
    assert not ok


def test_a_corrupted_committed_table_fails_the_run_and_reports_no_time(
        tmp_path, monkeypatch):
    """run() end to end, with the job and the Spark session replaced by
    stand-ins: one committed table differs from its oracle in every
    execution, so the run is not correct and prints no metric."""
    good = {"dedup": [(1, 2, 900000)], "ann": [(1, 2, 1, 990000), (2, 1, 1, 990000)]}
    bad = {"dedup": good["dedup"], "ann": good["ann"][:1] + [(2, 1, 1, 990001)]}
    monkeypatch.setattr(inputs, "prepare", lambda workload, seed: {
        "documents": "documents.parquet", "embeddings": "embeddings.parquet"})
    monkeypatch.setattr(inputs, "sizes", lambda paths: {
        "documents": {"rows": 2, "bytes": 10}, "embeddings": {"rows": 2, "bytes": 10}})
    monkeypatch.setattr(oracles, "answers",
                        lambda *a: {k: oracles.digest(v) for k, v in good.items()})
    monkeypatch.setitem(workloads.JOBS, "curation", lambda *a: {})
    monkeypatch.setattr(workloads, "outputs", lambda *a: bad)
    monkeypatch.setattr(host, "peak_rss_mb", lambda pid: 1.0)
    jvm_process = SimpleNamespace(pid=lambda: os.getpid())
    spark = SimpleNamespace(version="test", _jvm=SimpleNamespace(java=SimpleNamespace(
        lang=SimpleNamespace(ProcessHandle=SimpleNamespace(current=lambda: jvm_process)))))
    record, result = measure.run(
        spark, "curation", 1, 0.0, False, "run", str(tmp_path), master="local[1]",
        nproc=1, setup_s=1.0, session_span=(0.0, 1.0))
    assert result == {"correct": False, "attempted": 4, "failed": 4, "metrics": {}}
    assert record["checks"] == [{"dedup": True, "ann": False}] * 4

    monkeypatch.setattr(workloads, "outputs", lambda *a: good)
    _, result = measure.run(
        spark, "curation", 1, 0.0, False, "run", str(tmp_path), master="local[1]",
        nproc=1, setup_s=1.0, session_span=(0.0, 1.0))
    assert result["correct"] and result["failed"] == 0
    assert [m["name"] for m in _spec()["end_to_end"]] == list(result["metrics"])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_every_metric_the_run_prints():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in measure.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(measure.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(measure.INPUT_TABLES)


def test_self_time_subtracts_the_union_of_covered_intervals():
    from perfbench.tracing import _covered

    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert _covered([], 0, 1) == 0
