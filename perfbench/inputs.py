"""Seeded input generation for the benchmark's workloads.

Every input is a pure function of the seed and is written once per seed
under ``perfbench/.work/inputs``; nothing is written into the package's own
data directory. Generation happens before any timer starts.
"""

from __future__ import annotations

import contextlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")

PIPELINE_SF = 0.01
# half the sf0.1 documents test table (5,000 rows) and a quarter of its
# embeddings table (2,000 rows): at full size the DuckDB oracles alone took
# ~40 s a run on a 4-core host (dedup ~16 s, ANN ~25 s), more than a run's
# share of the benchmark's time budget leaves
CURATION_DOCS = 2_500
CURATION_VECTORS = 500
EMBED_DIM = 64
# augment_docs offsets ids by 10^6 and 2*10^6: generated ids stay below
ID_SPACE = 1_000_000
# the sf0.1 documents table's vocabulary (30 words, near-uniform) and
# language shares; 5% of its texts end in a 'dup' token, 8 are exact copies
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def synth_seeds(seed: int) -> tuple[int, int]:
    """Seeds for synth's fact and document generators; 42 -> (42, 4242),
    the corpus ``sources/synth.py`` writes by default."""
    return seed, seed * 101


class _SeededRandom:
    def __init__(self, seeds: dict[int, int]):
        self._seeds = seeds

    def default_rng(self, seed=None):
        return np.random.default_rng(self._seeds.get(seed, seed))

    def __getattr__(self, name):
        return getattr(np.random, name)


class _SeededNumpy:
    """numpy, except that ``random.default_rng`` maps fixed seeds to others."""

    def __init__(self, seeds: dict[int, int]):
        self.random = _SeededRandom(seeds)

    def __getattr__(self, name):
        return getattr(np, name)


@contextlib.contextmanager
def seeded_synth(seed: int):
    """Run ``sources/synth.py`` with its two fixed generator seeds (42 and
    4242) replaced by ``synth_seeds(seed)``, without editing the module."""
    from wikipedia_wikidata_spark.sources import synth

    saved = synth.np
    synth.np = _SeededNumpy(dict(zip((42, 4242), synth_seeds(seed))))
    try:
        yield synth
    finally:
        synth.np = saved


def seed_dir(seed: int) -> str:
    return os.path.join(WORK, "inputs", f"s{seed}")


def corpus(seed: int) -> str:
    """The seed's interleaved corpus dir. Its basename starts with
    ``spans_``, so ``config.spans_dir_for`` maps it to itself."""
    path = os.path.join(seed_dir(seed), f"spans_sf{PIPELINE_SF:g}")
    with seeded_synth(seed) as synth:
        synth.ensure_spans_data(path)
    return path


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=16384)
    os.replace(tmp, path)


def curation(seed: int) -> str:
    """``documents`` (CURATION_DOCS rows of 10-100 words drawn uniformly
    from WORDS, 5% with a trailing 'dup' token, 8 exact copies) and
    ``embeddings`` (CURATION_VECTORS unit vectors of 64 dims, 10 labels),
    with the schema and distributions of the sf0.1 test tables the
    ``queries_training`` callables read. Ids are distinct, seeded and below
    10^6, so ``augment_docs``'s ``doc_id % 10`` / ``% 7`` picks move with
    the seed."""
    out = os.path.join(seed_dir(seed), "curation")
    if os.path.exists(os.path.join(out, "embeddings.parquet")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 11])
    n = CURATION_DOCS
    texts = []
    for _ in range(n):
        words = list(rng.choice(WORDS, size=int(rng.integers(10, 101))))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    for a in rng.choice(n, size=8, replace=False):  # exact copies
        texts[int(a)] = texts[int(rng.integers(0, n))]
    ids = rng.choice(ID_SPACE, size=n, replace=False).astype(np.int64)
    docs = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)]),
        "source": pa.array([f"src{int(i)}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    m = CURATION_VECTORS
    v = rng.normal(0.0, 1.0, (m, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(rng.choice(ID_SPACE, size=m, replace=False).astype(np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m).astype(np.int32)),
    })
    _write(docs, os.path.join(out, "documents.parquet"))
    _write(emb, os.path.join(out, "embeddings.parquet"))
    return out


def sizes(paths: dict[str, str]) -> dict:
    """Row count and bytes of each input parquet file."""
    return {
        k: {"rows": pq.ParquetFile(p).metadata.num_rows, "bytes": os.path.getsize(p)}
        for k, p in paths.items()
    }


def prepare(workload: str, seed: int) -> dict:
    """Generate (or reuse) the seed's inputs; returns {table: path}."""
    if workload == "pipeline":
        d = corpus(seed)
        return {"documents": f"{d}/documents.parquet", "corpus_dir": d}
    d = curation(seed)
    return {
        "documents": f"{d}/documents.parquet",
        "embeddings": f"{d}/embeddings.parquet",
        "corpus_dir": d,
    }
