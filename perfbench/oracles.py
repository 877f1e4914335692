"""DuckDB oracle answers for each workload's outputs, reduced to
order-insensitive digests and cached per seed.

The oracles read the same generated parquet bytes the Spark job reads. They
run before the timed job and are never timed.
"""

from __future__ import annotations

import hashlib
import json
import os

from .inputs import WORK


def digest(rows) -> str:
    """Order-insensitive, multiplicity-sensitive digest of a row collection:
    the row count and the sum (mod 2^128) of a 128-bit hash per row."""
    acc, n = 0, 0
    for row in rows:
        key = repr(tuple(row)).encode()
        acc = (acc + int.from_bytes(hashlib.blake2b(key, digest_size=16).digest(), "big")) % (1 << 128)
        n += 1
    return f"{n}:{acc:032x}"


def _duck(nproc: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {max(1, nproc)}")
    return con


def _pipeline_sql(corpus_dir: str) -> dict[str, str]:
    from wikipedia_wikidata_spark.oracle import E6, q
    from wikipedia_wikidata_spark.operators.spatial import duckdb_ray_cast_sql
    from wikipedia_wikidata_spark.operators.tiles import tile_sql
    from wikipedia_wikidata_spark.config import TILE_ZOOMS

    tx, ty = tile_sql("z.zoom", "p.lat", "p.lon")
    zooms = ", ".join(str(int(z)) for z in TILE_ZOOMS)
    finals = {
        "importance": f"SELECT language, type, title, {E6} AS importance_e6, wikidata_id FROM wmi",
        "spatial_assign": f"""SELECT p.language, p.title, p.wikidata_id, g.item AS place_item
FROM entity_points p JOIN polygons_bbox g
  ON p.lat BETWEEN g.min_lat AND g.max_lat AND p.lon BETWEEN g.min_lon AND g.max_lon
WHERE {duckdb_ray_cast_sql("g.verts", "p.lat", "p.lon")}""",
        "knn": """SELECT language, title, nearest_item,
       CAST(floor(dist2 * 1000000000.0 + 0.5) AS BIGINT) AS dist2_e9
FROM (
  SELECT p.language, p.title, g.item AS nearest_item,
         (p.lat - g.lat) * (p.lat - g.lat) + (p.lon - g.lon) * (p.lon - g.lon) AS dist2,
         row_number() OVER (
           PARTITION BY p.language, p.title
           ORDER BY (p.lat - g.lat) * (p.lat - g.lat) + (p.lon - g.lon) * (p.lon - g.lon),
                    g.item) AS rn
  FROM entity_points p CROSS JOIN geo_places g
) WHERE rn = 1""",
        "tiles": f"""SELECT z.zoom, {tx} AS tile_x, {ty} AS tile_y,
       CAST(count(*) AS BIGINT) AS n_entities,
       CAST(floor(SUM(p.importance) * 1000000.0 + 0.5) AS BIGINT) AS importance_sum_e6
FROM entity_points p CROSS JOIN (SELECT unnest([{zooms}]) AS zoom) z
GROUP BY 1, 2, 3""",
    }
    kw = dict(
        docs_path=f"{corpus_dir}/documents.parquet",
        levels_path=f"{corpus_dir}/place_type_levels.parquet",
    )
    return {k: q(v, **kw) for k, v in finals.items()}


def _curation_sql(corpus_dir: str) -> dict[str, str]:
    from wikipedia_wikidata_spark.oracle_training import TRAINING_ORACLES, ann_lsh_sql

    return {
        "dedup": TRAINING_ORACLES["dedup_minhash_lsh"],
        "ann": ann_lsh_sql(sf_dir=corpus_dir),
    }


def answers(workload: str, seed: int, inputs: dict, nproc: int) -> dict:
    """{table: digest}, from the cache when this seed and oracle text were
    seen before."""
    if workload == "pipeline":
        sql = _pipeline_sql(inputs["corpus_dir"])
    else:
        sql = _curation_sql(inputs["corpus_dir"])
    key = hashlib.sha1(json.dumps([workload, seed, sql, inputs], sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(WORK, "oracle", f"{workload}_s{seed}_{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = _duck(nproc)
    try:
        if workload == "curation":
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs[t]}')")
        out = {k: digest(con.execute(v).fetchall()) for k, v in sql.items()}
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
