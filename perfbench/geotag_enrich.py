"""geotag_enrich: image+caption table with skewed geotags → S2/hex cells,
broadcast R-tree point-in-polygon against a layer of irregular rings,
slippy tiles → per-partition committed iceberg-lite table, then a
resume that re-commits a seeded handful of dropped partitions.

One operation is one full commit into a fresh table; the run ends with
the resume. The traced variant first runs each layer as its own action
(S2 UDF, hex UDF, PIP join, enrichment into a noop sink) before the
commit, and a traced run ends with the plans.queries probe (queries.py)
before the resume."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import queries
from common import CORES, DATA, cached, median

N_IMAGES = 20_000
N_RINGS = 2_000
FILES = 8  # the image table arrives as 8 Parquet part files
PARTITION_ZOOM = 1  # two partitions: the inputs are all north of the equator
WARMUP_OPS = 3  # operations settle from the fourth on (7-10, 3.5-4.7, 3.3-4.0 s)
DROP = 1  # partitions dropped from the manifest before the resume
OP_SPANS = ("north_star.commit",)  # the spans one traced operation consists of


def _brute_force_pairs(images, rings) -> np.ndarray:
    """Expected (image index, polygon_id) pairs: every ring against the
    points inside its bbox with ``functions.pip.points_in_ring``."""
    from osm_read_enhanced_spark.functions.pip import points_in_ring

    lat = images.column("lat").to_numpy()
    lon = images.column("lon").to_numpy()
    pairs = []
    for pid, la, lo in zip(rings.column("polygon_id").to_pylist(),
                           rings.column("lats").to_pylist(),
                           rings.column("lons").to_pylist()):
        la, lo = np.asarray(la), np.asarray(lo)
        cand = np.flatnonzero((lat >= la.min()) & (lat <= la.max())
                              & (lon >= lo.min()) & (lon <= lo.max()))
        hit = cand[points_in_ring(lat[cand], lon[cand], la, lo)]
        pairs.append(np.stack([hit, np.full(len(hit), pid)], axis=1))
    return np.concatenate(pairs).astype(np.int64)


def prepare(seed: int, traced: bool) -> dict:
    def build(path):
        images, rings = gen.geotag_inputs(seed, N_IMAGES, N_RINGS)
        os.makedirs(os.path.join(path, "images"))
        step = -(-N_IMAGES // FILES)
        for i in range(FILES):
            pq.write_table(images.slice(i * step, step),
                           os.path.join(path, "images", f"part-{i:05d}.parquet"))
        pq.write_table(rings, os.path.join(path, "rings.parquet"))
        pairs = _brute_force_pairs(images, rings)
        np.save(os.path.join(path, "pairs.npy"), pairs)
        return {"images": N_IMAGES, "rings": N_RINGS, "pairs": len(pairs)}

    path, meta = cached(f"geotag_enrich-s{seed}-n{N_IMAGES}-r{N_RINGS}", build)
    pairs = np.load(os.path.join(path, "pairs.npy"))
    return {"dir": path, "meta": meta, "expected": _expected_rows(pairs),
            "rng": np.random.default_rng(seed), "n": 0,
            "queries": queries.prepare(seed) if traced else None}


def _expected_rows(pairs: np.ndarray) -> np.ndarray:
    """Committed rows the left PIP join must produce, as sorted
    (image index, polygon_id) with -1 for images outside every ring."""
    hit = np.zeros(N_IMAGES, dtype=bool)
    hit[pairs[:, 0]] = True
    miss = np.flatnonzero(~hit)
    rows = np.concatenate([pairs, np.stack([miss, np.full(len(miss), -1)], axis=1)])
    return rows[np.lexsort((rows[:, 1], rows[:, 0]))]


def _inputs(spark, inp):
    images = spark.read.parquet(os.path.join(inp["dir"], "images"))
    rings = spark.read.parquet(os.path.join(inp["dir"], "rings.parquet"))
    return images, rings


def _traced_layers(spark, images, rings, tr) -> None:
    from pyspark.sql import functions as F

    from osm_read_enhanced_spark.operators.spatial_join import pip_join_broadcast
    from osm_read_enhanced_spark.pipelines.north_star import enrich_images
    from osm_read_enhanced_spark.plans.udfs import hex_cell_udf, s2_cell_l10

    with tr.span("udf.s2_cell_l10"):
        images.select(F.max(s2_cell_l10("lat", "lon"))).collect()
    with tr.span("udf.hex_cell"):
        images.select(F.max(hex_cell_udf(8)("lat", "lon"))).collect()
    with tr.span("spatial_join.pip") as s:
        s["pairs"] = pip_join_broadcast(
            images.select(F.col("image_id").alias("point_id"), "lat", "lon"), rings
        ).count()
    with tr.span("north_star.enrich"):
        enrich_images(images, rings).write.format("noop").mode("overwrite").save()


def plans(spark, inp: dict) -> list:
    """Builds the enriched, partition-keyed DataFrame ``run_north_star``
    commits."""
    from osm_read_enhanced_spark.pipelines.north_star import (
        enrich_images,
        partition_key_col,
    )

    def build():
        images, rings = _inputs(spark, inp)
        return enrich_images(images, rings).withColumn(
            "part_key", partition_key_col(12, PARTITION_ZOOM))

    return [build]


def run_op(spark, inp: dict, tr) -> dict:
    from osm_read_enhanced_spark.pipelines.north_star import run_north_star

    inp["n"] += 1
    if inp.get("table"):
        shutil.rmtree(inp["table"], ignore_errors=True)
    table = inp["table"] = os.path.join(DATA, "work", f"north_star-{inp['n']}")
    shutil.rmtree(table, ignore_errors=True)
    images, rings = _inputs(spark, inp)
    if tr.enabled:
        _traced_layers(spark, images, rings, tr)
    t0 = time.perf_counter()
    with tr.span("north_star.commit"):
        records = run_north_star(spark, images, rings, table,
                                 partition_zoom=PARTITION_ZOOM)
    wall = time.perf_counter() - t0
    return {"wall": wall, "partitions": len(records),
            "commit_s": [rec["wall_ms"] / 1e3 for rec in records],
            "ok": (sum(x["row_count"] for x in records) == len(inp["expected"])
                   and _table_ok(spark, table, inp))}


def _table_ok(spark, table: str, inp: dict) -> bool:
    """The committed (image, polygon) rows equal the brute force."""
    from pyspark.sql import functions as F

    from osm_read_enhanced_spark.sources.iceberg_lite import read_table

    got = (read_table(spark, table)
           .select(F.expr("cast(substr(image_id, 5) as bigint)").alias("i"),
                   F.coalesce("polygon_id", F.lit(-1)).alias("p"))
           .toPandas().to_numpy(dtype=np.int64))
    got = got[np.lexsort((got[:, 1], got[:, 0]))]
    return np.array_equal(got, inp["expected"])


def finish(spark, inp: dict, tr) -> dict:
    """End of run: emulate a job killed after some commits by dropping
    a seeded handful of committed partitions from the last table's
    manifest, then resume; only those partitions may be re-committed."""
    from osm_read_enhanced_spark.pipelines.north_star import run_north_star
    from osm_read_enhanced_spark.sources.iceberg_lite import MANIFEST, read_manifest

    table = inp["table"]
    manifest = read_manifest(table)
    committed = sorted(manifest["partitions"])
    dropped = sorted(inp["rng"].choice(committed, min(DROP, len(committed)),
                                       replace=False).tolist())
    for p in dropped:
        del manifest["partitions"][p]
    with open(os.path.join(table, MANIFEST), "w") as f:
        json.dump(manifest, f)
    images, rings = _inputs(spark, inp)
    t0 = time.perf_counter()
    with tr.span("north_star.resume"):
        resumed = run_north_star(spark, images, rings, table,
                                 partition_zoom=PARTITION_ZOOM)
    wall = time.perf_counter() - t0
    ok = (sorted(x["partition"] for x in resumed) == dropped
          and _table_ok(spark, table, inp))
    shutil.rmtree(table, ignore_errors=True)
    return {"wall": wall, "resumed": len(resumed), "ok": ok}


def rows_per_op(inp: dict) -> int:
    """Input rows one operation completes: images committed."""
    return N_IMAGES


def probe(spark, inp: dict, tr) -> list[dict]:
    inp["probed"] = queries.probe(spark, inp["queries"], inp["rng"], tr)
    return inp["probed"]


def notes(ops: list[dict], inp: dict) -> list[str]:
    fin = inp["finish"]
    return [f"resume_s = {fin['wall']:.4f} s ({fin.get('resumed', 0)} partitions re-committed)"]


def _kernels(inp: dict) -> dict:
    """The enrichment's numpy kernels, in-process and single-threaded
    over the same inputs (median of 3)."""
    from osm_read_enhanced_spark.functions.h3core import latlng_to_cell_vec
    from osm_read_enhanced_spark.functions.pip import points_in_ring
    from osm_read_enhanced_spark.functions.s2 import s2_cell_id
    from osm_read_enhanced_spark.operators.rtree import STRtree

    images = pq.read_table(os.path.join(inp["dir"], "images"), columns=["lat", "lon"])
    rings = pq.read_table(os.path.join(inp["dir"], "rings.parquet"))
    lat, lon = images.column("lat").to_numpy(), images.column("lon").to_numpy()
    ring_lats = [np.asarray(x) for x in rings.column("lats").to_pylist()]
    ring_lons = [np.asarray(x) for x in rings.column("lons").to_pylist()]
    boxes = np.array([[lo.min(), la.min(), lo.max(), la.max()]
                      for la, lo in zip(ring_lats, ring_lons)])
    tree = STRtree(boxes)

    def timed(fn):
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            out = fn()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls), out

    tree_s, (pi, bi) = timed(lambda: tree.query_points(lon, lat))
    # candidates grouped per ring, as the probe groups them, outside the timing
    order = np.argsort(bi, kind="stable")
    b_sorted, p_sorted = bi[order], pi[order]
    starts = np.flatnonzero(np.r_[True, np.diff(b_sorted) != 0])
    groups = list(zip(b_sorted[starts], np.split(p_sorted, starts[1:])))

    def refine():
        return sum(int(points_in_ring(lat[sel], lon[sel], ring_lats[b], ring_lons[b]).sum())
                   for b, sel in groups)

    s2_s, _ = timed(lambda: s2_cell_id(lat, lon, level=10))
    hex_s, _ = timed(lambda: latlng_to_cell_vec(lat, lon, 8))
    pip_s, hits = timed(refine)
    return {"kernel.s2_cell_id_s": s2_s, "kernel.hex_cell_s": hex_s,
            "kernel.strtree_query_s": tree_s, "kernel.points_in_ring_s": pip_s,
            "kernel.pip_hit_ratio": hits / max(len(pi), 1)}


def per_layer(traced: list[dict], tr, inp: dict) -> dict:
    k = _kernels(inp)
    udf_s2 = median(tr.durations("udf.s2_cell_l10"))
    udf_hex = median(tr.durations("udf.hex_cell"))
    return {
        **k,
        "udf.s2_cell_l10_s": udf_s2,
        "udf.hex_cell_s": udf_hex,
        "udf.boundary_ratio": (udf_s2 + udf_hex) * CORES
        / (k["kernel.s2_cell_id_s"] + k["kernel.hex_cell_s"]),
        "spatial_join.pip_s": median(tr.durations("spatial_join.pip")),
        "spatial_join.pairs_out": median([s["pairs"] for s in tr.spans
                                          if s["name"] == "spatial_join.pip"]),
        "north_star.enrich_s": median(tr.durations("north_star.enrich")),
        "north_star.commit_s": median(tr.durations("north_star.commit")),
        "iceberg_lite.partitions": median([o["partitions"] for o in traced]),
        "iceberg_lite.partition_commit_p50_s": median(
            [c for o in traced for c in o["commit_s"]]),
        "iceberg_lite.resume_partitions": inp["finish"].get("resumed", 0),
        "north_star.resume_s": inp["finish"]["wall"],
        **queries.per_layer(inp["probed"]),
    }


def event_layers(by_group: dict, spans: dict, traced: list[dict]) -> dict:
    jobs = sum(by_group[g]["jobs"] for g, s in spans.items()
               if s["name"] == "north_star.commit")
    parts = sum(o["partitions"] for o in traced)
    return {"iceberg_lite.jobs_per_partition": jobs / max(parts, 1),
            **queries.event_layers(by_group, spans)}
