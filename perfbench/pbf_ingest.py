"""pbf_ingest: generated multi-block PBF → full decode with metadata →
way assembly → closed landuse rings → polygon layer → Parquet.

One operation is the whole chain, ending in the Parquet write. The
traced variant splits it into one action per layer (block index,
decode, assembly, layer write) so each layer's wall can be read off its
span."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen
from common import CORES, DATA, cached, median

BLOCKS = 24
# operations keep getting faster (10-11, 4.1-4.3, 3.2-3.7 s, then
# 2.3-3.4 s on 4 cores); more warm-up does not fit the run-time budget
WARMUP_OPS = 3
OP_SPANS = ("pbf.", "polygons.")  # the spans one traced operation consists of


def prepare(seed: int, traced: bool) -> dict:
    def build(path):
        return gen.write_pbf(path, seed, BLOCKS)

    path, expected = cached(f"pbf_ingest-s{seed}-b{BLOCKS}.pbf", build)
    return {"path": path, "expected": expected, "n": 0}


def run_op(spark, inp: dict, tr) -> dict:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from osm_read_enhanced_spark.operators.polygons import assemble_way_geometries
    from osm_read_enhanced_spark.sources.pbf.reader import (
        pbf_block_index,
        read_pbf,
        release_pbf,
    )

    inp["n"] += 1
    out_dir = os.path.join(DATA, "work", f"layer-{inp['n']}")
    shutil.rmtree(out_dir, ignore_errors=True)
    traced = tr.enabled
    r = {}
    t0 = time.perf_counter()
    with tr.span("pbf.index"):
        index = pbf_block_index(spark, inp["path"]).cache()
        if traced:
            index.count()
    with tr.span("pbf.decode"):
        dfs = read_pbf(spark, inp["path"], kinds=("node", "way"), block_index=index)
        if traced:
            dfs["union"].count()
    with tr.span("polygons.assemble"):
        geoms = assemble_way_geometries(dfs["ways"], dfs["nodes"])
        if traced:
            geoms = geoms.persist(StorageLevel.MEMORY_AND_DISK)
            r["ways_tried"] = geoms.count()
    with tr.span("polygons.layer"):
        _layer(geoms).write.parquet(out_dir)
    r["wall"] = time.perf_counter() - t0
    if traced:
        geoms.unpersist()

    exp = inp["expected"]
    got = {row["kind"]: (row["n"], row["s"]) for row in dfs["union"].groupBy("kind").agg(
        F.count("*").alias("n"), F.sum("id").alias("s")).collect()}
    w = spark.read.parquet(out_dir).agg(
        F.count("*").alias("n"), F.sum("polygon_id").alias("s"),
        F.sum(F.size("lats")).alias("v")).first()
    r["rings"] = w["n"]
    r["ok"] = (got == {"node": (exp["nodes"], exp["node_id_sum"]),
                       "way": (exp["ways"], exp["way_id_sum"])}
               and (w["n"], w["s"], w["v"]) == (exp["rings"], exp["ring_id_sum"],
                                                exp["ring_vertices"]))
    release_pbf(dfs)
    shutil.rmtree(out_dir, ignore_errors=True)
    return r


def _layer(geoms):
    from osm_read_enhanced_spark.operators.polygons import (
        build_polygon_layer,
        closed_way_polygons,
    )

    return build_polygon_layer(closed_way_polygons(geoms, kinds=["landuse"]))


def plans(spark, inp: dict) -> list:
    """Builds the operation's final DataFrame, as before its write."""
    from osm_read_enhanced_spark.operators.polygons import assemble_way_geometries
    from osm_read_enhanced_spark.sources.pbf.reader import read_pbf

    def build():
        dfs = read_pbf(spark, inp["path"], kinds=("node", "way"))
        return _layer(assemble_way_geometries(dfs["ways"], dfs["nodes"]))

    return [build]


def rows_per_op(inp: dict) -> int:
    """Input rows one operation completes: PBF elements."""
    return inp["expected"]["elements"]


def kernel_block_s(inp: dict, n_blocks: int = 8) -> float:
    """``columnar.decode_blob_to_batches`` on one block, in-process and
    single-threaded: median over the first blocks of the file."""
    from osm_read_enhanced_spark.sources.pbf.blocks import scan_blocks
    from osm_read_enhanced_spark.sources.pbf.columnar import decode_blob_to_batches

    metas = [b for b in scan_blocks(inp["path"]) if b.block_type == "OSMData"][:n_blocks]
    walls = []
    with open(inp["path"], "rb") as f:
        for _ in range(3):
            for b in metas:
                f.seek(b.offset)
                raw = f.read(b.size)
                t0 = time.perf_counter()
                decode_blob_to_batches(raw, b.block_id)
                walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def per_layer(traced: list[dict], tr, inp: dict) -> dict:
    exp = inp["expected"]
    decode_s = median(tr.durations("pbf.decode"))
    k = kernel_block_s(inp)
    return {
        "pbf.index_s": median(tr.durations("pbf.index")),
        "pbf.decode_s": decode_s,
        "pbf.decode_elements_per_s": exp["elements"] / decode_s,
        "pbf.blocks": exp["blocks"],
        "pbf.bytes_in": exp["bytes"],
        "pbf.kernel_block_s": k,
        "pbf.kernel_share": exp["blocks"] * k / (decode_s * CORES),
        "polygons.assemble_s": median(tr.durations("polygons.assemble")),
        "polygons.layer_s": median(tr.durations("polygons.layer")),
        "polygons.rings_out": median([o["rings"] for o in traced]),
        "polygons.closed_ratio": median([o["rings"] / o["ways_tried"] for o in traced]),
    }
