"""Skew evidence at binding scale (VERDICT r2 next-round #9).

A deliberately pathological dense-city dataset — most points in ONE
hex cell, polygon layer with heavy per-cell fan-out — makes the
cell-join's hot key a genuine straggler. This tool measures the salted
vs unsalted PIP cell join (AQE skew-join on in both runs) and prints
one JSON line; results land in SCALE.md.

Usage: python tools/skew_bench.py [n_points] [n_polys] [cores]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def build_hot_points(spark, n: int, hot_frac: float = 0.8):
    """n points, ``hot_frac`` of them inside one ~0.02° city core (a
    single res-7 cell), the rest world-uniform."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            idx = pdf["id"].to_numpy()
            rng = np.random.default_rng(7)
            # deterministic per-row: derive from id, not the rng stream
            u = ((idx * 2654435761) % 2**32) / 2**32
            hot = u < hot_frac
            v1 = ((idx * 40503) % 100000) / 100000.0
            v2 = ((idx * 65521) % 100000) / 100000.0
            lat = np.where(hot, 51.505 + v1 * 0.008, -60 + v1 * 120)
            lon = np.where(hot, -0.11 + v2 * 0.008, -179 + v2 * 358)
            yield pd.DataFrame(
                {"point_id": idx, "lat": lat, "lon": lon}
            )
    return spark.range(n, numPartitions=32).mapInPandas(
        gen, "point_id long, lat double, lon double"
    )


def build_hot_layer(spark, n_polys: int):
    """n_polys overlapping squares all covering the hot cell → per-cell
    polygon fan-out that multiplies the hot key's candidate rows."""
    rows = []
    for p in range(n_polys):
        d = 0.004 + 0.0001 * p
        lat0, lon0 = 51.505, -0.11
        rows.append(
            (
                int(p),
                [lat0, lat0, lat0 + d * 2, lat0 + d * 2, lat0],
                [lon0, lon0 + d * 2, lon0 + d * 2, lon0, lon0],
            )
        )
    return spark.createDataFrame(
        rows, "polygon_id long, lats array<double>, lons array<double>"
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_polys = int(sys.argv[2]) if len(sys.argv) > 2 else 48
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    from osm_read_enhanced_spark.operators.spatial_join import pip_join_cells
    from osm_read_enhanced_spark.session import get_spark

    spark = get_spark("skew", cores=cores)
    spark.range(1000).selectExpr("sum(id)").collect()
    pts = build_hot_points(spark, n).persist()
    pts.count()
    layer = build_hot_layer(spark, n_polys).persist()
    layer.count()

    # Two trials per config, order flipped between rounds, best per
    # config — the host's sustained-load throttle (BENCH/BASELINE.md
    # caveat 1) penalizes whoever runs later in a fixed order.
    configs = [("unsalted", 0), ("salted8", 8), ("salted16", 16)]
    results = {label: {"walls": [], "rows": None} for label, _ in configs}
    for trial_order in (configs, configs[::-1]):
        for label, salt in trial_order:
            t0 = time.time()
            got = pip_join_cells(pts, layer, res=7, salt_buckets=salt).count()
            results[label]["walls"].append(round(time.time() - t0, 1))
            results[label]["rows"] = got
            time.sleep(20)
    rows = {v["rows"] for v in results.values()}
    assert len(rows) == 1, f"salt changed the result: {results}"
    best = {k: min(v["walls"]) for k, v in results.items()}
    out = {
        "n_points": n,
        "n_polys": n_polys,
        "cores": cores,
        "matched_rows": rows.pop(),
        "trials": {k: v["walls"] for k, v in results.items()},
        **best,
        "speedup_salted16": round(best["unsalted"] / best["salted16"], 2),
    }
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
