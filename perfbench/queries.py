"""The plans.queries probe of a traced geotag_enrich run: bench.py's
headline leaves and its spatial_pipeline subgraph, many short jobs on
small generated TPC-H-shaped tables, where plan compilation and job
scheduling dominate and kernels do little.

The probe makes two seed-shuffled passes. The first compiles every
query and checks its full result against a DuckDB oracle, normalised
as tools/crosscheck.py does; the second times each query inside its
own span and checks its row count. Every query of every pass is one
checked operation."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import gen
from common import ROOT, cached, clear_cache

SF = 0.01
SPATIAL = "spatial_pipeline"
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents")


def _crosscheck():
    spec = importlib.util.spec_from_file_location(
        "crosscheck", os.path.join(ROOT, "tools", "crosscheck.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _defs() -> dict:
    from osm_read_enhanced_spark.plans.queries import QUERIES, QUERIES_EXTENDED

    return {**QUERIES, **QUERIES_EXTENDED}


def _jsonable(norm) -> list:
    """A crosscheck-normalised row multiset as sorted JSON-safe
    [[row, count], ...], so cached oracles and live results compare on
    the same footing."""
    rows = json.loads(json.dumps([[list(k), v] for k, v in norm.items()], default=float))
    return sorted(rows, key=repr)


def _oracles(sf_dir: str, names) -> dict:
    """DuckDB oracle per query → {"rows": n, "cols": [...], "norm":
    [[row, count], ...]}."""
    import duckdb

    norm = _crosscheck().normalize
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in names:
        res = con.execute(_defs()[name].oracle)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = {"rows": len(rows), "cols": sorted(cols),
                     "norm": _jsonable(norm(rows, cols))}
    con.close()
    return out


def prepare(seed: int) -> dict:
    import bench

    def build(path):
        os.makedirs(path)
        rows = gen.write_tables(path, seed, SF, TABLES)
        return {"rows": rows, "oracles": _oracles(path, bench.HEADLINE)}

    path, meta = cached(f"queries-s{seed}-sf{SF}", build)
    return {"dir": path, **meta}


def _run(spark, name: str, inp: dict, full: bool) -> tuple[float, bool]:
    """One query → (wall, matches its oracle); ``full`` compares the
    whole result (untimed), otherwise only the row count."""
    import bench

    sf_dir = inp["dir"]
    if name == SPATIAL:
        wall, _, n = bench.spatial_pipeline_rows_per_sec(spark, sf_dir)
        return wall, n == inp["rows"]["lineitem"]
    oracle = inp["oracles"][name]
    if full:
        df = _defs()[name].fn(spark, sf_dir)
        got = _crosscheck().normalize([tuple(r) for r in df.collect()], df.columns)
        return 0.0, sorted(df.columns) == oracle["cols"] and _jsonable(got) == oracle["norm"]
    wall, n = bench.run_query(spark, name, sf_dir)
    return wall, n == oracle["rows"]


def _pass(spark, inp: dict, rng, tr, full: bool) -> list[dict]:
    import bench

    order = [*bench.HEADLINE, SPATIAL]
    rng.shuffle(order)
    out = []
    for name in order:
        try:
            with tr.span(f"query.{name}"):
                wall, ok = _run(spark, name, inp, full)
        except Exception as e:  # noqa: BLE001 - a crash is a failed query
            print(f"query {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
            wall, ok = 0.0, False
        if not ok:
            print(f"query {name}: result differs from its oracle", file=sys.stderr)
        out.append({"name": name, "timed": not full, "wall": wall, "ok": ok,
                    "rdds_left": clear_cache(spark)})
    return out


def probe(spark, inp: dict, rng, tr) -> list[dict]:
    """Both passes, the first untraced; returns every checked query."""
    checked = _pass(spark, inp, rng, type(tr)(spark, enabled=False), full=True)
    return checked + _pass(spark, inp, rng, tr, full=False)


def per_layer(probed: list[dict]) -> dict:
    return {f"query.{q['name']}_s": q["wall"] for q in probed if q["timed"]}


def event_layers(by_group: dict, spans: dict) -> dict:
    jobs = [by_group[g]["jobs"] for g, s in spans.items() if s["name"].startswith("query.")]
    return {"driver.jobs_per_query": sum(jobs) / max(len(jobs), 1)}
