"""Repository benchmark: one closed-loop client driving one Spark
session at local[<cores>] through one of two workloads.

    python3 perfbench/run.py --workload {pbf_ingest,geotag_enrich}
        --seed N --seconds S --trace {0,1}

Inputs are generated from the seed (once per workload, seed and size,
under perfbench/.data/inputs) before anything is timed. Every operation
is checked against answers computed independently of the program; a
mismatch counts as a failed operation and makes the exit code 1.

--trace 0 prints the end-to-end metrics. --trace 1 runs untraced and
then traced operations in one session and prints the per-layer metrics,
the Spark event-log split of the traced operations, and the tracing
overhead; spans are written to perfbench/.data/traces/. Both print
exactly the metrics BENCHMARK.json declares, with its units.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("pbf_ingest", "geotag_enrich")
MIN_OPS = 3  # timed operations per run, however long they take


def _program():
    """Import the program under test from the checkout; None if absent."""
    sys.path.insert(0, common.ROOT)
    try:
        import bench
        import osm_read_enhanced_spark.session  # noqa: F401
    except ImportError as e:
        print(f"program not found in {common.ROOT}: {e}", file=sys.stderr)
        return None
    return bench


def _attempt(fn, *args) -> dict:
    """One checked operation; one that raises is a failed one."""
    try:
        return fn(*args)
    except Exception as e:  # noqa: BLE001 - a crash is a failed operation
        print(f"operation failed: {type(e).__name__}: {e}", file=sys.stderr)
        return {"ok": False, "wall": 0.0, "crashed": True}


def _loop(spark, wl, inp, tr, seconds: float, min_ops: int, sampler=None) -> list[dict]:
    """Closed loop: the next operation starts when the previous one and
    its correctness check have finished, until ``seconds`` of operation
    time have elapsed and at least ``min_ops`` operations ran. A crashed
    operation ends the loop."""
    ops: list[dict] = []
    busy = 0.0
    if sampler:
        sampler.reset()
    while busy < seconds or len(ops) < min_ops:
        r = _attempt(wl.run_op, spark, inp, tr)
        r["rdds_left"] = r.get("rdds_left", 0) + common.clear_cache(spark)
        common.log(f"op {r['wall']:.3f}s ok={r['ok']}")
        busy += r["wall"]
        ops.append(r)
        if r.get("crashed"):
            break
    return ops


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    common.adopt_orphans()
    try:
        return _run(args)
    finally:
        common.stop_all()


def _run(args) -> int:
    bench = _program()
    if bench is None:
        return 2
    common.prepare_env()
    wl = importlib.import_module(args.workload)
    inp = wl.prepare(args.seed, bool(args.trace))  # input generation: outside every metric
    common.log("inputs ready")

    cpu_before = bench.cpu_probe() if args.trace else 0.0
    traced: list[dict] = []
    probed: list[dict] = []  # the traced run's extra checked operations
    with common.MemorySampler() as sampler:
        spark, setup = common.start_session(eventlog=bool(args.trace))
        app_id = spark.sparkContext.applicationId
        common.log(f"set-up {setup}")
        try:
            off = common.Tracer(spark, enabled=False)
            # untimed: JIT, plan caches and worker state settle as they
            # would in a long-lived session
            warm = _loop(spark, wl, inp, off, 0, wl.WARMUP_OPS)
            tr = common.Tracer(spark, enabled=bool(args.trace))
            if not args.trace:
                ops = _loop(spark, wl, inp, off, args.seconds, MIN_OPS, sampler)
                peak_mb = sampler.peak_mb()
                common.log(f"peak memory {peak_mb:.0f} MB: "
                           f"{sorted((kb // 1024 for _, kb in sampler.peak_parts), reverse=True)}")
            else:
                half = args.seconds / 2
                ops = _loop(spark, wl, inp, off, half, 1)
                traced = _loop(spark, wl, inp, tr, half, 1)
                if hasattr(wl, "probe"):
                    probed = wl.probe(spark, inp, tr)
            if hasattr(wl, "finish"):  # end-of-run step, checked like an operation
                inp["finish"] = _attempt(wl.finish, spark, inp, tr)
                warm.append(inp["finish"])
                common.log(f"finish {inp['finish']['wall']:.3f}s ok={inp['finish']['ok']}")
            if args.trace:
                layers = wl.per_layer(traced, tr, inp)
                builders = wl.plans(spark, inp)
                layers["driver.plan_s"] = common.plan_s(builders, 3 if len(builders) == 1 else 1)
                layers["host.jvm_probe_s"] = bench.jvm_probe(spark)
        finally:
            common.stop_all()
    common.log("session stopped")

    checked = warm + ops + traced + probed
    attempted, failed = len(checked), sum(not o["ok"] for o in checked)
    ops = [o for o in ops if not o.get("crashed")]
    traced = [o for o in traced if not o.get("crashed")]
    if not ops or (args.trace and not traced):
        print(f"# {args.workload} no operation completed: {failed}/{attempted} failed",
              file=sys.stderr)
        return 1
    if not args.trace:
        values = {"setup_s": setup["session"] + setup["workers"],
                  "rows_per_s": wl.rows_per_op(inp) / common.median([o["wall"] for o in ops]),
                  "peak_rss_mb": peak_mb}
    else:
        spans = {f"{tr.run_id}:{s['span_id']}": s for s in tr.spans}
        by_group = common.eventlog_groups(app_id, set(spans))
        if hasattr(wl, "event_layers"):
            layers.update(wl.event_layers(by_group, spans, traced))
        op_groups = [by_group[g] for g, s in spans.items()
                     if s["name"].startswith(wl.OP_SPANS)]
        layers.update(common.spark_plan_metrics(op_groups, len(traced)))
        layers.update({
            "trace.overhead_s": (common.median([o["wall"] for o in traced])
                                 - common.median([o["wall"] for o in ops])),
            "trace.spans": len(tr.spans),
            "cache.persisted_rdds_left": sum(o.get("rdds_left", 0) for o in checked),
            "setup.session_s": setup["session"],
            "setup.workers_s": setup["workers"],
            "host.cpu_probe_before": cpu_before,
            "host.cpu_probe_after": bench.cpu_probe(),
        })
        tr.write(os.path.join(common.DATA, "traces",
                              f"{args.workload}-s{args.seed}-{tr.run_id}.json"),
                 {"workload": args.workload, "seed": args.seed, "layers": layers})
        values = layers
    units = common.declared()["per_layer" if args.trace else "end_to_end"]
    if set(values) - set(units):
        raise SystemExit(f"metrics missing from BENCHMARK.json: {sorted(set(values) - set(units))}")
    # a layer the workload bypasses reads 0
    metrics = {k: (values.get(k, 0.0), u) for k, u in units.items()}

    for k, (v, u) in sorted(metrics.items()):
        print(f"# {args.workload} {k} = {v:.6g} {u}")
    if hasattr(wl, "notes"):
        for line in wl.notes(ops, inp):
            print(f"# {args.workload} {line}")
    print(f"# {args.workload} failed_frac = {failed}/{attempted}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
