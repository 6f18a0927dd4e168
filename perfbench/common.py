"""Shared benchmark machinery: the pinned Spark session, set-up timing,
a process-tree memory sampler, in-memory spans, and the Spark event-log
reader used by traced runs."""

from __future__ import annotations

import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the checkout the benchmark measures
DATA = os.path.join(HERE, ".data")

CORES = len(os.sched_getaffinity(0))
# get_spark defaults to a 24g driver; the benchmark host has 15 GB. The
# heap is fixed (-Xms = -Xmx): a growable heap settles anywhere between
# 1.3 and 1.9 GB resident from run to run, which would swamp
# peak_rss_mb. Heap use shows in the traced run instead, as the peaks
# of Spark-managed execution and storage memory and as spark.jvm_gc_s
# (used heap itself fills the fixed heap between collections, so its
# peak reads the heap size).
DRIVER_MEMORY = "2g"


def declared() -> dict[str, dict[str, str]]:
    """The metrics BENCHMARK.json declares, with their units:
    {"end_to_end": {name: unit}, "per_layer": {name: unit}}."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout's data directory; start from empty scratch space."""
    for d in ("tmp", "work"):
        shutil.rmtree(os.path.join(DATA, d), ignore_errors=True)
    for d in ("tmp", "work", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(DATA, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(DATA, "tmp")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(DATA, 'tmp')} -XX:-UsePerfData")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(DATA, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", "python3")
    os.chdir(ROOT)


def session_conf(eventlog: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(DATA, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(DATA, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
        # per-task peaks of the executor's memory metrics, in TaskEnd events
        conf["spark.executor.metrics.pollingInterval"] = "100ms"
    return conf


def start_session(eventlog: bool):
    """The set-up: ``get_spark`` (launching the JVM) → first job → one
    Python task per slot importing the kernels the workloads call, so
    every reused worker is up before timing. Returns the session and the
    walls of its two parts."""
    from osm_read_enhanced_spark.session import get_spark

    def touch(it):
        from osm_read_enhanced_spark.functions import h3core, pip, s2  # noqa: F401
        from osm_read_enhanced_spark.sources.pbf import columnar  # noqa: F401

        yield from it

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=CORES, extra_conf=session_conf(eventlog))
    spark.range(1000).selectExpr("sum(id)").collect()
    t1 = time.perf_counter()
    df = spark.range(0, CORES, numPartitions=CORES)
    df.mapInPandas(touch, df.schema).collect()
    return spark, {"session": t1 - t0, "workers": time.perf_counter() - t1}


def stop_all(grace_s: float = 30.0) -> None:
    """Stop the Spark session, its JVM and every process this one
    started, and wait until each has ended. Safe to call more than once
    and with no session started.

    ``SparkSession.stop`` leaves the gateway JVM running until it reads
    EOF on its stdin, which happens only when this process exits; so the
    JVM is told to exit here and waited for, and whatever else is still
    running below this process (Python workers, their daemon) is
    terminated and waited for."""
    from pyspark import SparkContext

    me = os.getpid()
    procs = {p: _start_time(p) for p in _tree(me) if p != me}
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as e:  # noqa: BLE001 - the JVM is stopped below regardless
            log(f"session stop failed: {type(e).__name__}: {e}")
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - a dead gateway has nothing to shut
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if jvm is not None:
        if jvm.stdin:
            jvm.stdin.close()  # the gateway JVM exits on EOF
        try:
            jvm.wait(grace_s)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    procs.update({p: _start_time(p) for p in _tree(me) if p != me})
    for sig, wait_s in ((None, 5.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 60.0)):
        alive = [p for p, t in procs.items() if _alive(p, t)]
        if not alive:
            _reap()
            return
        for p in alive:
            if sig is not None:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline and any(_alive(p, procs[p]) for p in alive):
            _reap()
            time.sleep(0.05)
    log(f"processes still running: {[p for p, t in procs.items() if _alive(p, t)]}")


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts:
    a process whose parent dies (the JVM's launcher shell, Python
    workers) is re-parented here, so ``stop_all`` still sees it and
    reaps it instead of leaving it to init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    """Collect every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat from the state on; [] once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return []


def _start_time(pid: int) -> str:
    st = _stat(pid)
    return st[19] if len(st) > 19 else ""


def _alive(pid: int, start: str) -> bool:
    """The process started at ``start`` still runs (not gone, not a
    zombie, and its pid not reused)."""
    st = _stat(pid)
    return len(st) > 19 and st[0] != "Z" and st[19] == start


def cached(name: str, build):
    """Generate an input once per (workload, seed, size): ``build(path)``
    writes ``path`` and returns a JSON-able summary, stored beside it."""
    path = os.path.join(DATA, "inputs", name)
    meta = path + ".json"
    if not os.path.exists(meta):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        summary = build(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        with open(meta + ".tmp", "w") as f:
            json.dump(summary, f)
        os.replace(meta + ".tmp", meta)
    with open(meta) as f:
        return path, json.load(f)


def clear_cache(spark) -> int:
    """Drop every cached table/RDD an operation left behind; returns how
    many persisted RDDs it found."""
    left = int(spark.sparkContext._jsc.getPersistentRDDs().size())
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    return left


# ---------------------------------------------------------------- memory


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def _tree(root: int) -> dict[int, int | None]:
    """pid → parent pid for ``root`` and all its descendants."""
    parents, todo = {root: None}, [root]
    while todo:
        p = todo.pop()
        for c in _children(p):
            if c not in parents:  # a pid can be read twice while processes come and go
                parents[c] = p
                todo.append(c)
    return parents


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _spawning(pid: int, parent: int | None) -> bool:
    """A JVM child that still runs the JVM image is between fork and
    exec (the JVM starts Python workers and shell commands that way):
    it shares all its parent's pages, so its RSS would count them twice."""
    exe = _exe(pid)
    return parent is not None and os.path.basename(exe) == "java" and exe == _exe(parent)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
    except (OSError, IndexError, ValueError):
        return 0


class MemorySampler:
    """Samples the summed RSS of this process and all its descendants
    (driver Python, JVM, Python workers) in a thread; the peak is the
    largest simultaneous sum seen since ``reset``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_parts: list = []
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            parts = [(p, _rss_kb(p)) for p, parent in _tree(me).items()
                     if not _spawning(p, parent)]
            total = sum(kb for _, kb in parts)
            with self._lock:
                if total > self.peak_kb:
                    self.peak_kb, self.peak_parts = total, parts

    def reset(self):
        with self._lock:
            self.peak_kb, self.peak_parts = 0, []

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def peak_mb(self) -> float:
        with self._lock:
            return self.peak_kb / 1024


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, run id). A disabled
    tracer records nothing and costs one attribute check per span. Each
    span also becomes the Spark job group, so the event log can be split
    by span."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"run_id": self.run_id, "span_id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.spark.sparkContext.setJobGroup(f"{self.run_id}:{sid}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = f"{self.run_id}:{self._stack[-1]}" if self._stack else "untraced"
            self.spark.sparkContext.setJobGroup(parent, parent)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Span duration minus the union of its children's intervals,
        summed per span name."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur = 0.0, None
            for a, b in sorted(kids.get(s["span_id"], [])):
                if cur is None or a > cur[1]:
                    if cur:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur:
                covered += cur[1] - cur[0]
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self.self_times(), **extra}, f, indent=1)


# ---------------------------------------------------------------- event log


def eventlog_groups(app_id: str, groups: set[str]) -> dict[str, dict]:
    """Per job group: jobs, stages and task metrics of the jobs run in
    that group, read from the application's event log (complete once
    the session has stopped)."""
    path = os.path.join(DATA, "eventlog", app_id)
    stage_group: dict[int, str] = {}
    out = {g: {"jobs": 0, "stages": {}} for g in groups}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g in out:
                    out[g]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                tasks = out[g]["stages"].setdefault(ev["Stage ID"], [])
                sr = m.get("Shuffle Read Metrics", {})
                peaks = ev.get("Task Executor Metrics") or {}
                tasks.append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "output": m.get("Output Metrics", {}).get("Bytes Written", 0),
                    "execution": peaks.get("OnHeapExecutionMemory", 0),
                    "storage": peaks.get("OnHeapStorageMemory", 0),
                })
    os.remove(path)
    return out


def plan_s(builders, reps: int) -> float:
    """Driver time from building a DataFrame to its executed (initial
    adaptive) physical plan; nothing is run. Median over ``reps`` calls
    of each zero-argument builder."""
    walls = []
    for build in builders:
        for _ in range(reps):
            t0 = time.perf_counter()
            build()._jdf.queryExecution().executedPlan()
            walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def spark_plan_metrics(groups: list[dict], n_ops: int) -> dict[str, float]:
    """Event-log totals over the given job groups, per operation."""
    stages = [t for g in groups for t in g["stages"].values()]
    tasks = [x for st in stages for x in st]
    skews = []
    for st in stages:
        runs = sorted(x["run_ms"] for x in st)
        if len(runs) >= 2 and runs[-1] >= 50:
            skews.append(runs[-1] / max(statistics.median(runs), 1))
    per = 1.0 / max(n_ops, 1)
    return {
        "spark.jobs": sum(g["jobs"] for g in groups) * per,
        "spark.stages": len(stages) * per,
        "spark.tasks": len(tasks) * per,
        "spark.executor_run_s": sum(x["run_ms"] for x in tasks) / 1e3 * per,
        "spark.executor_cpu_s": sum(x["cpu_ns"] for x in tasks) / 1e9 * per,
        "spark.jvm_gc_s": sum(x["gc_ms"] for x in tasks) / 1e3 * per,
        "spark.shuffle_read_bytes": sum(x["shuffle_read"] for x in tasks) * per,
        "spark.shuffle_write_bytes": sum(x["shuffle_write"] for x in tasks) * per,
        "spark.spill_bytes": sum(x["spill"] for x in tasks) * per,
        "spark.output_bytes": sum(x["output"] for x in tasks) * per,
        "spark.max_task_skew": max(skews, default=1.0),
        "spark.single_task_stages": sum(len(st) == 1 for st in stages) * per,
        "spark.execution_memory_peak_mb": max((x["execution"] for x in tasks), default=0) / 2**20,
        "spark.storage_memory_peak_mb": max((x["storage"] for x in tasks), default=0) / 2**20,
    }


# ---------------------------------------------------------------- stats


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
