"""Iceberg-lite: snapshot-committed Parquet tables with per-partition
lineage + idempotent resume (SURVEY.md §7 Phase 5).

No Iceberg/Delta jars exist in this Spark distribution (SURVEY.md env
facts), so snapshot semantics are emulated over plain Parquet with an
atomic JSON manifest — the layout stays Iceberg-shaped (partition dirs
+ manifest listing committed partitions + snapshot log) so a real
Iceberg catalog could be swapped in on a cluster that has the jars.

Semantics provided (north_rule):
- write_partitioned: one staged write, then per-partition atomic
  commits. Every pending partition is written by ONE
  ``partitionBy`` action into a ``_tmp-<uuid>`` staging directory (the
  input plan runs once per call, not once per partition); each staged
  partition directory is then atomically renamed to ``part=<id>`` and
  its manifest record {files, row_count, observed_rows, wall_ms}
  written (JSON, atomic rename). ``wall_ms`` includes the staged-write
  wall the partitions of one call share.
- resume: a re-run skips the partitions the manifest lists and commits
  only the rest — kill/rerun yields byte-identical committed output.
  Granularity: a kill during the staged write commits nothing from that
  run; a kill inside the commit loop keeps the partitions already
  committed. Either way the rerun commits exactly the missing ones.
- snapshots: every commit appends a snapshot entry; ``read_table``
  reads only committed partitions as of the latest snapshot.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_manifest.json"


def _manifest_path(table_path: str) -> str:
    return os.path.join(table_path, MANIFEST)


def read_manifest(table_path: str) -> dict:
    p = _manifest_path(table_path)
    if not os.path.exists(p):
        return {"table": table_path, "snapshots": [], "partitions": {}}
    with open(p) as f:
        return json.load(f)


def _write_manifest_atomic(table_path: str, manifest: dict) -> None:
    tmp = _manifest_path(table_path) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(table_path))  # atomic on POSIX


class _manifest_lock:
    """Serialize manifest read-modify-write across concurrent committers
    (two writers committing different partitions must not lose each
    other's commit record).

    Kernel-mediated ``fcntl.flock`` on a persistent lock file: a holder
    that dies mid-commit (the exact kill/rerun scenario this module
    resumes from) has its lock released by the kernel automatically, so
    there is no staleness heuristic and therefore no stale-break race —
    two waiters can never delete each other's fresh lock, because the
    lock file itself is never unlinked. A leftover ``.lock`` file from a
    dead run is inert (the flock died with the process)."""

    def __init__(self, table_path: str, timeout_s: float = 30.0):
        self.path = _manifest_path(table_path) + ".lock"
        self.timeout_s = timeout_s
        self._fd: int | None = None

    def __enter__(self):
        import fcntl

        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        fd = os.open(self.path, os.O_CREAT | os.O_RDWR, 0o644)
        deadline = time.time() + self.timeout_s
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError:
                if time.time() > deadline:
                    os.close(fd)
                    raise TimeoutError(f"manifest lock held too long: {self.path}")
                time.sleep(0.05)
        try:  # holder breadcrumb for debugging only — never read back
            os.ftruncate(fd, 0)
            os.write(fd, f"{os.getpid()} {time.time()}".encode())
        except OSError:
            pass
        self._fd = fd
        return self

    def __exit__(self, *exc):
        import fcntl

        if self._fd is not None:
            fcntl.flock(self._fd, fcntl.LOCK_UN)
            os.close(self._fd)
            self._fd = None
        return False


def committed_partition_ids(table_path: str) -> list:
    return sorted(read_manifest(table_path)["partitions"].keys())


def _data_files(part_dir: str) -> list[str]:
    return sorted(f for f in os.listdir(part_dir) if f.endswith(".parquet"))


# Spark writes a partition value into its directory name with every
# reserved character as %XX (``%`` itself included)
_ESCAPED = re.compile(r"%([0-9A-F]{2})")


def _staged_dirs(stage_dir: str) -> dict[str, str]:
    """partition value → its directory in a ``partitionBy`` write of one
    column (names listed and unescaped, never rebuilt from the value)."""
    out = {}
    for name in os.listdir(stage_dir):
        _, eq, value = name.partition("=")  # a literal '=' is escaped
        if eq:
            out[_ESCAPED.sub(lambda m: chr(int(m.group(1), 16)), value)] = (
                os.path.join(stage_dir, name))
    return out


def _stage_and_commit(
    df: DataFrame, table_path: str, key_col: str, pending: list[str]
) -> list[dict]:
    """Write every ``pending`` value of the string column ``key_col`` in
    one staged ``partitionBy`` action, then commit each partition
    atomically, in ``pending`` order. Returns the lineage records.

    Per-partition metrics land via ``df.observe`` (SURVEY §2.6 A4): the
    write action itself reports the rows of each partition that flowed
    through the plan (``observed_rows``), cross-checked against the rows
    in the staged files' Parquet footers (``row_count``) before anything
    is committed — a mismatch means files were dropped/duplicated
    between plan and disk."""
    import pyarrow.parquet as pq

    os.makedirs(table_path, exist_ok=True)
    stage_dir = os.path.join(table_path, f"_tmp-{uuid.uuid4().hex}")
    t0 = time.time()
    obs = Observation()
    df.observe(
        obs,
        *[F.count_if(F.col(key_col) == p).alias(f"rows_{i}") for i, p in enumerate(pending)],
    ).write.partitionBy(key_col).mode("overwrite").parquet(stage_dir)
    observed = [obs.get[f"rows_{i}"] for i in range(len(pending))]
    staged = _staged_dirs(stage_dir)
    for i, p in enumerate(pending):
        if p not in staged:  # no rows, so no directory: stage a schema-only file
            staged[p] = os.path.join(stage_dir, f"_empty-{i}")
            df.drop(key_col).limit(0).write.parquet(staged[p])
    row_counts = [
        sum(pq.read_metadata(os.path.join(staged[p], f)).num_rows
            for f in _data_files(staged[p]))
        for p in pending
    ]
    for p, seen, rows in zip(pending, observed, row_counts):
        if seen != rows:  # pragma: no cover - corruption guard
            raise ValueError(
                f"{table_path} part={p}: observed {seen} rows "
                f"in the write plan but {rows} on disk"
            )
    stage_s = time.time() - t0
    records = []
    for p, seen, rows in zip(pending, observed, row_counts):
        t1 = time.time()
        final_dir = os.path.join(table_path, f"part={p}")
        if os.path.exists(final_dir):
            shutil.rmtree(final_dir)
        os.replace(staged[p], final_dir)
        record = {
            "partition": p,
            "row_count": rows,
            "observed_rows": seen,
            "wall_ms": int((stage_s + time.time() - t1) * 1000),
            "files": _data_files(final_dir),
        }
        with _manifest_lock(table_path):
            manifest = read_manifest(table_path)  # re-read under the lock
            manifest["partitions"][p] = record
            manifest["snapshots"].append(
                {
                    "snapshot_id": len(manifest["snapshots"]) + 1,
                    "committed": p,
                    "ts_ms": int(time.time() * 1000),
                }
            )
            _write_manifest_atomic(table_path, manifest)
        records.append(record)
    shutil.rmtree(stage_dir)
    return records


def write_partition(df: DataFrame, table_path: str, partition_id: str) -> dict:
    """Write one logical partition atomically; idempotent (already
    committed → no-op). Returns the lineage record."""
    committed = read_manifest(table_path)["partitions"]
    if partition_id in committed:
        return committed[partition_id]
    key = "_iceberg_lite_partition"
    (record,) = _stage_and_commit(
        df.withColumn(key, F.lit(partition_id)), table_path, key, [partition_id]
    )
    return record


def write_partitioned(
    df: DataFrame,
    table_path: str,
    partition_col: str,
    resume: bool = True,
) -> list[dict]:
    """Commit each distinct value of ``partition_col`` as one atomic
    partition, id = the value cast to string. With ``resume=True``,
    already-committed partitions are skipped — the idempotent-resume
    path of the north rule; with ``resume=False`` their manifest records
    are returned alongside the new ones.

    One cheap ``distinct`` job lists the values (it reads only the
    columns ``partition_col`` derives from), then one staged write
    commits every value the manifest does not list yet. A null value
    raises before anything is written."""
    key = F.col(partition_col).cast("string")
    # distinct over the bare column, so the optimizer drops outer joins
    # that do not feed it (the enrichment's PIP side); ordered on the
    # driver, which costs no range-partitioning jobs
    values = df.select(partition_col).distinct().select(partition_col, key).collect()
    if any(v is None for v, _ in values):
        n_null = df.filter(F.col(partition_col).isNull()).count()
        raise ValueError(
            f"{table_path}: {n_null} rows have a null partition value in "
            f"column {partition_col!r}"
        )
    pids = [pid for _, pid in sorted(values)]
    done = read_manifest(table_path)["partitions"]
    pending = [p for p in pids if p not in done]
    records = []
    if pending:
        keyed = df.withColumn(partition_col, key)
        if len(pending) < len(pids):
            keyed = keyed.filter(F.col(partition_col).isin(pending))
        records = _stage_and_commit(keyed, table_path, partition_col, pending)
    if resume:
        return records
    committed = read_manifest(table_path)["partitions"]
    return [committed[p] for p in pids]


def read_table(
    spark: SparkSession, table_path: str, as_of_snapshot: int | None = None
) -> DataFrame:
    """Read only committed partitions (manifest-driven; uncommitted tmp
    dirs are invisible).

    ``as_of_snapshot`` = time travel over the snapshot log: read the
    table as it stood after that snapshot id — only partitions whose
    commit snapshot is ≤ the requested id are visible. Honest scope
    (documented deviation from full Iceberg): partition visibility is
    versioned; a partition RE-committed later reads its current files
    (data files are not retained per-snapshot).
    """
    manifest = read_manifest(table_path)
    if as_of_snapshot is None:
        parts = sorted(manifest["partitions"].keys())
    else:
        known = {s["snapshot_id"] for s in manifest["snapshots"]}
        if as_of_snapshot not in known:
            raise ValueError(
                f"{table_path}: unknown snapshot {as_of_snapshot} (have {sorted(known)})"
            )
        parts = sorted(
            {
                str(s["committed"])
                for s in manifest["snapshots"]
                if s["snapshot_id"] <= as_of_snapshot
            }
            & set(manifest["partitions"].keys())
        )
    if not parts:
        raise ValueError(f"{table_path}: no committed partitions")
    paths = [os.path.join(table_path, f"part={p}") for p in parts]
    return spark.read.option("basePath", table_path).parquet(*paths)


def lineage_df(spark: SparkSession, table_path: str) -> DataFrame:
    """Per-partition lineage/metrics as a DataFrame (the checkpoint
    metrics table of the north rule)."""
    manifest = read_manifest(table_path)
    rows = [
        (
            r["partition"],
            r["row_count"],
            r.get("observed_rows", r["row_count"]),
            r["wall_ms"],
            ",".join(r["files"]),
        )
        for r in manifest["partitions"].values()
    ]
    return spark.createDataFrame(
        rows,
        "partition string, row_count long, observed_rows long, wall_ms long, files string",
    )
