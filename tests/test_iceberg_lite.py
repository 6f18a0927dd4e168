"""Iceberg-lite: atomic partition commits, lineage, idempotent resume
(kill/rerun → identical committed output — north_rule)."""

import os

from pyspark.sql import functions as F

from osm_read_enhanced_spark.sources import iceberg_lite as il


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("bucket"), (F.col("id") * 2).alias("v")
    )


def test_write_read_roundtrip(spark, tmp_path):
    table = str(tmp_path / "t1")
    recs = il.write_partitioned(_df(spark, 0, 100), table, "bucket")
    assert len(recs) == 4
    assert sorted(il.committed_partition_ids(table)) == ["0", "1", "2", "3"]
    back = il.read_table(spark, table)
    assert back.count() == 100
    assert back.agg(F.sum("v")).collect()[0][0] == sum(i * 2 for i in range(100))


def test_resume_skips_committed(spark, tmp_path):
    table = str(tmp_path / "t2")
    df = _df(spark, 0, 40)
    # simulate a mid-run kill: only partitions 0,1 committed
    il.write_partition(df.filter("bucket = 0").drop("bucket"), table, "0")
    il.write_partition(df.filter("bucket = 1").drop("bucket"), table, "1")
    manifest_before = il.read_manifest(table)
    # rerun the full job with resume
    recs = il.write_partitioned(df, table, "bucket", resume=True)
    assert sorted(r["partition"] for r in recs) == ["2", "3"]  # only the missing two
    manifest_after = il.read_manifest(table)
    # previously committed partitions untouched (same files, same counts)
    for pid in ("0", "1"):
        assert manifest_after["partitions"][pid] == manifest_before["partitions"][pid]
    assert il.read_table(spark, table).count() == 40


def test_write_partition_idempotent(spark, tmp_path):
    table = str(tmp_path / "t3")
    df = _df(spark, 0, 10).drop("bucket")
    r1 = il.write_partition(df, table, "p0")
    r2 = il.write_partition(df, table, "p0")  # no-op
    assert r1 == r2
    assert len(il.read_manifest(table)["snapshots"]) == 1


def test_write_partition_empty_frame(spark, tmp_path):
    """An empty partition commits a schema-only file and reads back
    empty."""
    table = str(tmp_path / "t3e")
    rec = il.write_partition(spark.range(0), table, "e")
    assert rec["row_count"] == rec["observed_rows"] == 0
    assert len(rec["files"]) == 1
    assert il.read_table(spark, table).count() == 0


def test_lineage_metrics(spark, tmp_path):
    table = str(tmp_path / "t4")
    il.write_partitioned(_df(spark, 0, 100), table, "bucket")
    lin = il.lineage_df(spark, table)
    rows = {r.partition: r.row_count for r in lin.collect()}
    assert rows == {"0": 25, "1": 25, "2": 25, "3": 25}
    assert all(r.wall_ms >= 0 for r in lin.collect())
    # df.observe lineage (SURVEY §2.6 A4): the rows observed flowing
    # through the write plan must equal the rows on disk
    assert all(r.observed_rows == r.row_count for r in lin.collect())


def test_uncommitted_tmp_invisible(spark, tmp_path):
    table = str(tmp_path / "t5")
    il.write_partition(_df(spark, 0, 10).drop("bucket"), table, "a")
    # a crashed writer leaves a tmp dir behind — reader must ignore it
    os.makedirs(os.path.join(table, "_tmp-b-deadbeef"))
    assert il.read_table(spark, table).count() == 10


def test_snapshot_time_travel(spark, tmp_path):
    """as_of_snapshot reads the table as committed through that
    snapshot id; later commits are invisible; unknown ids raise."""
    import pytest

    table = str(tmp_path / "t6")
    il.write_partition(_df(spark, 0, 10).drop("bucket"), table, "a")
    il.write_partition(_df(spark, 100, 120).drop("bucket"), table, "b")
    il.write_partition(_df(spark, 200, 230).drop("bucket"), table, "c")
    assert il.read_table(spark, table).count() == 60
    assert il.read_table(spark, table, as_of_snapshot=1).count() == 10
    assert il.read_table(spark, table, as_of_snapshot=2).count() == 30
    assert il.read_table(spark, table, as_of_snapshot=3).count() == 60
    snap2_ids = {
        r.id for r in il.read_table(spark, table, as_of_snapshot=2).collect()
    }
    assert snap2_ids == set(range(0, 10)) | set(range(100, 120))
    with pytest.raises(ValueError, match="unknown snapshot"):
        il.read_table(spark, table, as_of_snapshot=99)


def test_null_partition_values_raise_before_writing(spark, tmp_path):
    """Rows whose partition value is null cannot be committed to any
    partition: the call names table, column and null-row count and
    writes nothing."""
    import pytest

    table = str(tmp_path / "t7")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id long, k string"
    )
    with pytest.raises(ValueError, match=r"t7: 2 rows have a null .* column 'k'"):
        il.write_partitioned(df, table, "k")
    assert il.committed_partition_ids(table) == []
    assert not os.path.exists(table) or os.listdir(table) == []


def _counted_input(spark, n, n_parts, acc):
    """id, k = id % n_parts, plus a column from a mapInArrow stage that
    counts every row it sees. The stage sits on the right of a left
    join, so a filter on ``k`` cannot be pushed through it (the shape of
    the enrichment's PIP side)."""

    def count_rows(batches):
        for b in batches:
            acc.add(b.num_rows)
            yield b

    base = spark.range(n).select("id", (F.col("id") % n_parts).alias("k"))
    seen = base.select("id").mapInArrow(count_rows, "id long").withColumn("seen", F.lit(1))
    return base.join(seen, "id", "left")


def test_write_partitioned_computes_the_plan_once(spark, tmp_path):
    n = 200
    for n_parts in (2, 8):
        acc = spark.sparkContext.accumulator(0)
        recs = il.write_partitioned(
            _counted_input(spark, n, n_parts, acc), str(tmp_path / f"c{n_parts}"), "k"
        )
        assert len(recs) == n_parts
        assert sum(r["row_count"] for r in recs) == n
        assert acc.value == n  # every input row passed the stage exactly once


def test_write_partitioned_job_count_independent_of_partitions(spark, tmp_path):
    sc = spark.sparkContext
    jobs = {}
    try:
        for n_parts in (4, 16):
            group = f"iceberg-lite-jobs-{n_parts}-{tmp_path.name}"
            sc.setJobGroup(group, "job count")
            df = spark.range(320).select("id", (F.col("id") % n_parts).alias("k"))
            il.write_partitioned(df, str(tmp_path / f"j{n_parts}"), "k")
            jobs[n_parts] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs[4] == jobs[16], jobs


def test_partition_values_needing_path_escapes_roundtrip(spark, tmp_path):
    table = str(tmp_path / "t8")
    values = ["x=1", "a:b", "50%", "p q", "07"]
    df = spark.createDataFrame(
        [(i, v, v) for i, v in enumerate(values * 3)], "id long, k string, val string"
    )
    recs = il.write_partitioned(df, table, "k")
    assert sorted(r["partition"] for r in recs) == sorted(values)
    assert all(r["row_count"] == r["observed_rows"] == 3 for r in recs)
    assert il.committed_partition_ids(table) == sorted(values)
    for v in values:
        part = spark.read.parquet(os.path.join(table, f"part={v}"))
        assert [r.val for r in part.collect()] == [v] * 3
    back = il.read_table(spark, table)
    assert back.count() == 15
    assert sorted(r.val for r in back.select("val").distinct().collect()) == sorted(values)


def test_crash_in_commit_loop_resumes_missing_partitions(spark, tmp_path, monkeypatch):
    """A kill inside the commit loop keeps the partitions committed
    before it; the rerun commits exactly the rest, and the staging
    directory the killed run left behind stays invisible."""
    import glob

    import pytest

    table = str(tmp_path / "t9")
    df = _df(spark, 0, 40)
    real_write = il._write_manifest_atomic
    calls = []

    def failing_write(table_path, manifest):
        calls.append(1)
        if len(calls) == 2:
            raise OSError("killed during the 2nd manifest write")
        real_write(table_path, manifest)

    monkeypatch.setattr(il, "_write_manifest_atomic", failing_write)
    with pytest.raises(OSError, match="2nd manifest write"):
        il.write_partitioned(df, table, "bucket")
    monkeypatch.setattr(il, "_write_manifest_atomic", real_write)
    assert il.committed_partition_ids(table) == ["0"]
    leftover = glob.glob(os.path.join(table, "_tmp-*"))
    assert leftover
    recs = il.write_partitioned(df, table, "bucket")
    assert [r["partition"] for r in recs] == ["1", "2", "3"]
    assert glob.glob(os.path.join(table, "_tmp-*")) == leftover
    back = il.read_table(spark, table)
    assert back.count() == 40
    assert sorted(r.id for r in back.collect()) == list(range(40))


def test_crash_in_staged_write_commits_nothing(spark, tmp_path, monkeypatch):
    """A kill between the staged write and the first commit leaves the
    manifest untouched; the rerun commits every partition."""
    import pytest

    table = str(tmp_path / "t10")
    df = _df(spark, 0, 40)

    def killed(stage_dir):
        raise OSError("killed after the staged write")

    monkeypatch.setattr(il, "_staged_dirs", killed)
    with pytest.raises(OSError, match="staged write"):
        il.write_partitioned(df, table, "bucket")
    monkeypatch.undo()
    assert il.committed_partition_ids(table) == []
    recs = il.write_partitioned(df, table, "bucket")
    assert [r["partition"] for r in recs] == ["0", "1", "2", "3"]
    assert il.read_table(spark, table).count() == 40
