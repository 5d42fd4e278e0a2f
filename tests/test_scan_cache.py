"""Focused tests for the r16 metadata-relation memos (scan.py):
``read_cached`` (immutable single-file fixtures, stat-keyed) and
``read_store`` (store DIRECTORIES, listing-keyed so appends and
overwrites — which always change the part-file set — can never serve
a stale relation).  Metadata only: both return unexecuted plans, so
the assertions check (a) memo hits return the SAME DataFrame object,
(b) any change to the underlying files yields a FRESH relation whose
action sees the new data."""

import os

import pytest

from harbourbridge_spark.scan import read_cached, read_store


@pytest.fixture()
def docs_dir(tmp_path, spark):
    p = str(tmp_path / "store")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string") \
        .coalesce(1).write.parquet(p)
    return p


def test_read_store_memo_hit_same_object(spark, docs_dir):
    a = read_store(spark, docs_dir)
    b = read_store(spark, docs_dir)
    assert a is b
    assert a.count() == 2


def test_read_store_append_invalidates(spark, docs_dir):
    before = read_store(spark, docs_dir)
    assert before.count() == 2
    spark.createDataFrame([(3, "c")], "id long, v string") \
        .coalesce(1).write.mode("append").parquet(docs_dir)
    after = read_store(spark, docs_dir)
    assert after is not before
    assert after.count() == 3


def test_read_store_overwrite_invalidates(spark, docs_dir):
    before = read_store(spark, docs_dir)
    assert before.count() == 2
    spark.createDataFrame([(9, "z")], "id long, v string") \
        .coalesce(1).write.mode("overwrite").parquet(docs_dir)
    after = read_store(spark, docs_dir)
    assert after is not before
    assert [r.id for r in after.collect()] == [9]


def test_read_store_missing_path_falls_through(spark, tmp_path):
    # nonexistent path: no memo entry, plain reader error surfaces
    from pyspark.errors import AnalysisException
    with pytest.raises(AnalysisException):
        read_store(spark, str(tmp_path / "nope")).count()


def test_read_cached_rewrite_invalidates(spark, tmp_path):
    d = str(tmp_path / "one")
    spark.createDataFrame([(1,)], "id long").coalesce(1) \
        .write.parquet(d)
    f = [os.path.join(d, n) for n in os.listdir(d)
         if n.endswith(".parquet")][0]
    a = read_cached(spark, f)
    assert a is read_cached(spark, f)
    assert a.count() == 1
    # rewrite the file bytes (mtime_ns + size key must change)
    d2 = str(tmp_path / "two")
    spark.createDataFrame([(1,), (2,)], "id long").coalesce(1) \
        .write.parquet(d2)
    f2 = [os.path.join(d2, n) for n in os.listdir(d2)
          if n.endswith(".parquet")][0]
    os.replace(f2, f)
    for n in os.listdir(d):    # stale Hadoop .crc sidecars
        if n.endswith(".crc"):
            os.remove(os.path.join(d, n))
    b = read_cached(spark, f)
    assert b is not a
    assert b.count() == 2


def test_row_groups_retries_a_failed_footer_read(tmp_path, monkeypatch):
    """A transient footer-read failure answers None (no spread) but is
    not memoized: the next call reads the footer again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from harbourbridge_spark import scan

    f = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": list(range(10))}), f,
                   row_group_size=4)
    real = pq.ParquetFile

    def flaky(*a, **k):
        raise OSError("transient read failure")

    monkeypatch.setattr(pq, "ParquetFile", flaky)
    assert scan._row_groups(f) is None
    monkeypatch.setattr(pq, "ParquetFile", real)
    assert scan._row_groups(f) == 3


def test_scan_splits_bounded_by_byte_range_arithmetic(spark, tmp_path):
    """A many-row-group parquet file under maxPartitionBytes is one
    byte-range split: the estimate is the scan's real partition count
    (not the row-group sum), so ``_spread_ids`` spreads it ahead of the
    Python kernel."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from harbourbridge_spark import scan
    from harbourbridge_spark.pipeline.multimodal import _spread_ids

    f = str(tmp_path / "ids.parquet")
    pq.write_table(pa.table({"media_id": list(range(200_000))}), f,
                   row_group_size=10_000)
    assert scan._row_groups(f) == 20
    ids = spark.read.parquet(f)
    real = ids.rdd.getNumPartitions()
    assert scan.scan_splits(ids) == real
    assert real < spark.sparkContext.defaultParallelism
    plan = _spread_ids(ids)._jdf.queryExecution().optimizedPlan()
    assert "Repartition" in plan.toString()


@pytest.mark.parametrize("max_bytes,open_cost", [
    (None, None), ("64k", "8k"), ("20k", "0")])
def test_text_splits_match_spark_file_partitions(spark, tmp_path,
                                                 max_bytes, open_cost):
    """``file_splits`` over ``text_sizes`` reproduces the partition
    count of Spark's own file scan for single files and part-file
    directories."""
    from harbourbridge_spark.scan import file_splits, text_sizes

    line = "x" * 99 + "\n"
    single = tmp_path / "one.tsv"
    single.write_text(line * 3000)                 # 300 kB
    parts = tmp_path / "parts"
    parts.mkdir()
    for i, n in enumerate((10, 700, 1500, 40, 0)):
        (parts / f"part-{i:05d}.txt").write_text(line * n)
    (parts / "_SUCCESS").write_text("")
    confs = {"spark.sql.files.maxPartitionBytes": max_bytes,
             "spark.sql.files.openCostInBytes": open_cost}
    try:
        for k, v in confs.items():
            if v is not None:
                spark.conf.set(k, v)
        for path in (str(single), str(parts)):
            assert file_splits(spark, text_sizes(path)) == \
                spark.read.text(path).rdd.getNumPartitions(), path
    finally:
        for k in confs:
            spark.conf.unset(k)


@pytest.mark.parametrize("n", [0, 1, 3, 9])
def test_descriptor_frame_one_partition_per_row_no_exchange(spark, n):
    """createDataFrame(list) yields defaultParallelism slices whatever
    the row count; descriptor_frame yields one per row (one for none)
    without the round-robin exchange a repartition would plan."""
    from harbourbridge_spark.scan import descriptor_frame

    rows = [(f"p{i}", i, i * 10) for i in range(n)]
    df = descriptor_frame(spark, rows, "path string, start long, end long")
    assert df.rdd.getNumPartitions() == max(n, 1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert sorted(map(tuple, df.collect())) == rows
    parts = df.rdd.glom().map(len).collect()
    assert parts == [1] * n or (n == 0 and parts == [0])
