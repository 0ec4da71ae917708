"""sources.io.read_table takes a parquet table's schema from one data
file's footer, read on the driver: the schema and rows of
``spark.read.parquet``, without the one-task job its inference runs."""

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rasters_rs_spark.sources.io import read_table

MERGE = "spark.sql.parquet.mergeSchema"


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    group = f"read_table_test.{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_parity(spark, path: str) -> None:
    got, jobs = _jobs(spark, lambda: read_table(spark, path))
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert jobs == 0


def test_read_table_testdata(spark, sf_dir):
    root = Path(sf_dir).parent / "sf0.01"
    tables = sorted(root.glob("*.parquet"))
    if not tables:
        pytest.skip(f"no parquet tables under {root}")
    for t in tables:
        _assert_parity(spark, str(t))


def _bench_types(n: int, lo: int = 0) -> pa.Table:
    ids = range(lo, lo + n)
    return pa.table({
        "s": pa.array([f"r{i}" for i in ids], pa.string()),
        "b": pa.array([bytes([i % 256]) * 3 for i in ids], pa.binary()),
        "i": pa.array([i if i % 5 else None for i in ids], pa.int32()),
        "l": pa.array(list(ids), pa.int64()),
        "d": pa.array([i / 7 for i in ids], pa.float64()),
        "ld": pa.array([[i / 3, float(i)] for i in ids], pa.list_(pa.float64())),
        "li": pa.array([[i, -i] if i % 3 else None for i in ids],
                       pa.list_(pa.int32())),
    })


def test_read_table_pyarrow_directory(spark, tmp_path):
    """Several pyarrow-written files plus the hidden and marker files a
    writer leaves next to them."""
    for f in range(3):
        pq.write_table(_bench_types(20, 20 * f), tmp_path / f"part-{f}.parquet")
    (tmp_path / "_SUCCESS").write_bytes(b"")
    (tmp_path / ".part-9.parquet").write_bytes(b"not parquet")
    _assert_parity(spark, str(tmp_path))


def test_read_table_single_file(spark, tmp_path):
    path = tmp_path / "one.parquet"
    pq.write_table(_bench_types(30), path)
    _assert_parity(spark, str(path))


def test_read_table_partitioned(spark, tmp_path):
    """A Spark ``partitionBy`` directory: the partition column is found
    from the ``k=v`` directories and appended, as inference does."""
    path = str(tmp_path / "parts")
    spark.range(40).selectExpr("id", "cast(id % 3 as int) as z",
                               "array(id * 0.5d) as v") \
        .write.partitionBy("z").parquet(path)
    _assert_parity(spark, path)
    assert read_table(spark, path).columns == ["id", "v", "z"]


def test_read_table_merge_schema(spark, tmp_path):
    """With mergeSchema on, every file's footer counts: the read infers
    as Spark does, and the merged schema has both files' columns."""
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}),
                   tmp_path / "part-0.parquet")
    pq.write_table(pa.table({"a": [3], "c": [1.5]}),
                   tmp_path / "part-1.parquet")
    before = spark.conf.get(MERGE)
    spark.conf.set(MERGE, "true")
    try:
        got = read_table(spark, str(tmp_path))
        want = spark.read.parquet(str(tmp_path))
        assert got.schema == want.schema
        assert sorted(got.columns) == ["a", "b", "c"]
        assert sorted(map(tuple, got.select("a", "b", "c").collect()),
                      key=lambda r: r[0]) == [(1, "x", None), (2, "y", None),
                                              (3, None, 1.5)]
    finally:
        spark.conf.set(MERGE, before)
