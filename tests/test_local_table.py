"""sources.io.local_table: every small table the driver builds reaches
Spark as one pyarrow.Table and plans as a LocalTableScan, never as a
Python RDD (``Scan ExistingRDD``)."""

import re
from pathlib import Path

import pytest

from rasters_rs_spark.functions.scanpar import range_rank
from rasters_rs_spark.operators import multimodal as MM
from rasters_rs_spark.sources.io import local_table

ARROW = "spark.sql.execution.arrow.pyspark.enabled"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("arrow", ["true", "false"])
@pytest.mark.parametrize("rows", [
    [(1, "a", [1.5, 2.0]), (2, "b", [])],
    [],
    [(None, "c", None), (3, None, [0.25])],
], ids=["rows", "empty", "null_int"])
def test_local_table_plans_as_local_scan(spark, arrow, rows):
    before = spark.conf.get(ARROW)
    spark.conf.set(ARROW, arrow)
    try:
        df = local_table(spark, rows, "n int, s string, v array<double>")
        plan = _plan(df)
        got = [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set(ARROW, before)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert df.dtypes == [("n", "int"), ("s", "string"), ("v", "array<double>")]
    assert got == rows


def _scan_of(plan: str, col: str) -> list:
    """The leaf scan nodes of ``plan`` that output ``col``."""
    return re.findall(r"(LocalTableScan|Scan ExistingRDD)[^\n]*\b" + col + "#",
                      plan)


def test_range_rank_offsets_are_a_local_scan(spark):
    df = spark.range(40).selectExpr("id", "id % 3 as g", "(id * 17) % 40 as k")
    ranked, _ = range_rank(df, "k", group="g", partitions=4)
    assert _scan_of(_plan(ranked), "_off") == ["LocalTableScan"]


def test_bucket_batches_nfull_is_a_local_scan(spark):
    df = spark.range(60).selectExpr("id", "cast(id % 4 as int) as b",
                                    "cast((id * 7) % 60 as string) as ord")
    out = MM.bucket_batches(df, batch_size=4, bucket_col="b",
                            order_col="ord", id_col="id")
    assert _scan_of(_plan(out), "_nfull") == ["LocalTableScan"]


def test_create_data_frame_only_in_local_table():
    """Every driver-built table under rasters_rs_spark/ goes through
    sources/io.py::local_table."""
    pkg = Path(__file__).resolve().parents[1] / "rasters_rs_spark"
    hits = [f"{p.relative_to(pkg)}:{i}"
            for p in sorted(pkg.rglob("*.py"))
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if "createDataFrame(" in line]
    assert len(hits) == 1 and hits[0].startswith("sources/io.py:")
