"""Table IO: Iceberg when the runtime is present, parquet otherwise, and
the one way the driver hands Spark a small table it built itself.

The input-hint table is an Iceberg table of image+caption rows at
10^12-image scale; this sandbox has no Iceberg runtime jar, so every
reader/writer goes through one seam that probes for it and falls back
to parquet with the identical schema and partitioning. (Reference
analogue: raster-tools/src/utils.rs:19-58 read_dataset /
create_output_raster.)
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def local_table(spark: SparkSession, data, schema: StructType | str | None = None
                ) -> DataFrame:
    """A small driver-built table as a DataFrame: ``data`` is a list of
    row tuples or a pandas frame, ``schema`` a StructType or DDL string
    (a pandas frame may omit it, and keeps the types Arrow infers).

    The rows go to Spark as one ``pyarrow.Table``, which plans as a
    ``LocalTableScan`` whatever ``spark.sql.execution.arrow.pyspark.enabled``
    says. ``createDataFrame`` on a list, or on a pandas frame with that
    setting off, plans as a Python RDD instead: a Python task per slice
    every time the table is read, and a broadcast of it costs a job of
    such tasks."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = None if schema is None else to_arrow_schema(schema)
    if isinstance(data, pd.DataFrame):
        table = pa.Table.from_pandas(data, schema=arrow_schema,
                                     preserve_index=False)
    else:
        if arrow_schema is None:
            raise ValueError("local_table: row tuples need a schema")
        columns = list(zip(*data)) or [()] * len(arrow_schema)
        table = pa.table([pa.array(c, type=f.type)
                          for c, f in zip(columns, arrow_schema)],
                         schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog/runtime is usable in this session."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, location: str, fmt: str | None = None) -> DataFrame:
    """Read a table by location. ``iceberg:<name>`` targets a catalog
    table when the runtime exists; anything else is a parquet path."""
    if location.startswith("iceberg:"):
        name = location.split(":", 1)[1]
        if iceberg_available(spark):
            return spark.read.format("iceberg").load(name)
        raise RuntimeError(
            "iceberg runtime not on the classpath; use a parquet path "
            "or add iceberg-spark-runtime to spark.jars")
    return spark.read.parquet(location)


def write_images(df: DataFrame, location: str, partition_buckets: int = 256,
                 mode: str = "overwrite") -> None:
    """Write an image table for 100 TB-scale reads.

    Layout decisions that matter at scale:
    - bucket rows by image_id hash into a bounded file count per write
      (avoids both tiny-file explosions and skewed giant files);
    - parquet with the default columnar compression: the ``bytes``
      payload dominates, and scan-time column pruning means metadata
      queries (w, h, fmt, phash, caption) never touch it.
    With Iceberg available the same frame writes to a bucket-partitioned
    table so planning prunes by bucket.
    """
    spark = df.sparkSession
    if location.startswith("iceberg:") and iceberg_available(spark):
        name = location.split(":", 1)[1]
        df.writeTo(name).using("iceberg").createOrReplace()
        return
    from pyspark.sql import functions as F
    (df.repartition(partition_buckets, F.col("image_id"))
       .write.mode(mode).parquet(location))


def write_images_bucketed(df: DataFrame, table: str, buckets: int = 64,
                          key: str = "image_id") -> None:
    """Persist an image table bucketed+sorted by ``key`` (saveAsTable):
    equi-joins between tables bucketed the same way need NO shuffle on
    either side — the lever for repeated pair joins (diff A vs B epochs)
    at 10^12 rows. Verified shuffle-free in tests."""
    (df.write.mode("overwrite").format("parquet")
       .bucketBy(buckets, key).sortBy(key).saveAsTable(table))


def write_tiles(df: DataFrame, location: str, mode: str = "overwrite",
                order: str = "rowmajor", hilbert_bits: int = 16) -> None:
    """Tile pyramid sink: partition by zoom so per-zoom reads prune to
    one directory, range-partition tile keys within each zoom so a
    z/x/y lookup touches few files (S9/S11 analogue).

    ``order``: 'rowmajor' ranges on (z, y, x); 'hilbert' ranges on the
    Hilbert-curve key of (x, y) — consecutive keys are always adjacent
    tiles, so a contiguous key range (one parquet file) is a compact
    2-D blob rather than full-width stripes: better file locality for
    bbox reads at planet scale."""
    if order == "hilbert":
        from ..operators.celljoin import with_hilbert
        keyed = with_hilbert(df, "x", "y", bits=hilbert_bits, out="_hkey")
        (keyed.repartitionByRange("z", "_hkey").drop("_hkey")
              .write.mode(mode).partitionBy("z").parquet(location))
        return
    (df.repartitionByRange("z", "y", "x")
       .write.mode(mode).partitionBy("z").parquet(location))
