"""rasters_rs_spark: a PySpark-native spatial-join + tiling engine.

From-scratch re-expression of the query and data-processing capabilities
of AspecScire/rasters.rs on the Spark DataFrame API: chunk planning,
affine alignment joins, zonal statistics via cell-keyed point-in-polygon
joins, web-mercator tiling with fractional-area resampling and a
quantized tile codec, k-ring kNN interpolation, plus the training-data
pipeline layer (dedup, similarity search, text analysis, multimodal
plumbing) that a 100 TB image+caption corpus needs.
"""

import sys

__version__ = "0.1.0"

# Unpickling an engine UDF that refers to any of the package's modules
# or functions imports this package inside the Python worker; install
# the lazy zip invalidation and the one-time heap freeze there (see
# zipcache.py). The driver never has pyspark.worker loaded.
if "pyspark.worker" in sys.modules:
    from rasters_rs_spark import zipcache

    zipcache.install()
