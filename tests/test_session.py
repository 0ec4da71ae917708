"""Session and worker plumbing: the codegen cache holds a multi-operator
pipeline's generated classes, and Python workers re-read a zip
archive's directory only when the archive changed and freeze their heap
once (zipcache.py)."""

import gc
import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_zipcache_rereads_only_changed_archives(tmp_path, monkeypatch):
    """Without Spark: repeated invalidate_caches() leave an unchanged
    archive's directory alone; a rewritten archive is re-read and its
    new module imports after one call. The first call after install
    freezes the heap, and no later call does."""
    from rasters_rs_spark import zipcache

    zp = str(tmp_path / "mods.zip")
    _write_zip(zp, {"zc_mod_a": "X = 1\n"})
    monkeypatch.setattr(sys, "path", [zp] + sys.path)
    for mod in ("zc_mod_a", "zc_mod_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    # restore the stdlib method and drop this archive's state afterwards
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipcache, "_read_stamps", {})
    monkeypatch.setattr(zipimport, "_zip_directory_cache",
                        dict(zipimport._zip_directory_cache))
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    # keep the freeze finder out of this process's meta path and heap
    monkeypatch.setattr(sys, "meta_path", list(sys.meta_path))
    monkeypatch.setattr(zipcache._FreezeAtNextTask, "frozen", False)
    freezes = []
    monkeypatch.setattr(gc, "freeze", lambda: freezes.append(1))
    assert importlib.import_module("zc_mod_a").X == 1

    reads = []
    stdlib_read = zipimport._read_directory

    def counting_read(archive):
        if archive == zp:
            reads.append(archive)
        return stdlib_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    zipcache.install()
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches.__module__ == \
        "rasters_rs_spark.zipcache"
    assert sys.meta_path.count(zipcache._FreezeAtNextTask) == 1
    assert freezes == []
    importlib.invalidate_caches()  # first call per archive: stamp unknown
    assert len(reads) == 1
    assert freezes == [1]
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 1, "unchanged archive was re-read"
    assert freezes == [1]

    _write_zip(zp, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("zc_mod_b").Y == 2
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_zipcache_installed_in_workers_not_driver(spark):
    """Two consecutive Python jobs: inside every worker task the lazy
    invalidate_caches is installed once the engine package is imported,
    and by the second job every worker has frozen its heap; the driver
    keeps the stdlib hook and freezes nothing."""
    def report(batches):
        import gc
        import sys
        import zipimport

        import pandas as pd

        import rasters_rs_spark  # noqa: F401 - as an engine UDF's unpickling does
        for _ in batches:
            pass
        yield pd.DataFrame({
            "in_worker": ["pyspark.worker" in sys.modules],
            "hook": [zipimport.zipimporter.invalidate_caches.__module__],
            "frozen": [gc.get_freeze_count()]})

    df = spark.range(4, numPartitions=4)
    for _ in range(2):
        rows = df.mapInPandas(
            report, "in_worker boolean, hook string, frozen long").collect()
        assert len(rows) == 4
        assert all(r["in_worker"] for r in rows)
        assert {r["hook"] for r in rows} == {"rasters_rs_spark.zipcache"}
    assert all(r["frozen"] > 0 for r in rows)
    assert "pyspark.worker" not in sys.modules
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert gc.get_freeze_count() == 0


def _clear_codegen_cache(spark) -> None:
    """Empty Spark's codegen cache, so the first run below compiles the
    pipeline's classes whatever earlier tests left cached."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    getter = cls.getDeclaredMethod("cache", gw.new_array(jvm.java.lang.Class, 0))
    getter.setAccessible(True)
    module = cls.getField("MODULE$").get(None)
    getter.invoke(module, gw.new_array(jvm.java.lang.Object, 0)).invalidateAll()


def test_codegen_cache_holds_a_pipeline(spark):
    """A pipeline of seven operators compiles well over 100 classes (the
    default cache size). Run again on the same session, it must find
    nearly all of them cached."""
    from rasters_rs_spark.operators import (celljoin, chunked, dedup,
                                            similarity, stats)
    from rasters_rs_spark.sources import synth

    extent = (-1050.0, 840.0, -770.0, 1010.0)
    images = spark.createDataFrame(synth.lcg_image_table(
        6, 32, 32, pixel_size=2.0, spacing=64.0, grid_cols=3))
    aois = synth.aoi_table(12, seed=16, extent=extent)
    aoi_df = spark.createDataFrame(aois[["aoi_id", "ring_offsets", "xs", "ys"]],
                                   schema=celljoin.AOI_SCHEMA)
    pts = spark.createDataFrame(synth.points_table(400, seed=9, extent=extent))
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [f"d{i}" for i in range(40)],
                      "text": [f"the quick brown fox {i % 5} jumps"
                               for i in range(40)]}))
    emb = np.random.default_rng(3).normal(size=(64, 8))
    emb[1] = emb[0] + 1e-3
    embs = spark.createDataFrame([(i, emb[i].tolist()) for i in range(64)],
                                 "vec_id long, embedding array<double>")
    qs = spark.createDataFrame([(i, emb[i].tolist()) for i in range(4)],
                               "q_id long, q_vec array<double>")

    def pipeline():
        strips = chunked.chunk_images(images, min_data_size=32 * 8)
        return [
            stats.zonal_stats(images, aois).count(),
            stats.zonal_stats(strips, aois).count(),
            stats.zonal_stats_dist(strips, aoi_df, zoom=10).count(),
            celljoin.cell_pip_join(pts, aoi_df, zoom=12,
                                   broadcast_aois=False).count(),
            dedup.minhash_dedup(docs).count(),
            dedup.semantic_dedup(embs, similarity.lcg_centroids(4, 8),
                                 threshold=0.9).count(),
            similarity.cosine_topk(qs, embs, k=3).count(),
        ]

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_SOURCE_CODE_SIZE()
    _clear_codegen_cache(spark)
    n0 = compiled.getCount()
    first = pipeline()
    n1 = compiled.getCount()
    second = pipeline()
    n2 = compiled.getCount()
    assert first == second
    assert n1 - n0 > 100, f"pipeline compiled only {n1 - n0} classes"
    assert (n2 - n1) * 10 < n1 - n0, \
        f"second run compiled {n2 - n1} of the first run's {n1 - n0} classes"
