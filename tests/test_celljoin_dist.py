"""Distributed AOI side of the spatial joins: aoi_cells_dist /
cell_pip_join(points, aoi_DataFrame) must equal the pandas broadcast
path exactly, and the AOI side must plan as scan -> generate with no
driver materialization (the round-3 VERDICT's one missing 100x
surface)."""

import numpy as np
import pandas as pd
import pytest

from rasters_rs_spark.operators import celljoin
from rasters_rs_spark.operators.celljoin import (AOI_SCHEMA, aoi_cells_df,
                                                 aoi_cells_dist,
                                                 cell_pip_join)
from rasters_rs_spark.sources import synth


def _aoi_df(spark, aois: pd.DataFrame):
    return spark.createDataFrame(
        aois[["aoi_id", "ring_offsets", "xs", "ys"]], schema=AOI_SCHEMA)


def test_aoi_cells_dist_equals_driver_cells(spark):
    """Same (aoi_id, cell) cover as the driver-side double loop."""
    aois = synth.aoi_table(8, seed=10)
    drv = {(r["aoi_id"], r["cell"])
           for r in aoi_cells_df(spark, aois, zoom=12).collect()}
    dist = {(r["aoi_id"], r["cell"])
            for r in aoi_cells_dist(_aoi_df(spark, aois), zoom=12).collect()}
    assert dist == drv
    assert len(drv) > len(aois)  # multiple covering cells per AOI


def test_cell_pip_join_dataframe_aois_matches_pandas(spark):
    """DataFrame-AOI results == pandas-AOI results, on both the
    broadcast and the shuffled join strategy."""
    pts = synth.points_table(400, seed=9)
    aois = synth.aoi_table(8, seed=10)
    pts_df = spark.createDataFrame(pts)
    base = sorted((r["pt_id"], r["aoi_id"])
                  for r in cell_pip_join(pts_df, aois, zoom=12).collect())
    assert len(base) > 0
    for bc in (True, False, None):
        got = sorted(
            (r["pt_id"], r["aoi_id"])
            for r in cell_pip_join(pts_df, _aoi_df(spark, aois), zoom=12,
                                   broadcast_aois=bc).collect())
        assert got == base, f"broadcast_aois={bc}"


def test_cell_pip_join_dataframe_multipart_and_dup_points(spark, monkeypatch):
    """Multipart aoi_ids collapse to one row per POINT ROW through the
    DataFrame path too — and duplicated input point rows each keep
    their own output row (the per-row-identity dedup). The capped
    multipart probe at its cap: a whole dup-free catalog is False, one
    row past the cap is True (conservative), a repeated id is True, and
    the join output never depends on the answer."""
    parts = synth.aoi_table(4, seed=10)
    # two parts share one id -> multipart catalog
    parts.loc[1, "aoi_id"] = parts.loc[0, "aoi_id"]
    pts = synth.points_table(300, seed=9)
    dup = pd.concat([pts, pts.iloc[:50]], ignore_index=True)
    pts_df = spark.createDataFrame(dup)

    base = sorted((r["pt_id"], r["aoi_id"])
                  for r in cell_pip_join(pts_df, parts, zoom=12).collect())
    got = sorted((r["pt_id"], r["aoi_id"])
                 for r in cell_pip_join(pts_df, _aoi_df(spark, parts),
                                        zoom=12).collect())
    assert got == base
    # duplicated point rows appear twice (row identity, not value dedup)
    hits = pd.Series([p for p, _ in base]).value_counts()
    dup_ids = set(pts.iloc[:50]["pt_id"])
    doubled = [p for p in hits.index if p in dup_ids]
    if doubled:
        assert all(hits[p] % 2 == 0 for p in doubled)
    # explicit multipart flag skips the probe, same answer
    forced = sorted((r["pt_id"], r["aoi_id"])
                    for r in cell_pip_join(pts_df, _aoi_df(spark, parts),
                                           zoom=12, multipart=True).collect())
    assert forced == base

    monkeypatch.setattr(celljoin, "MULTIPART_PROBE_ROWS", 3)
    four = synth.aoi_table(4, seed=10)
    assert not celljoin._multipart_probe(_aoi_df(spark, four.iloc[:3]))
    assert celljoin._multipart_probe(_aoi_df(spark, four))
    dup3 = four.iloc[:3].copy()
    dup3.loc[1, "aoi_id"] = dup3.loc[0, "aoi_id"]
    assert celljoin._multipart_probe(_aoi_df(spark, dup3))
    for cat in (four, dup3):
        out = {mp: sorted((r["pt_id"], r["aoi_id"]) for r in cell_pip_join(
                   pts_df, _aoi_df(spark, cat), zoom=12,
                   multipart=mp).collect())
               for mp in (None, True)}
        assert out[None] == out[True] and out[None]


def test_aoi_cells_dist_plan_no_driver_materialization(spark, tmp_path):
    """Plan audit: with AOIs read from parquet, the covering-cell side
    is scan -> project -> generate -> generate — no LocalTableScan (no
    driver collect), Python stage, or UDF anywhere in the AOI plan."""
    aois = synth.aoi_table(8, seed=10)
    path = str(tmp_path / "aois.parquet")
    _aoi_df(spark, aois).write.mode("overwrite").parquet(path)
    cat = spark.read.parquet(path)
    cells = aoi_cells_dist(cat, zoom=12)
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert "Generate explode" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Scan parquet" in plan
    # and the full join keeps the AOI side shuffled-or-broadcast, never
    # collected: build the join plan and check the same invariants
    pts_df = spark.createDataFrame(synth.points_table(100, seed=9))
    out = cell_pip_join(pts_df, cat, zoom=12, broadcast_aois=False,
                        multipart=False)
    jplan = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in jplan


def test_zonal_stats_dist_equals_broadcast(spark):
    """zonal_stats_dist (cell-join-pruned DataFrame AOI side) must
    reproduce zonal_stats (broadcast pandas AOIs) EXACTLY on an LCG
    fixture (dyadic pixel values -> order-free float sums), including
    multipart aoi_ids and include_whole."""
    from rasters_rs_spark.operators import stats as S

    # contiguous 3x2 image mosaic (spacing == image width) so the AOI
    # extent below yields several image-overlapping polygons
    pdf = synth.lcg_image_table(6, 32, 32, pixel_size=2.0,
                                spacing=64.0, grid_cols=3)
    images = spark.createDataFrame(pdf)
    aois = synth.aoi_table(12, seed=16,
                           extent=(-1050.0, 840.0, -770.0, 1010.0))
    # multipart id whose two parts hit DIFFERENT images
    aois.loc[5, "aoi_id"] = aois.loc[0, "aoi_id"]

    for include_whole in (False, True):
        a = {r["aoi_id"]: tuple(r)
             for r in S.zonal_stats(images, aois,
                                    include_whole=include_whole).collect()}
        b = {r["aoi_id"]: tuple(r)
             for r in S.zonal_stats_dist(images, _aoi_df(spark, aois),
                                         zoom=10,
                                         include_whole=include_whole).collect()}
        assert a == b, include_whole
    assert len(a) > 1


def test_zonal_stats_dist_plan_no_driver_aois(spark, tmp_path):
    """The AOI side of zonal_stats_dist plans as parquet scan ->
    generate (no LocalTableScan / no Python stage before the final
    cogroup kernel reads its pruned subset)."""
    from rasters_rs_spark.operators import stats as S

    aois = synth.aoi_table(6, seed=16)
    path = str(tmp_path / "aois.parquet")
    _aoi_df(spark, aois).write.mode("overwrite").parquet(path)
    cat = spark.read.parquet(path)
    images = spark.createDataFrame(synth.lcg_image_table(2, 16, 16, 2.0))
    out = S.zonal_stats_dist(images, cat, zoom=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan
    assert "Generate explode" in plan


def test_rasterize_dist_equals_broadcast(spark):
    """rasterize_dist (cell-join-pruned DataFrame AOI side) burns
    byte-identical strips to rasterize (AOI closure), including the
    smallest-ordinal-wins overlap rule."""
    from rasters_rs_spark.operators import celljoin as CJ

    aois = synth.aoi_table(8, seed=10)
    gt = [-800.0, 8.0, 0.0, 800.0, 0.0, -8.0]
    base = {r["chunk_idx"]: bytes(r["bytes"])
            for r in CJ.rasterize(spark, aois, gt, 128, 128,
                                  strip_height=32).collect()}
    got = {r["chunk_idx"]: bytes(r["bytes"])
           for r in CJ.rasterize_dist(_aoi_df(spark, aois), gt, 128, 128,
                                      strip_height=32, zoom=10).collect()}
    assert got == base
    # non-degenerate: some pixels burned
    burned = np.concatenate([
        np.frombuffer(b, dtype="<f8") for b in base.values()])
    assert np.isfinite(burned).sum() > 0


def test_cell_pip_join_cogroup_refine_parquet_catalog(spark, tmp_path):
    """The shuffled-catalog path (broadcast_aois=False -> slim
    candidate join + per-(part, salt) cogroup refine; ring buffers
    never ride the candidate exchange) on a PARQUET-sourced catalog —
    pinning part-id determinism across the two evaluations of the
    scan — with multipart ids, duplicated points, and several
    refine_salt values. Plan must show the Arrow cogroup refine."""
    parts = synth.aoi_table(6, seed=10)
    parts.loc[1, "aoi_id"] = parts.loc[0, "aoi_id"]
    path = str(tmp_path / "aois.parquet")
    _aoi_df(spark, parts).write.mode("overwrite").parquet(path)
    cat = spark.read.parquet(path)

    pts = synth.points_table(300, seed=9)
    dup = pd.concat([pts, pts.iloc[:40]], ignore_index=True)
    pts_df = spark.createDataFrame(dup)

    base = sorted((r["pt_id"], r["aoi_id"])
                  for r in cell_pip_join(pts_df, parts, zoom=12).collect())
    assert len(base) > 0
    for rs in (1, 8):
        out = cell_pip_join(pts_df, cat, zoom=12, broadcast_aois=False,
                            refine_salt=rs)
        got = sorted((r["pt_id"], r["aoi_id"]) for r in out.collect())
        assert got == base, f"refine_salt={rs}"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan
    assert "FlatMapCoGroupsInPandas" not in plan


def test_chunked_zonal_stats_dist_equals_all_paths(spark):
    """The both-sides-huge zonal (chunk strips x AOI catalog) equals
    the broadcast chunked path AND the whole-image path exactly on an
    LCG fixture."""
    from rasters_rs_spark.operators import stats as S
    from rasters_rs_spark.operators.chunked import (chunk_images,
                                                    chunked_zonal_stats,
                                                    chunked_zonal_stats_dist)

    pdf = synth.lcg_image_table(6, 32, 32, pixel_size=2.0,
                                spacing=64.0, grid_cols=3)
    images = spark.createDataFrame(pdf)
    chunks = chunk_images(images, min_data_size=32 * 8)  # 8-row strips
    aois = synth.aoi_table(12, seed=16,
                           extent=(-1050.0, 840.0, -770.0, 1010.0))

    whole = {r["aoi_id"]: tuple(r)
             for r in S.zonal_stats(images, aois).collect()}
    bcast = {r["aoi_id"]: tuple(r)
             for r in chunked_zonal_stats(chunks, aois).collect()}
    dist = {r["aoi_id"]: tuple(r)
            for r in chunked_zonal_stats_dist(
                chunks, _aoi_df(spark, aois), zoom=10).collect()}
    assert bcast == whole and dist == whole
    assert len(whole) > 1


def test_aoi_ordinals_dist_no_single_partition_window(spark):
    """Distributed ordinals: correct global sort ranks (the plan shape
    is asserted once, in test_scanpar.py, for every range_rank
    caller)."""
    from rasters_rs_spark.operators.celljoin import aoi_ordinals_dist

    aois = synth.aoi_table(20, seed=10)
    cat = _aoi_df(spark, aois)
    ords = aoi_ordinals_dist(cat, partitions=4)
    got = {r["aoi_id"]: r["ordinal"] for r in ords.collect()}
    expect = {a: i for i, a in enumerate(sorted(aois["aoi_id"]))}
    assert got == expect


def test_cogroup_refine_many_groups_no_row_loss(spark):
    """Regression (caught by the 1M-point scale check): cogroup keys
    are NOT type-coerced like join keys — an int salt on one side and
    a long on the other hash to different shuffle partitions and the
    groups silently fail to pair, losing ~97% of matches at scale
    while small fixtures pass by partition-collision luck. This run
    (50k points x 64 AOIs -> 512 cogroup groups across 32 shuffle
    partitions) makes any pairing loss a deterministic count
    mismatch."""
    from pyspark.sql import functions as F

    aois = synth.aoi_table(64, seed=43)
    cat = _aoi_df(spark, aois)
    pts = spark.range(50_000).selectExpr(
        "cast(id as string) pt_id",
        "(pmod(id * 2654435761, 4000000) - 2000000) / 1000.0 as x",
        "(pmod(id * 40503, 4000000) - 2000000) / 1000.0 as y")
    n_bc = cell_pip_join(pts, aois, zoom=12).count()
    n_cg = cell_pip_join(pts, cat, zoom=12, broadcast_aois=False,
                         multipart=False).count()
    assert n_cg == n_bc and n_bc > 10_000


def test_point_tile_pyramid_parents_equal_children(spark):
    """Every parent tile's (n, sums) equals the fold of its four
    children — the pyramid invariant, exact because sums are decimal
    monoids; and the base level equals a direct groupBy."""
    from pyspark.sql import functions as F

    from rasters_rs_spark.operators.celljoin import point_tile_pyramid

    pts = spark.range(5000).selectExpr(
        "cast(id as double) * 37.5 - 90000.0 as x",
        "cast(id % 997 as double) * 311.0 - 150000.0 as y",
        "cast(id % 7 as double) + 0.25 as value")
    out = point_tile_pyramid(pts, zoom_max=14, zoom_min=10).collect()
    byz = {}
    for r in out:
        byz.setdefault(r["zoom"], {})[(r["tx"], r["ty"])] = r
    assert set(byz) == set(range(10, 15))
    for z in range(10, 14):
        for (tx, ty), parent in byz[z].items():
            kids = [r for (kx, ky), r in byz[z + 1].items()
                    if kx >> 1 == tx and ky >> 1 == ty]
            assert kids, (z, tx, ty)
            assert parent["n"] == sum(k["n"] for k in kids)
            assert abs(parent["sum_value"]
                       - sum(k["sum_value"] for k in kids)) == 0.0
            assert abs(parent["sum_x"]
                       - sum(k["sum_x"] for k in kids)) < 1e-6
    # totals conserved at every level
    tot = {z: (sum(r["n"] for r in byz[z].values()),
               round(sum(r["sum_value"] for r in byz[z].values()), 2))
           for z in byz}
    assert len(set(tot.values())) == 1
