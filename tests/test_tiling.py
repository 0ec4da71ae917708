"""Tiling pipeline tests, including the reference golden fixture
(tests/test_tile.py:33-53, seed 0xfab1, UTM 43N -> web mercator)."""

import json
from math import isclose
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from rasters_rs_spark.functions import codecs
from rasters_rs_spark.operators import tiling as T
from rasters_rs_spark.plans.tileplan import TileConfig

from .tile_reference import (encode_tile_array_reference,
                             q16_quantize_reference,
                             row_base_tiles_reference)

FIXTURE = Path("/root/reference/raster-tools/tests/fixtures/tile-test-fab1-index.json")

FAB1_GT = (363737.54688808107, 0.08917409880025007, 0.0,
           2059515.3774022115, 0.0, -0.08917409880023142)


def _fab1_block():
    np.random.seed(0xFAB1)  # legacy RandomState, as the reference test uses
    return np.random.normal(size=(64, 64, 1))[:, :, 0]


def _fab1_images(spark):
    block = _fab1_block()
    pdf = pd.DataFrame([{
        "image_id": "fab1", "bytes": codecs.encode_raw(block),
        "w": 64, "h": 64, "fmt": "raw", "gt": list(FAB1_GT),
        "crs": "EPSG:32643", "no_val": float("nan"),
    }])
    return spark.createDataFrame(pdf)


def compare_index(idx1, idx2, desc="root"):
    """Port of the reference's recursive comparator (test_tile.py:12-29):
    identical key sets, exact ints, rel_tol 1e-2 floats."""
    assert type(idx1) == type(idx2), f"type mismatch @ {desc}"
    if not isinstance(idx1, dict):
        if isinstance(idx1, int):
            assert idx1 == idx2, f"{desc}: {idx1} == {idx2}"
        else:
            assert isclose(idx1, idx2, rel_tol=1e-2), f"{desc}: {idx1} ~= {idx2}"
        return
    k1, k2 = sorted(idx1), sorted(idx2)
    assert k1 == k2, f"keys @ {desc}: {k1} != {k2}"
    for k in k1:
        compare_index(idx1[k], idx2[k], desc=f"{desc}/{k}")


def test_tile_config_fab1_zoom_range():
    cfg = TileConfig.for_raster(64, 64, FAB1_GT, "EPSG:32643")
    assert cfg.max_zoom() == 21
    assert cfg.min_zoom() == 18


@pytest.mark.skipif(not FIXTURE.exists(),
                    reason=f"reference fixture {FIXTURE} is absent")
def test_golden_fixture_local(spark):
    encoded = T.tile_index_manifest(_fab1_images(spark), mode="local")
    got = T.index_json(encoded, "fab1")
    ref = json.load(open(FIXTURE))
    compare_index(got, ref)


def test_index_json_strings_distributed_sink(spark, tmp_path):
    """The distributed manifest sink (one groupBy(image_id) job,
    round-5 VERDICT #4): per-image JSON strings byte-identical to
    json.dumps(index_json(...)) per image, and dump_index_json's
    multi-image file byte-identical to the driver-loop assembly it
    replaced."""
    from rasters_rs_spark.sources import synth

    pdf = synth.lcg_image_table(3, 16, 16, pixel_size=2.0)
    enc = T.tile_index_manifest(spark.createDataFrame(pdf), mode="local")
    enc = enc.localCheckpoint(eager=True)      # one pyramid computation
    rows = {r["image_id"]: r for r in T.index_json_strings(enc).collect()}
    ids = sorted(rows)
    assert len(ids) == 3
    for i in ids:
        assert rows[i]["manifest_json"] == json.dumps(T.index_json(enc, i))
        assert rows[i]["n_tiles"] > 0

    out = tmp_path / "multi.json"
    T.dump_index_json(enc, str(out))
    expect = json.dumps({i: T.index_json(enc, i) for i in ids})
    assert out.read_text() == expect

    # single-image path unchanged (reference-shaped bare manifest)
    single = tmp_path / "one.json"
    T.dump_index_json(enc.where("image_id = 'img_0000'"), str(single))
    assert single.read_text() == json.dumps(T.index_json(enc, "img_0000"))


def test_distributed_equals_local(spark):
    imgs = _fab1_images(spark)
    loc = T.tile_pyramid(imgs, mode="local")
    dist = T.tile_pyramid(imgs, mode="distributed")

    def key_rows(df):
        return {
            (r["z"], r["x"], r["y"]):
                codecs.decode_raw(r["data"], 256, 256)
            for r in df.collect()
        }

    a, b = key_rows(loc), key_rows(dist)
    assert set(a) == set(b)
    for k in a:
        ax, bx = a[k], b[k]
        assert np.array_equal(np.isnan(ax), np.isnan(bx))
        assert np.allclose(np.nan_to_num(ax), np.nan_to_num(bx), atol=0, rtol=0)


def test_compressed_tiles_roundtrip(spark):
    imgs = _fab1_images(spark)
    plain = {(r["z"], r["x"], r["y"]): (bytes(r["bytes"]), r["min"], r["max"])
             for r in T.tile_index_manifest(imgs).collect()}
    comp = {(r["z"], r["x"], r["y"]): (bytes(r["bytes"]), r["min"], r["max"])
            for r in T.tile_index_manifest(imgs, compress=True).collect()}
    assert set(plain) == set(comp)
    for k in plain:
        praw, vmin, vmax = plain[k]
        craw, _, _ = comp[k]
        a = T.decode_tile_bytes(praw, 256, vmin, vmax)
        b = T.decode_tile_bytes(craw, 256, vmin, vmax, compressed=True)
        assert np.array_equal(np.isnan(a), np.isnan(b))
        assert np.array_equal(np.nan_to_num(a), np.nan_to_num(b))
        assert len(craw) < len(praw)


def test_weights_partition_pixel_area():
    """Every source pixel's total emitted weight equals its footprint
    area in tile pixels (mu partitions the footprint; base.rs asserts
    0 < mu <= 1 per overlap)."""
    block = np.ones((8, 8))
    gt = [0.0, 100000.0, 0.0, 800000.0, 0.0, -100000.0]  # WM-native, huge px
    cfg = TileConfig.for_raster(8, 8, gt, "EPSG:3857", 256)
    zoom = cfg.max_zoom()
    _, top, _, bot = cfg.tile_index_bounds(zoom)
    total_w = 0.0
    for ty in range(top, bot):
        for (_, tile, vmin, vmax) in T.row_base_tiles(block, cfg, zoom, ty, float("nan")):
            valid = ~np.isnan(tile)
            if valid.any():
                # constant input -> every covered tile pixel equals 1.0
                assert np.allclose(tile[valid], 1.0)
                total_w += valid.sum()
    assert total_w > 0


def test_assignment_triples_aggregate_to_row_tiles():
    """The raw triple relation and the fused accumulator must agree:
    aggregating mu/mu*val per tile pixel reproduces row_base_tiles."""
    np.random.seed(7)
    block = np.random.normal(size=(48, 80))
    gt = [1000.25, 3.7, 0.0, 2000.75, 0.0, -3.7]
    cfg = TileConfig.for_raster(80, 48, gt, "EPSG:3857", 256)
    zoom = cfg.max_zoom()
    from rasters_rs_spark.functions import geom as G
    _, top, _, bot = cfg.tile_index_bounds(zoom)
    left_t, _, right_t, _ = cfg.tile_index_bounds(zoom)
    for ty in range(top, bot):
        tiles = {x: (arr, mn, mx)
                 for (x, arr, mn, mx) in T.row_base_tiles(block, cfg, zoom, ty, float("nan"))}
        tx, tpx, tpy, px, py, mu = T.assignment_triples(cfg, zoom, ty, (80, 48))
        pb = cfg.row_pix_bounds(zoom, ty)
        (ox, oy), _ = G.window_from_bounds(pb, (80, 48))
        agg = {x: (np.zeros((256, 256)), np.zeros((256, 256))) for x in tiles}
        for i in range(len(tx)):
            v = block[py[i] + oy, px[i] + ox]
            if np.isnan(v):
                continue
            ws, wg = agg[int(tx[i])]
            ws[tpy[i], tpx[i]] += mu[i] * v
            wg[tpy[i], tpx[i]] += mu[i]
        for x, (ws, wg) in agg.items():
            arr, _, _ = tiles[x]
            got = np.where(wg > 0, ws / np.where(wg > 0, wg, 1.0), np.nan)
            assert np.array_equal(np.isnan(got), np.isnan(arr))
            m = ~np.isnan(arr)
            assert np.allclose(got[m], arr[m], rtol=0, atol=0)


def test_nan_holes_propagate_through_pipeline():
    """No-data pixels contribute no weight: tile pixels covered only by
    NaN source pixels stay NaN at base level and through the pyramid
    (main.rs:97 validity gate + dem.rs NaN-aware averaging)."""
    np.random.seed(11)
    block = np.random.normal(size=(32, 32))
    block[8:16, 8:16] = np.nan  # a hole
    gt = [0.0, 100000.0, 0.0, 1600000.0, 0.0, -100000.0]
    cfg = TileConfig.for_raster(32, 32, gt, "EPSG:3857", 256)
    zoom = cfg.max_zoom()
    _, top, _, bot = cfg.tile_index_bounds(zoom)
    total_valid = 0
    for ty in range(top, bot):
        for (x, tile, vmin, vmax) in T.row_base_tiles(block, cfg, zoom, ty, float("nan")):
            valid = ~np.isnan(tile)
            total_valid += int(valid.sum())
            if valid.any():
                assert np.isfinite(vmin) and np.isfinite(vmax)
    assert total_valid > 0
    # with no no-data, strictly more tile pixels are touched
    full = np.random.normal(size=(32, 32))
    total_full = 0
    for ty in range(top, bot):
        for (x, tile, _, _) in T.row_base_tiles(full, cfg, zoom, ty, float("nan")):
            total_full += int((~np.isnan(tile)).sum())
    assert total_full > total_valid


def test_scale_children_corner_layout():
    ts = 4
    mk = lambda v: np.full((ts, ts), float(v))
    # children at (2,5),(3,5),(2,4),(3,4): x even->left, y odd(5)->top
    parent, vmin, vmax = T.scale_children(
        [(2, 5, mk(1)), (3, 5, mk(2)), (2, 4, mk(3)), (3, 4, mk(4))], ts)
    assert np.allclose(parent[:2, :2], 1.0)   # top-left from (2,5)
    assert np.allclose(parent[:2, 2:], 2.0)   # top-right from (3,5)
    assert np.allclose(parent[2:, :2], 3.0)   # bottom-left from (2,4)
    assert np.allclose(parent[2:, 2:], 4.0)   # bottom-right from (3,4)
    assert (vmin, vmax) == (1.0, 4.0)
    # missing corners stay NaN
    parent, vmin, vmax = T.scale_children([(2, 5, mk(7))], ts)
    assert np.allclose(parent[:2, :2], 7.0)
    assert np.isnan(parent[2:, 2:]).all()


def test_nan_aware_2x2_average():
    ts = 2
    child = np.array([[1.0, np.nan], [3.0, 5.0]])
    parent, vmin, vmax = T.scale_children([(0, 1, child)], ts)
    assert isclose(parent[0, 0], (1.0 + 3.0 + 5.0) / 3.0)
    assert vmin == vmax == parent[0, 0]


def test_index_json_refuses_huge_tile_table(spark):
    import pytest
    from rasters_rs_spark.operators import tiling as T
    from rasters_rs_spark.sources import synth
    images = spark.createDataFrame(synth.lcg_image_table(1, 64, 64, 8.0))
    enc = T.tile_index_manifest(images, mode="local")
    with pytest.raises(ValueError, match="max_tiles"):
        T.index_json(enc, max_tiles=0)
    assert T.index_json(enc, max_tiles=10)  # under the bound: normal path


def _image_batch(n: int):
    import pyarrow as pa
    from rasters_rs_spark.sources import synth
    return pa.RecordBatch.from_pandas(
        synth.image_table(n, h=128, w=128, pixel_size=2.0),
        preserve_index=False)


def _traced(gen):
    """(rows, batches, tracemalloc peak) of consuming ``gen``, holding
    no batch past its own step."""
    import tracemalloc
    rows = batches = 0
    tracemalloc.start()
    try:
        for b in gen():
            rows += b.num_rows
            batches += 1
            del b
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    return rows, batches, peak


def test_tile_generators_memory_bound():
    """The Arrow tile generators hold one output batch and one image's
    pyramid, not the tiles of their input batch: on 128 px images the
    traced peak at 192 images stays near the 12-image peak and under
    16 MiB (compressed manifest) and 24 MiB (raw tile_pyramid). Holding
    the batch's tiles, as the pandas generators did, peaked at about 31
    and 859 MiB on these 192 images."""
    for fn, bound, kw in (
            (T._manifest_batches, 16, {"compress": True}),
            (T._tile_batches, 24, {"pyramid": True})):
        peaks = {}
        for n in (12, 192):
            batch = _image_batch(n)
            rows, batches, peaks[n] = _traced(
                lambda: fn(iter([batch]), 256, None, None, **kw))
            assert rows > n and batches >= 1
        assert peaks[192] < bound * 2**20, (fn.__name__, peaks)
        assert peaks[192] < peaks[12] + 4 * 2**20, (fn.__name__, peaks)


def test_tile_generators_batch_edges():
    """One image whose pyramid alone exceeds the batch budget spreads
    over several batches with every tile kept in order; a batch with no
    image yields no tile; the batches carry the Spark schema's types."""
    batch = _image_batch(1)
    want = [(r[0], r[1], r[2], r[3], codecs.encode_raw(r[4]))
            for r in T._image_tiles(iter([batch]), 256, None, None)]
    assert len(want) * 256 * 256 * 8 > T._BATCH_BYTES
    out = list(T._tile_batches(iter([batch]), 256, None, None, True))
    assert len(out) > 1
    for b in out[:-1]:
        assert sum(len(v) for v in b.column("data").to_pylist()) \
            >= T._BATCH_BYTES
    assert all(b.schema == T._TILE_ARROW for b in out)
    got = [row for b in out for row in zip(
        *[b.column(c).to_pylist() for c in ("image_id", "z", "x", "y", "data")])]
    assert got == want

    empty = batch.slice(0, 0)
    assert list(T._tile_batches(iter([empty]), 256, None, None, True)) == []
    assert list(T._manifest_batches(iter([empty, empty]), 256, None, None,
                                    True)) == []
    enc = list(T._manifest_batches(iter([empty, batch]), 256, None, None,
                                   False))
    assert all(b.schema == T._ENCODED_ARROW for b in enc)
    assert sum(b.num_rows for b in enc) == len(want)


@given(data=st.data(), h=st.integers(1, 40), w=st.integers(1, 40),
       ts=st.sampled_from([8, 16, 64]),
       # source pixels smaller and larger than the tile pixels
       ps=st.sampled_from([0.3, 1.7, 2.0, 9.5, 40.0, 333.3]),
       dz=st.integers(-2, 2), south_up=st.booleans(),
       nan_frac=st.sampled_from([0.0, 0.2, 1.0]), use_no_val=st.booleans())
@settings(max_examples=150, deadline=None)
def test_row_base_tiles_bit_equal_reference(data, h, w, ts, ps, dz,
                                            south_up, nan_frac, use_no_val):
    """The base kernel gives the reference kernel's bits (tiles, vmin,
    vmax) on every tile row, including the rows just outside the raster
    whose windows are clipped or empty."""
    x0 = data.draw(st.floats(-3000.0, 3000.0), label="x0")
    y0 = data.draw(st.floats(-3000.0, 3000.0), label="y0")
    seed = data.draw(st.integers(0, 2**32 - 1), label="seed")
    rng = np.random.default_rng(seed)
    block = rng.normal(size=(h, w)) * 100.0
    block[rng.random((h, w)) < nan_frac] = np.nan
    no_val = np.nan
    if use_no_val:
        no_val = -9999.0
        block[rng.random((h, w)) < 0.2] = no_val
    gt = [x0, ps, 0.0, y0, 0.0, ps if south_up else -ps]
    cfg = TileConfig.for_raster(w, h, gt, "EPSG:3857", ts)
    zoom = max(cfg.max_zoom() + dz, 0)
    _, top, _, bot = cfg.tile_index_bounds(zoom)
    for ty in range(top - 1, bot + 1):
        got = T.row_base_tiles(block, cfg, zoom, ty, no_val)
        want = row_base_tiles_reference(block, cfg, zoom, ty, no_val)
        assert len(got) == len(want)
        for (gx, gtile, gmin, gmax), (wx, wtile, wmin, wmax) in zip(got, want):
            assert gx == wx
            assert gtile.tobytes() == wtile.tobytes()
            assert (gmin, gmax) == (wmin, wmax)


_ENCODE_CASES = ("data", "constant", "all_nan", "inf_range", "single",
                 "at_vmax", "wide_range")


@given(data=st.data(), n=st.integers(1, 24),
       case=st.sampled_from(_ENCODE_CASES))
@settings(max_examples=300, deadline=None)
def test_encode_tile_array_bytes_equal_reference(data, n, case):
    """q16 tile encode and ``q16_quantize`` give the reference's bytes
    and err: tiles with their own min/max, constant tiles, all-NaN
    tiles, +-inf vmin/vmax, one valid pixel, values equal to vmax (the
    disc == bins edge) and a range whose width overflows."""
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    arr = rng.normal(size=(n, n)) * 10.0 ** rng.integers(-3, 4)
    arr[rng.random((n, n)) < data.draw(st.sampled_from([0.0, 0.5, 0.95]))] \
        = np.nan
    if case == "constant":
        arr[~np.isnan(arr)] = 3.25
    elif case == "all_nan":
        arr[:] = np.nan
    elif case == "single":
        arr[:] = np.nan
        arr[rng.integers(n), rng.integers(n)] = rng.normal()
    elif case == "wide_range":
        arr[~np.isnan(arr)] = np.sign(arr[~np.isnan(arr)]) * 1e308
    vals = arr[~np.isnan(arr)]
    vmin, vmax = ((float(vals.min()), float(vals.max())) if vals.size
                  else (np.inf, -np.inf))
    if case == "inf_range":
        vmin, vmax = data.draw(st.sampled_from(
            [(-np.inf, 1.0), (0.0, np.inf), (-np.inf, np.inf)]))
    elif case == "at_vmax" and vals.size:
        vmax = float(vals.min()) + 1.0
        arr[0, :] = vmax
    elif case == "data" and data.draw(st.booleans()):
        # a range narrower than the values: both ends clamp
        lo, hi = sorted(rng.normal(size=2))
        vmin, vmax = float(lo), float(hi)
    with np.errstate(over="ignore", invalid="ignore"):
        got = T.encode_tile_array(arr, vmin, vmax)
        want = encode_tile_array_reference(arr, vmin, vmax)
        assert got[0] == want[0]
        # an overflowing range makes both errs NaN
        assert np.array_equal(got[1], want[1], equal_nan=True)
        if np.isfinite(vmin) and np.isfinite(vmax) and vmax > vmin:
            codes, err = codecs.q16_quantize(arr, vmin, vmax)
            ref_codes, ref_err = q16_quantize_reference(arr, vmin, vmax)
            assert codes.dtype == ref_codes.dtype
            assert codes.tobytes() == ref_codes.tobytes()
            assert np.array_equal(err, ref_err, equal_nan=True)
