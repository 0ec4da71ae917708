"""Focal (neighborhood) kernels: numpy oracle, chunked == whole-image
through the padding halo, border semantics."""

import numpy as np
import pandas as pd
import pytest

from rasters_rs_spark.functions import codecs
from rasters_rs_spark.operators import focal as FO
from rasters_rs_spark.operators.chunked import assemble_images, chunk_images
from rasters_rs_spark.sources import synth


def test_focal_block_numpy_oracle():
    rng = np.random.default_rng(41)
    b = rng.normal(size=(10, 12))
    m = FO.focal_block(b, "mean3")
    assert np.isnan(m[0]).all() and np.isnan(m[:, -1]).all()
    for i, j in [(1, 1), (4, 7), (8, 10)]:
        assert m[i, j] == pytest.approx(b[i-1:i+2, j-1:j+2].mean(), rel=1e-12)
    g = FO.focal_block(b, "grad_mag", pixel_size=2.0)
    i, j = 5, 5
    dzdx = (b[i, j+1] - b[i, j-1]) / 4.0
    dzdy = (b[i+1, j] - b[i-1, j]) / 4.0
    assert g[i, j] == pytest.approx(np.hypot(dzdx, dzdy), rel=1e-12)


@pytest.mark.parametrize("op", ["mean3", "grad_mag"])
def test_focal_chunked_equals_whole_image(spark, op):
    """The padded-strip focal result reassembles to the whole-image
    kernel EXACTLY — the chunk padding is the halo, so no strip ever
    reads another strip's pixels. Interior data rows must be
    bit-identical; the image border is NaN on both paths."""
    images = spark.createDataFrame(synth.lcg_image_table(4, 32, 32, 2.0))
    whole = {r["image_id"]: codecs.decode_raw(bytes(r["bytes"]), 32, 32)
             for r in FO.focal(images, op).collect()}

    chunks = chunk_images(images, min_data_size=32 * 8, padding=1)
    assert chunks.count() > 4                       # multiple strips
    got = {r["image_id"]: codecs.decode_raw(bytes(r["bytes"]), 32, 32)
           for r in assemble_images(FO.focal(chunks, op)).collect()}
    for iid, w in whole.items():
        g = got[iid]
        # data ranges cover rows 1..31 (padding clamps row 0); the
        # whole-image kernel is NaN there anyway
        assert np.array_equal(g[1:31], w[1:31], equal_nan=True)
        assert np.isnan(g[0]).all() and np.isnan(w[0]).all()


def test_focal_rejects_unknown_op():
    with pytest.raises(ValueError, match="unknown focal op"):
        FO.focal_block(np.zeros((4, 4)), "laplace9")


def test_slope_and_hillshade_plane_oracle():
    """Closed-form checks on an inclined plane z = -x (unit slope
    dipping due east): Horn slope is exactly 45 degrees; a sun due east
    at 45 degrees altitude hits the face head-on (shade 255) and a sun
    due west leaves it fully dark (0). A flat plane shades to
    255*sin(altitude) everywhere."""
    x = np.arange(8, dtype=np.float64)
    plane = np.tile(-x, (8, 1))
    s = FO.focal_block(plane, "slope", pixel_size=1.0)
    assert np.allclose(s[1:-1, 1:-1], 45.0)

    hs_east = FO.focal_block(plane, "hillshade", pixel_size=1.0,
                             sun_azimuth_deg=90.0, sun_altitude_deg=45.0)
    assert np.allclose(hs_east[1:-1, 1:-1], 255.0)
    hs_west = FO.focal_block(plane, "hillshade", pixel_size=1.0,
                             sun_azimuth_deg=270.0, sun_altitude_deg=45.0)
    assert np.allclose(hs_west[1:-1, 1:-1], 0.0)

    flat = np.full((8, 8), 7.0)
    hs_flat = FO.focal_block(flat, "hillshade", sun_altitude_deg=30.0)
    assert np.allclose(hs_flat[1:-1, 1:-1], 255.0 * np.sin(np.radians(30.0)))


def test_slope_hillshade_chunked_equals_whole(spark):
    images = spark.createDataFrame(synth.lcg_image_table(2, 32, 32, 2.0))
    for op in ("slope", "hillshade"):
        whole = {r["image_id"]: codecs.decode_raw(bytes(r["bytes"]), 32, 32)
                 for r in FO.focal(images, op).collect()}
        chunks = chunk_images(images, min_data_size=32 * 8, padding=1)
        got = {r["image_id"]: codecs.decode_raw(bytes(r["bytes"]), 32, 32)
               for r in assemble_images(
                   FO.focal(chunks, op)).collect()}
        for iid, w in whole.items():
            assert np.array_equal(got[iid][1:31], w[1:31], equal_nan=True)


def test_focal_anisotropic_pixels():
    """Horn gradients use each axis's OWN cell size: a plane rising 2
    per row on 2 m rows (true dz/dy = 1) has 45-degree slope even when
    the columns are 1 m — the old single-pixel-size code would report
    atan(2)."""
    rows = np.arange(8, dtype=np.float64)
    plane = np.tile(rows[:, None] * 2.0, (1, 8))
    s = FO.focal_block(plane, "slope", pixel_size=1.0, pixel_size_y=2.0)
    assert np.allclose(s[1:-1, 1:-1], 45.0)
    g = FO.focal_block(plane, "grad_mag", pixel_size=1.0, pixel_size_y=2.0)
    assert np.allclose(g[1:-1, 1:-1], 1.0)


def test_focal_dataframe_uses_gt5_for_y(spark):
    """focal() must take dz/dy's cell size from gt[5], not gt[1]."""
    rows = np.arange(8, dtype=np.float64)
    plane = np.tile(rows[:, None] * 2.0, (1, 8))
    pdf = pd.DataFrame([{
        "image_id": "p0", "bytes": codecs.encode_raw(plane),
        "w": 8, "h": 8, "fmt": "raw",
        "gt": [0.0, 1.0, 0.0, 16.0, 0.0, -2.0],   # 1 m cols, 2 m rows
        "crs": "IDENTITY", "no_val": float("nan")}])
    out = FO.focal(spark.createDataFrame(pdf), "slope").collect()[0]
    block = codecs.decode_raw(bytes(out["bytes"]), 8, 8)
    assert np.allclose(block[1:-1, 1:-1], 45.0)
