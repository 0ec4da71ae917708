"""Diff pipeline vs the reference oracle (tests/test_diff.py:8-26):
raster1 64x128 at gt [-64,1,0,-32,0,1]; raster2 32x64 at
gt [-128,4,0,-64,0,4]; diff == data2[8:-8,16:-16].repeat(4,4) - data1."""

from math import isclose

import numpy as np
import pandas as pd

from rasters_rs_spark.functions import codecs
from rasters_rs_spark.operators import diff as D
from rasters_rs_spark.operators.chunked import chunk_images
from rasters_rs_spark.operators.mask import mask, mask_block


def _fixture_blocks():
    rng = np.random.default_rng(0xD1FF)
    data1 = rng.normal(size=(64, 128))
    data2 = rng.normal(size=(32, 64))
    return data1, data2


def _pair_dfs(spark, data1, data2):
    a = spark.createDataFrame(pd.DataFrame([{
        "image_id": "p0", "bytes": codecs.encode_raw(data1),
        "w": 128, "h": 64, "fmt": "raw",
        "gt": [-64.0, 1.0, 0.0, -32.0, 0.0, 1.0],
        "crs": "IDENTITY", "no_val": float("nan"),
    }]))
    b = spark.createDataFrame(pd.DataFrame([{
        "image_id": "p0", "bytes": codecs.encode_raw(data2),
        "w": 64, "h": 32, "fmt": "raw",
        "gt": [-128.0, 4.0, 0.0, -64.0, 0.0, 4.0],
        "crs": "IDENTITY", "no_val": float("nan"),
    }]))
    return a, b


def test_diff_stats_matches_repeat_oracle(spark):
    data1, data2 = _fixture_blocks()
    a, b = _pair_dfs(spark, data1, data2)
    diff = data2[8:-8, 16:-16].repeat(4, axis=0).repeat(4, axis=1) - data1

    row = D.diff_stats(a, b).collect()[0]
    assert row["count"] == data1.size  # every A pixel pairs
    assert isclose(row["diff_max"], diff.max(), rel_tol=1e-9)
    assert isclose(row["diff_min"], diff.min(), rel_tol=1e-9)
    assert isclose(row["diff_sum"], diff.sum(), rel_tol=1e-9)
    assert isclose(row["first_sum"], data1.sum(), rel_tol=1e-9)
    assert isclose(row["abs_diff_sum"], np.abs(diff).sum(), rel_tol=1e-9)


def test_diff_chunked_equals_unchunked(spark):
    # the reference CI stresses chunk boundaries with -c 1 (harness.py:52)
    data1, data2 = _fixture_blocks()
    a, b = _pair_dfs(spark, data1, data2)
    full = D.diff_stats(a, b).collect()[0]
    tiny = D.diff_stats(chunk_images(a, min_data_size=1), b).collect()[0]
    for k in ("count", "diff_min", "diff_max"):
        assert full[k] == tiny[k]
    assert isclose(full["diff_sum"], tiny["diff_sum"], rel_tol=1e-12)


def test_diff_whole_a_against_strip_b_equals_whole(spark):
    """Whole A images against B cut into 4-row strips (with and without
    padding): each A pixel pairs with the B strip whose data rows hold
    its partner, so diff_stats and diff_histogram equal the
    whole-image results. The fixture's pairs read B rows 8..23 only,
    so the padding clamp of B's border rows drops none."""
    data1, data2 = _fixture_blocks()
    a, b = _pair_dfs(spark, data1, data2)
    full = D.diff_stats(a, b).collect()[0]
    hist = D.diff_histogram(a, b, -1.0, 1.0, 4).collect()
    for pad in (0, 2):
        strips = chunk_images(b, min_data_size=64 * 4, padding=pad)
        got = D.diff_stats(a, strips).collect()[0]
        for k in ("count", "diff_min", "diff_max", "first_min",
                  "second_min", "second_max"):
            assert got[k] == full[k], (pad, k)
        for k in ("diff_sum", "abs_diff_sum", "first_sum", "second_sum"):
            assert isclose(got[k], full[k], rel_tol=1e-12), (pad, k)
        assert D.diff_histogram(a, strips, -1.0, 1.0, 4).collect() == hist


def test_diff_adjust_negate(spark):
    data1, data2 = _fixture_blocks()
    a, b = _pair_dfs(spark, data1, data2)
    diff = data2[8:-8, 16:-16].repeat(4, axis=0).repeat(4, axis=1) - data1
    row = D.diff_stats(a, b, adjust=2.0, negate=True).collect()[0]
    expect = -(diff + 2.0)
    assert isclose(row["diff_sum"], expect.sum(), rel_tol=1e-9)
    assert isclose(row["diff_max"], expect.max(), rel_tol=1e-9)


def test_diff_histogram_and_raster(spark):
    data1, data2 = _fixture_blocks()
    a, b = _pair_dfs(spark, data1, data2)
    diff = data2[8:-8, 16:-16].repeat(4, axis=0).repeat(4, axis=1) - data1

    hist = {r["bin"]: r["n"] for r in D.diff_histogram(a, b, -1.0, 1.0, 4).collect()}
    step = 0.5
    expect_bins = np.where(diff >= 1.0, 4,
                           np.where(diff < -1.0, -1,
                                    np.minimum(np.floor((diff + 1.0) / step), 4))).astype(int)
    idx, cnt = np.unique(expect_bins, return_counts=True)
    assert hist == {int(i): int(c) for i, c in zip(idx, cnt)}
    assert sum(hist.values()) == diff.size

    # float diff raster round-trips the oracle exactly
    out = D.diff_raster(a, b).collect()[0]
    got = codecs.decode_raw(out["bytes"], out["h"], out["w"])
    assert np.allclose(got, diff)

    # discretized i32 raster with no-data -128 on unpaired pixels
    outd = D.diff_raster(a, b, discretize=(-1.0, 1.0, 4)).collect()[0]
    gotd = np.frombuffer(outd["bytes"], dtype="<i4").reshape(64, 128)
    assert np.array_equal(gotd, expect_bins)


def test_diff_raster_strips_equal_whole_image(spark):
    """diff_raster over A strips, B strips, or both gives one row per
    pair with the whole-image bytes: the strip partials of a pair are
    disjoint and merge into one raster."""
    data1, data2 = _fixture_blocks()
    data1[3:9, 5:40] = np.nan
    a, b = _pair_dfs(spark, data1, data2)
    sides = {"a strips": (chunk_images(a, min_data_size=128 * 8), b),
             "b strips": (a, chunk_images(b, min_data_size=64 * 4)),
             "both": (chunk_images(a, min_data_size=128 * 16),
                      chunk_images(b, min_data_size=64 * 4, padding=1))}
    for disc in (None, (-1.0, 1.0, 4)):
        whole = D.diff_raster(a, b, discretize=disc).collect()
        assert len(whole) == 1
        for name, (sa, sb) in sides.items():
            got = D.diff_raster(sa, sb, discretize=disc).collect()
            assert len(got) == 1, (name, disc, len(got))
            assert got[0].asDict() == whole[0].asDict(), (name, disc)


def test_diff_extent_clip(spark):
    data1, data2 = _fixture_blocks()
    a, b = _pair_dfs(spark, data1, data2)
    # world-coord square covering A pixels with centers in x:[-60,-40), y:[-30,-10)
    ext = ([0], [-60.0, -40.0, -40.0, -60.0], [-30.0, -30.0, -10.0, -10.0])
    row = D.diff_stats(a, b, extent=ext).collect()[0]
    # A pixel center (j+0.5-64, i+0.5-32) inside the open square
    jj, ii = np.meshgrid(np.arange(128), np.arange(64))
    wx, wy = jj + 0.5 - 64.0, ii + 0.5 - 32.0
    inside = (wx > -60.0) & (wx < -40.0) & (wy > -30.0) & (wy < -10.0)
    assert row["count"] == inside.sum()


def test_diff_stats_of_disjoint_pair_is_null_mean(spark):
    """A pair with no pixel pair (B far from A) has count 0 and a NULL
    diff mean and std, not a DIVIDE_BY_ZERO for the whole query."""
    data1, data2 = _fixture_blocks()
    a, b = _pair_dfs(spark, data1, data2)
    from pyspark.sql import functions as F
    far = F.array(*[F.lit(v) for v in (1e6, 4.0, 0.0, 1e6, 0.0, 4.0)])
    b = b.withColumn("gt", far)
    for per_pair in (False, True):
        rows = D.diff_stats(a, b, per_pair=per_pair).collect()
        assert len(rows) == 1
        assert rows[0]["count"] == 0
        assert rows[0]["diff_mean"] is None and rows[0]["diff_std"] is None


def test_no_val_pixels_skipped(spark):
    data1, data2 = _fixture_blocks()
    data1[0, :] = -999.0  # A no-data row
    data2[10, :] = np.nan  # B NaN row kills partners
    a, b = _pair_dfs(spark, data1, data2)
    from pyspark.sql import functions as F
    a = a.withColumn("no_val", F.lit(-999.0))
    row = D.diff_stats(a, b).collect()[0]
    # 128 A pixels dropped by no_val; B row 10 covers A rows 8..12 of the
    # repeat grid -> 4*128 pairs dropped
    assert row["count"] == 64 * 128 - 128 - 4 * 128


def test_mask_three_band_rule(spark):
    rng = np.random.default_rng(3)
    data = rng.integers(0, 2, size=(3 * 64, 64)).astype(np.float64)
    pdf = pd.DataFrame([{
        "image_id": "m0", "bytes": codecs.encode_raw(data),
        "w": 64, "h": 64, "fmt": "raw", "bands": 3,
        "gt": [0.0, 1.0, 0.0, 0.0, 0.0, -1.0], "crs": "IDENTITY",
        "no_val": 0.0,
    }])
    out = mask(spark.createDataFrame(pdf)).collect()[0]
    got = np.frombuffer(out["bytes"], dtype=np.uint8).reshape(64, 64)
    bands = data.reshape(3, 64, 64)
    expect = np.where(np.all(bands == 0.0, axis=0), 0, 255)
    assert np.array_equal(got, expect)
    # single band: NaN and no_val are both masked out
    blk = np.array([[1.0, np.nan], [0.0, 2.0]])
    m = mask_block(blk, 1, 0.0)
    assert m.tolist() == [[255, 0], [0, 255]]


def test_diff_raster_discretized_is_consumable(spark):
    """Regression: the discretized diff raster declares fmt 'i32' and
    must be decodable by the shared codec registry (and carry no_val)
    so downstream block consumers can read it."""
    from rasters_rs_spark.functions import codecs
    from rasters_rs_spark.operators import diff as DF
    from rasters_rs_spark.sources import synth
    a = spark.createDataFrame(synth.lcg_image_table(2, 16, 16, 2.0))
    b = spark.createDataFrame(
        synth.lcg_image_table(2, 16, 16, 2.0, k_offset=3_000_000))
    out = DF.diff_raster(a, b, discretize=(-1.0, 1.0, 8)).collect()[0]
    assert out["fmt"] == "i32" and out["no_val"] == -128.0
    block = codecs.decode_block(bytes(out["bytes"]), 16, 16, "i32")
    valid = block[block != -128.0]
    assert valid.size > 0 and valid.min() >= -1 and valid.max() <= 8
