"""Chunked-image representation: round trip, and every operator over
strip rows == the same operator over the whole images (stats, zonal,
majority, diff with A and/or B as strips — the reference's -c 1 stress
in distributed form)."""

import numpy as np
import pandas as pd
import pytest

from rasters_rs_spark.functions import codecs
from rasters_rs_spark.operators import chunked as C
from rasters_rs_spark.operators import diff as D
from rasters_rs_spark.operators import stats as S
from rasters_rs_spark.sources import synth


@pytest.fixture(scope="module")
def images(spark):
    return spark.createDataFrame(
        synth.image_table(6, seed=13, h=64, w=48, fmt_cycle=("raw",))).persist()


def test_chunk_roundtrip(spark, images):
    # padding=0: data ranges tile the full height -> exact round trip
    chunks = C.chunk_images(images, min_data_size=48 * 8)
    back = {r["image_id"]: r for r in C.assemble_images(chunks).collect()}
    for r in images.collect():
        orig = codecs.decode_raw(bytes(r["bytes"]), 64, 48)
        got = codecs.decode_raw(bytes(back[r["image_id"]]["bytes"]), 64, 48)
        assert np.array_equal(got, orig)


def test_chunk_roundtrip_padding_skips_borders(spark, images):
    # reference semantics: start is clamped to padding (builder.rs:104-108)
    # and the last data_end is load-clamped, so the first and last
    # `padding` rows are context-only and never produced as data
    chunks = C.chunk_images(images, min_data_size=48 * 8, padding=3)
    back = {r["image_id"]: r for r in C.assemble_images(chunks).collect()}
    for r in images.collect():
        orig = codecs.decode_raw(bytes(r["bytes"]), 64, 48)
        got = codecs.decode_raw(bytes(back[r["image_id"]]["bytes"]), 64, 48)
        assert np.array_equal(got[3:-3], orig[3:-3])
        assert np.isnan(got[:3]).all() and np.isnan(got[-3:]).all()


def test_chunked_stats_equal_whole(spark, images):
    whole = {r["image_id"]: r for r in
             S.image_pixel_stats(images, per_image=True).collect()}
    chunks = C.chunk_images(images, min_data_size=48 * 4)
    part = {r["image_id"]: r for r in
            S.image_pixel_stats(chunks, per_image=True).collect()}
    assert set(whole) == set(part)
    for k in whole:
        assert whole[k]["count"] == part[k]["count"]
        assert whole[k]["min"] == part[k]["min"]
        assert whole[k]["max"] == part[k]["max"]
        assert whole[k]["sum"] == pytest.approx(part[k]["sum"], rel=1e-12)


def test_chunked_zonal_equals_whole(spark, images):
    """Per-chunk zonal stats (the reference's raster-stats execution
    shape) equal the whole-image zonal_stats exactly, including an AOI
    that straddles chunk boundaries."""
    aois = synth.aoi_table(6, seed=91, extent=(-2000.0, -2000.0, 2000.0, 2000.0))
    whole = {r["aoi_id"]: r for r in S.zonal_stats(images, aois).collect()}
    chunks = C.chunk_images(images, min_data_size=48 * 8)
    part = {r["aoi_id"]: r
            for r in S.zonal_stats(chunks, aois).collect()}
    assert set(whole) == set(part) and len(whole) > 0
    for k in whole:
        assert whole[k]["count"] == part[k]["count"]
        assert whole[k]["min"] == part[k]["min"]
        assert whole[k]["max"] == part[k]["max"]
        assert whole[k]["sum"] == pytest.approx(part[k]["sum"], rel=1e-12)
        assert whole[k]["sum_2"] == pytest.approx(part[k]["sum_2"], rel=1e-12)


def test_chunked_diff_equals_whole(spark):
    rng = np.random.default_rng(0xD1FF)
    data1 = rng.normal(size=(64, 128))
    data2 = rng.normal(size=(32, 64))
    a = spark.createDataFrame(pd.DataFrame([{
        "image_id": "p0", "bytes": codecs.encode_raw(data1),
        "w": 128, "h": 64, "fmt": "raw",
        "gt": [-64.0, 1.0, 0.0, -32.0, 0.0, 1.0],
        "crs": "IDENTITY", "no_val": float("nan")}]))
    b = spark.createDataFrame(pd.DataFrame([{
        "image_id": "p0", "bytes": codecs.encode_raw(data2),
        "w": 64, "h": 32, "fmt": "raw",
        "gt": [-128.0, 4.0, 0.0, -64.0, 0.0, 4.0],
        "crs": "IDENTITY", "no_val": float("nan")}]))

    whole = D.diff_stats(a, b).collect()[0]
    # chunk A into 8-row strips: the distributed work unit
    a_chunks = C.chunk_images(a, min_data_size=128 * 8)
    assert a_chunks.count() == 8
    chunked = D.diff_stats(a_chunks, b).collect()[0]
    assert chunked["count"] == whole["count"]
    assert chunked["diff_min"] == whole["diff_min"]
    assert chunked["diff_max"] == whole["diff_max"]
    assert chunked["diff_sum"] == pytest.approx(whole["diff_sum"], rel=1e-12)
    assert chunked["abs_diff_sum"] == pytest.approx(whole["abs_diff_sum"], rel=1e-12)


def test_both_sides_chunked_diff_equals_whole(spark):
    """Both A and B chunked (huge x huge path): the plan-time B-range
    join + per-chunk windowed pairing must equal the whole-image diff
    exactly, including B chunks that serve several A chunks."""
    rng = np.random.default_rng(0xB07)
    data1 = rng.normal(size=(64, 128))
    data2 = rng.normal(size=(32, 64))
    a = spark.createDataFrame(pd.DataFrame([{
        "image_id": "p0", "bytes": codecs.encode_raw(data1),
        "w": 128, "h": 64, "fmt": "raw",
        "gt": [-64.0, 1.0, 0.0, -32.0, 0.0, 1.0],
        "crs": "IDENTITY", "no_val": float("nan")}]))
    b = spark.createDataFrame(pd.DataFrame([{
        "image_id": "p0", "bytes": codecs.encode_raw(data2),
        "w": 64, "h": 32, "fmt": "raw",
        "gt": [-128.0, 4.0, 0.0, -64.0, 0.0, 4.0],
        "crs": "IDENTITY", "no_val": float("nan")}]))

    whole = D.diff_stats(a, b).collect()[0]
    for b_rows, pad in ((4, 0), (8, 2)):
        a_chunks = C.chunk_images(a, min_data_size=128 * 8)
        b_chunks = C.chunk_images(b, min_data_size=64 * b_rows, padding=pad)
        got = D.diff_stats(a_chunks, b_chunks).collect()[0]
        assert got["count"] == whole["count"], (b_rows, pad)
        assert got["diff_min"] == whole["diff_min"]
        assert got["diff_max"] == whole["diff_max"]
        assert got["diff_sum"] == pytest.approx(whole["diff_sum"], rel=1e-12)
        assert got["abs_diff_sum"] == pytest.approx(whole["abs_diff_sum"],
                                                    rel=1e-12)
        assert got["first_sum"] == pytest.approx(whole["first_sum"], rel=1e-12)
        assert got["second_sum"] == pytest.approx(whole["second_sum"], rel=1e-12)


def test_both_sides_chunked_diff_rotated_pair_equals_whole(spark):
    """The plan-time B-strip predicate assumes north-up rasters: on A
    32x32 at gt [0,1,0,0,0.5,1] (a y-shear per column) in 8-row strips
    against B 16x16 at [-8,4,0,-8,0,4] in 4-row strips it once dropped
    128 of the 1024 pairs. It now prunes north-up pairs only; a pair
    with a rotation term on either side meets every B strip and the
    kernel's data-row test keeps it exact, so A strips against B
    strips equal the whole-image diff, as A strips against a whole B
    do."""
    rng = np.random.default_rng(0x207)

    def img(iid, h, w, gt):
        return spark.createDataFrame(pd.DataFrame([{
            "image_id": iid, "bytes": codecs.encode_raw(rng.normal(size=(h, w))),
            "w": w, "h": h, "fmt": "raw", "gt": gt,
            "crs": "IDENTITY", "no_val": float("nan")}]))

    a = img("rot0", 32, 32, [0.0, 1.0, 0.0, 0.0, 0.5, 1.0])
    b = img("rot0", 16, 16, [-8.0, 4.0, 0.0, -8.0, 0.0, 4.0])
    whole = D.diff_stats(a, b).collect()[0]
    assert whole["count"] == 1024
    a_chunks = C.chunk_images(a, min_data_size=32 * 8)
    chunked = D.diff_stats(a_chunks, b).collect()[0]
    for k in ("count", "diff_min", "diff_max", "first_min", "second_max"):
        assert chunked[k] == whole[k], k
    assert chunked["diff_sum"] == pytest.approx(whole["diff_sum"], rel=1e-12)

    b_chunks = C.chunk_images(b, min_data_size=16 * 4)
    both = D.diff_stats(a_chunks, b_chunks).collect()[0]
    for k in ("count", "diff_min", "diff_max", "first_min", "second_max"):
        assert both[k] == whole[k], k
    assert both["diff_sum"] == pytest.approx(whole["diff_sum"], rel=1e-12)
    # a rotated B, with a north-up A
    north = img("rot1", 32, 32, [0.0, 1.0, 0.0, 0.0, 0.0, 1.0])
    b_rot = img("rot1", 16, 16, [-8.0, 4.0, 0.5, -8.0, 0.0, 4.0])
    whole = D.diff_stats(north, b_rot).collect()[0]
    assert whole["count"] > 0
    both = D.diff_stats(C.chunk_images(north, min_data_size=32 * 8),
                        C.chunk_images(b_rot, min_data_size=16 * 4)
                        ).collect()[0]
    for k in ("count", "diff_min", "diff_max", "first_min", "second_max"):
        assert both[k] == whole[k], k
    assert both["diff_sum"] == pytest.approx(whole["diff_sum"], rel=1e-12)


def test_chunked_diff_histogram_equals_whole(spark):
    """Chunked histogram bin counts are integers merged additively —
    exactly equal to the whole-image diff_histogram."""
    rng = np.random.default_rng(0x415)
    data1 = rng.normal(size=(64, 128))
    data2 = rng.normal(size=(32, 64))
    a = spark.createDataFrame(pd.DataFrame([{
        "image_id": "p0", "bytes": codecs.encode_raw(data1),
        "w": 128, "h": 64, "fmt": "raw",
        "gt": [-64.0, 1.0, 0.0, -32.0, 0.0, 1.0],
        "crs": "IDENTITY", "no_val": float("nan")}]))
    b = spark.createDataFrame(pd.DataFrame([{
        "image_id": "p0", "bytes": codecs.encode_raw(data2),
        "w": 64, "h": 32, "fmt": "raw",
        "gt": [-128.0, 4.0, 0.0, -64.0, 0.0, 4.0],
        "crs": "IDENTITY", "no_val": float("nan")}]))
    whole = {r["bin"]: r["n"]
             for r in D.diff_histogram(a, b, -3.0, 3.0, 12).collect()}
    a_chunks = C.chunk_images(a, min_data_size=128 * 8)
    got = {r["bin"]: r["n"]
           for r in D.diff_histogram(a_chunks, b, -3.0, 3.0, 12).collect()}
    assert got == whole and sum(whole.values()) == 64 * 128


def test_chunked_diff_with_padding_equals_unpadded_range(spark):
    """padding > 0 loads context rows shared by adjacent chunks; the
    diff must aggregate DATA rows only (no double counting). With the
    reference's clamping the processed range is rows padding..h-?, so
    compare against a whole-image diff restricted to the same range."""
    rng = np.random.default_rng(0xABCD)
    data1 = rng.normal(size=(64, 32))
    data2 = rng.normal(size=(64, 32))
    mk = lambda iid, d: pd.DataFrame([{
        "image_id": iid, "bytes": codecs.encode_raw(d),
        "w": 32, "h": 64, "fmt": "raw",
        "gt": [0.0, 1.0, 0.0, 0.0, 0.0, 1.0],
        "crs": "IDENTITY", "no_val": float("nan")}])
    a = spark.createDataFrame(mk("p0", data1))
    b = spark.createDataFrame(mk("p0", data2))

    pad = 3
    a_chunks = C.chunk_images(a, min_data_size=32 * 8, padding=pad)
    chunked = D.diff_stats(a_chunks, b).collect()[0]

    # oracle: numpy over the chunked data range (the planner clamps
    # start to `padding` and the last data_end to load_end - padding,
    # so rows pad..h-pad are the data rows — same as the roundtrip test)
    spans = sorted((r["data_start"], r["data_end"])
                   for r in a_chunks.select("data_start", "data_end").collect())
    lo, hi = spans[0][0], spans[-1][1]
    for (s0, e0), (s1, e1) in zip(spans, spans[1:]):
        assert e0 == s1  # contiguous, non-overlapping data ranges
    rows = slice(lo, hi)
    d = data2[rows] - data1[rows]
    assert chunked["count"] == d.size
    assert chunked["diff_sum"] == pytest.approx(d.sum(), rel=1e-12)
    assert chunked["diff_min"] == pytest.approx(d.min(), rel=1e-12)
    assert chunked["diff_max"] == pytest.approx(d.max(), rel=1e-12)
    assert chunked["abs_diff_sum"] == pytest.approx(np.abs(d).sum(), rel=1e-12)


def test_one_row_strips_zonal_not_skipped(spark):
    """Regression: 1-row strips have a DEGENERATE pixel-center bbox and
    the strict bounds_intersect used to skip every AOI for them —
    chunked zonal stats must equal the whole-image zonal stats even
    when every strip is a single data row."""
    from rasters_rs_spark.operators import stats as S
    from rasters_rs_spark.operators.chunked import chunk_images
    from rasters_rs_spark.sources import synth
    images = spark.createDataFrame(synth.lcg_image_table(16, 32, 32, 2.0))
    aois = synth.aoi_table(6, seed=43,
                           extent=(-1050.0, 550.0, -50.0, 1050.0))
    whole = {r["aoi_id"]: (r["count"], r["sum"])
             for r in S.zonal_stats(images, aois).collect()}
    strips = chunk_images(images, min_data_size=1)   # 1-row strips
    per_img = strips.groupBy("image_id").count().collect()
    assert all(r["count"] == 32 for r in per_img)
    got = {r["aoi_id"]: (r["count"], r["sum"])
           for r in S.zonal_stats(strips, aois).collect()}
    assert got == whole and len(got) > 0


def test_q16_chunks_keep_global_quantization_grid(spark):
    """Regression: chunk strips of a q16 image must decode to EXACTLY
    the whole-image decode (strip slicing keeps the image-global
    min/max header; re-encoding would re-quantize per strip)."""
    import numpy as np
    from rasters_rs_spark.functions import codecs
    from rasters_rs_spark.operators.chunked import chunk_images
    from rasters_rs_spark.sources import synth
    images = spark.createDataFrame(
        synth.lcg_image_table(2, 32, 32, 2.0, fmt="q16"))
    whole = {r["image_id"]: codecs.decode_block(bytes(r["bytes"]), 32, 32,
                                                "q16")
             for r in images.collect()}
    chunks = chunk_images(images, min_data_size=32 * 8, padding=2)
    for r in chunks.collect():
        ls, le = int(r["load_start"]), int(r["load_end"])
        strip = codecs.decode_block(bytes(r["bytes"]), le - ls, 32, "q16")
        assert np.array_equal(strip, whole[r["image_id"]][ls:le])


def test_diff_stats_chunked_adjust_negate_matches_whole(spark):
    """diff_stats over A strips must honor adjust/negate exactly like
    over whole images (the strip path silently ignored them once)."""
    from rasters_rs_spark.operators import diff as DF
    from rasters_rs_spark.operators.chunked import chunk_images
    from rasters_rs_spark.sources import synth
    a = spark.createDataFrame(synth.lcg_image_table(4, 32, 32, 2.0))
    b = spark.createDataFrame(
        synth.lcg_image_table(4, 16, 16, 4.0, k_offset=7_000_000))
    whole = DF.diff_stats(a, b, adjust=1.5, negate=True).collect()[0]
    chunked = DF.diff_stats(chunk_images(a, min_data_size=32 * 8), b,
                            adjust=1.5, negate=True).collect()[0]
    for c in ("count", "diff_min", "diff_max", "diff_sum", "diff_sum_2"):
        assert chunked[c] == whole[c], c


def test_chunk_assemble_roundtrip_byte_identical(spark):
    """chunk_images -> assemble_images must return the EXACT stored
    bytes for both raw and q16 (assembly stitches stored row bytes; a
    decode/re-encode would drift q16 codes by up to a step)."""
    from rasters_rs_spark.operators.chunked import (assemble_images,
                                                    chunk_images)
    from rasters_rs_spark.sources import synth
    for fmt in ("raw", "q16"):
        images = spark.createDataFrame(
            synth.lcg_image_table(2, 32, 32, 2.0, fmt=fmt))
        orig = {r["image_id"]: bytes(r["bytes"]) for r in images.collect()}
        back = assemble_images(chunk_images(images, min_data_size=32 * 8))
        got = {r["image_id"]: bytes(r["bytes"]) for r in back.collect()}
        assert got == orig, fmt


def test_assemble_images_refuses_huge_image(spark):
    import pytest
    from rasters_rs_spark.operators.chunked import assemble_images, chunk_images
    from rasters_rs_spark.sources import synth
    images = spark.createDataFrame(synth.lcg_image_table(1, 32, 32, 2.0))
    chunks = chunk_images(images, min_data_size=32 * 8)
    with pytest.raises(Exception, match="max_image_bytes"):
        assemble_images(chunks, max_image_bytes=100).collect()


def test_chunked_zonal_majority_equals_whole(spark):
    import pandas as pd

    from rasters_rs_spark.operators import stats as S
    from rasters_rs_spark.operators.chunked import chunk_images
    from rasters_rs_spark.sources import synth

    imgs = spark.createDataFrame(synth.lcg_image_table(8))
    aois = pd.DataFrame([
        {"aoi_id": "a", "ring_offsets": [0],
         "xs": [-990.0, -890.0, -890.0, -990.0],
         "ys": [850.0, 850.0, 995.0, 995.0]},
        {"aoi_id": "b", "ring_offsets": [0],
         "xs": [-1000.0, -700.0, -850.0],
         "ys": [840.0, 840.0, 1000.0]},
    ])
    whole = sorted(tuple(r) for r in
                   S.zonal_majority(imgs, aois, n_classes=4).collect())
    for strip_rows in (4, 32):
        chunks = chunk_images(imgs, min_data_size=32 * strip_rows)
        ch = sorted(tuple(r) for r in
                    S.zonal_majority(chunks, aois, n_classes=4).collect())
        assert ch == whole and len(ch) == 2
