"""End-to-end stats oracle (reference tests/test_stats.py:8-23 analogue)
plus zonal stats and the cell-keyed PIP join vs brute-force numpy."""

from math import isclose, sqrt

import numpy as np
import pandas as pd

from rasters_rs_spark.functions import codecs, geom
from rasters_rs_spark.operators import stats as S
from rasters_rs_spark.operators.celljoin import cell_pip_join
from rasters_rs_spark.sources import synth


def _images_df(spark, pdf):
    return spark.createDataFrame(pdf)


def test_image_pixel_stats_matches_numpy(spark):
    # 64x64 N(0,1), rel_tol 1e-2 like harness.py:59-60 (we use much tighter)
    rng = np.random.default_rng(0xBEEF)
    data = rng.normal(size=(64, 64))
    pdf = pd.DataFrame(
        [{
            "image_id": "t0", "bytes": codecs.encode_raw(data),
            "w": 64, "h": 64, "fmt": "raw",
            "gt": [0.0, 1.0, 0.0, 0.0, 0.0, -1.0],
            "crs": "EPSG:3857", "no_val": float("nan"),
        }]
    )
    row = S.image_pixel_stats(_images_df(spark, pdf)).collect()[0]
    assert isclose(row["max"], data.max(), rel_tol=1e-9)
    assert isclose(row["min"], data.min(), rel_tol=1e-9)
    assert isclose(row["sum"], data.sum(), rel_tol=1e-9)
    # reference derives std as sqrt(sum_2/count) == N.std for zero-mean-ish
    assert isclose(sqrt(row["sum_2"] / row["count"]), data.std(), rel_tol=1e-2)


def test_column_stats_and_histogram(spark):
    pdf = pd.DataFrame({"v": [0.0, 0.5, 1.5, 2.5, 10.0, -3.0]})
    df = spark.createDataFrame(pdf)
    row = S.column_stats(df, "v").collect()[0]
    assert row["count"] == 6.0
    assert row["min"] == -3.0 and row["max"] == 10.0
    # histogram min=0 max=3 step=1 -> bins 0,1,2; -3 underflow; 10 overflow
    hist = {r["bin"]: r["n"] for r in S.histogram(df, "v", 0.0, 3.0, step=1.0).collect()}
    assert hist == {-1: 1, 0: 2, 1: 1, 2: 1, 3: 1}


def test_histogram_val_eq_max_overflows(spark):
    # src/histogram.rs:60: val >= max -> overflow even if a bin exists
    df = spark.createDataFrame(pd.DataFrame({"v": [3.0]}))
    hist = {r["bin"]: r["n"] for r in S.histogram(df, "v", 0.0, 3.0, step=1.0).collect()}
    assert hist == {3: 1}


def _zonal_oracle(blocks, gts, aois):
    """Brute-force numpy zonal stats (the reference's nested loop)."""
    out = {}
    for (block, gt) in zip(blocks, gts):
        t = geom.transform_from_gdal(gt)
        h, w = block.shape
        jj, ii = np.meshgrid(np.arange(w), np.arange(h))
        wx, wy = geom.transform_points(t, jj.ravel() + 0.5, ii.ravel() + 0.5)
        vals = block.ravel()
        valid = ~np.isnan(vals)
        for r in aois.itertuples(index=False):
            inside = geom.points_in_rings(
                wx, wy, list(r.ring_offsets),
                np.asarray(r.xs), np.asarray(r.ys)) & valid
            if inside.any():
                v = vals[inside]
                cur = out.setdefault(r.aoi_id, [0.0, np.inf, -np.inf, 0.0, 0.0])
                cur[0] += v.size
                cur[1] = min(cur[1], v.min())
                cur[2] = max(cur[2], v.max())
                cur[3] += v.sum()
                cur[4] += (v * v).sum()
    return out


def test_zonal_stats_matches_bruteforce(spark):
    images = synth.image_table(6, seed=5, h=32, w=32, fmt_cycle=("raw",),
                               extent=(-100, -100, 100, 100), pixel_size=2.0)
    aois = synth.aoi_table(5, seed=6, extent=(-100, -100, 100, 100))
    blocks = [codecs.decode_raw(b, 32, 32) for b in images["bytes"]]
    oracle = _zonal_oracle(blocks, list(images["gt"]), aois)

    df = S.zonal_stats(_images_df(spark, images), aois)
    got = {r["aoi_id"]: r for r in df.collect()}
    assert set(got) == set(oracle)
    for aoi_id, (c, mn, mx, sm, s2) in oracle.items():
        r = got[aoi_id]
        assert r["count"] == c
        assert isclose(r["min"], mn, rel_tol=1e-12)
        assert isclose(r["max"], mx, rel_tol=1e-12)
        assert isclose(r["sum"], sm, rel_tol=1e-9)
        assert isclose(r["sum_2"], s2, rel_tol=1e-9)


def test_cell_pip_join_matches_bruteforce(spark):
    pts = synth.points_table(400, seed=9)
    aois = synth.aoi_table(8, seed=10)
    pts_df = spark.createDataFrame(pts)

    got = {
        (r["pt_id"], r["aoi_id"])
        for r in cell_pip_join(pts_df, aois, zoom=12).collect()
    }
    expect = set()
    for r in aois.itertuples(index=False):
        inside = geom.points_in_rings(
            pts["x"].to_numpy(), pts["y"].to_numpy(),
            list(r.ring_offsets), np.asarray(r.xs), np.asarray(r.ys))
        for pid in pts["pt_id"].to_numpy()[inside]:
            expect.add((pid, r.aoi_id))
    assert got == expect
    assert len(expect) > 0  # non-degenerate


def test_zonal_broadcast_equals_celljoin_path(spark):
    """Two independent join strategies must agree: the broadcast-AOI
    pandas path (zonal_stats) and the cell-keyed equi-join over exploded
    pixel centers (cell_pip_join + groupBy)."""
    from pyspark.sql import functions as F
    images = synth.image_table(4, seed=15, h=16, w=16, fmt_cycle=("raw",),
                               extent=(-100, -100, 100, 100), pixel_size=4.0)
    aois = synth.aoi_table(5, seed=16, extent=(-100, -100, 100, 100))

    a = S.zonal_stats(_images_df(spark, images), aois)
    got_a = {r["aoi_id"]: r for r in a.collect()}

    # pixel-center point table (exploded)
    rows = []
    for row in images.itertuples(index=False):
        block = codecs.decode_raw(row.bytes, 16, 16)
        t = geom.transform_from_gdal(row.gt)
        jj, ii = np.meshgrid(np.arange(16), np.arange(16))
        wx, wy = geom.transform_points(t, jj.ravel() + 0.5, ii.ravel() + 0.5)
        for x, y, v in zip(wx, wy, block.ravel()):
            if not np.isnan(v):
                rows.append((f"{row.image_id}:{x}:{y}", float(x), float(y), float(v)))
    pts = spark.createDataFrame(pd.DataFrame(rows, columns=["pid", "x", "y", "v"]))
    joined = cell_pip_join(pts, aois, zoom=14)
    b = joined.groupBy("aoi_id").agg(
        F.count("*").alias("count"), F.min("v").alias("min"),
        F.max("v").alias("max"), F.sum("v").alias("sum"))
    got_b = {r["aoi_id"]: r for r in b.collect()}

    assert set(got_a) == set(got_b)
    for k in got_a:
        assert got_a[k]["count"] == got_b[k]["count"]
        assert got_a[k]["min"] == got_b[k]["min"]
        assert got_a[k]["max"] == got_b[k]["max"]
        assert abs(got_a[k]["sum"] - got_b[k]["sum"]) < 1e-9


def test_cell_pip_join_salted_same_result(spark):
    pts = synth.points_table(200, seed=11)
    aois = synth.aoi_table(4, seed=12)
    pts_df = spark.createDataFrame(pts)
    plain = {(r["pt_id"], r["aoi_id"]) for r in cell_pip_join(pts_df, aois, zoom=10).collect()}
    salted = {
        (r["pt_id"], r["aoi_id"])
        for r in cell_pip_join(pts_df, aois, zoom=10, broadcast_aois=False, salt=4).collect()
    }
    assert plain == salted


def test_column_percentiles_matches_numpy(spark):
    """Exact percentile == numpy linear interpolation (the continuous
    p*(n-1) definition both Spark's percentile and DuckDB's
    quantile_cont implement)."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(12)
    vals = rng.normal(size=501)
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    row = S.column_percentiles(df, "v", ps=(0.5, 0.9)).collect()[0]
    assert abs(row["p50"] - np.percentile(vals, 50)) < 1e-12
    assert abs(row["p90"] - np.percentile(vals, 90)) < 1e-12


def test_zonal_rect_weighted_vs_supersample(spark):
    """Coverage-fraction zonal vs a 50x50-supersampled approximation
    (frac ~ fraction of subsample centers inside the rect): exact
    fractions must agree to the subsampling resolution; w_count sits
    between the strict-interior and touched-pixel counts of the
    center rule."""
    import numpy as np
    import pandas as pd

    from rasters_rs_spark.functions import codecs
    from rasters_rs_spark.operators import stats as S
    from rasters_rs_spark.sources import synth

    pdf = synth.lcg_image_table(4)
    imgs = spark.createDataFrame(pdf)
    rects = pd.DataFrame(
        [("r0", -951.0, 841.0, -875.0, 981.0),
         ("r1", -999.5, 900.25, -900.5, 999.75)],   # quarter-pixel edges
        columns=["aoi_id", "x0", "y0", "x1", "y1"])
    got = {r["aoi_id"]: r for r in
           S.zonal_stats_rect_weighted(imgs, rects).collect()}

    n = 50
    for _, rect in rects.iterrows():
        w_count = w_sum = 0.0
        touched = inner = 0
        vmin, vmax = np.inf, -np.inf
        for m in range(4):
            block = codecs.decode_block(pdf.bytes[m], 32, 32, "raw")
            gx, gy = pdf["gt"][m][0], pdf["gt"][m][3]
            for i in range(32):
                for j in range(32):
                    pxl, pxr = gx + 2 * j, gx + 2 * (j + 1)
                    ylo, yhi = gy - 2 * (i + 1), gy - 2 * i
                    ox = max(0.0, min(pxr, rect.x1) - max(pxl, rect.x0))
                    oy = max(0.0, min(yhi, rect.y1) - max(ylo, rect.y0))
                    frac = ox * oy / 4.0
                    # supersample check of the closed form
                    xs = pxl + (np.arange(n) + 0.5) * 2.0 / n
                    ys = ylo + (np.arange(n) + 0.5) * 2.0 / n
                    ins = ((xs[None, :] > rect.x0) & (xs[None, :] < rect.x1)
                           & (ys[:, None] > rect.y0)
                           & (ys[:, None] < rect.y1))
                    assert abs(frac - ins.mean()) < 2.0 / n, (m, i, j)
                    if frac > 0:
                        v = block[i, j]
                        w_count += frac
                        w_sum += frac * v
                        touched += 1
                        vmin, vmax = min(vmin, v), max(vmax, v)
                        if frac == 1.0:
                            inner += 1
        r = got[rect.aoi_id]
        assert abs(r["w_count"] - w_count) < 1e-9
        assert abs(r["w_sum"] - w_sum) < 1e-9
        assert r["min"] == vmin and r["max"] == vmax
        assert inner <= r["w_count"] <= touched
        assert abs(r["mean"] - w_sum / w_count) < 1e-12


def test_zonal_rect_weighted_full_cover_equals_unweighted_count(spark):
    """A rect covering whole images exactly: w_count == pixel count and
    w_sum == plain sum (every frac == 1)."""
    import pandas as pd

    from rasters_rs_spark.operators import stats as S
    from rasters_rs_spark.sources import synth

    imgs = spark.createDataFrame(synth.lcg_image_table(2))
    # image 0 spans x [-1000, -936], y [936, 1000]
    rects = pd.DataFrame([("all0", -1000.0, 936.0, -936.0, 1000.0)],
                         columns=["aoi_id", "x0", "y0", "x1", "y1"])
    r = S.zonal_stats_rect_weighted(imgs, rects).collect()[0]
    assert r["w_count"] == 1024.0
    assert abs(r["mean"] - r["w_sum"] / 1024.0) == 0.0


def test_zonal_weighted_polygon_matches_rect_closed_form(spark):
    """On rectangle AOIs the general clipped-trapezoid kernel must
    agree exactly with the rect closed form (horizontal edges take the
    m == 0 path: clamps and products of dyadic values only)."""
    import pandas as pd

    from rasters_rs_spark.operators import stats as S
    from rasters_rs_spark.sources import synth

    imgs = spark.createDataFrame(synth.lcg_image_table(4))
    rects = pd.DataFrame(
        [("r0", -951.0, 841.0, -875.0, 981.0),
         ("r1", -999.5, 900.25, -900.5, 999.75)],
        columns=["aoi_id", "x0", "y0", "x1", "y1"])
    aois = pd.DataFrame([
        {"aoi_id": r.aoi_id, "ring_offsets": [0],
         "xs": [r.x0, r.x1, r.x1, r.x0], "ys": [r.y0, r.y0, r.y1, r.y1]}
        for r in rects.itertuples(index=False)])
    a = {r["aoi_id"]: r for r in
         S.zonal_stats_rect_weighted(imgs, rects).collect()}
    b = {r["aoi_id"]: r for r in
         S.zonal_stats_weighted(imgs, aois).collect()}
    assert set(a) == set(b)
    for k in a:
        for c in ("w_count", "min", "max", "w_sum", "w_sum_2", "mean"):
            assert a[k][c] == b[k][c], (k, c, a[k][c], b[k][c])


def test_zonal_weighted_polygon_vs_supersample(spark):
    """Triangle + concave AOIs: exact kernel vs 60x60 supersampled
    coverage, aggregate within sampling tolerance."""
    import numpy as np
    import pandas as pd

    from rasters_rs_spark.functions import codecs
    from rasters_rs_spark.operators import stats as S
    from rasters_rs_spark.sources import synth

    pdf = synth.lcg_image_table(4)
    imgs = spark.createDataFrame(pdf)
    shapes = [
        ("tri", [0], [-990.0, -890.0, -950.0], [850.0, 860.0, 995.0]),
        ("concave", [0], [-1000.0, -900.0, -900.0, -950.0, -1000.0],
         [900.0, 900.0, 1000.0, 933.0, 1000.0]),
    ]
    aois = pd.DataFrame([{"aoi_id": a, "ring_offsets": ro,
                          "xs": xs, "ys": ys}
                         for (a, ro, xs, ys) in shapes])
    got = {r["aoi_id"]: r for r in
           S.zonal_stats_weighted(imgs, aois).collect()}
    n = 60
    for (aid, ro, xs, ys) in shapes:
        xs, ys = np.array(xs), np.array(ys)
        w_count = w_sum = 0.0
        for m in range(4):
            block = codecs.decode_block(pdf.bytes[m], 32, 32, "raw")
            gx, gy = pdf["gt"][m][0], pdf["gt"][m][3]
            for i in range(32):
                for j in range(32):
                    px0, py1 = gx + 2 * j, gy - 2 * i
                    sx = px0 + (np.arange(n) + 0.5) * 2.0 / n
                    sy = py1 - (np.arange(n) + 0.5) * 2.0 / n
                    X, Y = np.meshgrid(sx, sy)
                    inside = np.zeros(X.shape, bool)
                    k = len(xs)
                    for e in range(k):
                        x1, y1 = xs[e], ys[e]
                        x2, y2 = xs[(e + 1) % k], ys[(e + 1) % k]
                        cond = (y1 > Y) != (y2 > Y)
                        with np.errstate(divide="ignore",
                                         invalid="ignore"):
                            t = (Y - y1) / (y2 - y1)
                        inside ^= cond & (X < x1 + (x2 - x1) * t)
                    frac = inside.mean()
                    if frac > 0:
                        w_count += frac
                        w_sum += frac * block[i, j]
        r = got[aid]
        assert abs(r["w_count"] - w_count) < 0.05, aid
        assert abs(r["w_sum"] - w_sum) < 0.05, aid


def test_zonal_weighted_polygon_hole_subtracts(spark):
    """Square with a square hole: weighted count equals outer area
    minus hole area (in pixels) when fully inside one image."""
    import pandas as pd

    from rasters_rs_spark.operators import stats as S
    from rasters_rs_spark.sources import synth

    imgs = spark.createDataFrame(synth.lcg_image_table(1))
    # image 0 spans x [-1000,-936], y [936,1000]; outer 40x40 units
    # = 400 pixels (pixel area 4), hole 16x16 units = 64 pixels
    aois = pd.DataFrame([{
        "aoi_id": "ring", "ring_offsets": [0, 4],
        "xs": [-990.0, -950.0, -950.0, -990.0,
               -978.0, -962.0, -962.0, -978.0],
        "ys": [950.0, 950.0, 990.0, 990.0,
               962.0, 962.0, 978.0, 978.0]}])
    r = S.zonal_stats_weighted(imgs, aois).collect()[0]
    assert abs(r["w_count"] - (400.0 - 64.0)) < 1e-9


def test_zonal_majority_matches_brute_force(spark):
    """Majority class per zone equals a per-pixel python recount with
    the same PIP rule; ties break to the smallest class."""
    import numpy as np
    import pandas as pd

    from rasters_rs_spark.functions import codecs, geom
    from rasters_rs_spark.operators import stats as S
    from rasters_rs_spark.operators.vectorize import quantize_classes
    from rasters_rs_spark.sources import synth

    pdf = synth.lcg_image_table(8)
    imgs = spark.createDataFrame(pdf)
    aois = pd.DataFrame([
        {"aoi_id": "a", "ring_offsets": [0],
         "xs": [-990.0, -890.0, -890.0, -990.0],
         "ys": [850.0, 850.0, 995.0, 995.0]},
        {"aoi_id": "b", "ring_offsets": [0],
         "xs": [-1000.0, -700.0, -850.0], "ys": [840.0, 840.0, 1000.0]},
    ])
    got = {r["aoi_id"]: r for r in
           S.zonal_majority(imgs, aois, n_classes=4).collect()}
    for _, aoi in aois.iterrows():
        ro = np.array(aoi["ring_offsets"])
        xs, ys = np.array(aoi["xs"]), np.array(aoi["ys"])
        counts = np.zeros(4, dtype=int)
        for m in range(8):
            block = codecs.decode_block(pdf.bytes[m], 32, 32, "raw")
            t = geom.transform_from_gdal(pdf["gt"][m])
            ii, jj = np.meshgrid(range(32), range(32), indexing="ij")
            wx, wy = geom.transform_points(t, jj.ravel() + 0.5,
                                           ii.ravel() + 0.5)
            inside = geom.points_in_rings(wx, wy, ro, xs, ys)
            cls = quantize_classes(block.ravel()[inside], 4)
            counts += np.bincount(cls, minlength=4)
        if counts.sum() == 0:
            assert aoi["aoi_id"] not in got
            continue
        best = int(np.flatnonzero(counts == counts.max())[0])
        r = got[aoi["aoi_id"]]
        assert r["majority_cls"] == best
        assert r["n_majority"] == counts.max()
        assert r["n_total"] == counts.sum()


def test_zonal_majority_tie_breaks_to_smallest_class(spark):
    import pandas as pd

    from rasters_rs_spark.functions import codecs
    from rasters_rs_spark.operators import stats as S
    import numpy as np

    block = np.zeros((4, 4))
    block[:, 2:] = 0.9              # half class 0, half class 3
    imgs = spark.createDataFrame(pd.DataFrame([{
        "image_id": "t", "bytes": codecs.encode_block(block, "raw"),
        "w": np.int32(4), "h": np.int32(4), "fmt": "raw",
        "gt": [0.0, 1.0, 0.0, 4.0, 0.0, -1.0], "crs": "",
        "no_val": float("nan")}]))
    aois = pd.DataFrame([{"aoi_id": "all", "ring_offsets": [0],
                          "xs": [-1.0, 5.0, 5.0, -1.0],
                          "ys": [-1.0, -1.0, 5.0, 5.0]}])
    r = S.zonal_majority(imgs, aois, n_classes=4).collect()[0]
    assert r["majority_cls"] == 0 and r["n_majority"] == 8 \
        and r["n_total"] == 16


def test_zonal_operators_skip_aoi_without_vertices(spark):
    """An AOI with no vertices (or no ring of at least 3) contains no
    pixel centre: zonal_stats over images and strips and zonal_majority
    leave it out instead of failing, and the other AOIs are unchanged."""
    from rasters_rs_spark.operators import chunked as C

    images = _images_df(spark, synth.image_table(
        4, seed=5, h=16, w=16, fmt_cycle=("raw",),
        extent=(-100, -100, 100, 100), pixel_size=4.0))
    good = synth.aoi_table(3, seed=6, extent=(-100, -100, 100, 100))
    bad = pd.DataFrame([
        {"aoi_id": "empty", "ring_offsets": [0], "xs": [], "ys": []},
        {"aoi_id": "no_rings", "ring_offsets": [], "xs": [], "ys": []},
        {"aoi_id": "segment", "ring_offsets": [0], "xs": [-50.0, 50.0],
         "ys": [-50.0, 50.0]}])
    aois = pd.concat([good, bad], ignore_index=True)
    chunks = C.chunk_images(images, min_data_size=16 * 4)
    for run in (lambda a: S.zonal_stats(images, a),
                lambda a: S.zonal_stats(chunks, a),
                lambda a: S.zonal_majority(images, a)):
        want = sorted(tuple(r) for r in run(good).collect())
        got = sorted(tuple(r) for r in run(aois).collect())
        assert got == want and len(want) > 0
