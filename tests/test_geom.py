"""Geometry kernel unit tests (half-open bounds, affine, PIP)."""

import numpy as np

from rasters_rs_spark.functions import geom


def test_transform_from_gdal():
    t = geom.transform_from_gdal([-64.0, 1.0, 0.0, -32.0, 0.0, 1.0])
    x, y = geom.transform_points(t, [0.0], [0.0])
    assert (x[0], y[0]) == (-64.0, -32.0)
    x, y = geom.transform_points(t, [10.0], [5.0])
    assert (x[0], y[0]) == (-54.0, -27.0)


def test_transform_between_diff_fixture():
    # diff oracle rasters: A 1m px at (-64,-32); B 4m px at (-128,-64)
    t = geom.transform_between([-64.0, 1.0, 0.0, -32.0, 0.0, 1.0],
                               [-128.0, 4.0, 0.0, -64.0, 0.0, 4.0])
    # A pixel (0,0) -> world (-64,-32) -> B pixel (16, 8)
    x, y = geom.transform_points(t, [0.0], [0.0])
    assert np.allclose([x[0], y[0]], [16.0, 8.0])


def test_bounds_intersect_and_empty():
    assert geom.bounds_intersect((0, 0, 2, 2), (1, 1, 3, 3)) == (1, 1, 2, 2)
    assert geom.bounds_intersect((0, 0, 1, 1), (1, 0, 2, 1)) is None  # touching is empty
    assert geom.bounds_intersect((0, 0, 1, 1), (5, 5, 6, 6)) is None


def test_window_from_bounds_partial_pixels():
    # floor mins / ceil maxes, clipped to raster
    win = geom.window_from_bounds((0.2, 0.7, 3.1, 2.0), (10, 10))
    assert win == ((0, 0), (4, 2))
    # disjoint -> zero window
    assert geom.window_from_bounds((-5, -5, -1, -1), (10, 10)) == ((0, 0), (0, 0))
    # clip to raster dims
    assert geom.window_from_bounds((8.5, 8.5, 20, 20), (10, 10)) == ((8, 8), (2, 2))


def test_transform_window_identity():
    t = np.eye(3)
    assert geom.transform_window(((2, 3), (4, 5)), t, (100, 100)) == ((2, 3), (4, 5))


def test_chunk_transform_residue_is_linear_only():
    # residue applies only the linear part to off_1 (homogeneous z=0)
    t = geom.transform_from_gdal([100.0, 2.0, 0.0, 200.0, 0.0, 2.0])
    ct = geom.chunk_transform(t, (0.5, 10.5), (3.0, 7.0))
    # expected: translation += linear(t) @ off1 - off2
    assert ct[0, 2] == 100.0 + 2.0 * 0.5 - 3.0
    assert ct[1, 2] == 200.0 + 2.0 * 10.5 - 7.0


def test_index_transform_grid_matches_scalar_reference():
    """Cross-check the vectorized grid against a literal scalar port of
    index_transformer (src/align.rs:122-144)."""
    rng = np.random.default_rng(7)
    t = np.eye(3)
    t[0, 0], t[1, 1] = 0.25, 0.25
    t[0, 2], t[1, 2] = -1.3, 2.7
    rows, cols, dims = 9, 13, (5, 6)
    valid, i2, j2 = geom.index_transform_grid(t, rows, cols, dims)
    for i in range(rows):
        for j in range(cols):
            x = t[0, 0] * j + t[0, 1] * i + t[0, 2]
            y = t[1, 0] * j + t[1, 1] * i + t[1, 2]
            if x < 0 or y < 0:
                expect = None
            else:
                jj, ii = int(np.floor(x)), int(np.floor(y))
                expect = None if (jj >= dims[0] or ii >= dims[1]) else (ii, jj)
            if expect is None:
                assert not valid[i, j]
            else:
                assert valid[i, j]
                assert (i2[i, j], j2[i, j]) == expect


def test_points_in_rings_square():
    xs = [0.0, 4.0, 4.0, 0.0]
    ys = [0.0, 0.0, 4.0, 4.0]
    inside = geom.points_in_rings([2.0, 5.0, -1.0], [2.0, 2.0, 2.0], [0], xs, ys)
    assert inside.tolist() == [True, False, False]


def test_points_in_rings_with_hole():
    # outer square 0..10, hole 4..6
    xs = [0.0, 10.0, 10.0, 0.0, 4.0, 6.0, 6.0, 4.0]
    ys = [0.0, 0.0, 10.0, 10.0, 4.0, 4.0, 6.0, 6.0]
    offs = [0, 4]
    inside = geom.points_in_rings([5.0, 2.0, 11.0], [5.0, 2.0, 5.0], offs, xs, ys)
    assert inside.tolist() == [False, True, False]


def test_points_in_rings_concave():
    # L-shape
    xs = [0.0, 4.0, 4.0, 2.0, 2.0, 0.0]
    ys = [0.0, 0.0, 2.0, 2.0, 4.0, 4.0]
    inside = geom.points_in_rings([3.0, 3.0, 1.0], [1.0, 3.0, 3.0], [0], xs, ys)
    assert inside.tolist() == [True, False, True]


def test_bilinear_weights_sum_to_one():
    t = np.eye(3)
    t[0, 2], t[1, 2] = 0.3, 0.9
    valid, i0, j0, wx, wy = geom.bilinear_weights_grid(t, 6, 6, (6, 6))
    w = (1 - wx) * (1 - wy) + wx * (1 - wy) + (1 - wx) * wy + wx * wy
    assert np.allclose(w[valid], 1.0)


def test_winding_vs_evenodd_rules():
    """points_in_rings_winding (nonzero rule): equals even-odd on
    simple polygons and on polygons with properly (oppositely) wound
    holes; differs on a self-intersecting pentagram, whose center winds
    twice — nonzero contains it, even-odd does not."""
    import numpy as np
    from rasters_rs_spark.functions import geom as G

    # simple CCW unit square
    sq_x = np.array([0.0, 1.0, 1.0, 0.0])
    sq_y = np.array([0.0, 0.0, 1.0, 1.0])
    px = np.array([0.5, 1.5, 0.01, -0.2])
    py = np.array([0.5, 0.5, 0.99, 0.5])
    eo = G.points_in_rings(px, py, [0], sq_x, sq_y)
    nz = G.points_in_rings_winding(px, py, [0], sq_x, sq_y)
    assert eo.tolist() == [True, False, True, False]
    assert nz.tolist() == eo.tolist()

    # square with an oppositely-wound (CW) hole in the middle
    hx = np.array([0.25, 0.25, 0.75, 0.75])   # CW
    hy = np.array([0.25, 0.75, 0.75, 0.25])
    xs = np.concatenate([sq_x, hx])
    ys = np.concatenate([sq_y, hy])
    px2 = np.array([0.5, 0.1, 0.26])
    py2 = np.array([0.5, 0.1, 0.5])
    eo2 = G.points_in_rings(px2, py2, [0, 4], xs, ys)
    nz2 = G.points_in_rings_winding(px2, py2, [0, 4], xs, ys)
    assert eo2.tolist() == [False, True, False]   # hole excluded
    assert nz2.tolist() == eo2.tolist()

    # pentagram: 5 vertices connected every-other (self-intersecting);
    # the central region winds twice
    ang = np.pi / 2 + 2 * np.pi * np.arange(5) * 2 / 5
    star_x = np.cos(ang)
    star_y = np.sin(ang)
    c = np.array([0.0]), np.array([0.0])
    assert not G.points_in_rings(c[0], c[1], [0], star_x, star_y)[0]
    assert G.points_in_rings_winding(c[0], c[1], [0], star_x, star_y)[0]
    # a point inside one star arm winds once: both rules contain it
    arm = np.array([0.0]), np.array([0.9])
    assert G.points_in_rings(arm[0], arm[1], [0], star_x, star_y)[0]
    assert G.points_in_rings_winding(arm[0], arm[1], [0], star_x, star_y)[0]


def test_cell_pip_join_nonzero_rule_matches_on_convex(spark):
    """cell_pip_join(pip_rule='nonzero') returns identical rows to the
    default even-odd rule for convex AOIs (rect fixtures) — the rules
    only diverge on self-intersecting/overlapping rings."""
    import numpy as np
    import pandas as pd
    from rasters_rs_spark.operators.celljoin import cell_pip_join
    rng = np.random.default_rng(17)
    pts = pd.DataFrame({
        "pid": [f"p{i}" for i in range(500)],
        "x": rng.uniform(-9000, 9000, 500),
        "y": rng.uniform(-9000, 9000, 500),
    })
    aois = pd.DataFrame([
        {"aoi_id": "r0", "ring_offsets": [0],
         "xs": [11.37, 5000.49, 5000.49, 11.37],
         "ys": [203.11, 203.11, 5200.73, 5200.73]},
        {"aoi_id": "r1", "ring_offsets": [0],
         "xs": [-9000.25, -20.11, -20.11, -9000.25],
         "ys": [-8000.62, -8000.62, 4000.18, 4000.18]},
    ])
    df = spark.createDataFrame(pts)
    eo = {(r["pid"], r["aoi_id"])
          for r in cell_pip_join(df, aois, zoom=10).collect()}
    nz = {(r["pid"], r["aoi_id"])
          for r in cell_pip_join(df, aois, zoom=10,
                                 pip_rule="nonzero").collect()}
    assert eo == nz and len(eo) > 0


def test_cell_pip_join_shuffled_refine_matches_pandas_catalog(spark):
    """The shuffled-catalog path (broadcast_aois=False: the cogroup
    applyInArrow refine) returns the same rows as the pandas-catalog
    path under both rules. The catalog has a pentagram, where the rules
    differ (its core is inside only under nonzero), a two-part aoi_id
    whose parts overlap (multipart dedup), and a part no point reaches
    (its cogroup has an empty point side)."""
    import numpy as np
    import pandas as pd
    from rasters_rs_spark.operators.celljoin import AOI_SCHEMA, cell_pip_join
    rng = np.random.default_rng(29)
    pts = pd.DataFrame({
        "pid": [f"p{i}" for i in range(600)],
        "x": rng.uniform(-9000, 9000, 600),
        "y": rng.uniform(-9000, 9000, 600),
    })
    ang = np.pi / 2 + np.arange(5) * 4 * np.pi / 5
    aois = pd.DataFrame([
        {"aoi_id": "star", "ring_offsets": [0],
         "xs": list(2000.0 + 6000.0 * np.cos(ang)),
         "ys": list(-1000.0 + 6000.0 * np.sin(ang))},
        {"aoi_id": "two", "ring_offsets": [0],
         "xs": [-8000.5, -1000.25, -1000.25, -8000.5],
         "ys": [1000.75, 1000.75, 8000.5, 8000.5]},
        {"aoi_id": "two", "ring_offsets": [0],
         "xs": [-4000.5, 3000.25, 3000.25, -4000.5],
         "ys": [4000.75, 4000.75, 8500.5, 8500.5]},
        {"aoi_id": "far", "ring_offsets": [0],
         "xs": [50000.0, 51000.0, 51000.0, 50000.0],
         "ys": [50000.0, 50000.0, 51000.0, 51000.0]},
    ])
    df = spark.createDataFrame(pts)
    cat = spark.createDataFrame(aois, schema=AOI_SCHEMA)
    got = {}
    for rule in ("evenodd", "nonzero"):
        want = sorted(tuple(r) for r in cell_pip_join(
            df, aois, zoom=10, pip_rule=rule).collect())
        shuffled = cell_pip_join(df, cat, zoom=10, pip_rule=rule,
                                 broadcast_aois=False, multipart=True)
        got[rule] = sorted(tuple(r) for r in shuffled.collect())
        assert got[rule] == want, rule
        assert "FlatMapCoGroupsInArrow" in \
            shuffled._jdf.queryExecution().executedPlan().toString()
    ids = {rule: {r[-1] for r in rows} for rule, rows in got.items()}
    assert ids["evenodd"] == ids["nonzero"] == {"star", "two"}
    assert set(got["evenodd"]) < set(got["nonzero"])


def test_hilbert_spark_matches_scalar_and_adjacency(spark):
    """with_hilbert (chained Catalyst projections) equals the scalar
    xy2d recurrence for random coordinates, is a bijection on a full
    small grid, and consecutive codes are always 4-adjacent cells — the
    locality property that makes it the better range-partition key."""
    import numpy as np
    import pandas as pd
    from rasters_rs_spark.operators import celljoin as CJ

    rng = np.random.default_rng(8)
    pdf = pd.DataFrame({
        "i": np.arange(300),
        "cx": rng.integers(0, 1 << 10, 300),
        "cy": rng.integers(0, 1 << 10, 300),
    })
    got = {r["i"]: r["hilbert"] for r in
           CJ.with_hilbert(spark.createDataFrame(pdf), bits=10).collect()}
    for r in pdf.itertuples(index=False):
        assert got[r.i] == CJ.hilbert_xy2d(int(r.cx), int(r.cy), 10)

    # full 16x16 grid: bijection + adjacency
    n = 16
    pos = {}
    for x in range(n):
        for y in range(n):
            pos[CJ.hilbert_xy2d(x, y, 4)] = (x, y)
    assert sorted(pos) == list(range(n * n))
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_rasterize_roundtrip_with_zonal(spark):
    """rasterize -> zonal closes the raster<->vector loop: burning
    rect AOIs and counting each ordinal's pixels equals the direct
    pixel-center PIP count, and overlap pixels take the SMALLEST
    aoi_id's ordinal."""
    import numpy as np
    import pandas as pd
    from rasters_rs_spark.functions import codecs
    from rasters_rs_spark.operators import celljoin as CJ
    from rasters_rs_spark.operators.chunked import assemble_images

    # bounds at .3/.7 so no pixel CENTER (at .5) sits on an edge
    aois = pd.DataFrame([
        {"aoi_id": "a", "ring_offsets": [0],
         "xs": [0.3, 10.7, 10.7, 0.3], "ys": [0.3, 0.3, 8.7, 8.7]},
        {"aoi_id": "b", "ring_offsets": [0],       # overlaps a
         "xs": [6.3, 14.7, 14.7, 6.3], "ys": [4.3, 4.3, 12.7, 12.7]},
    ])
    gt = [0.0, 1.0, 0.0, 16.0, 0.0, -1.0]
    out = assemble_images(
        CJ.rasterize(spark, aois, gt, 16, 16, strip_height=4)).collect()[0]
    block = codecs.decode_raw(bytes(out["bytes"]), 16, 16)

    jj, ii = np.meshgrid(np.arange(16), np.arange(16))
    wx, wy = jj + 0.5, 16.0 - (ii + 0.5)
    in_a = (wx > 0.3) & (wx < 10.7) & (wy > 0.3) & (wy < 8.7)
    in_b = (wx > 6.3) & (wx < 14.7) & (wy > 4.3) & (wy < 12.7)
    expect = np.full((16, 16), np.nan)
    expect[in_b] = 1.0
    expect[in_a] = 0.0          # smallest id wins on the overlap
    assert np.array_equal(block, expect, equal_nan=True)


def test_cell_pip_join_multipart_aoi(spark):
    """An aoi_id spanning multiple rows (multipolygon parts): points in
    EITHER part match, each point yields exactly one output row — the
    old code tested every candidate against the first part's rings."""
    import numpy as np
    import pandas as pd
    from rasters_rs_spark.operators.celljoin import cell_pip_join
    aois = pd.DataFrame([
        {"aoi_id": "m", "ring_offsets": [0],
         "xs": [0.0, 100.0, 100.0, 0.0], "ys": [0.0, 0.0, 100.0, 100.0]},
        {"aoi_id": "m", "ring_offsets": [0],      # disjoint second part
         "xs": [5000.0, 5100.0, 5100.0, 5000.0],
         "ys": [5000.0, 5000.0, 5100.0, 5100.0]},
    ])
    pts = pd.DataFrame({
        "pid": ["in1", "in2", "out"],
        "x": [50.0, 5050.0, 2500.0],
        "y": [50.0, 5050.0, 2500.0],
    })
    got = [(r["pid"], r["aoi_id"]) for r in
           cell_pip_join(spark.createDataFrame(pts), aois, zoom=10).collect()]
    assert sorted(got) == [("in1", "m"), ("in2", "m")]


def test_cell_pip_join_rejects_reserved_columns(spark):
    import pandas as pd
    import pytest as _pt
    from rasters_rs_spark.operators.celljoin import cell_pip_join
    pts = pd.DataFrame({"pid": ["a"], "x": [1.0], "y": [1.0],
                        "cell": [9]})
    aois = pd.DataFrame([{"aoi_id": "r", "ring_offsets": [0],
                          "xs": [0.0, 2.0, 2.0, 0.0],
                          "ys": [0.0, 0.0, 2.0, 2.0]}])
    with _pt.raises(ValueError, match="collide"):
        cell_pip_join(spark.createDataFrame(pts), aois, zoom=10)
