"""kNN join (ring expansion vs brute force) and IDW fill tests."""

import numpy as np
import pandas as pd
import pytest

from rasters_rs_spark.functions import codecs
from rasters_rs_spark.operators import knn as K
from rasters_rs_spark.sources import synth


def _bruteforce_knn(qs, ps, k):
    out = {}
    for q in qs.itertuples(index=False):
        d = np.sqrt((ps["x"].to_numpy() - q.x) ** 2 + (ps["y"].to_numpy() - q.y) ** 2)
        order = np.lexsort((ps["pt_id"].to_numpy(), d))[:k]
        out[q.qid] = [(ps["pt_id"].iloc[i], d[i]) for i in order]
    return out


def test_knn_join_exact_vs_bruteforce(spark):
    ps = synth.points_table(300, seed=20)
    qs = synth.points_table(40, seed=21).rename(columns={"pt_id": "qid"}) \
                                        .drop(columns=["z"])
    expect = _bruteforce_knn(qs, ps, 5)

    got = {}
    # fast_path_points=0 forces the ring-expansion path (the default
    # adaptive plan would broadcast-brute-force a 300-point corpus)
    res = K.knn_join(spark.createDataFrame(qs), spark.createDataFrame(ps),
                     k=5, cell_size=300.0, query_id="qid",
                     fast_path_points=0).collect()
    for r in sorted(res, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append((r["pt_id"], r["dist"]))

    assert set(got) == set(expect)
    for qid in expect:
        assert [p for p, _ in got[qid]] == [p for p, _ in expect[qid]], qid
        assert np.allclose([d for _, d in got[qid]], [d for _, d in expect[qid]])


def test_knn_joins_leave_no_persisted_blocks(spark):
    """Cache hygiene (r6 VERDICT #5): knn_join and knn_join_hex must
    not leave MEMORY_AND_DISK blocks behind after their results are
    consumed and released — the round intermediates unpersist inside
    the operator and the returned frame is an eager localCheckpoint
    whose blocks the ContextCleaner reclaims with the frame. The
    probe polls getRDDStorageInfo until it drains back to the
    pre-call set."""
    import gc
    import time

    sc = spark.sparkContext

    def live_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = live_ids()
    ps = synth.points_table(300, seed=20)
    qs = synth.points_table(20, seed=21).rename(columns={"pt_id": "qid"}) \
                                        .drop(columns=["z"])
    out = K.knn_join(spark.createDataFrame(qs), spark.createDataFrame(ps),
                     k=3, cell_size=300.0, query_id="qid",
                     fast_path_points=0)
    assert len(out.collect()) > 0
    outh = K.knn_join_hex(spark.createDataFrame(qs),
                          spark.createDataFrame(ps),
                          k=3, size=300.0, query_id="qid",
                          fast_path_points=0)
    assert len(outh.collect()) > 0
    del out, outh
    extra = None
    deadline = time.time() + 30
    while time.time() < deadline:
        gc.collect()                   # release the py4j handles …
        sc._jvm.System.gc()            # … let ContextCleaner's weak
        extra = live_ids() - before    # refs fire JVM-side
        if not extra:
            break
        time.sleep(0.5)
    assert not extra, f"leaked storage blocks: {extra}"


def test_knn_join_partial_fallback_union(spark):
    """max_rounds exhausted with SOME queries satisfied: the ring-round
    output and the brute-force fallback for the rest must union cleanly
    (regression: mismatched pcx/pcy columns raised AnalysisException)
    and stay exact."""
    # sparse grid (one point per cell -> density ~1 -> initial radius 2,
    # guarantee cell_size) + a tight cluster that satisfies the near
    # queries in round 1; the far query's neighbors sit outside the
    # probed window so it falls through to brute force
    grid = [(i * 50.0 + 10.0, j * 50.0 + 10.0)
            for i in range(5) for j in range(5)]
    cluster = [(25.0, 30.0), (30.0, 25.0), (20.0, 20.0)]
    far = [(9000.0, 9000.0), (9100.0, 9100.0)]
    pts = grid + cluster + far
    ps = pd.DataFrame({
        "pt_id": [f"pt_{i:07d}" for i in range(len(pts))],
        "x": [p[0] for p in pts],
        "y": [p[1] for p in pts],
        "z": np.zeros(len(pts)),
    })
    qs = pd.DataFrame({
        "qid": ["near0", "near1", "far0"],
        "x": [25.0, 30.0, 8000.0],
        "y": [25.0, 30.0, 8000.0],
    })
    expect = _bruteforce_knn(qs, ps, 3)
    res = K.knn_join(spark.createDataFrame(qs), spark.createDataFrame(ps),
                     k=3, cell_size=50.0, query_id="qid", max_rounds=1,
                     fast_path_points=0).collect()
    got = {}
    for r in sorted(res, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append(r["pt_id"])
    assert {q: [p for p, _ in v] for q, v in expect.items()} == got


def test_knn_join_fast_path_matches_ring(spark):
    """The adaptive small-corpus fast path (broadcast brute force)
    returns exactly the ring path's answer."""
    ps = synth.points_table(150, seed=24)
    qs = synth.points_table(20, seed=25).rename(columns={"pt_id": "qid"}) \
                                        .drop(columns=["z"])
    ring = K.knn_join(spark.createDataFrame(qs), spark.createDataFrame(ps),
                      k=4, cell_size=300.0, query_id="qid",
                      fast_path_points=0)
    fast = K.knn_join(spark.createDataFrame(qs), spark.createDataFrame(ps),
                      k=4, cell_size=300.0, query_id="qid")
    key = lambda r: (r["qid"], r["rank"])
    a = sorted(((r["qid"], r["rank"], r["pt_id"], r["dist"])
                for r in ring.collect()))
    b = sorted(((r["qid"], r["rank"], r["pt_id"], r["dist"])
                for r in fast.collect()))
    assert a == b


def test_knn_join_hex_exact_vs_bruteforce(spark):
    """Hex k-ring-expansion kNN (H3-style index) is exact: forced ring
    path vs the numpy brute force."""
    ps = synth.points_table(300, seed=26)
    qs = synth.points_table(40, seed=27).rename(columns={"pt_id": "qid"}) \
                                        .drop(columns=["z"])
    expect = _bruteforce_knn(qs, ps, 5)
    res = K.knn_join_hex(spark.createDataFrame(qs), spark.createDataFrame(ps),
                         k=5, size=120.0, query_id="qid",
                         fast_path_points=0).collect()
    got = {}
    for r in sorted(res, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append((r["pt_id"], r["dist"]))
    assert set(got) == set(expect)
    for qid in expect:
        assert [p for p, _ in got[qid]] == [p for p, _ in expect[qid]], qid
        assert np.allclose([d for _, d in got[qid]], [d for _, d in expect[qid]])


def test_knn_join_hex_dense_multi_round(spark):
    """Small hex size over a dense corpus: several expansion rounds,
    boundary cells probed exactly once, still exact vs brute force."""
    ps = synth.points_table(4000, seed=28)
    qs = synth.points_table(60, seed=29).rename(columns={"pt_id": "qid"}) \
                                        .drop(columns=["z"])
    expect = _bruteforce_knn(qs, ps, 7)
    res = K.knn_join_hex(spark.createDataFrame(qs), spark.createDataFrame(ps),
                         k=7, size=40.0, query_id="qid",
                         fast_path_points=0).collect()
    got = {}
    for r in sorted(res, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append(r["pt_id"])
    assert {q: [p for p, _ in v] for q, v in expect.items()} == got


def test_knn_join_hex_partial_fallback_union(spark):
    """max_rounds exhausted with some queries satisfied: ring output +
    brute-force fallback union stays exact (hex variant of the pcx/pcy
    column-mismatch regression)."""
    grid = [(i * 50.0 + 10.0, j * 50.0 + 10.0)
            for i in range(5) for j in range(5)]
    cluster = [(25.0, 30.0), (30.0, 25.0), (20.0, 20.0)]
    far = [(9000.0, 9000.0), (9100.0, 9100.0)]
    pts = grid + cluster + far
    ps = pd.DataFrame({
        "pt_id": [f"pt_{i:07d}" for i in range(len(pts))],
        "x": [p[0] for p in pts],
        "y": [p[1] for p in pts],
        "z": np.zeros(len(pts)),
    })
    qs = pd.DataFrame({
        "qid": ["near0", "near1", "far0"],
        "x": [25.0, 30.0, 8000.0],
        "y": [25.0, 30.0, 8000.0],
    })
    expect = _bruteforce_knn(qs, ps, 3)
    res = K.knn_join_hex(spark.createDataFrame(qs), spark.createDataFrame(ps),
                         k=3, size=30.0, query_id="qid", max_rounds=1,
                         fast_path_points=0).collect()
    got = {}
    for r in sorted(res, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append(r["pt_id"])
    assert {q: [p for p, _ in v] for q, v in expect.items()} == got


def test_knn_broadcast_matches(spark):
    """knn_join's default plan on a small point set (the broadcast
    brute-force fast path) equals numpy brute force."""
    ps = synth.points_table(200, seed=22)
    qs = synth.points_table(25, seed=23).rename(columns={"pt_id": "qid"}).drop(columns=["z"])
    expect = _bruteforce_knn(qs, ps, 3)
    res = K.knn_join(spark.createDataFrame(qs), spark.createDataFrame(ps),
                     k=3, cell_size=300.0, query_id="qid").collect()
    got = {}
    for r in sorted(res, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append(r["pt_id"])
    assert {q: [p for p, _ in v] for q, v in expect.items()} == got


def test_idw_exact_hit_and_weighting():
    vals = np.array([[10.0, 20.0]])
    # exact hit returns the point value
    assert K.idw(vals, np.array([[0.0, 5.0]]))[0] == 10.0
    # symmetric distances average
    assert K.idw(vals, np.array([[2.0, 2.0]]))[0] == 15.0
    # closer point dominates
    est = K.idw(vals, np.array([[1.0, 3.0]]))[0]
    assert 10.0 < est < 15.0


def test_fill_idw(spark):
    rng = np.random.default_rng(30)
    block = rng.normal(size=(16, 16))
    block[4:6, 4:8] = -999.0  # holes marked with no_val
    pdf = pd.DataFrame([{
        "image_id": "f0", "bytes": codecs.encode_raw(block),
        "w": 16, "h": 16, "fmt": "raw",
        "gt": [0.0, 1.0, 0.0, 16.0, 0.0, -1.0],
        "crs": "IDENTITY", "no_val": -999.0,
    }])
    pts = synth.points_table(50, seed=31, extent=(0.0, 0.0, 16.0, 16.0))
    out = K.fill_idw(spark.createDataFrame(pdf), pts, k=4).collect()[0]
    assert out["filled"] == 8
    got = codecs.decode_raw(out["bytes"], 16, 16)
    assert not (got == -999.0).any()
    # untouched pixels unchanged
    keep = block != -999.0
    assert np.array_equal(got[keep], block[keep])
    # filled values within the range of point z values
    zmin, zmax = pts["z"].min(), pts["z"].max()
    assert got[4:6, 4:8].min() >= zmin and got[4:6, 4:8].max() <= zmax


def _barycentric_grid_fill(wx, wy, gx, gy, gz):
    """Reference-style barycentric interpolation (the alternative the
    reference itself documents, raster-fill-nn/interpolation.rs:36-39)
    over a KNOWN triangulation: the regular point grid split into two
    triangles per cell — no Delaunay library needed because the grid's
    Delaunay triangulation IS this split."""
    fx = np.clip(np.floor(wx - gx[0]).astype(int), 0, len(gx) - 2)
    fy = np.clip(np.floor(wy - gy[0]).astype(int), 0, len(gy) - 2)
    u = (wx - gx[0]) - fx
    v = (wy - gy[0]) - fy
    z00 = gz[fy, fx]
    z10 = gz[fy, fx + 1]
    z01 = gz[fy + 1, fx]
    z11 = gz[fy + 1, fx + 1]
    lower = u + v < 1.0
    out = np.where(
        lower,
        z00 + u * (z10 - z00) + v * (z01 - z00),
        z11 + (1.0 - u) * (z01 - z11) + (1.0 - v) * (z10 - z11))
    return out


def test_idw_divergence_from_barycentric_bounded(spark):
    """Quantifies the deliberate J5 divergence (SURVEY section 7): the
    engine fills holes with kNN+IDW instead of the reference's Sibson
    C1 natural neighbors. On a shared fixture with an exactly-known
    barycentric/natural-neighbor answer the drift is bounded and
    documented (COVERAGE.md): a LINEAR field (where any natural-
    neighbor scheme is exact) plus a curved field."""
    gx = np.arange(0.0, 17.0)
    gy = np.arange(0.0, 17.0)
    gxx, gyy = np.meshgrid(gx, gy)

    # measured: linear field exact to fp noise (hole centers are
    # equidistant from their 4 grid neighbors -> IDW == plane value);
    # curved field max|delta| = 0.0125 = 0.10% of the field range
    for field, max_bound, mean_bound in (
        (lambda x, y: 2.0 + 0.3 * x + 0.7 * y, 1e-9, 1e-9),     # linear
        (lambda x, y: 0.05 * x * y, 0.02, 0.02),                # curved
    ):
        gz = field(gxx, gyy)
        pts = pd.DataFrame({
            "pt_id": [f"pt_{i:07d}" for i in range(gz.size)],
            "x": gxx.ravel(), "y": gyy.ravel(), "z": gz.ravel(),
        })
        block = field(np.arange(16) + 0.5, (16.0 - np.arange(16) - 0.5)[:, None])
        block = np.ascontiguousarray(block)
        holes = np.zeros((16, 16), dtype=bool)
        holes[5:9, 4:10] = True
        block[holes] = -999.0
        pdf = pd.DataFrame([{
            "image_id": "nn0", "bytes": codecs.encode_raw(block),
            "w": 16, "h": 16, "fmt": "raw",
            "gt": [0.0, 1.0, 0.0, 16.0, 0.0, -1.0],
            "crs": "IDENTITY", "no_val": -999.0}])
        out = K.fill_idw(spark.createDataFrame(pdf), pts, k=4).collect()[0]
        got = codecs.decode_raw(out["bytes"], 16, 16)

        ii, jj = np.nonzero(holes)
        wx = jj + 0.5
        wy = 16.0 - ii - 0.5
        bary = _barycentric_grid_fill(wx, wy, gx, gy, gz)
        delta = np.abs(got[ii, jj] - bary)
        # documented bounds (COVERAGE.md J5): IDW vs barycentric on unit
        # grid spacing
        assert delta.max() < max_bound, delta.max()
        assert delta.mean() < mean_bound, delta.mean()


def test_fill_nan_quirk_default_off(spark):
    """interpolation.rs:19: `val == f64::NAN` is always false -> NaN holes
    are NOT filled unless fill_nan=True (replicate behavior, not intent)."""
    block = np.ones((4, 4))
    block[0, 0] = np.nan
    pdf = pd.DataFrame([{
        "image_id": "f1", "bytes": codecs.encode_raw(block),
        "w": 4, "h": 4, "fmt": "raw",
        "gt": [0.0, 1.0, 0.0, 4.0, 0.0, -1.0],
        "crs": "IDENTITY", "no_val": -999.0,
    }])
    pts = synth.points_table(10, seed=32, extent=(0.0, 0.0, 4.0, 4.0))
    imgs = spark.createDataFrame(pdf)
    out = K.fill_idw(imgs, pts, k=2).collect()[0]
    assert out["filled"] == 0
    assert np.isnan(codecs.decode_raw(out["bytes"], 4, 4)[0, 0])
    out2 = K.fill_idw(imgs, pts, k=2, fill_nan=True).collect()[0]
    assert out2["filled"] == 1


def test_fill_idw_distributed_equals_broadcast(spark):
    """The distributed fill (hole explode -> cell-bucketed knn_join ->
    per-image IDW reassembly) must equal fill_idw BYTE-FOR-BYTE on the
    fill_idw_synth fixture — same neighbor sets, same tie-breaks, same
    strict-fold accumulation — while the plan never broadcasts the
    point side (fast_path_points=0 forces the ring path)."""
    from rasters_rs_spark.sources import synth
    pdf = synth.lcg_image_table(8, 32, 32, pixel_size=2.0, holes_below=0.125)
    images = spark.createDataFrame(pdf)
    pts = synth.points_table(200, seed=51,
                             extent=(-1000.0, 900.0, -100.0, 1010.0))

    base = {r["image_id"]: r for r in
            K.fill_idw(images, pts, k=4).collect()}
    dist = {r["image_id"]: r for r in
            K.fill_idw_distributed(images, spark.createDataFrame(pts),
                                   k=4, cell_size=256.0,
                                   fast_path_points=0).collect()}
    assert set(base) == set(dist)
    for iid in base:
        assert bytes(base[iid]["bytes"]) == bytes(dist[iid]["bytes"])
        assert base[iid]["filled"] == dist[iid]["filled"]
    assert sum(r["filled"] for r in base.values()) > 0


def test_fill_idw_distributed_no_holes_passthrough(spark):
    """Images with no holes pass through untouched (cogroup keeps them
    even with an empty kNN side)."""
    from rasters_rs_spark.sources import synth
    pdf = synth.lcg_image_table(2, 16, 16, pixel_size=2.0)  # no holes
    images = spark.createDataFrame(pdf)
    pts = synth.points_table(50, seed=51)
    out = {r["image_id"]: r for r in
           K.fill_idw_distributed(images, spark.createDataFrame(pts),
                                  k=3).collect()}
    assert len(out) == 2 and all(r["filled"] == 0 for r in out.values())
    orig = {r["image_id"]: bytes(r["bytes"])
            for r in images.select("image_id", "bytes").collect()}
    for iid, r in out.items():
        assert bytes(r["bytes"]) == orig[iid]


@pytest.mark.parametrize("padding", [0, 2])
def test_fill_idw_distributed_chunked_equals_broadcast(spark, padding):
    """The both-sides-distributed fill (chunk strips x cell-bucketed
    points) must reproduce fill_idw's pixels exactly after reassembly —
    holes fall in exactly one strip's data range, padding rows are
    rebuilt by the assembly, and the IDW kernel/tie-breaks are shared."""
    from rasters_rs_spark.operators.chunked import (assemble_images,
                                                    chunk_images)
    from rasters_rs_spark.sources import synth
    pdf = synth.lcg_image_table(4, 32, 32, pixel_size=2.0, holes_below=0.125)
    images = spark.createDataFrame(pdf)
    pts = synth.points_table(200, seed=51,
                             extent=(-1000.0, 900.0, -100.0, 1010.0))

    base = {r["image_id"]: bytes(r["bytes"])
            for r in K.fill_idw(images, pts, k=4).collect()}

    chunks = chunk_images(images, min_data_size=32 * 8,  # 8-row strips
                          padding=padding)
    assert chunks.count() > len(pdf)        # really multiple strips
    patched = K.fill_idw_distributed(
        chunks, spark.createDataFrame(pts), k=4, cell_size=256.0,
        fast_path_points=0)
    got = {r["image_id"]: bytes(r["bytes"])
           for r in assemble_images(patched).collect()}
    if padding == 0:
        assert got == base
    else:
        # with padding, the reference chunking clamps the first/last
        # `padding` border rows out of every data range (chunk-plan
        # semantics, not the fill): compare the covered rows exactly
        # and expect NaN borders in the assembled image
        for iid in base:
            b = codecs.decode_raw(base[iid], 32, 32)
            g = codecs.decode_raw(got[iid], 32, 32)
            assert np.array_equal(g[padding:32 - padding],
                                  b[padding:32 - padding])
            assert np.isnan(g[:padding]).all()


def test_fill_idw_tie_break_matches_distributed(spark):
    """Distance TIES at the k boundary: fill_idw must pick the same
    neighbor set as knn_join's (dist, pt_id) ordering — four points
    exactly equidistant from the hole, k=2 keeps the two with the
    smallest positional ids on BOTH paths (argpartition's arbitrary
    tie selection would break byte parity)."""
    block = np.full((4, 4), 1.0)
    block[1, 1] = -999.0   # hole at world (1.5, 2.5)
    pdf = pd.DataFrame([{
        "image_id": "t0", "bytes": codecs.encode_raw(block),
        "w": 4, "h": 4, "fmt": "raw",
        "gt": [0.0, 1.0, 0.0, 4.0, 0.0, -1.0],
        "crs": "IDENTITY", "no_val": -999.0}])
    # 4 points at Chebyshev-symmetric offsets: all at distance 1.0
    pts = pd.DataFrame({
        "pt_id": [f"pt_{i:07d}" for i in range(4)],
        "x": [0.5, 2.5, 1.5, 1.5],
        "y": [2.5, 2.5, 1.5, 3.5],
        "z": [10.0, 20.0, 40.0, 80.0],
    })
    images = spark.createDataFrame(pdf)
    a = K.fill_idw(images, pts, k=2).collect()[0]
    b = K.fill_idw_distributed(images, spark.createDataFrame(pts), k=2,
                               cell_size=2.0, fast_path_points=0) \
         .collect()[0]
    assert bytes(a["bytes"]) == bytes(b["bytes"])
    got = codecs.decode_raw(bytes(a["bytes"]), 4, 4)[1, 1]
    assert got == 15.0     # mean of the two smallest-id points (10, 20)


def test_fill_idw_empty_points_passthrough(spark):
    """An empty point table cannot fill anything: both fill paths pass
    images through with filled=0 instead of crashing."""
    block = np.full((4, 4), 1.0)
    block[2, 2] = -999.0
    pdf = pd.DataFrame([{
        "image_id": "e0", "bytes": codecs.encode_raw(block),
        "w": 4, "h": 4, "fmt": "raw",
        "gt": [0.0, 1.0, 0.0, 4.0, 0.0, -1.0],
        "crs": "IDENTITY", "no_val": -999.0}])
    empty = pd.DataFrame({"pt_id": pd.Series(dtype=str),
                          "x": pd.Series(dtype=float),
                          "y": pd.Series(dtype=float),
                          "z": pd.Series(dtype=float)})
    out = K.fill_idw(spark.createDataFrame(pdf), empty, k=3).collect()[0]
    assert out["filled"] == 0
    assert bytes(out["bytes"]) == bytes(pdf.iloc[0]["bytes"])


def test_idw_underflow_treated_as_exact_hit():
    """A distance tiny enough that d*d underflows to 0 must behave as
    an exact hit (the nearest point's value), not hand the estimate to
    the far point or produce 0/0 NaN."""
    vals = np.array([[100.0, 1.0]])
    est = K.idw(vals, np.array([[1e-200, 2.0]]))[0]
    assert est == 100.0
    est2 = K.idw(np.array([[7.0, 9.0]]), np.array([[1e-200, 1e-200]]))[0]
    assert est2 == 7.0     # first exact column wins; no NaN


def test_fill_idw_q16_preserves_global_grid(spark):
    """q16 fills must re-quantize onto the ORIGINAL image-global
    (vmin, vmax) header — a strip/image-local re-encode shifts every
    code (including unfilled pixels) by up to a quantization step. Two
    invariants: (1) the output header equals the input header and all
    unfilled pixels decode identically; (2) the both-sides-chunked fill
    is byte-identical to the broadcast fill after assembly."""
    from rasters_rs_spark.operators.chunked import (assemble_images,
                                                    chunk_images)
    pdf = synth.lcg_image_table(4, 32, 32, pixel_size=2.0,
                                holes_below=0.125, hole_val=float("nan"),
                                fmt="q16")
    images = spark.createDataFrame(pdf)
    pts = synth.points_table(200, seed=51,
                             extent=(-1000.0, 900.0, -100.0, 1010.0))

    orig = {r["image_id"]: bytes(r["bytes"]) for r in images.collect()}
    base_rows = K.fill_idw(images, pts, k=4, fill_nan=True).collect()
    base = {r["image_id"]: bytes(r["bytes"]) for r in base_rows}
    for iid, b in base.items():
        assert b[:16] == orig[iid][:16], "q16 header must be preserved"
        ob = codecs.decode_block(orig[iid], 32, 32, "q16")
        nb = codecs.decode_block(b, 32, 32, "q16")
        untouched = ~np.isnan(ob)
        assert np.array_equal(ob[untouched], nb[untouched]), \
            "unfilled q16 pixels must decode identically"
        assert np.isnan(ob).any() and not np.isnan(nb).any()

    chunks = chunk_images(images, min_data_size=32 * 8)  # 8-row strips
    patched = K.fill_idw_distributed(
        chunks, spark.createDataFrame(pts), k=4, fill_nan=True,
        cell_size=256.0, fast_path_points=0)
    got = {r["image_id"]: bytes(r["bytes"])
           for r in assemble_images(patched).collect()}
    assert got == base


def test_fill_barycentric_exact_on_triangulated_fields(spark):
    """fill_barycentric (precomputed grid triangulation — the
    reference's documented Sibson alternative,
    raster-fill-nn/interpolation.rs:36-39) reproduces the barycentric
    reference answer to fp noise on BOTH the linear and the curved
    field — closing the divergence fill_idw is allowed to keep
    (test_idw_divergence_from_barycentric_bounded: 0.10% of range)."""
    gx = np.arange(0.0, 17.0)
    gy = np.arange(0.0, 17.0)
    gxx, gyy = np.meshgrid(gx, gy)
    tris = K.grid_triangles(17, 17)

    for field in (lambda x, y: 2.0 + 0.3 * x + 0.7 * y,
                  lambda x, y: 0.05 * x * y):
        gz = field(gxx, gyy)
        pts = pd.DataFrame({
            "pt_id": [f"pt_{i:07d}" for i in range(gz.size)],
            "x": gxx.ravel(), "y": gyy.ravel(), "z": gz.ravel(),
        })
        block = field(np.arange(16) + 0.5,
                      (16.0 - np.arange(16) - 0.5)[:, None])
        block = np.ascontiguousarray(block)
        holes = np.zeros((16, 16), dtype=bool)
        holes[5:9, 4:10] = True
        block[holes] = -999.0
        pdf = pd.DataFrame([{
            "image_id": "nn0", "bytes": codecs.encode_raw(block),
            "w": 16, "h": 16, "fmt": "raw",
            "gt": [0.0, 1.0, 0.0, 16.0, 0.0, -1.0],
            "crs": "IDENTITY", "no_val": -999.0}])
        out = K.fill_barycentric(spark.createDataFrame(pdf), pts,
                                 tris).collect()[0]
        assert out["filled"] == int(holes.sum())
        got = codecs.decode_raw(out["bytes"], 16, 16)

        ii, jj = np.nonzero(holes)
        bary = _barycentric_grid_fill(jj + 0.5, 16.0 - ii - 0.5, gx, gy, gz)
        assert np.abs(got[ii, jj] - bary).max() < 1e-12
        # untouched pixels byte-identical
        keep = ~holes
        assert np.array_equal(got[keep], block[keep])


def test_fill_barycentric_outside_hull_unfilled(spark):
    """Holes outside the triangulated hull stay at no_val and are not
    counted as filled."""
    tris = K.grid_triangles(2, 2)
    pts = pd.DataFrame({
        "pt_id": [f"pt_{i:07d}" for i in range(4)],
        "x": [10.0, 11.0, 10.0, 11.0], "y": [10.0, 10.0, 11.0, 11.0],
        "z": [1.0, 2.0, 3.0, 4.0]})
    block = np.full((4, 4), -999.0)
    pdf = pd.DataFrame([{
        "image_id": "h0", "bytes": codecs.encode_raw(block),
        "w": 4, "h": 4, "fmt": "raw",
        "gt": [9.5, 1.0, 0.0, 13.5, 0.0, -1.0],  # centers 10..13 x, 10..13 y
        "crs": "IDENTITY", "no_val": -999.0}])
    out = K.fill_barycentric(spark.createDataFrame(pdf), pts,
                             tris).collect()[0]
    got = codecs.decode_raw(out["bytes"], 4, 4)
    filled_mask = got != -999.0
    assert out["filled"] == int(filled_mask.sum())
    assert 0 < out["filled"] < 16   # hull covers only part of the grid


def test_delaunay_empty_circumcircle_property():
    """Bowyer-Watson output satisfies the Delaunay criterion: no input
    point lies strictly inside any triangle's circumcircle."""
    from rasters_rs_spark.functions.delaunay import (_circumcircles,
                                                     delaunay_triangles)
    rng = np.random.default_rng(7)
    x = rng.random(80) * 100.0
    y = rng.random(80) * 100.0
    tris = delaunay_triangles(x, y)
    assert len(tris) > 100  # ~2n triangles for n points
    pts = np.stack([x, y], axis=1)
    centers, r2 = _circumcircles(pts, tris)
    d2 = ((pts[None, :, :] - centers[:, None, :]) ** 2).sum(-1)
    # strict violations only, with fp slack
    assert not (d2 < r2[:, None] * (1.0 - 1e-9)).any()
    # hull area check: triangle areas sum to the hull area (here just
    # positive and bounded by the bbox)
    a, b, c = pts[tris[:, 0]], pts[tris[:, 1]], pts[tris[:, 2]]
    area = 0.5 * np.abs((b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
                        - (c[:, 0] - a[:, 0]) * (b[:, 1] - a[:, 1])).sum()
    assert 0 < area <= 100.0 * 100.0


def test_delaunay_barycentric_linear_field_exact():
    """Interpolating a LINEAR field over ANY valid triangulation
    reproduces the plane exactly — ties the scattered-point Delaunay
    table to the barycentric kernel with no oracle needed."""
    from rasters_rs_spark.functions.delaunay import delaunay_triangles
    rng = np.random.default_rng(8)
    x = rng.random(120) * 50.0
    y = rng.random(120) * 50.0
    z = 1.5 + 0.25 * x - 0.75 * y
    tris = delaunay_triangles(x, y)
    qx = 5.0 + rng.random(200) * 40.0   # well inside the hull
    qy = 5.0 + rng.random(200) * 40.0
    got = K.barycentric_interpolate(qx, qy, x, y, z, tris)
    assert not np.isnan(got).any()
    assert np.abs(got - (1.5 + 0.25 * qx - 0.75 * qy)).max() < 1e-9


def test_fill_barycentric_scattered_delaunay(spark):
    """End-to-end: scattered points -> driver Delaunay -> distributed
    barycentric fill; linear field reproduced exactly at every hole."""
    from rasters_rs_spark.functions.delaunay import delaunay_triangles
    rng = np.random.default_rng(9)
    px = rng.random(150) * 20.0 - 2.0
    py = rng.random(150) * 20.0 - 2.0
    pz = 2.0 + 0.3 * px + 0.7 * py
    pts = pd.DataFrame({"pt_id": [f"pt_{i:07d}" for i in range(150)],
                        "x": px, "y": py, "z": pz})
    tris = delaunay_triangles(px, py)

    field = lambda x, y: 2.0 + 0.3 * x + 0.7 * y
    block = field(np.arange(16) + 0.5, (16.0 - np.arange(16) - 0.5)[:, None])
    block = np.ascontiguousarray(block)
    holes = np.zeros((16, 16), dtype=bool)
    holes[5:9, 4:10] = True
    block[holes] = -999.0
    pdf = pd.DataFrame([{
        "image_id": "sc0", "bytes": codecs.encode_raw(block),
        "w": 16, "h": 16, "fmt": "raw",
        "gt": [0.0, 1.0, 0.0, 16.0, 0.0, -1.0],
        "crs": "IDENTITY", "no_val": -999.0}])
    out = K.fill_barycentric(spark.createDataFrame(pdf), pts,
                             tris).collect()[0]
    assert out["filled"] == int(holes.sum())
    got = codecs.decode_raw(out["bytes"], 16, 16)
    ii, jj = np.nonzero(holes)
    expect = field(jj + 0.5, 16.0 - ii - 0.5)
    assert np.abs(got[ii, jj] - expect).max() < 1e-9


def test_delaunay_refuses_huge_point_set():
    from rasters_rs_spark.functions.delaunay import delaunay_triangles
    with pytest.raises(ValueError, match="max_points"):
        delaunay_triangles(np.zeros(100), np.zeros(100), max_points=10)


def test_sibson_linear_exact_bounded_and_hull():
    """Sibson natural-neighbor weights (Watson cavity decomposition,
    reference raster-fill-nn/interpolation.rs:5-35): linear precision
    to fp noise on scattered Delaunay triangulations, values bounded
    by the data range (convex weights), NaN outside the hull, exact z
    on data-point hits."""
    from rasters_rs_spark.functions.delaunay import delaunay_triangles

    rng = np.random.default_rng(11)
    px = rng.random(80) * 10
    py = rng.random(80) * 10
    tris = delaunay_triangles(px, py)
    qx = rng.random(400) * 14 - 2
    qy = rng.random(400) * 14 - 2
    # linear exactness
    pz = 3.0 + 2.0 * px - 5.0 * py
    got = K.sibson_interpolate(qx, qy, px, py, pz, tris)
    bary = K.barycentric_interpolate(qx, qy, px, py, pz, tris)
    inside = np.isfinite(bary)
    assert np.isnan(got[~inside]).all()          # outside hull
    expect = 3.0 + 2.0 * qx - 5.0 * qy
    assert np.abs(got[inside] - expect[inside]).max() < 1e-7
    # convexity bound on a random field
    pz_r = rng.random(80)
    got_r = K.sibson_interpolate(qx, qy, px, py, pz_r, tris)
    ok = np.isfinite(got_r)
    assert got_r[ok].min() >= pz_r.min() - 1e-9
    assert got_r[ok].max() <= pz_r.max() + 1e-9
    # exact data-point hit
    hit = K.sibson_interpolate(px[:5], py[:5], px, py, pz_r, tris)
    assert np.array_equal(hit, pz_r[:5])


def test_sibson_matches_discrete_voronoi():
    """The cavity-area weights equal the stolen Voronoi areas: checked
    against a brute-force rasterized before/after Voronoi assignment
    (the definition of Sibson coordinates), <5e-3 at 500px resolution."""
    from rasters_rs_spark.functions.delaunay import delaunay_triangles

    rng = np.random.default_rng(5)
    px = rng.random(60) * 10
    py = rng.random(60) * 10
    pz = rng.random(60)
    tris = delaunay_triangles(px, py)

    def discrete(qxv, qyv, res=500, R=3.0):
        gx = np.linspace(qxv - R, qxv + R, res)
        gy = np.linspace(qyv - R, qyv + R, res)
        gxx, gyy = np.meshgrid(gx, gy)
        d_pts = (gxx[..., None] - px) ** 2 + (gyy[..., None] - py) ** 2
        near = np.argmin(d_pts, axis=-1)
        d_near = np.take_along_axis(d_pts, near[..., None], -1)[..., 0]
        stolen = (gxx - qxv) ** 2 + (gyy - qyv) ** 2 < d_near
        ids, cnts = np.unique(near[stolen], return_counts=True)
        return float(cnts @ pz[ids] / cnts.sum())

    qs = [(2.7, 3.1), (5.2, 6.8), (7.9, 2.2), (4.4, 8.5)]
    got = K.sibson_interpolate([q[0] for q in qs], [q[1] for q in qs],
                               px, py, pz, tris)
    for (qxv, qyv), g in zip(qs, got):
        assert abs(g - discrete(qxv, qyv)) < 5e-3


def test_fill_sibson_linear_exact_and_near_barycentric(spark):
    """fill_sibson: exact on linear fields (like barycentric), and on
    the curved field its divergence from barycentric is the smoothing
    only — bounded well under the 0.10%-of-range J5 budget. Unfilled
    pixels stay byte-identical; filled counts match barycentric's
    (same hull)."""
    gx = np.arange(0.0, 17.0)
    gy = np.arange(0.0, 17.0)
    gxx, gyy = np.meshgrid(gx, gy)
    tris = K.grid_triangles(17, 17)
    holes = np.zeros((16, 16), dtype=bool)
    holes[5:9, 4:10] = True

    for field, tol in ((lambda x, y: 2.0 + 0.3 * x + 0.7 * y, 1e-9),
                       (lambda x, y: 0.05 * x * y, 0.05 * 16 * 16 * 1e-3)):
        gz = field(gxx, gyy)
        pts = pd.DataFrame({
            "pt_id": [f"pt_{i:07d}" for i in range(gz.size)],
            "x": gxx.ravel(), "y": gyy.ravel(), "z": gz.ravel()})
        block = field(np.arange(16) + 0.5,
                      (16.0 - np.arange(16) - 0.5)[:, None])
        block = np.ascontiguousarray(block)
        truth = block.copy()
        block[holes] = -999.0
        pdf = pd.DataFrame([{
            "image_id": "nn0", "bytes": codecs.encode_raw(block),
            "w": 16, "h": 16, "fmt": "raw",
            "gt": [0.0, 1.0, 0.0, 16.0, 0.0, -1.0],
            "crs": "IDENTITY", "no_val": -999.0}])
        out = K.fill_sibson(spark.createDataFrame(pdf), pts, tris).collect()[0]
        assert out["filled"] == int(holes.sum())
        got = codecs.decode_raw(out["bytes"], 16, 16)
        assert np.abs(got[holes] - truth[holes]).max() < max(tol, 1e-9)
        keep = ~holes
        assert np.array_equal(got[keep], block[keep])


def _jitter_grid(seed=7, nx=13, ny=8, sp=16.0):
    rng = np.random.default_rng(seed)
    gx, gy = np.meshgrid(np.arange(nx) * sp, np.arange(ny) * sp)
    px = (gx + rng.uniform(-4, 4, gx.shape)).ravel()
    py = (gy + rng.uniform(-4, 4, gy.shape)).ravel()
    return px, py, rng.random(px.size)


def test_delaunay_dist_subset_of_global(spark):
    """Every triangle the distributed cell-bucketed Bowyer-Watson
    emits belongs to the GLOBAL Delaunay triangulation (the halo keep
    rule makes the empty-circumcircle property local), each exactly
    once; only wide-circumcircle hull slivers are dropped."""
    from rasters_rs_spark.functions.delaunay import delaunay_triangles

    px, py, pz = _jitter_grid()
    pts = spark.createDataFrame(pd.DataFrame(
        {"pt_id": [f"p{i}" for i in range(px.size)],
         "x": px, "y": py, "z": pz}))
    cols = ["x1", "y1", "z1", "x2", "y2", "z2", "x3", "y3", "z3"]
    got = [tuple(r[c] for c in cols)
           for r in K.delaunay_triangles_dist(pts, cell_size=48.0).collect()]
    assert len(got) == len(set(got))            # exactly-once ownership

    drv = delaunay_triangles(px, py)
    order = np.lexsort((py[drv], px[drv]), axis=1)
    drv = np.take_along_axis(drv, order, axis=1)
    drv_set = {tuple(np.column_stack(
        [px[t], py[t], pz[t]]).ravel()) for t in drv}
    assert set(got) <= drv_set
    # interior-complete: the drop is a small hull fringe
    assert len(got) >= 0.85 * len(drv_set)


def test_fill_barycentric_dist_equals_broadcast(spark):
    """Strictly-interior holes fill BYTE-IDENTICALLY through the
    distributed path (cell-bucketed triangulation + cell-cogrouped
    interpolation) and the broadcast fill_barycentric over the global
    triangulation — same canonical triangle, same IEEE expression."""
    from rasters_rs_spark.functions.delaunay import delaunay_triangles

    px, py, pz = _jitter_grid(seed=3, nx=21, ny=15)
    pts_pdf = pd.DataFrame({"pt_id": [f"p{i}" for i in range(px.size)],
                            "x": px, "y": py, "z": pz})
    block = np.full((24, 24), 0.5)
    holes = np.zeros((24, 24), dtype=bool)
    holes[4:18, 5:20] = True
    block[holes] = -999.0
    img = pd.DataFrame([{
        "image_id": "i0", "bytes": codecs.encode_raw(block),
        "w": 24, "h": 24, "fmt": "raw",
        "gt": [60.0, 6.0, 0.0, 190.0, 0.0, -6.0],
        "crs": "IDENTITY", "no_val": -999.0}])
    images = spark.createDataFrame(img)

    drv = delaunay_triangles(px, py)
    order = np.lexsort((py[drv], px[drv]), axis=1)
    drv = np.take_along_axis(drv, order, axis=1)
    b_out = K.fill_barycentric(images, pts_pdf, drv).collect()[0]
    d_out = K.fill_barycentric_distributed(
        images, spark.createDataFrame(pts_pdf), cell_size=64.0).collect()[0]
    assert d_out["filled"] == b_out["filled"] == int(holes.sum())
    assert bytes(d_out["bytes"]) == bytes(b_out["bytes"])


def test_delaunay_dist_bucket_cap_raises(spark):
    """Buckets beyond max_bucket_points must refuse (per-bucket
    Bowyer-Watson is O(n^2)) with guidance, not silently grind."""
    import pytest
    rng = np.random.default_rng(1)
    pts = spark.createDataFrame(pd.DataFrame({
        "pt_id": [f"p{i}" for i in range(300)],
        "x": rng.random(300), "y": rng.random(300),
        "z": rng.random(300)}))
    with pytest.raises(Exception, match="max_bucket_points"):
        K.delaunay_triangles_dist(pts, cell_size=1000.0,
                                  max_bucket_points=100).collect()


def test_fill_sibson_dist_matches_broadcast(spark):
    """fill_sibson_distributed (circumcircle-bbox cover cells — the
    cavity needs every circumcircle containing the hole, not just the
    containing triangle) equals broadcast fill_sibson on interior
    holes to summation-order fp noise, with the same fill count."""
    px, py, pz = _jitter_grid(seed=3, nx=21, ny=15)
    pts_pdf = pd.DataFrame({"pt_id": [f"p{i}" for i in range(px.size)],
                            "x": px, "y": py, "z": pz})
    block = np.full((24, 24), 0.5)
    holes = np.zeros((24, 24), dtype=bool)
    holes[4:18, 5:20] = True
    block[holes] = -999.0
    img = pd.DataFrame([{
        "image_id": "i0", "bytes": codecs.encode_raw(block),
        "w": 24, "h": 24, "fmt": "raw",
        "gt": [60.0, 6.0, 0.0, 190.0, 0.0, -6.0],
        "crs": "IDENTITY", "no_val": -999.0}])
    images = spark.createDataFrame(img)
    from rasters_rs_spark.functions.delaunay import delaunay_triangles
    drv = delaunay_triangles(px, py)
    b_out = K.fill_sibson(images, pts_pdf, drv).collect()[0]
    d_out = K.fill_sibson_distributed(
        images, spark.createDataFrame(pts_pdf), cell_size=64.0).collect()[0]
    assert d_out["filled"] == b_out["filled"] == int(holes.sum())
    bb = codecs.decode_raw(b_out["bytes"], 24, 24)
    db = codecs.decode_raw(d_out["bytes"], 24, 24)
    assert np.abs(bb - db).max() < 1e-10


def test_sibson_c1_linear_exact_and_estimated_gradients():
    """C1 Sibson (the reference's default raster-fill-nn mode:
    interpolation.rs:26-29 with --sibson flatness 0.5): linear
    precision holds with FAN-ESTIMATED gradients — every adjacent
    plane of a linear field has the field's gradient, so the
    area-weighted estimate is exact and zeta_i(x) == z(x)."""
    from rasters_rs_spark.functions.delaunay import delaunay_triangles

    rng = np.random.default_rng(13)
    px = rng.random(90) * 10
    py = rng.random(90) * 10
    pz = 1.5 - 2.0 * px + 4.0 * py
    tris = delaunay_triangles(px, py)
    g = K.estimate_gradients(px, py, pz, tris)
    interior = np.zeros(90, dtype=bool)
    # hull vertices can have an open fan; check interior estimates
    interior[(px > 1.5) & (px < 8.5) & (py > 1.5) & (py < 8.5)] = True
    assert np.abs(g[interior] - np.array([-2.0, 4.0])).max() < 1e-9
    qx = rng.random(300) * 10
    qy = rng.random(300) * 10
    got = K.sibson_interpolate(qx, qy, px, py, pz, tris, c1=True)
    inside = np.isfinite(got)
    expect = 1.5 - 2.0 * qx + 4.0 * qy
    assert inside.sum() > 200
    assert np.abs(got[inside] - expect[inside]).max() < 1e-7
    # exact data-point hits still short-circuit
    hit = K.sibson_interpolate(px[:5], py[:5], px, py, pz, tris, c1=True)
    assert np.array_equal(hit, pz[:5])


def test_sibson_c1_spherical_quadric_exact_with_true_gradients():
    """Sibson 1981's sharpest property of the alpha/beta blend with
    flatness 0.5: the C1 interpolant reproduces spherical quadrics
    z = a + b.x + c|x|^2 EXACTLY when the true gradients are supplied
    (zeta_i = z(x) - c*d_i^2 and the alpha/beta weighting cancels the
    d^2 residue against Z0's +c*sum(lam*d^2) — an identity that pins
    both alpha = sum(lam*d)/sum(lam/d) and beta = sum(lam*d^2)).
    A wrong alpha or beta fails this at the 1e-2 level."""
    from rasters_rs_spark.functions.delaunay import delaunay_triangles

    rng = np.random.default_rng(29)
    px = rng.random(70) * 8
    py = rng.random(70) * 8
    a, bx, by, c = 2.0, 0.3, -0.7, 0.5
    pz = a + bx * px + by * py + c * (px ** 2 + py ** 2)
    grads = np.column_stack([bx + 2 * c * px, by + 2 * c * py])
    tris = delaunay_triangles(px, py)
    qx = rng.random(250) * 8
    qy = rng.random(250) * 8
    got = K.sibson_interpolate(qx, qy, px, py, pz, tris, c1=True,
                               gradients=grads)
    inside = np.isfinite(got)
    expect = a + bx * qx + by * qy + c * (qx ** 2 + qy ** 2)
    assert inside.sum() > 150
    assert np.abs(got[inside] - expect[inside]).max() < 1e-8
    # C0 on the same field is NOT exact — the blend term is doing the
    # work (divergence-vs-C0 on curved fields)
    c0 = K.sibson_interpolate(qx, qy, px, py, pz, tris)
    assert np.abs(c0[inside] - expect[inside]).max() > 1e-3


def test_sibson_c1_smooth_at_data_points():
    """THE property the C1 blend buys (and C0 lacks): continuous
    first derivatives AT the data points. One-sided difference
    quotients straddling an interior data point on a curved field:
    C0 Sibson has a gradient crease (mismatch stays O(1) as h -> 0);
    the C1 blend's mismatch shrinks with h and is far smaller."""
    from rasters_rs_spark.functions.delaunay import delaunay_triangles

    px, py, _ = _jitter_grid(seed=17, nx=11, ny=11, sp=1.0)
    pz = np.sin(0.9 * px) * np.cos(1.1 * py)
    tris = delaunay_triangles(px, py)
    g = K.estimate_gradients(px, py, pz, tris)
    # pick interior data points
    sel = np.nonzero((px > 2.5) & (px < 7.5) & (py > 2.5) & (py < 7.5))[0][:12]
    h = 1e-3
    u = np.array([0.6, 0.8])                    # probe direction
    qx = np.concatenate([px[sel] + h * u[0], px[sel] - h * u[0]])
    qy = np.concatenate([py[sel] + h * u[1], py[sel] - h * u[1]])
    creases = []
    for c1 in (False, True):
        got = K.sibson_interpolate(qx, qy, px, py, pz, tris, c1=c1,
                                   gradients=g if c1 else None)
        right = (got[:len(sel)] - pz[sel]) / h
        left = (pz[sel] - got[len(sel):]) / h
        creases.append(np.abs(right - left).max())
    c0_crease, c1_crease = creases
    assert c1_crease < 0.2 * c0_crease, creases
    assert c1_crease < 5e-2, creases


def test_fill_sibson_c1_and_distributed_match(spark):
    """fill_sibson(c1=True) — the reference's exact default fill — on
    a curved field: diverges measurably from the C0 fill (the blend
    term), stays within the neighbor-value envelope, and the
    DISTRIBUTED c1 fill (global vertex-gradient aggregation joined
    onto triangle corners) matches broadcast on interior holes to
    groupBy-summation-order fp noise."""
    px, py, _ = _jitter_grid(seed=3, nx=21, ny=15)
    pz = np.sin(px / 40.0) + np.cos(py / 55.0)
    pts_pdf = pd.DataFrame({"pt_id": [f"p{i}" for i in range(px.size)],
                            "x": px, "y": py, "z": pz})
    block = np.full((24, 24), 0.5)
    holes = np.zeros((24, 24), dtype=bool)
    holes[4:18, 5:20] = True
    block[holes] = -999.0
    img = pd.DataFrame([{
        "image_id": "i0", "bytes": codecs.encode_raw(block),
        "w": 24, "h": 24, "fmt": "raw",
        "gt": [60.0, 6.0, 0.0, 190.0, 0.0, -6.0],
        "crs": "IDENTITY", "no_val": -999.0}])
    images = spark.createDataFrame(img)
    from rasters_rs_spark.functions.delaunay import delaunay_triangles
    drv = delaunay_triangles(px, py)

    c0 = K.fill_sibson(images, pts_pdf, drv).collect()[0]
    b_out = K.fill_sibson(images, pts_pdf, drv, c1=True).collect()[0]
    assert b_out["filled"] == c0["filled"] == int(holes.sum())
    f0 = codecs.decode_raw(c0["bytes"], 24, 24)
    f1 = codecs.decode_raw(b_out["bytes"], 24, 24)
    assert np.abs(f1[holes] - f0[holes]).max() > 1e-6   # blend is live

    d_out = K.fill_sibson_distributed(
        images, spark.createDataFrame(pts_pdf), cell_size=64.0,
        c1=True).collect()[0]
    assert d_out["filled"] == b_out["filled"]
    db = codecs.decode_raw(d_out["bytes"], 24, 24)
    assert np.abs(f1 - db).max() < 1e-9


def test_fill_triangulated_chunked_equals_broadcast(spark):
    """The fully chunked triangulation fills (round-5 VERDICT #7):
    strip-decomposed images through fill_barycentric_distributed
    reassemble BYTE-identical to broadcast fill_barycentric (interior
    holes, same canonical triangle tables), and the chunked Sibson C1
    fill matches broadcast fill_sibson(c1=True) to distributed-
    gradient-summation fp noise."""
    from rasters_rs_spark.functions.delaunay import delaunay_triangles
    from rasters_rs_spark.operators.chunked import (assemble_images,
                                                    chunk_images)

    px, py, _ = _jitter_grid(seed=3, nx=21, ny=15)
    pz = np.sin(px / 40.0) + np.cos(py / 55.0)
    pts_pdf = pd.DataFrame({"pt_id": [f"p{i}" for i in range(px.size)],
                            "x": px, "y": py, "z": pz})
    block = np.full((32, 32), 0.5)
    holes = np.zeros((32, 32), dtype=bool)
    holes[6:26, 5:27] = True
    block[holes] = -999.0
    img = pd.DataFrame([{
        "image_id": "i0", "bytes": codecs.encode_raw(block),
        "w": 32, "h": 32, "fmt": "raw",
        "gt": [60.0, 5.0, 0.0, 180.0, 0.0, -5.0],
        "crs": "IDENTITY", "no_val": -999.0}])
    images = spark.createDataFrame(img)
    chunks = chunk_images(images, min_data_size=32 * 8)  # 8-row strips
    assert chunks.count() > 1
    drv = delaunay_triangles(px, py)
    order = np.lexsort((py[drv], px[drv]), axis=1)
    drv = np.take_along_axis(drv, order, axis=1)   # canonical corners
    pts_df = spark.createDataFrame(pts_pdf)

    base = K.fill_barycentric(images, pts_pdf, drv).collect()[0]
    got = assemble_images(K.fill_barycentric_distributed(
        chunks, pts_df, cell_size=64.0)).collect()[0]
    assert bytes(got["bytes"]) == bytes(base["bytes"])

    sib = K.fill_sibson(images, pts_pdf, drv, c1=True).collect()[0]
    gots = assemble_images(K.fill_sibson_distributed(
        chunks, pts_df, cell_size=64.0, c1=True)).collect()[0]
    a = codecs.decode_raw(bytes(sib["bytes"]), 32, 32)
    b = codecs.decode_raw(bytes(gots["bytes"]), 32, 32)
    assert np.abs(a - b).max() < 1e-9


def test_sibson_discrete_operator_matches_continuous(spark):
    """The distributed rasterized-Voronoi operator (the hash-exact
    SQL-oracled contract row) approximates the CONTINUOUS cavity
    kernel on the same sites: grid-resolution error only. Closes the
    evidence chain continuous == discrete == DuckDB — the two
    rows-only fill_sibson contract rows now have a hash-hard sibling
    pinned to the same definition (round-5 VERDICT #2)."""
    from rasters_rs_spark.functions.delaunay import delaunay_triangles
    from rasters_rs_spark.sources import synth

    i = np.arange(24, dtype=np.int64)
    sx = 8.0 + (i % 6) * 16.0 + (synth.lcg_values(4_000_000 + 2 * i) - 0.5) * 6.0
    sy = 8.0 + (i // 6) * 16.0 + (synth.lcg_values(4_000_001 + 2 * i) - 0.5) * 6.0
    sz = synth.lcg_values(4_100_000 + i)
    j = np.arange(10, dtype=np.int64)
    qx = 16.0 + synth.lcg_values(4_200_000 + 2 * j) * 64.0
    qy = 12.0 + synth.lcg_values(4_200_001 + 2 * j) * 40.0

    sites = spark.createDataFrame(pd.DataFrame(
        {"site_id": i, "x": sx, "y": sy, "z": sz}))
    qdf = spark.createDataFrame(pd.DataFrame({"q_id": j, "x": qx, "y": qy}))
    rows = K.sibson_discrete(spark, sites, qdf, (0.0, 0.0, 96.0, 64.0),
                             96, 64).collect()
    vals = {r["q_id"]: r["val"] for r in rows}
    assert len(vals) == 10                       # every query steals cells
    assert all(r["cnt"] > 0 for r in rows)

    tris = delaunay_triangles(sx, sy)
    cont = K.sibson_interpolate(qx, qy, sx, sy, sz, tris)
    inside = np.isfinite(cont)
    assert inside.sum() >= 8
    for qi in np.nonzero(inside)[0]:
        assert abs(vals[int(qi)] - cont[qi]) < 0.05, qi


def test_sibson_c1_discrete_matches_numpy_blend(spark):
    """sibson_c1_discrete's Catalyst fan gradients and alpha/beta
    blend are BIT-IDENTICAL to the numpy definition applied to the
    same discrete counts: estimate_gradients' bincount accumulates
    per site in triangle order, exactly the operator's tri_id-ordered
    fold, and the per-query blend sums fold in site_id order on both
    sides. Also pins the C1 value against the CONTINUOUS C1 kernel at
    grid resolution (the sibling of
    test_sibson_discrete_operator_matches_continuous)."""
    from rasters_rs_spark.sources import synth

    i = np.arange(24, dtype=np.int64)
    sx = 8.0 + (i % 6) * 16.0 + (synth.lcg_values(4_000_000 + 2 * i) - 0.5) * 6.0
    sy = 8.0 + (i // 6) * 16.0 + (synth.lcg_values(4_000_001 + 2 * i) - 0.5) * 6.0
    sz = synth.lcg_values(4_100_000 + i)
    j = np.arange(10, dtype=np.int64)
    qx = 16.0 + synth.lcg_values(4_200_000 + 2 * j) * 64.0
    qy = 12.0 + synth.lcg_values(4_200_001 + 2 * j) * 40.0
    tris = K.grid_triangles(6, 4)

    sites = spark.createDataFrame(pd.DataFrame(
        {"site_id": i, "x": sx, "y": sy, "z": sz}))
    qdf = spark.createDataFrame(pd.DataFrame({"q_id": j, "x": qx, "y": qy}))
    rows = K.sibson_c1_discrete(spark, sites, qdf, (0.0, 0.0, 96.0, 64.0),
                                96, 64, tris).collect()
    assert len({r["q_id"] for r in rows}) == 10

    g = K.estimate_gradients(sx, sy, sz, tris)
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(int(r["q_id"]), []).append(r)
    for qi, rs in per_q.items():
        rs.sort(key=lambda r: r["site_id"])       # the fold order
        lam = np.array([float(r["cnt"]) for r in rs])
        sid = np.array([r["site_id"] for r in rs])
        dx = qx[qi] - sx[sid]
        dy = qy[qi] - sy[sid]
        d2 = dx * dx + dy * dy
        r_ = np.sqrt(d2)
        zeta = sz[sid] + g[sid, 0] * dx + g[sid, 1] * dy
        S = float(sum(int(r["cnt"]) for r in rs))
        def acc(t):                               # strict left fold
            s = 0.0                               # (np pairwise sums
            for v in t:                           # diverge above 8
                s += float(v)                     # elements)
            return s
        num0, W = acc(lam * sz[sid]), acc(lam / r_)
        XI = acc((lam / r_) * zeta) / W
        alpha = acc(lam * r_) / W
        beta = acc((lam * r_) * r_) / S
        z0 = num0 / S
        want = (alpha * z0 + beta * XI) / (alpha + beta)
        assert rs[0]["val_c0"] == z0
        assert abs(rs[0]["val"] - want) < 1e-13, qi

    cont = K.sibson_interpolate(qx, qy, sx, sy, sz, tris, c1=True,
                                gradients=g)
    vals = {int(r["q_id"]): r["val"] for r in rows}
    inside = np.isfinite(cont)
    assert inside.sum() >= 8
    for qi in np.nonzero(inside)[0]:
        assert abs(vals[int(qi)] - cont[qi]) < 0.05, qi


def test_sibson_tolerates_degenerate_triangle_rows():
    """A collinear row in a user-supplied triangle table (NaN
    circumcircle) must not poison the bucketing grid (review r5):
    results equal the table without the degenerate row."""
    from rasters_rs_spark.functions.delaunay import delaunay_triangles
    rng = np.random.default_rng(2)
    px = np.concatenate([rng.random(40) * 10, [0.0, 1.0, 2.0]])
    py = np.concatenate([rng.random(40) * 10, [0.0, 0.0, 0.0]])
    pz = rng.random(43)
    tris = delaunay_triangles(px[:40], py[:40])
    bad = np.vstack([tris, [[40, 41, 42]]])     # collinear triangle
    qx = rng.random(200) * 10
    qy = rng.random(200) * 10
    a = K.sibson_interpolate(qx, qy, px, py, pz, bad)
    b = K.sibson_interpolate(qx, qy, px, py, pz, tris)
    same = (np.isnan(a) & np.isnan(b)) | (a == b)
    assert same.all()
