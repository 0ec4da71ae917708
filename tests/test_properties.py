"""Property-based tests (hypothesis) — beyond the reference's own test
strategy: invariants that must hold for ALL configurations, not just
the golden vectors."""

import numpy as np
from hypothesis import given, settings, strategies as st

from rasters_rs_spark.functions import codecs, geom
from rasters_rs_spark.functions import mercator as M
from rasters_rs_spark.plans.chunking import ChunkPlan, mod_ceil


@given(w=st.integers(1, 500), h=st.integers(1, 2000),
       bs=st.integers(1, 32), dh=st.integers(1, 300),
       pad=st.integers(0, 20),
       start=st.integers(0, 2100), end=st.integers(0, 2100))
@settings(max_examples=300, deadline=None)
def test_chunk_plan_invariants(w, h, bs, dh, pad, start, end):
    plan = (ChunkPlan(w, h).add_block_size(bs).with_min_data_height(dh)
            .with_padding(pad).with_start(start).with_end(end))
    rows = list(plan.chunks())
    assert len(rows) == len(plan)
    eff_start = max(start, pad)
    eff_end = min(end, h)
    if eff_start >= eff_end:
        assert rows == []
        return
    # data ranges tile [eff_start, last_data_end) contiguously
    assert rows[0][1] == eff_start
    for a, b in zip(rows, rows[1:]):
        assert a[2] == b[1], "contiguous data ranges"
    for i, (idx, ds, de, ls, le) in enumerate(rows):
        assert idx == i
        assert ls == ds - pad
        assert 0 <= ls <= le <= h, "load window inside raster"
        assert de - ds >= 0
        if 0 < i < len(rows) - 1:
            assert de - ds == plan.data_height, "interior chunks full height"
    # interior load ends on block boundaries (block-aligned I/O)
    for (_, _, _, _, le) in rows[:-1]:
        if len(rows) > 1:
            assert le % plan.block_size == 0
    # every data row in [eff_start, eff_end) is covered at most once and
    # the coverage reaches at least eff_end - pad (border rows may be
    # load-clamped away, mirroring the reference)
    covered = sum(de - ds for (_, ds, de, _, _) in rows)
    assert rows[-1][2] <= eff_end
    assert covered == rows[-1][2] - eff_start


@given(nums=st.integers(0, 10**9), m=st.integers(1, 10**6))
def test_mod_ceil_properties(nums, m):
    r = mod_ceil(nums, m)
    assert r % m == 0 and r >= nums and r - nums < m


@given(minx=st.floats(-1e6, 1e6), miny=st.floats(-1e6, 1e6),
       dx=st.floats(0.001, 1e5), dy=st.floats(0.001, 1e5),
       w=st.integers(1, 10000), h=st.integers(1, 10000))
@settings(max_examples=200, deadline=None)
def test_window_from_bounds_invariants(minx, miny, dx, dy, w, h):
    win = geom.window_from_bounds((minx, miny, minx + dx, miny + dy), (w, h))
    (ox, oy), (sw, sh) = win
    assert 0 <= ox <= w and 0 <= oy <= h
    assert ox + sw <= w and oy + sh <= h
    if sw and sh:
        # the window covers the clipped bounds (partial pixels included)
        assert ox <= max(minx, 0) + 1e-9
        assert ox + sw >= min(minx + dx, w) - 1e-9


@given(lat=st.floats(-80, 84), lon_off=st.floats(-6, 6))
@settings(max_examples=200, deadline=None)
def test_tm_roundtrip_property(lat, lon_off):
    lon0 = 75.0
    e, n = M.tm_forward(lat, lon0 + lon_off, lon0_deg=lon0)
    lat2, lon2 = M.tm_inverse(e, n, lon0_deg=lon0)
    assert abs(float(lat2) - lat) < 1e-9
    assert abs(float(lon2) - (lon0 + lon_off)) < 1e-9


@given(lon=st.floats(-179.9, 179.9), lat=st.floats(-85, 85))
def test_wm_roundtrip_property(lon, lat):
    lon2, lat2 = M.wm_to_lonlat(*M.lonlat_to_wm(lon, lat))
    assert abs(float(lon2) - lon) < 1e-9
    assert abs(float(lat2) - lat) < 1e-9


@given(st.data())
@settings(max_examples=100, deadline=None)
def test_q16_roundtrip_error_bound(data):
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
    shape = (data.draw(st.integers(1, 20)), data.draw(st.integers(1, 20)))
    scale = data.draw(st.floats(1e-6, 1e6))
    block = rng.normal(size=shape) * scale
    enc = codecs.encode_q16(block)
    dec = codecs.decode_q16(enc, *shape)
    vrange = block.max() - block.min()
    if vrange > 0:
        # reconstruction error bounded by 2 quantization steps
        assert np.nanmax(np.abs(dec - block)) <= 2.01 * vrange / codecs.Q16_BINS


@given(zoom=st.integers(0, 22),
       x=st.floats(-20037507.0, 20037507.0),
       y=st.floats(-20037507.0, 20037507.0))
def test_tile_index_in_range(zoom, x, y):
    tx, ty = M.tile_index(zoom, x, y)
    assert 0 <= int(tx) < (1 << zoom) or zoom == 0
    assert 0 <= int(ty) < (1 << zoom) or zoom == 0


@given(px=st.lists(st.floats(-100, 100), min_size=1, max_size=50),
       py=st.lists(st.floats(-100, 100), min_size=1, max_size=50))
@settings(max_examples=100, deadline=None)
def test_pip_agrees_with_matplotlib_free_oracle(px, py):
    """Containment in a convex polygon == all cross products same sign
    (independent oracle for convex cases)."""
    n = min(len(px), len(py))
    pts_x = np.array(px[:n])
    pts_y = np.array(py[:n])
    # fixed convex polygon (square rotated 45 deg)
    xs = [0.0, 50.0, 0.0, -50.0]
    ys = [-50.0, 0.0, 50.0, 0.0]
    got = geom.points_in_rings(pts_x, pts_y, [0], xs, ys)
    expect = (np.abs(pts_x) + np.abs(pts_y)) < 50.0
    boundary = np.isclose(np.abs(pts_x) + np.abs(pts_y), 50.0)
    assert np.array_equal(got[~boundary], expect[~boundary])


@given(texts=st.lists(st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    max_size=60), min_size=0, max_size=25),
    k=st.integers(2, 12))
@settings(max_examples=120, deadline=None)
def test_fingerprint_batch_equals_scalar_property(texts, k):
    """The cross-document vectorized fingerprint equals the scalar
    per-doc rolling hash for ARBITRARY unicode texts and window sizes
    (empty docs, docs shorter than k, multi-byte codepoints)."""
    from rasters_rs_spark.operators import text as TX
    got = TX.fingerprint_batch(texts, k=k)
    expect = [TX.fingerprint_minhash(t or "", k) for t in texts]
    assert got.tolist() == expect


@given(px=st.lists(st.floats(-2.5, 2.5), min_size=1, max_size=40),
       py=st.lists(st.floats(-2.5, 2.5), min_size=1, max_size=40),
       n=st.integers(3, 9), seed=st.integers(0, 10_000))
@settings(max_examples=150, deadline=None)
def test_winding_equals_evenodd_on_simple_polygons(px, py, n, seed):
    """For SIMPLE (non-self-intersecting) polygons — any star-convex
    ring qualifies — the nonzero winding rule and the even-odd rule
    are the same predicate, regardless of ring orientation."""
    rng = np.random.default_rng(seed)
    m = min(len(px), len(py))
    pxa = np.asarray(px[:m])
    pya = np.asarray(py[:m])
    ang = np.sort(rng.uniform(0, 2 * np.pi, size=n))
    if np.any(np.diff(ang) < 1e-6):      # degenerate spoke collision
        ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    r = rng.uniform(0.5, 2.0, size=n)
    xs = r * np.cos(ang)
    ys = r * np.sin(ang)
    if seed % 2:                          # flip orientation
        xs, ys = xs[::-1].copy(), ys[::-1].copy()
    eo = geom.points_in_rings(pxa, pya, [0], xs, ys)
    nz = geom.points_in_rings_winding(pxa, pya, [0], xs, ys)
    assert eo.tolist() == nz.tolist()


@given(h=st.integers(1, 40), w=st.integers(1, 40),
       n_patch=st.integers(0, 25), seed=st.integers(0, 10_000),
       fmt=st.sampled_from(["raw", "q16"]))
@settings(max_examples=150, deadline=None)
def test_patch_block_bytes_invariants(h, w, n_patch, seed, fmt):
    """For ANY block/patch set: unpatched bytes are byte-identical to
    the input, raw patches are exact, and q16 patches land on the
    original header's grid (error <= one quantization step, header
    preserved)."""
    rng = np.random.default_rng(seed)
    block = rng.normal(size=(h, w))
    data = codecs.encode_block(block, fmt)
    n = min(n_patch, h * w)
    flat = rng.choice(h * w, size=n, replace=False)
    ii, jj = flat // w, flat % w
    vals = rng.normal(size=n)
    out = codecs.patch_block_bytes(data, ii, jj, vals, h, w, fmt)
    assert len(out) == len(data)
    dec_in = codecs.decode_block(data, h, w, fmt)
    dec_out = codecs.decode_block(out, h, w, fmt)
    mask = np.ones((h, w), dtype=bool)
    mask[ii, jj] = False
    # untouched pixels: byte-identical (stronger than value-equal)
    if fmt == "q16":
        assert out[:16] == data[:16]
        px = np.frombuffer(data, dtype=">u2", offset=16)
        qx = np.frombuffer(out, dtype=">u2", offset=16)
        assert np.array_equal(px.reshape(h, w)[mask], qx.reshape(h, w)[mask])
        import struct
        vmin, vmax = struct.unpack_from("<dd", data, 0)
        step = (vmax - vmin) / 65535.0
        clamped = np.clip(vals, vmin, vmax)
        assert np.all(np.abs(dec_out[ii, jj] - clamped) <= step + 1e-12)
    else:
        assert np.array_equal(dec_in[mask], dec_out[mask])
        assert np.array_equal(dec_out[ii, jj], vals)


@given(n=st.integers(3, 60), seed=st.integers(0, 10_000))
@settings(max_examples=60, deadline=None)
def test_delaunay_property_random_sets(n, seed):
    """Empty-circumcircle criterion and linear-field exactness for ANY
    random point set (degenerate collinear subsets tolerated by the
    det==0 skip)."""
    from rasters_rs_spark.functions.delaunay import (_circumcircles,
                                                     delaunay_triangles)
    from rasters_rs_spark.operators.knn import barycentric_interpolate
    rng = np.random.default_rng(seed)
    x = rng.random(n) * 10.0
    y = rng.random(n) * 10.0
    tris = delaunay_triangles(x, y)
    if len(tris) == 0:
        return
    pts = np.stack([x, y], axis=1)
    centers, r2 = _circumcircles(pts, tris)
    ok = np.isfinite(r2)
    d2 = ((pts[None, :, :] - centers[ok][:, None, :]) ** 2).sum(-1)
    assert not (d2 < r2[ok][:, None] * (1.0 - 1e-7)).any()
    # linear field reproduced at the input points themselves
    z = 0.5 + 2.0 * x - 3.0 * y
    got = barycentric_interpolate(x, y, x, y, z, tris)
    inside = ~np.isnan(got)
    assert inside.any()
    assert np.allclose(got[inside], z[inside], atol=1e-6)


@settings(max_examples=150, deadline=None)
@given(st.lists(
    st.one_of(st.none(),
              st.text(alphabet="ab xyü", min_size=0, max_size=40)),
    min_size=0, max_size=25),
    st.integers(min_value=1, max_value=4))
def test_repetition_batch_kernel_equals_counter(texts, n):
    """The cross-document vectorized repetition kernel equals the
    per-doc Counter mirror on arbitrary texts (nulls, empties, runs of
    spaces, multi-byte chars) for every n."""
    from collections import Counter

    import numpy as np

    from rasters_rs_spark.operators.text import _repetition_batch

    t1, p1 = _repetition_batch(texts, n)
    for i, t in enumerate(texts):
        toks = ("" if t is None else t).split(" ")
        m = max(len(toks) - (n - 1), 1)
        c = Counter(" ".join(toks[j:j + n]) for j in range(m))
        assert t1[i] == m and p1[i] == max(c.values()), (i, t, n)


@settings(max_examples=150, deadline=None)
@given(st.lists(
    st.text(alphabet="abcdeortw XY7!", min_size=0, max_size=60),
    min_size=0, max_size=15))
def test_bpe_batch_kernel_equals_scalar(texts):
    """The vectorized BPE merge kernel equals the scalar greedy-fold
    tokenizer on arbitrary text (cleaning, chained same-char runs,
    multi-rank chains)."""
    import re

    import numpy as np

    from rasters_rs_spark.operators.text import (BPE_MERGES,
                                                 _bpe_count_batch,
                                                 bpe_tokenize_scalar)

    clean = [re.sub("[^a-z ]", "", t.lower()) for t in texts]
    got = _bpe_count_batch(clean, BPE_MERGES)
    for i, t in enumerate(texts):
        assert got[i] == len(bpe_tokenize_scalar(t)), (i, t)


@given(h=st.integers(2, 24), w=st.integers(2, 24),
       ncls=st.integers(1, 4), seed=st.integers(0, 10**6))
@settings(max_examples=60, deadline=None)
def test_ccl_matches_flood_fill_property(h, w, ncls, seed):
    from rasters_rs_spark.operators.vectorize import ccl_min_labels

    rng = np.random.default_rng(seed)
    cls = rng.integers(0, ncls, size=(h, w))
    lab = ccl_min_labels(cls).reshape(h, w)
    # label of each pixel is the min flat index reachable through
    # same-class 4-paths: verify by BFS per pixel of a sample
    for _ in range(5):
        i, j = int(rng.integers(h)), int(rng.integers(w))
        seen = {(i, j)}
        stack = [(i, j)]
        best = i * w + j
        while stack:
            a, b = stack.pop()
            best = min(best, a * w + b)
            for na, nb in ((a - 1, b), (a + 1, b), (a, b - 1),
                           (a, b + 1)):
                if (0 <= na < h and 0 <= nb < w
                        and (na, nb) not in seen
                        and cls[na, nb] == cls[i, j]):
                    seen.add((na, nb))
                    stack.append((na, nb))
        assert lab[i, j] == best


@given(h=st.integers(2, 16), w=st.integers(2, 16),
       p=st.floats(0.2, 0.8), seed=st.integers(0, 10**6))
@settings(max_examples=60, deadline=None)
def test_boundary_tracing_shoelace_property(h, w, p, seed):
    from rasters_rs_spark.operators.vectorize import (
        ccl_min_labels, trace_region_boundaries)

    rng = np.random.default_rng(seed)
    cls = (rng.random((h, w)) < p).astype(int)
    lab = ccl_min_labels(cls).reshape(h, w)
    for label in np.unique(lab):
        mask = lab == label
        rings = trace_region_boundaries(mask)
        outers = [r for r in rings if not r[0]]
        assert len(outers) == 1
        net = 0.0
        for is_hole, xs, ys in rings:
            n = len(xs)
            a2 = sum(xs[k] * ys[(k + 1) % n] - xs[(k + 1) % n] * ys[k]
                     for k in range(n))
            net += -abs(a2) / 2.0 if is_hole else abs(a2) / 2.0
        assert net == mask.sum()


@given(f=st.floats(0.0, 1.0, exclude_max=True))
@settings(max_examples=200, deadline=None)
def test_cubic_kernel_partition_and_first_moment(f):
    """Catmull-Rom taps: weights sum to 1 (partition of unity) and
    their first moment equals the fractional offset (linear
    precision) for every f in [0, 1)."""
    A = -0.5

    def wcub(fv, d):
        if d == -1:
            t = 1.0 + fv
            return A * t ** 3 - 5 * A * t ** 2 + 8 * A * t - 4 * A
        if d == 0:
            return (A + 2) * fv ** 3 - (A + 3) * fv ** 2 + 1
        if d == 1:
            t = 1.0 - fv
            return (A + 2) * t ** 3 - (A + 3) * t ** 2 + 1
        t = 2.0 - fv
        return A * t ** 3 - 5 * A * t ** 2 + 8 * A * t - 4 * A

    ws = [wcub(f, d) for d in (-1, 0, 1, 2)]
    assert abs(sum(ws) - 1.0) < 1e-12
    assert abs(sum(w * d for w, d in zip(ws, (-1, 0, 1, 2))) - f) < 1e-12


@given(level=st.floats(0.05, 0.95), seed=st.integers(0, 10**6))
@settings(max_examples=40, deadline=None)
def test_marching_squares_crossing_parity(level, seed):
    """Per cell: the number of crossing edges is twice the segment
    count (every segment consumes two crossings), and a crossing
    exists exactly where the corner bits differ."""
    from rasters_rs_spark.operators.vectorize import _MS_NSEG

    rng = np.random.default_rng(seed)
    v = rng.random((6, 6))
    for i in range(5):
        for j in range(5):
            b = [int(v[i, j] >= level), int(v[i, j + 1] >= level),
                 int(v[i + 1, j + 1] >= level), int(v[i + 1, j] >= level)]
            case = b[0] + 2 * b[1] + 4 * b[2] + 8 * b[3]
            crossings = (int(b[0] != b[1]) + int(b[1] != b[2])
                         + int(b[3] != b[2]) + int(b[0] != b[3]))
            assert crossings == 2 * _MS_NSEG[case]


# ---------------------------------------------------------------------------
# scanline point-in-polygon == the dense kernel, and the zonal block kernel
# ---------------------------------------------------------------------------

def _pentagram(cx, cy, r):
    """Self-intersecting 5-point star: its centre has winding number 2,
    so even-odd leaves it out and nonzero fills it."""
    ang = np.pi / 2 + np.arange(5) * (4 * np.pi / 5)
    return list(cx + r * np.cos(ang)), list(cy + r * np.sin(ang))


@st.composite
def _rings(draw):
    """Packed rings: 0-9 vertex rings on a half-pixel lattice (vertices on
    centre rows and horizontal edges are common), holes as extra rings,
    and now and then a pentagram."""
    xs, ys, offs = [], [], []
    for _ in range(draw(st.integers(1, 3))):
        offs.append(len(xs))
        if draw(st.integers(0, 4)) == 0:
            rx, ry = _pentagram(draw(st.integers(0, 12)) / 2,
                                draw(st.integers(0, 12)) / 2,
                                draw(st.integers(2, 12)) / 2)
        else:
            n = draw(st.integers(0, 9))
            rx = [v / 2 for v in draw(st.lists(st.integers(-4, 20),
                                               min_size=n, max_size=n))]
            ry = [v / 2 for v in draw(st.lists(st.integers(-4, 20),
                                               min_size=n, max_size=n))]
        xs += rx
        ys += ry
    return offs, np.array(xs, dtype=np.float64), np.array(ys, dtype=np.float64)


_PIXEL = st.sampled_from([1.0, -1.0, 0.5, -0.5, 2.0])


@given(rings=_rings(), rows=st.integers(0, 12), cols=st.integers(0, 12),
       sx=_PIXEL, sy=_PIXEL, ox=st.integers(-3, 3), oy=st.integers(-3, 3))
@settings(max_examples=400, deadline=None)
def test_grid_in_rings_equals_dense_both_rules(rings, rows, cols, sx, sy,
                                               ox, oy):
    """geom.grid_in_rings equals points_in_rings / _winding on the
    meshgrid of the same centres, for either sign of gt[1] and gt[5]."""
    ro, xs, ys = rings
    xc = sx * (np.arange(cols) + 0.5) + ox
    yc = sy * (np.arange(rows) + 0.5) + oy
    jj, ii = np.meshgrid(xc, yc)
    for winding, dense in ((False, geom.points_in_rings),
                           (True, geom.points_in_rings_winding)):
        want = dense(jj.ravel(), ii.ravel(), ro, xs, ys).reshape(rows, cols)
        got = geom.grid_in_rings(xc, yc, ro, xs, ys, winding=winding)
        assert got.dtype == bool and got.shape == (rows, cols)
        assert (got == want).all()


def test_grid_in_rings_pentagram_rules_differ():
    xs, ys = _pentagram(0.0, 0.0, 4.0)
    xc = yc = np.arange(-4, 5) + 0.0
    eo = geom.grid_in_rings(xc, yc, [0], xs, ys)
    nz = geom.grid_in_rings(xc, yc, [0], xs, ys, winding=True)
    assert not eo[4, 4] and nz[4, 4]
    assert (eo <= nz).all() and eo.sum() > 0


def _dense_block_partials(image_id, block, gt, no_val, row0, aois,
                          include_whole):
    """The zonal partials with the dense kernel: every valid pixel
    centre through transform_points, an inclusive AOI-bbox prefilter,
    then points_in_rings."""
    valid = ~np.isnan(block)
    if not np.isnan(no_val):
        valid &= block != no_val
    if not valid.any():
        return []
    ii, jj = np.nonzero(valid)
    vals = block[ii, jj]
    wx, wy = geom.transform_points(geom.transform_from_gdal(gt),
                                   jj + 0.5, ii + row0 + 0.5)

    def row(aoi_id, v):
        return (image_id, aoi_id, float(v.size), float(v.min()),
                float(v.max()), float(v.sum()), float((v * v).sum()))

    out = [row("__all__", vals)] if include_whole else []
    for (aoi_id, ro, xs, ys, box) in aois:
        cand = np.flatnonzero((wx >= box[0]) & (wx <= box[2])
                              & (wy >= box[1]) & (wy <= box[3]))
        inside = cand[geom.points_in_rings(wx[cand], wy[cand], ro, xs, ys)]
        if len(inside):
            out.append(row(aoi_id, vals[inside]))
    return out


@given(rings=st.lists(_rings(), min_size=1, max_size=3),
       rows=st.integers(1, 10), cols=st.integers(1, 10),
       row0=st.integers(0, 6), sx=_PIXEL, sy=_PIXEL,
       rot=st.sampled_from([0.0, 0.0, 0.25]), seed=st.integers(0, 1000),
       include_whole=st.booleans())
@settings(max_examples=200, deadline=None)
def test_zonal_block_partials_bit_equal_dense(rings, rows, cols, row0, sx,
                                              sy, rot, seed, include_whole):
    """The block kernel's tuples are bit-equal to a dense reference, for
    strips that start past row 0 and for rotated transforms (which take
    the dense branch)."""
    import pandas as pd
    from rasters_rs_spark.operators import stats as S

    rng = np.random.default_rng(seed)
    block = rng.normal(size=(rows, cols))
    block[rng.random((rows, cols)) < 0.2] = np.nan
    block[rng.random((rows, cols)) < 0.1] = -9.0
    gt = [-1.0, sx, rot, 9.0, -rot, sy]
    aois = S._packed_aoi_rows(pd.DataFrame(
        [{"aoi_id": f"a{k}", "ring_offsets": ro, "xs": xs, "ys": ys}
         for k, (ro, xs, ys) in enumerate(rings)]))
    got = S.zonal_block_partials("img", block, gt, -9.0, row0, aois,
                                 include_whole)
    assert got == _dense_block_partials("img", block, gt, -9.0, row0, aois,
                                        include_whole)


def test_zonal_block_partials_branches(monkeypatch):
    """A north-up transform never calls the dense kernel; a rotated one
    never calls the scanline kernel."""
    import pandas as pd
    from rasters_rs_spark.operators import stats as S

    aois = S._packed_aoi_rows(pd.DataFrame([{
        "aoi_id": "sq", "ring_offsets": [0], "xs": [0.0, 6.0, 6.0, 0.0],
        "ys": [0.0, 0.0, 6.0, 6.0]}]))
    block = np.arange(64, dtype=np.float64).reshape(8, 8)

    def boom(*a, **k):
        raise AssertionError("wrong kernel")

    with monkeypatch.context() as m:
        m.setattr(geom, "points_in_rings", boom)
        up = S.zonal_block_partials("i", block, [0.0, 1.0, 0.0, 8.0, 0.0,
                                                 -1.0], np.nan, 0, aois)
    assert up[0][2] == 36.0
    with monkeypatch.context() as m:
        m.setattr(geom, "grid_in_rings", boom)
        rot = S.zonal_block_partials("i", block, [0.0, 1.0, 0.1, 8.0, -0.1,
                                                  -1.0], np.nan, 0, aois)
    assert rot and rot[0][1] == "sq"


def test_zonal_block_kernel_memory_bound():
    """One 256x256 image against one 128-edge polygon stays under 8 MB of
    traced allocation: no (pixels x edges) temporary (each one would be
    64 MiB of float64)."""
    import tracemalloc

    import pandas as pd
    from rasters_rs_spark.operators import stats as S

    ang = np.arange(128) * (2 * np.pi / 128)
    aois = S._packed_aoi_rows(pd.DataFrame([{
        "aoi_id": "disc", "ring_offsets": [0],
        "xs": list(128 + 127 * np.cos(ang)),
        "ys": list(128 + 127 * np.sin(ang))}]))
    block = np.random.default_rng(0).normal(size=(256, 256))
    gt = [0.0, 1.0, 0.0, 256.0, 0.0, -1.0]
    tracemalloc.start()
    try:
        out = S.zonal_block_partials("i", block, gt, np.nan, 0, aois)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert out and 0.75 * 256 * 256 < out[0][2] < 256 * 256
    assert peak < 8 * 2**20, peak


# Binary-exact geo-transform terms: every product and sum the diff
# kernel forms stays exact, so pixel centres that land exactly on a B
# pixel edge (frequent here) round the same way in every strip.
_SCALES = st.sampled_from([0.25, 0.5, 1.0, 2.0, -0.5, -1.0, -2.0])
_B_SCALES = st.sampled_from([0.5, 1.0, 2.0, 4.0, -1.0, -2.0, -4.0])
_ORIGINS = st.integers(-64, 64).map(lambda v: v / 4.0)
_SHEARS = st.sampled_from([0.0, 0.25, -0.25, 0.5, -0.5])


@given(st.data())
@settings(max_examples=150, deadline=None)
def test_diff_strip_kernel_strips_equal_whole_image(data):
    """The union of the diff strip kernel's pairs over A strips x B
    strips equals the whole-image pairs restricted to the rows the
    ChunkPlan padding clamp leaves processed on each side, with no pair
    found twice. A is north-up or rotated, B north-up; NaN and no-data
    pixels on both sides."""
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    h_a, w_a = data.draw(st.integers(1, 24)), data.draw(st.integers(1, 24))
    h_b, w_b = data.draw(st.integers(1, 16)), data.draw(st.integers(1, 16))
    rotated = data.draw(st.booleans())
    gt_a = [data.draw(_ORIGINS), data.draw(_SCALES),
            data.draw(_SHEARS) if rotated else 0.0,
            data.draw(_ORIGINS),
            data.draw(_SHEARS) if rotated else 0.0, data.draw(_SCALES)]
    gt_b = [data.draw(_ORIGINS), data.draw(_B_SCALES), 0.0,
            data.draw(_ORIGINS), 0.0, data.draw(_B_SCALES)]
    nv_a, nv_b = -9.0, 7.0
    a = rng.normal(size=(h_a, w_a))
    b = rng.normal(size=(h_b, w_b))
    a[rng.random(a.shape) < 0.1] = np.nan
    a[rng.random(a.shape) < 0.1] = nv_a
    b[rng.random(b.shape) < 0.1] = np.nan
    b[rng.random(b.shape) < 0.1] = nv_b

    got, want = _strip_union_and_whole(data, a, gt_a, nv_a, b, gt_b, nv_b)
    assert len(set(got)) == len(got)
    assert sorted(got) == sorted(want)


def _strip_union_and_whole(data, a, gt_a, nv_a, b, gt_b, nv_b, extent=None,
                           max_strip_rows=8):
    """(pairs of the diff strip kernel over every A strip x B strip of
    drawn ChunkPlans, pairs of the whole blocks with rows outside the
    processed ranges set to no-data) as lists of float tuples."""
    from rasters_rs_spark.operators.diff import _strip_pairs

    def strips(block):
        h, w = block.shape
        plan = (ChunkPlan(w, h)
                .with_min_data_height(data.draw(st.integers(1, max_strip_rows)))
                .with_padding(data.draw(st.integers(0, 3))))
        return [(ds, de, ls, le) for (_, ds, de, ls, le) in plan.chunks()]

    def processed(block, spans):
        out = np.full(block.shape, np.nan)
        for (ds, de, _, _) in spans:
            out[ds:de] = block[ds:de]
        return out

    def tuples(pairs):
        return [tuple(float(v) for v in arr) for arr in zip(*pairs)]

    a_strips, b_strips = strips(a), strips(b)
    got = []
    for (ds, de, ls, le) in a_strips:
        for (bds, bde, bls, ble) in b_strips:
            got += tuples(_strip_pairs(
                a[ls:le][ds - ls:de - ls], ds, gt_a, nv_a,
                b[bls:ble], bls, (bds, bde), gt_b, nv_b, extent))
    want = tuples(_strip_pairs(
        processed(a, a_strips), 0, gt_a, nv_a, processed(b, b_strips), 0,
        (0, b.shape[0]), gt_b, nv_b, extent))
    return got, want


# Decimal geo-transform terms, not exact in binary. B's pixels are
# whole multiples of A's and its origin sits a whole number of half A
# pixels away, so in real arithmetic many A pixel centres land exactly
# on a B pixel edge and only the float evaluation decides the B pixel.
_DEC_SIZES = st.sampled_from([0.1, 0.3, 0.7, 1.1, -0.1, -0.3, -0.7])
_DEC_ORIGINS = st.integers(-500, 500).map(lambda v: v / 10.0)


@given(st.data())
@settings(max_examples=300, deadline=None)
def test_diff_strip_kernel_decimal_transforms_bit_equal_whole_image(data):
    """With decimal pixel sizes and origins, the union of the strip
    kernel's pairs over A strips x B strips (random strip heights and
    padding, optionally inside an extent polygon whose vertices are A
    pixel centres) equals the whole-image pairs bit for bit: a strip
    evaluates the transform and the extent test at its global rows,
    the same floats as the whole image."""
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    h_a, w_a = data.draw(st.integers(16, 48)), data.draw(st.integers(1, 16))
    sx, sy = data.draw(_DEC_SIZES), data.draw(_DEC_SIZES)
    n = data.draw(st.sampled_from([1, 3, 6, 7]))
    gt_a = [data.draw(_DEC_ORIGINS), sx, 0.0, data.draw(_DEC_ORIGINS), 0.0,
            sy]
    gt_b = [gt_a[0] + data.draw(st.integers(-6, 6)) * sx / 2, n * sx, 0.0,
            gt_a[3] + data.draw(st.integers(-6, 6)) * sy / 2, 0.0, n * sy]
    h_b = data.draw(st.integers(1, h_a // n + 2))
    w_b = data.draw(st.integers(1, w_a // n + 2))
    a = rng.normal(size=(h_a, w_a))
    b = rng.normal(size=(h_b, w_b))
    a[rng.random(a.shape) < 0.1] = np.nan
    b[rng.random(b.shape) < 0.1] = np.nan
    extent = None
    if data.draw(st.booleans()):
        k = data.draw(st.integers(3, 5))
        cj = rng.integers(-1, w_a + 1, size=k) + 0.5
        ci = rng.integers(-1, h_a + 1, size=k) + 0.5
        extent = ([0], list(gt_a[0] + cj * sx), list(gt_a[3] + ci * sy))
    got, want = _strip_union_and_whole(data, a, gt_a, np.nan, b, gt_b,
                                       np.nan, extent, max_strip_rows=3)
    assert len(set(got)) == len(got)
    assert sorted(got) == sorted(want)
