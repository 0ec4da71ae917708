"""Pure-numpy geometry kernels (no Spark imports).

Re-implements, from public math, the geometric semantics of the reference
engine (AspecScire/rasters.rs):

- affine pixel<->world transforms   (reference: src/geometry.rs:10-26)
- half-open bounds + window snap    (reference: src/geometry.rs:29-110)
- window transforms between rasters (reference: src/align.rs:33-44)
- chunk-residue transform folding   (reference: src/align.rs:97-116)
- nearest-neighbor index transform  (reference: src/align.rs:122-144)
- winding/crossing point-in-polygon over packed coordinate buffers
  (replaces geo::Contains used at raster-stats/main.rs:72-82)

Everything here is vectorized numpy so it can run inside Arrow-batched
pandas UDFs; nothing allocates per-point Python objects.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Affine transforms (3x3 homogeneous matrices, row vectors are (x, y, 1)^T)
# ---------------------------------------------------------------------------


def transform_from_gdal(gt) -> np.ndarray:
    """GDAL 6-element geo-transform -> 3x3 affine matrix.

    Matches reference src/geometry.rs:24-26: rows are
    [[t1, t2, t0], [t4, t5, t3], [0, 0, 1]].
    """
    t = np.asarray(gt, dtype=np.float64)
    return np.array(
        [[t[1], t[2], t[0]], [t[4], t[5], t[3]], [0.0, 0.0, 1.0]],
        dtype=np.float64,
    )


def transform_between(gt_a, gt_b) -> np.ndarray:
    """Affine mapping pixel coords of raster A -> pixel coords of raster B.

    Matches reference src/align.rs:49-58: inv(T_b) @ T_a. Raises
    ``np.linalg.LinAlgError`` if T_b is singular.
    """
    t_a = gt_a if isinstance(gt_a, np.ndarray) and gt_a.shape == (3, 3) else transform_from_gdal(gt_a)
    t_b = gt_b if isinstance(gt_b, np.ndarray) and gt_b.shape == (3, 3) else transform_from_gdal(gt_b)
    return np.linalg.inv(t_b) @ t_a


def transform_points(t: np.ndarray, xs, ys):
    """Apply a 3x3 affine to arrays of points. Returns (x', y') arrays."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    xo = t[0, 0] * xs + t[0, 1] * ys + t[0, 2]
    yo = t[1, 0] * xs + t[1, 1] * ys + t[1, 2]
    return xo, yo


# ---------------------------------------------------------------------------
# Bounds (half-open axis-aligned rects) and raster windows
#
# A bounds is a tuple (minx, miny, maxx, maxy); it contains its left/top
# edges and excludes right/bottom (reference src/geometry.rs:36-40).
# A window is ((off_x, off_y), (size_x, size_y)) in integer pixels.
# ---------------------------------------------------------------------------


def bounds_new(x0: float, y0: float, x1: float, y1: float):
    """Normalized bounds from two corners (like geo::Rect::new)."""
    return (min(x0, x1), min(y0, y1), max(x0, x1), max(y0, y1))


def bounds_intersect(a, b):
    """Intersection of two bounds; None when empty (strict: min < max).

    Reference src/geometry.rs:72-90.
    """
    minx = max(a[0], b[0])
    miny = max(a[1], b[1])
    maxx = min(a[2], b[2])
    maxy = min(a[3], b[3])
    if minx < maxx and miny < maxy:
        return (minx, miny, maxx, maxy)
    return None


def window_from_bounds(b, dims):
    """Largest valid window within ``b`` clipped to a raster of ``dims``
    (width, height), including partial pixels: floor mins, ceil maxes.
    Returns ((0,0),(0,0)) when disjoint. Reference src/geometry.rs:92-110.
    """
    clipped = bounds_intersect(b, (0.0, 0.0, float(dims[0]), float(dims[1])))
    if clipped is None:
        return ((0, 0), (0, 0))
    min_x = int(np.floor(clipped[0]))
    min_y = int(np.floor(clipped[1]))
    max_x = int(np.ceil(clipped[2]))
    max_y = int(np.ceil(clipped[3]))
    return ((min_x, min_y), (max_x - min_x, max_y - min_y))


def transform_window(win, t: np.ndarray, dims):
    """Map a window through an affine and snap to the target raster.

    ``win`` is ((off_x, off_y), (size_x, size_y)) in source pixels;
    ``dims`` is the target raster (width, height).
    Reference src/align.rs:33-44.
    """
    (ox, oy), (sx, sy) = win
    # map ALL FOUR corners: for a rotated affine the bbox of the two
    # diagonal corners under-covers the window (most of a 45-degree
    # image would silently fall outside it); for axis-aligned
    # transforms the 4-corner bbox equals the reference's 2-corner one
    # (src/align.rs:33-44, which gates on north-aligned inputs)
    cx = [float(ox), float(ox) + float(sx), float(ox), float(ox) + float(sx)]
    cy = [float(oy), float(oy), float(oy) + float(sy), float(oy) + float(sy)]
    xs, ys = transform_points(t, cx, cy)
    return window_from_bounds(
        bounds_new(float(xs.min()), float(ys.min()),
                   float(xs.max()), float(ys.max())), dims)


# ---------------------------------------------------------------------------
# Chunk-residue transform + index transformer (nearest-neighbor resampling)
# ---------------------------------------------------------------------------


def chunk_transform(t: np.ndarray, off_1, off_2) -> np.ndarray:
    """Fold chunk offsets into an affine so per-pixel mapping is one matmul.

    ``off_1``/``off_2`` are (x, y) float offsets of the source/target chunks.
    Note: the residue applies only the *linear* part of ``t`` to ``off_1``
    (homogeneous coordinate 0), exactly as reference src/align.rs:110-116.
    Callers shift ``off_1`` by (+0.5, +0.5) to map pixel centers.
    """
    rx = t[0, 0] * off_1[0] + t[0, 1] * off_1[1] - off_2[0]
    ry = t[1, 0] * off_1[0] + t[1, 1] * off_1[1] - off_2[1]
    out = t.copy()
    out[0, 2] += rx
    out[1, 2] += ry
    return out


def index_transform_grid(chunk_t: np.ndarray, rows: int, cols: int, dims):
    """Vectorized equivalent of the reference's index_transformer
    (src/align.rs:122-144) applied to the full (rows x cols) index grid.

    Returns (valid, i2, j2): boolean mask plus target row/col indices
    (int64, only meaningful where valid). Target ``dims`` is (cols2, rows2).
    Negative coordinates are rejected *before* flooring, as in the
    reference (so -0.3 is out of bounds, not pixel 0).
    """
    jj, ii = np.meshgrid(np.arange(cols, dtype=np.float64), np.arange(rows, dtype=np.float64))
    x, y = transform_points(chunk_t, jj, ii)
    valid = (x >= 0.0) & (y >= 0.0)
    j2 = np.floor(x).astype(np.int64)
    i2 = np.floor(y).astype(np.int64)
    cols2, rows2 = dims
    valid &= (j2 < cols2) & (i2 < rows2)
    return valid, i2, j2


def bilinear_weights_grid(chunk_t: np.ndarray, rows: int, cols: int, dims):
    """Bilinear variant of the index transform: returns the 4 neighbor
    indices and weights for each source index. Our added resampling kernel
    (the reference only ships nearest, src/align.rs:122-144).

    Returns (valid, i0, j0, wx, wy) where the 4 neighbors are
    (i0, j0), (i0, j0+1), (i0+1, j0), (i0+1, j0+1) with weights
    (1-wy)(1-wx), (1-wy)wx, wy(1-wx), wy*wx. Samples at continuous
    position minus the half-pixel center offset.
    """
    jj, ii = np.meshgrid(np.arange(cols, dtype=np.float64), np.arange(rows, dtype=np.float64))
    x, y = transform_points(chunk_t, jj, ii)
    # continuous coords relative to pixel centers
    xc = x - 0.5
    yc = y - 0.5
    j0 = np.floor(xc).astype(np.int64)
    i0 = np.floor(yc).astype(np.int64)
    wx = xc - j0
    wy = yc - i0
    cols2, rows2 = dims
    # valid = the SAMPLE POINT lies inside the source's geographic
    # extent (center within half a pixel of the border, inclusive).
    # Border convention: edge samples renormalize over their in-bounds
    # neighbors (callers mask the out-of-bounds members per neighbor —
    # requiring all 4 in-bounds NaN'd the source's entire last
    # row/column on identity resampling), but a sample point BEYOND the
    # extent is invalid even when its 2x2 neighborhood still overlaps
    # the source: renormalizing there would EXTRAPOLATE edge values up
    # to half a pixel outside the image, inflating footprints and
    # bleeding neighbors' edges into mosaic overlap means.
    valid = (xc >= -0.5) & (yc >= -0.5) \
        & (xc <= cols2 - 0.5) & (yc <= rows2 - 0.5)
    return valid, i0, j0, wx, wy


# ---------------------------------------------------------------------------
# Point-in-polygon over packed coordinate buffers
# ---------------------------------------------------------------------------


def points_in_rings(px, py, ring_offsets, xs, ys) -> np.ndarray:
    """Even-odd crossing-number containment test of many points against one
    (multi)polygon stored as packed ring buffers.

    ``ring_offsets`` holds the start index of each ring in ``xs``/``ys``
    (an implicit final offset of len(xs) closes the last ring). Rings do
    not need an explicit closing vertex. Holes are additional rings: the
    even-odd rule makes a point inside an odd number of rings "contained",
    which matches exterior-minus-holes for validly nested polygons
    (reference semantics: geo::Contains at raster-stats/main.rs:77).

    Fully vectorized: O(points x edges) numpy ops, no Python loop over
    points. Returns a boolean array.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    offs = list(ring_offsets) + [len(xs)]

    inside = np.zeros(px.shape, dtype=bool)
    for r in range(len(offs) - 1):
        a, b = offs[r], offs[r + 1]
        if b - a < 3:
            continue
        x0 = xs[a:b]
        y0 = ys[a:b]
        x1 = np.roll(x0, -1)
        y1 = np.roll(y0, -1)
        # edges as (E,) arrays; points as (P,1) for broadcasting
        pxc = px[:, None]
        pyc = py[:, None]
        crosses = (y0[None, :] > pyc) != (y1[None, :] > pyc)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (pyc - y0[None, :]) / (y1[None, :] - y0[None, :])
            xint = x0[None, :] + t * (x1[None, :] - x0[None, :])
        hits = crosses & (pxc < xint)
        inside ^= (hits.sum(axis=1) % 2).astype(bool)
    return inside


def points_in_rings_winding(px, py, ring_offsets, xs, ys) -> np.ndarray:
    """NONZERO winding-number containment test over the same packed
    ring buffers as points_in_rings: the winding number of each point
    sums signed upward/downward edge crossings across ALL rings; a
    point is contained when the total is nonzero.

    For valid simple polygons with correctly oriented holes (holes
    wound opposite the exterior) this equals the even-odd rule; the two
    differ on self-intersecting rings and same-winding overlaps, where
    nonzero fills the overlap region (the PostGIS/GEOS-style rule).
    Fully vectorized, same O(points x edges) shape as the even-odd
    path."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    offs = list(ring_offsets) + [len(xs)]

    winding = np.zeros(px.shape, dtype=np.int64)
    for r in range(len(offs) - 1):
        a, b = offs[r], offs[r + 1]
        if b - a < 3:
            continue
        x0 = xs[a:b]
        y0 = ys[a:b]
        x1 = np.roll(x0, -1)
        y1 = np.roll(y0, -1)
        pxc = px[:, None]
        pyc = py[:, None]
        up = (y0[None, :] <= pyc) & (y1[None, :] > pyc)      # upward edge
        down = (y0[None, :] > pyc) & (y1[None, :] <= pyc)    # downward edge
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (pyc - y0[None, :]) / (y1[None, :] - y0[None, :])
            xint = x0[None, :] + t * (x1[None, :] - x0[None, :])
        left_of = pxc < xint
        winding += (up & left_of).sum(axis=1)
        winding -= (down & left_of).sum(axis=1)
    return winding != 0


def polygon_bbox(ring_offsets, xs, ys):
    """Bounding box of ALL ring coordinates (exterior and holes —
    identical for validly nested polygons, where holes lie inside the
    exterior): (minx, miny, maxx, maxy). ``ring_offsets`` is accepted
    for signature symmetry with the PIP kernels but does not affect
    the result."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    return (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()))
