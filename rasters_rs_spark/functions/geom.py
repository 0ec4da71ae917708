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

Point-in-polygon has two kernels with identical answers. A north-up
pixel grid (gt[2] == gt[4] == 0: every centre of a row shares one y)
goes through the scanline ``grid_in_rings``, which crosses each edge
with each row once and counts the centres left of the intercept by
binary search: O(rows x edges + pixels), never a (pixels x edges)
array (the Raptor zonal scheme). The dense ``points_in_rings`` /
``points_in_rings_winding`` still run where the points are not a
grid: rotated transforms and the scattered points of the cell join.

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


def index_transform_grid(chunk_t: np.ndarray, rows: int, cols: int, dims,
                         row0: int = 0):
    """Vectorized equivalent of the reference's index_transformer
    (src/align.rs:122-144) applied to the (rows x cols) index grid whose
    first row is row ``row0`` (a strip evaluates ``chunk_t`` at the same
    rows, hence the same floats, as the whole grid).

    Returns (valid, i2, j2): boolean mask plus target row/col indices
    (int64, only meaningful where valid). Target ``dims`` is (cols2, rows2).
    Negative coordinates are rejected *before* flooring, as in the
    reference (so -0.3 is out of bounds, not pixel 0).
    """
    jj, ii = np.meshgrid(np.arange(cols, dtype=np.float64),
                         np.arange(row0, row0 + rows, dtype=np.float64))
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


def _ring_edges(ring_offsets, xs, ys):
    """(x0, y0, x1, y1) edge arrays of each ring with at least 3
    vertices; rings need no explicit closing vertex."""
    offs = list(ring_offsets) + [len(xs)]
    for a, b in zip(offs[:-1], offs[1:]):
        if b - a >= 3:
            yield xs[a:b], ys[a:b], np.roll(xs[a:b], -1), np.roll(ys[a:b], -1)


def points_in_rings(px, py, ring_offsets, xs, ys,
                    winding: bool = False) -> np.ndarray:
    """Even-odd crossing-number containment test of many points against one
    (multi)polygon stored as packed ring buffers.

    ``ring_offsets`` holds the start index of each ring in ``xs``/``ys``
    (an implicit final offset of len(xs) closes the last ring). Rings do
    not need an explicit closing vertex. Holes are additional rings: the
    even-odd rule makes a point inside an odd number of rings "contained",
    which matches exterior-minus-holes for validly nested polygons
    (reference semantics: geo::Contains at raster-stats/main.rs:77).
    ``winding`` switches to the nonzero rule (points_in_rings_winding).

    Fully vectorized: O(points x edges) numpy ops, no Python loop over
    points. Returns a boolean array.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)

    count = np.zeros(px.shape, dtype=np.int64)
    for (x0, y0, x1, y1) in _ring_edges(ring_offsets, xs, ys):
        # edges as (E,) arrays; points as (P,1) for broadcasting
        pxc = px[:, None]
        pyc = py[:, None]
        crosses = (y0[None, :] > pyc) != (y1[None, :] > pyc)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (pyc - y0[None, :]) / (y1[None, :] - y0[None, :])
            xint = x0[None, :] + t * (x1[None, :] - x0[None, :])
        hits = crosses & (pxc < xint)
        if winding:
            # +1 for an upward edge, -1 for a downward one
            up = y1[None, :] > pyc
            count += (hits & up).sum(axis=1) - (hits & ~up).sum(axis=1)
        else:
            count += hits.sum(axis=1)
    return count != 0 if winding else (count % 2).astype(bool)


def points_in_rings_winding(px, py, ring_offsets, xs, ys) -> np.ndarray:
    """NONZERO winding-number containment test over the same packed
    ring buffers as points_in_rings: the winding number of each point
    sums signed upward/downward edge crossings across ALL rings; a
    point is contained when the total is nonzero.

    For valid simple polygons with correctly oriented holes (holes
    wound opposite the exterior) this equals the even-odd rule; the two
    differ on self-intersecting rings and same-winding overlaps, where
    nonzero fills the overlap region (the PostGIS/GEOS-style rule)."""
    return points_in_rings(px, py, ring_offsets, xs, ys, winding=True)


def grid_in_rings(xc, yc, ring_offsets, xs, ys,
                  winding: bool = False) -> np.ndarray:
    """``points_in_rings`` (or ``points_in_rings_winding`` when
    ``winding``) over the grid ``meshgrid(xc, yc)``, as an (R, C) bool
    array for ``R = len(yc)`` rows and ``C = len(xc)`` columns; ``xc``
    must be monotone (either direction).

    Scanline form: the crossing test runs once per (row, edge) with
    the dense kernel's own ``t`` / ``xint`` floats, ``searchsorted``
    counts the centres with ``xc < xint`` (the dense ``px < xint``),
    and one ``bincount`` plus a suffix sum along each row adds the
    crossings up. Memory is one (rows x edges) bool mask plus
    O(crossings + pixels)."""
    xc = np.asarray(xc, dtype=np.float64)
    yc = np.asarray(yc, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    edges = list(_ring_edges(ring_offsets, xs, ys))
    R, C = len(yc), len(xc)
    if not edges:
        return np.zeros((R, C), dtype=bool)
    x0, y0, x1, y1 = (np.concatenate(e) for e in zip(*edges))
    flip = C > 1 and xc[0] > xc[-1]
    if flip:
        xc = xc[::-1]
    ri, ei = np.nonzero((y0 > yc[:, None]) != (y1 > yc[:, None]))
    py = yc[ri]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (py - y0[ei]) / (y1[ei] - y0[ei])
        xint = x0[ei] + t * (x1[ei] - x0[ei])
    k = np.searchsorted(xc, xint, side="left")
    k[np.isnan(xint)] = 0           # px < nan holds for no centre
    # a crossing counts for columns j < k: bin it at k, suffix-sum
    weights = np.where(y1[ei] > py, 1.0, -1.0) if winding else None
    h = np.bincount(ri * (C + 1) + k, weights=weights,
                    minlength=R * (C + 1)).reshape(R, C + 1)
    n = np.cumsum(h[:, ::-1], axis=1)[:, ::-1][:, 1:]
    inside = n != 0 if winding else (n % 2).astype(bool)
    return inside[:, ::-1] if flip else inside


def pixel_centers(t: np.ndarray, rows: int, cols: int, row0: int = 0):
    """World coordinates of the pixel centres of a (rows x cols) block
    whose first row is global row ``row0``. North-up (``t[0,1] ==
    t[1,0] == 0``): 1-D column xs and row ys, bit-equal to
    ``transform_points`` on the meshgrid; otherwise (rows, cols)
    arrays."""
    j = np.arange(cols) + 0.5
    i = np.arange(row0, row0 + rows) + 0.5
    if t[0, 1] == 0.0 and t[1, 0] == 0.0:
        return t[0, 0] * j + t[0, 2], t[1, 1] * i + t[1, 2]
    jj, ii = np.meshgrid(j, i)
    return transform_points(t, jj, ii)


def centers_in_polygons(xc, yc, polys, winding: bool = False):
    """Centre-in-polygon over one pixel block, given its
    ``pixel_centers``, for (key, ring_offsets, xs, ys, bbox) polygons:
    yields ``(key, rows, cols, mask)`` for each polygon whose bbox holds
    a centre, where ``rows`` / ``cols`` slice the window of centres
    inside the bbox and ``mask`` marks the contained ones. Grid windows
    go through the scanline ``grid_in_rings``; rotated centres through
    the dense kernel."""
    x0, x1 = float(xc.min(initial=np.inf)), float(xc.max(initial=-np.inf))
    y0, y1 = float(yc.min(initial=np.inf)), float(yc.max(initial=-np.inf))
    for (key, ro, xs, ys, box) in polys:
        # O(1) block-vs-bbox rejection before any per-pixel work
        if box[0] > x1 or box[2] < x0 or box[1] > y1 or box[3] < y0:
            continue
        if xc.ndim == 1:
            cj = np.flatnonzero((xc >= box[0]) & (xc <= box[2]))
            ri = np.flatnonzero((yc >= box[1]) & (yc <= box[3]))
            if len(cj) and len(ri):
                rows = slice(ri[0], ri[-1] + 1)
                cols = slice(cj[0], cj[-1] + 1)
                yield key, rows, cols, grid_in_rings(
                    xc[cols], yc[rows], ro, xs, ys, winding)
            continue
        ri, cj = np.nonzero((xc >= box[0]) & (xc <= box[2])
                            & (yc >= box[1]) & (yc <= box[3]))
        if len(ri):
            rows = slice(ri.min(), ri.max() + 1)
            cols = slice(cj.min(), cj.max() + 1)
            mask = np.zeros((rows.stop - rows.start,
                             cols.stop - cols.start), dtype=bool)
            mask[ri - rows.start, cj - cols.start] = points_in_rings(
                xc[ri, cj], yc[ri, cj], ro, xs, ys, winding)
            yield key, rows, cols, mask


def polygon_bbox(ring_offsets, xs, ys):
    """Bounding box of ALL ring coordinates (exterior and holes —
    identical for validly nested polygons, where holes lie inside the
    exterior): (minx, miny, maxx, maxy). ``ring_offsets`` is accepted
    for signature symmetry with the PIP kernels but does not affect
    the result."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    return (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()))
