"""Statistics aggregations: PixelStats monoid, histogram, zonal stats.

Reference semantics:
- PixelStats {max, min, sum, sum_2, count}; variance = sum_2/count
  (NON-central, as in src/stats.rs:91-93) -- one groupBy pass, Catalyst
  partial+final hash aggregate replaces the reference's rayon
  try_fold/try_reduce (raster-stats/main.rs:62-93).
- Histogram with under/overflow counters (src/histogram.rs:58-72,107-137).
- Zonal stats: every pixel contributes to EVERY containing polygon
  (many-to-many, raster-stats/main.rs:72-82); we replace the O(pixels x
  polygons) nested loop with broadcast AOI buffers + a scanline
  point-in-polygon refine (geom.grid_in_rings) inside an Arrow-batched
  pandas UDF, emitting per-(image, aoi) partial stats that a single
  groupBy merges.

The pixel-stats and centre-rule zonal operators take an image table or
a chunk-strip table (chunked.chunk_images) alike: a row contributes
its DATA rows (``codecs._strip_data``; a whole image is the one-strip
chunk 0..h), so strip partials merge to the whole-image result — the
reference's per-chunk fold (raster-stats main.rs:50-93).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..functions import codecs, geom
from .vectorize import quantize_classes

PIXEL_STATS_SCHEMA = (
    "count double, min double, max double, sum double, sum_2 double"
)


def pixel_stats_exprs(col: str):
    """The five PixelStats aggregate expressions plus derived columns."""
    c = F.col(col)
    return [
        F.count(c).cast("double").alias("count"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.sum(c).alias("sum"),
        F.sum(c * c).alias("sum_2"),
    ]


def with_derived_stats(df: DataFrame) -> DataFrame:
    """mean / variance / std from the monoid fields (non-central variance,
    matching src/stats.rs:86-98)."""
    return (
        df.withColumn("mean", F.col("sum") / F.col("count"))
        .withColumn("variance", F.col("sum_2") / F.col("count"))
        .withColumn("std", F.sqrt(F.col("sum_2") / F.col("count")))
    )


def column_stats(df: DataFrame, value_col: str, group_cols=None) -> DataFrame:
    """PixelStats over any numeric column (optionally grouped)."""
    aggs = pixel_stats_exprs(value_col)
    out = df.groupBy(*group_cols).agg(*aggs) if group_cols else df.agg(*aggs)
    return with_derived_stats(out)


def merge_partials_exprs():
    """Merge expressions for PixelStats partial rows (the monoid's +=,
    src/stats.rs:49-57)."""
    return [
        F.sum("count").alias("count"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        F.sum("sum").alias("sum"),
        F.sum("sum_2").alias("sum_2"),
    ]


def _valid_mask(block: np.ndarray, no_val: float) -> np.ndarray:
    """Valid pixels (F1 filter: skip val == no_val or NaN,
    raster-diff/diff.rs:96-98)."""
    valid = ~np.isnan(block)
    if not np.isnan(no_val):
        valid &= block != no_val
    return valid


def _block_partial(block: np.ndarray, no_val: float):
    """Per-block PixelStats partial over valid pixels."""
    vals = block[_valid_mask(block, no_val)]
    if vals.size == 0:
        return (0.0, np.inf, -np.inf, 0.0, 0.0)
    return (
        float(vals.size),
        float(vals.min()),
        float(vals.max()),
        float(vals.sum()),
        float((vals * vals).sum()),
    )


def image_pixel_stats(images: DataFrame, per_image: bool = False) -> DataFrame:
    """PixelStats over decoded image blocks or chunk strips.

    Narrow stage: each task decodes its blocks with numpy and emits one
    partial row per image (or strip: data rows only, padding excluded);
    one tiny shuffle merges partials. Scales linearly in image count;
    no pixel-level rows ever hit the shuffle. ``per_image`` merges a
    strip table's partials per image.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                c, mn, mx, s, s2 = _block_partial(codecs._strip_data(row)[0],
                                                  row.no_val)
                out.append((row.image_id, c, mn, mx, s, s2))
            yield pd.DataFrame(
                out, columns=["image_id", "count", "min", "max", "sum", "sum_2"]
            )

    partials = images.mapInPandas(gen, schema=f"image_id string, {PIXEL_STATS_SCHEMA}")
    if per_image and "chunk_idx" in images.columns:
        partials = partials.groupBy("image_id").agg(*merge_partials_exprs())
    if per_image:
        return with_derived_stats(partials)
    return with_derived_stats(partials.agg(*merge_partials_exprs()))


def histogram_exprs(value_col: str, hmin: float, hmax: float, step: float, length: int):
    """Bin expression matching src/histogram.rs:58-72: values >= max (or
    bin >= len) land in the overflow bin (len), values < min in -1."""
    v = F.col(value_col)
    bin_expr = F.floor((v - F.lit(hmin)) / F.lit(step)).cast("long")
    return (
        F.when(v >= F.lit(hmax), F.lit(length))
        .when(v < F.lit(hmin), F.lit(-1))
        .when(bin_expr >= F.lit(length), F.lit(length))
        .otherwise(bin_expr)
    )


def histogram(df: DataFrame, value_col: str, hmin: float, hmax: float,
              bins: int | None = None, step: float | None = None) -> DataFrame:
    """Histogram as a (bin, n) DataFrame; bin -1 = underflow, bin len =
    overflow. Merge across partitions is the shuffle agg itself."""
    assert hmin <= hmax, "min must be smaller than max"
    if step is None:
        step = (hmax - hmin) / bins
        length = bins
    else:
        length = int(np.ceil((hmax - hmin) / step))
    expr = histogram_exprs(value_col, hmin, hmax, step, length)
    return df.groupBy(expr.alias("bin")).agg(F.count("*").alias("n")).orderBy("bin")


ZONAL_PARTIAL_SCHEMA = f"image_id string, aoi_id string, {PIXEL_STATS_SCHEMA}"
ZONAL_PARTIAL_COLS = ["image_id", "aoi_id", "count", "min", "max", "sum",
                      "sum_2"]


def zonal_stats(images: DataFrame, aois: pd.DataFrame,
                include_whole: bool = False) -> DataFrame:
    """Zonal statistics with reference raster-stats semantics, over an
    image table or a chunk-strip table (each strip contributes its DATA
    rows; the path for rasters whose full block exceeds task memory).

    ``aois`` is a (small) pandas AOI table with packed coordinate buffers
    in *world* coordinates; it is broadcast to every task (J6). Pixel
    centers (+0.5 +0.5, main.rs:74) are mapped to world coords through
    each image's geo-transform; containment runs the scanline test
    over the window of centres inside each AOI's bbox, so only
    plausibly overlapping polygons pay the exact test.

    A pixel contributes to every containing polygon (A4). When
    ``include_whole`` is set an ``__all__`` zone receives every valid
    pixel (the reference's `None` polygon, raster-stats/main.rs:50).
    """
    aoi_rows = _packed_aoi_rows(aois)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                out.extend(_strip_zonal_partials(row, aoi_rows, include_whole))
            yield pd.DataFrame(out, columns=ZONAL_PARTIAL_COLS)

    partials = images.mapInPandas(gen, schema=ZONAL_PARTIAL_SCHEMA)
    return with_derived_stats(partials.groupBy("aoi_id").agg(*merge_partials_exprs()))


def _packed_aoi_rows(aois: pd.DataFrame, key: str = "aoi_id") -> list:
    """(key, ring_offsets, xs, ys, bbox) tuples from an AOI table, keyed
    by its ``key`` column — bboxes precomputed once so the per-image
    loop stays cheap. An AOI with no ring of at least 3 vertices
    contains no pixel centre and is left out."""
    out = []
    for r in aois.itertuples(index=False):
        ro = np.asarray(r.ring_offsets)
        xs = np.asarray(r.xs, dtype=np.float64)
        ys = np.asarray(r.ys, dtype=np.float64)
        if not (np.diff(np.append(ro, len(xs))) >= 3).any():
            continue
        out.append((getattr(r, key), ro, xs, ys,
                    geom.polygon_bbox(ro, xs, ys)))
    return out


def _aoi_pixel_values(block: np.ndarray, valid: np.ndarray, gt, row0: int,
                      aoi_rows):
    """(aoi_id, values) for each AOI that contains a valid pixel centre
    of ``block``, whose first row is global row ``row0`` of the raster
    with geo-transform ``gt`` (pixel centres +0.5 +0.5, main.rs:74).
    Values come in row-major order, so their sums are bit-equal to a
    flat filter of the same pixels."""
    xc, yc = geom.pixel_centers(geom.transform_from_gdal(gt),
                                block.shape[0], block.shape[1], row0)
    for aoi_id, rows, cols, mask in geom.centers_in_polygons(
            xc, yc, aoi_rows):
        mask &= valid[rows, cols]
        if mask.any():
            yield aoi_id, block[rows, cols][mask]


def _pixel_stats_row(image_id, aoi_id, v: np.ndarray) -> tuple:
    return (image_id, aoi_id, float(v.size), float(v.min()),
            float(v.max()), float(v.sum()), float((v * v).sum()))


def zonal_block_partials(image_id, block: np.ndarray, gt, no_val: float,
                         row0: int, aoi_rows,
                         include_whole: bool = False) -> list:
    """Per-(image, aoi) PixelStats partial tuples for one pixel block
    against (aoi_id, ring_offsets, xs, ys, bbox) buffers — the kernel
    of every whole-image (``row0 = 0``) and strip (``row0 =
    data_start``, data rows only) zonal operator, broadcast or
    cell-join-pruned AOIs alike. ``include_whole`` adds an ``__all__``
    partial over every valid pixel."""
    valid = _valid_mask(block, no_val)
    if not valid.any():
        return []
    out = [_pixel_stats_row(image_id, "__all__", block[valid])] \
        if include_whole else []
    for aoi_id, v in _aoi_pixel_values(block, valid, gt, row0, aoi_rows):
        out.append(_pixel_stats_row(image_id, aoi_id, v))
    return out


def _strip_zonal_partials(row, aoi_rows, include_whole: bool) -> list:
    block, row0 = codecs._strip_data(row)
    return zonal_block_partials(row.image_id, block, row.gt, row.no_val, row0,
                                aoi_rows, include_whole)


def zonal_stats_dist(images: DataFrame, aois: DataFrame, zoom: int = 12,
                     include_whole: bool = False) -> DataFrame:
    """zonal_stats with a DISTRIBUTED AOI side: ``aois`` is an AOI
    DataFrame (celljoin.AOI_SCHEMA) — the path for AOI catalogs too
    large to broadcast in a task closure. With a chunk-strip table both
    sides are huge: no task decodes a whole image and nothing AOI-side
    lands on the driver.

    Shape: image (or strip data-row) bbox covering cells (pure
    Catalyst over gt/w and the row range, image_cells_dist) equi-join
    AOI covering cells (aoi_cells_dist) -> distinct (row, aoi-part)
    candidates -> cogroup with the image or strip rows -> the SAME
    kernel as zonal_stats over each row's pruned AOI subset -> one
    partial merge. Two covering cells
    intersect whenever the bboxes do, so the candidate set is a
    superset of zonal_stats' bbox prefilter and results are identical.
    Per-task memory is one image block + its candidate AOIs; the AOI
    catalog never lands on the driver or in a closure."""
    from .celljoin import aoi_cells_dist, image_cells_dist

    keys = codecs._strip_keys(images.columns)
    icells = image_cells_dist(images, zoom)
    acells = aoi_cells_dist(aois, zoom)
    # key aliases: the candidate side derives from `images`, so
    # same-name cogroup keys would be an ambiguous self-join — the
    # aliases mint fresh attributes
    cand = (icells.join(acells, on="cell")
            .dropDuplicates([*keys, "part"])
            .select(*[F.col(k).alias("_" + k) for k in keys],
                    "aoi_id", "ring_offsets", "xs", "ys"))

    def kernel(img_pdf: pd.DataFrame, aoi_pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic kernel order (output is merge-order-free anyway)
        aoi_rows = _packed_aoi_rows(aoi_pdf.sort_values("aoi_id"))
        out = []
        for row in img_pdf.itertuples(index=False):
            out.extend(_strip_zonal_partials(row, aoi_rows, include_whole))
        return pd.DataFrame(out, columns=ZONAL_PARTIAL_COLS)

    partials = images.groupBy(*keys).cogroup(
        cand.groupBy(*["_" + k for k in keys])) \
        .applyInPandas(lambda key, a, b: kernel(a, b),
                       schema=ZONAL_PARTIAL_SCHEMA)
    return with_derived_stats(
        partials.groupBy("aoi_id").agg(*merge_partials_exprs()))


def column_percentiles(df: DataFrame, value_col: str, ps=(0.5, 0.9, 0.99),
                       group_cols=None) -> DataFrame:
    """EXACT interpolated percentiles of a numeric column (optionally
    grouped): Spark's `percentile` aggregate — the continuous
    (p * (n-1) linear interpolation) definition, matching DuckDB's
    quantile_cont, so the contract oracle compares values directly.
    For corpus-scale approximate quantiles use `percentile_approx`
    (same call shape); the exact form shuffles the column per group,
    which is the intended cost of an exact answer."""
    exprs = [F.expr(f"percentile({value_col}, {p})")
             .alias(f"p{str(p).replace('0.', '').ljust(2, '0')}")
             for p in ps]
    if group_cols:
        return df.groupBy(*group_cols).agg(*exprs)
    return df.agg(*exprs)


# ---------------------------------------------------------------------------
# Area-weighted zonal statistics (exactextract "coverage fraction"
# semantics) for axis-aligned rectangular zones
# ---------------------------------------------------------------------------

def zonal_stats_rect_weighted(images: DataFrame,
                              rects: pd.DataFrame) -> DataFrame:
    """Coverage-fraction zonal statistics over RECTANGULAR zones: each
    pixel contributes frac = area(pixel ∩ rect) / area(pixel) — the
    exactextract/rasterstats "weighted" semantics, versus
    zonal_stats's center-in-polygon rule which gives edge pixels
    all-or-nothing weight. For axis-aligned rects the fraction is
    closed-form (clamped interval overlaps — two GREATEST/LEAST pairs
    and one multiply), fully vectorized and SQL-mirrorable; general
    polygons need a polygon-clipping kernel feeding the SAME weighted
    monoid, which is why the weighted partial/merge split below is
    shared shape with zonal_stats.

    ``rects`` is a small pandas table (aoi_id, x0, y0, x1, y1) in
    world coordinates, broadcast to every task (J6). Weighted monoid
    per (image, zone): w_count = Σ frac, w_sum = Σ frac*v,
    w_sum_2 = Σ frac*v², min/max over touched (frac > 0) pixels; one
    groupBy merges partials; mean = w_sum / w_count. On dyadic
    fixtures (dyadic rect corners + dyadic pixel grid + dyadic
    values) every product is exact, so the whole output is hash-hard
    including the doubles."""
    rect_rows = [(r.aoi_id, float(r.x0), float(r.y0),
                  float(r.x1), float(r.y1))
                 for r in rects.itertuples(index=False)]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["image_id", "aoi_id", "w_count", "min", "max",
                "w_sum", "w_sum_2"]
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                block = codecs.decode_block(row.bytes, row.h, row.w,
                                            row.fmt)
                gx, psx = float(row.gt[0]), float(row.gt[1])
                gy, psy = float(row.gt[3]), float(row.gt[5])
                pa = abs(psx) * abs(psy)
                valid = _valid_mask(block, row.no_val)
                if not valid.any():
                    continue
                ii, jj = np.nonzero(valid)
                vals = block[ii, jj]
                # pixel square edges (gt[5] < 0: world y falls with i)
                pxl = gx + jj * psx
                pxr = gx + (jj + 1) * psx
                pyt = gy + ii * psy
                pyb = gy + (ii + 1) * psy
                ylo, yhi = np.minimum(pyt, pyb), np.maximum(pyt, pyb)
                for (aoi_id, x0, y0, x1, y1) in rect_rows:
                    ox = (np.minimum(pxr, x1)
                          - np.maximum(pxl, x0)).clip(min=0.0)
                    oy = (np.minimum(yhi, y1)
                          - np.maximum(ylo, y0)).clip(min=0.0)
                    frac = ox * oy / pa
                    touched = frac > 0.0
                    if not touched.any():
                        continue
                    f = frac[touched]
                    v = vals[touched]
                    out.append((row.image_id, aoi_id, float(f.sum()),
                                float(v.min()), float(v.max()),
                                float((f * v).sum()),
                                float((f * v * v).sum())))
            yield pd.DataFrame(out, columns=cols)

    partials = images.mapInPandas(
        gen, schema=("image_id string, aoi_id string, w_count double, "
                     "min double, max double, w_sum double, "
                     "w_sum_2 double"))
    agg = partials.groupBy("aoi_id").agg(
        F.sum("w_count").alias("w_count"),
        F.min("min").alias("min"), F.max("max").alias("max"),
        F.sum("w_sum").alias("w_sum"),
        F.sum("w_sum_2").alias("w_sum_2"))
    return agg.withColumn("mean", F.col("w_sum") / F.col("w_count"))


def _edge_coverage_integral(x1, y1, x2, y2, pxl, pxr, ylo, yhi):
    """Signed ∫ (clamp(y(x), ylo, yhi) - ylo) dx along one polygon
    edge, x clamped to each pixel's [pxl, pxr] — vectorized over the
    pixel arrays. Summed over a closed ring this is the classic
    clipped-trapezoid (Green's theorem) form of area(ring ∩ pixel):
    exact for ANY simple polygon against an axis-aligned box, no
    triangulation, no per-pixel polygon clipping."""
    xa = np.clip(x1, pxl, pxr)
    xb = np.clip(x2, pxl, pxr)
    if x1 == x2:
        return np.zeros_like(pxl)
    m = (y2 - y1) / (x2 - x1)
    hgt = yhi - ylo
    if m == 0.0:
        c = np.clip(y1, ylo, yhi) - ylo
        return (xb - xa) * c
    # x positions where the edge line crosses each pixel's y-bounds
    x_lo = x1 + (ylo - y1) / m
    x_hi = x1 + (yhi - y1) / m
    a = np.minimum(x_lo, x_hi)     # below a: integrand at one clamp
    b = np.maximum(x_lo, x_hi)     # above b: at the other clamp
    # value of the clamped integrand left of a / right of b
    left_c = np.where(m > 0, 0.0, hgt)
    right_c = np.where(m > 0, hgt, 0.0)

    def G(x):
        """Antiderivative of clamp(y1 + m(x - x1), ylo, yhi) - ylo,
        anchored at a (G(a) = 0)."""
        xm = np.clip(x, a, b)
        # middle piece: integral of (y1 + m t - ylo) dt from a to xm
        mid = (y1 - ylo) * (xm - a) + m * (xm * xm - a * a) / 2.0 \
            - m * x1 * (xm - a)
        lo_part = np.minimum(x, a) - a          # negative when x < a
        hi_part = np.maximum(x, b) - b
        return mid + left_c * lo_part + right_c * hi_part

    return G(xb) - G(xa)


def ring_pixel_coverage(xs, ys, pxl, pxr, ylo, yhi):
    """|signed area(ring ∩ pixel)| for one ring against per-pixel
    boxes (vectorized over pixels; python loop over the ring's few
    edges only)."""
    acc = np.zeros_like(np.asarray(pxl, dtype=np.float64))
    n = len(xs)
    for k in range(n):
        x1, y1 = float(xs[k]), float(ys[k])
        x2, y2 = float(xs[(k + 1) % n]), float(ys[(k + 1) % n])
        acc += _edge_coverage_integral(x1, y1, x2, y2, pxl, pxr,
                                       ylo, yhi)
    return np.abs(acc)


def zonal_stats_weighted(images: DataFrame, aois: pd.DataFrame) -> DataFrame:
    """Coverage-fraction zonal statistics for ARBITRARY simple
    polygons (exactextract semantics, general case of
    zonal_stats_rect_weighted): per pixel, frac = area(polygon ∩
    pixel) / area(pixel), computed EXACTLY by the clipped-trapezoid
    integral per polygon edge (no triangulation, no per-pixel
    clipping loop — one vectorized pass over the AOI-bbox candidate
    pixels per edge). Rings follow the GDAL/GeoJSON convention: ring
    0 is the outer boundary, later rings are holes (their coverage
    subtracts). Same weighted PixelStats monoid and broadcast-AOIs /
    Arrow-partials / one-merge-shuffle plan as the rect variant.

    The rect variant remains the hash-hard oracled surface (its
    dyadic closed form keeps every float exact); this kernel's edge
    integrals divide by slopes, so it is pinned by pytest instead:
    supersample convergence, exact agreement with the rect closed
    form on rect AOIs, and hole subtraction."""
    aoi_rows = _packed_aoi_rows(aois)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["image_id", "aoi_id", "w_count", "min", "max",
                "w_sum", "w_sum_2"]
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                block = codecs.decode_block(row.bytes, row.h, row.w,
                                            row.fmt)
                gx, psx = float(row.gt[0]), float(row.gt[1])
                gy, psy = float(row.gt[3]), float(row.gt[5])
                pa = abs(psx) * abs(psy)
                valid = _valid_mask(block, row.no_val)
                if not valid.any():
                    continue
                ii, jj = np.nonzero(valid)
                vals = block[ii, jj]
                pxl = gx + jj * psx
                pxr = gx + (jj + 1) * psx
                pyt = gy + ii * psy
                pyb = gy + (ii + 1) * psy
                ylo, yhi = np.minimum(pyt, pyb), np.maximum(pyt, pyb)
                for (aoi_id, ro, xs, ys, box) in aoi_rows:
                    # bbox prefilter: pixels fully outside the AOI
                    # bbox have zero coverage
                    cand = ((pxr > box[0]) & (pxl < box[2])
                            & (yhi > box[1]) & (ylo < box[3]))
                    if not cand.any():
                        continue
                    ci = np.nonzero(cand)[0]
                    offs = list(ro) + [len(xs)]
                    frac = ring_pixel_coverage(
                        xs[offs[0]:offs[1]], ys[offs[0]:offs[1]],
                        pxl[ci], pxr[ci], ylo[ci], yhi[ci])
                    for rk in range(1, len(offs) - 1):
                        frac = frac - ring_pixel_coverage(
                            xs[offs[rk]:offs[rk + 1]],
                            ys[offs[rk]:offs[rk + 1]],
                            pxl[ci], pxr[ci], ylo[ci], yhi[ci])
                    frac = np.clip(frac / pa, 0.0, 1.0)
                    touched = frac > 0.0
                    if not touched.any():
                        continue
                    f = frac[touched]
                    v = vals[ci][touched]
                    out.append((row.image_id, aoi_id, float(f.sum()),
                                float(v.min()), float(v.max()),
                                float((f * v).sum()),
                                float((f * v * v).sum())))
            yield pd.DataFrame(out, columns=cols)

    partials = images.mapInPandas(
        gen, schema=("image_id string, aoi_id string, w_count double, "
                     "min double, max double, w_sum double, "
                     "w_sum_2 double"))
    agg = partials.groupBy("aoi_id").agg(
        F.sum("w_count").alias("w_count"),
        F.min("min").alias("min"), F.max("max").alias("max"),
        F.sum("w_sum").alias("w_sum"),
        F.sum("w_sum_2").alias("w_sum_2"))
    return agg.withColumn("mean", F.col("w_sum") / F.col("w_count"))


def zonal_majority(images: DataFrame, aois: pd.DataFrame,
                   n_classes: int = 4) -> DataFrame:
    """Majority (mode) class per zone — the land-cover zonal rule:
    quantize pixel values to classes, count pixels per (zone, class)
    with the same center-in-polygon semantics as zonal_stats, and
    pick each zone's most frequent class (ties break to the smallest
    class id — deterministic, oracle-mirrorable). Returns
    (aoi_id, majority_cls, n_majority, n_total); all integers —
    hash-hard by construction. Takes image or chunk-strip rows (a
    pure count monoid, so strip partials merge exactly).

    Plan: the same broadcast-AOI Arrow partial stage as zonal_stats
    emitting (aoi, cls, count) rows (bounded by zones x classes, not
    pixels), one merge groupBy, then a window over the per-zone class
    table (tiny) for the argmax."""
    aoi_rows = _packed_aoi_rows(aois)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                block, row0 = codecs._strip_data(row)
                out.extend(majority_block_partials(
                    row.image_id, block, row.gt, row.no_val, row0, aoi_rows,
                    n_classes))
            yield pd.DataFrame(out, columns=MAJORITY_PARTIAL_COLS)

    return majority_from_partials(
        images.mapInPandas(gen, schema=MAJORITY_PARTIAL_SCHEMA))


MAJORITY_PARTIAL_SCHEMA = "image_id string, aoi_id string, cls int, count long"
MAJORITY_PARTIAL_COLS = ["image_id", "aoi_id", "cls", "count"]


def majority_block_partials(image_id, block: np.ndarray, gt, no_val: float,
                            row0: int, aoi_rows, n_classes: int) -> list:
    """(image_id, aoi_id, cls, count) rows for one pixel block — the
    zonal_block_partials window and mask, then a class bincount."""
    valid = _valid_mask(block, no_val)
    if not valid.any():
        return []
    out = []
    for aoi_id, v in _aoi_pixel_values(block, valid, gt, row0, aoi_rows):
        counts = np.bincount(quantize_classes(v, n_classes),
                             minlength=n_classes)
        for c in np.flatnonzero(counts):
            out.append((image_id, aoi_id, int(c), int(counts[c])))
    return out


def majority_from_partials(partials: DataFrame) -> DataFrame:
    """Merge (aoi, cls, count) partials and pick each zone's most
    frequent class, ties to the smallest class id."""
    per_cls = partials.groupBy("aoi_id", "cls") \
                      .agg(F.sum("count").alias("n"))
    w = Window.partitionBy("aoi_id").orderBy(F.col("n").desc(),
                                             F.col("cls").asc())
    tot = Window.partitionBy("aoi_id")
    return (per_cls
            .withColumn("rk", F.row_number().over(w))
            .withColumn("n_total", F.sum("n").over(tot).cast("long"))
            .where(F.col("rk") == 1)
            .select("aoi_id", F.col("cls").alias("majority_cls"),
                    F.col("n").cast("long").alias("n_majority"),
                    "n_total"))
