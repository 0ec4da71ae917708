"""Raster-pair alignment diff (reference raster-diff).

Semantics (raster-diff/diff.rs:35-121, main.rs:74-168):
- pair each valid pixel of raster A with the unique pixel of raster B
  containing A's pixel center (nearest-neighbor via the chunk transform);
- skip A pixels that are no-data/NaN, outside the optional extent
  polygon, or whose B partner is out of bounds or no-data/NaN;
- diff = b - a + adjust (negated when requested, main.rs:109-112);
- outputs: RasterDiffStats (count + PixelStats over first/second/diff/
  abs_diff in ONE pass, outputs.rs:12-39), optional histogram (A2),
  optional diff raster (float64) or discretized i32 raster with bins
  mapped Min->-1, Bin(i)->i, Max->len and no-data -128 (main.rs:117-125).

A and B are each an image table or a chunk-strip table
(chunked.chunk_images; the path for rasters whose full block exceeds
task memory, and the reference's windowed per-chunk reads,
raster-diff/diff.rs:38-57). One strip kernel, ``_strip_pairs``, does
every A->B pairing: A's data rows at their global rows against a B
strip given by its load start and data-row range, with global B
indices (a whole image is the one-strip chunk 0..h). Each pair row is
one ``_strip_pairs`` call, and one bin rule, one partial accumulator
and one merge serve all the operators.

Spark shape: pair A and B rows with an equi-join on a pair key
(``diff_pairs_df``; a B strip table adds a plan-time row-range
predicate), then an Arrow-batched pandas UDF runs the vectorized
alignment per row and emits partial aggregate rows; one groupBy merges
them. The only shuffle is the broadcast-or-hash pair join plus the
tiny partial-agg merge.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import geom
from ..functions.codecs import _strip
from .stats import _valid_mask

_STAT_KEYS = ("first", "second", "diff", "abs_diff")


def diff_merge_exprs():
    """The partial->final merge expressions of the diff-stats monoid —
    the one merge of diff_stats over images and strips alike."""
    merged = [F.sum("count").alias("count")]
    for k in _STAT_KEYS:
        merged += [
            F.min(f"{k}_min").alias(f"{k}_min"),
            F.max(f"{k}_max").alias(f"{k}_max"),
            F.sum(f"{k}_sum").alias(f"{k}_sum"),
            F.sum(f"{k}_sum_2").alias(f"{k}_sum_2"),
        ]
    return merged


DIFF_PARTIAL_SCHEMA = "pair_id string, count double, " + ", ".join(
    f"{k}_{f} double" for k in _STAT_KEYS for f in ("min", "max", "sum", "sum_2")
)


def _empty_partial():
    vals = {}
    for k in _STAT_KEYS:
        vals[f"{k}_min"] = np.inf
        vals[f"{k}_max"] = -np.inf
        vals[f"{k}_sum"] = 0.0
        vals[f"{k}_sum_2"] = 0.0
    vals["count"] = 0.0
    return vals


def _acc(vals: dict, key: str, arr: np.ndarray):
    if arr.size == 0:
        return
    vals[f"{key}_min"] = min(vals[f"{key}_min"], float(arr.min()))
    vals[f"{key}_max"] = max(vals[f"{key}_max"], float(arr.max()))
    vals[f"{key}_sum"] += float(arr.sum())
    vals[f"{key}_sum_2"] += float((arr * arr).sum())


def _strip_pairs(a_rows: np.ndarray, row0: int, gt_a, no_val_a: float,
                 b_strip: np.ndarray, b_load_start: int, b_rows,
                 gt_b, no_val_b: float, extent=None):
    """The one A->B pairing kernel: (global A row, A column, va, vb) of
    the valid pairs between A's data rows ``a_rows`` (first row is
    global row ``row0``) and a B strip (first row is global row
    ``b_load_start``; only its data rows ``b_rows = (start, end)`` are
    looked up). A whole B is the strip 0..h.

    Each A pixel centre maps to GLOBAL B indices (diff.rs:72-74 chunk
    transform with the pixel-centre shift and no B offset), so a B
    strip needs no window of its own: indices are restricted to B's
    data rows and read at ``i2 - b_load_start``. ``extent`` is an
    optional (ring_offsets, xs, ys) polygon in *world* coords; A pixels
    outside it are dropped (J3, diff.rs:79-107: the test point is the
    pixel center expressed in cell-center coordinates). The transform
    and the extent test run at GLOBAL A rows, so a strip evaluates the
    same floats as the whole image, bit for bit."""
    rows, cols = a_rows.shape
    t = geom.transform_between(gt_a, gt_b)
    ct = geom.chunk_transform(t, (0.5, 0.5), (0.0, 0.0))
    b_start, b_end = b_rows
    valid, i2, j2 = geom.index_transform_grid(
        ct, rows, cols, (b_strip.shape[1], b_end), row0)
    mask = valid & (i2 >= b_start) & _valid_mask(a_rows, no_val_a)
    if extent is not None:
        inv = np.linalg.inv(geom.transform_from_gdal(gt_a))
        ro, xs, ys = extent
        exs, eys = geom.transform_points(inv, np.asarray(xs, dtype=np.float64),
                                         np.asarray(ys, dtype=np.float64))
        # extent in cell-center coords, tested at the global rows
        mask &= geom.grid_in_rings(
            np.arange(cols, dtype=np.float64),
            np.arange(row0, row0 + rows, dtype=np.float64), ro,
            exs - 0.5, eys - 0.5)
    ii, jj = np.nonzero(mask)
    vb = b_strip[i2[ii, jj] - b_load_start, j2[ii, jj]]
    ok = _valid_mask(vb, no_val_b)
    ii, jj = ii[ok], jj[ok]
    return ii + row0, jj, a_rows[ii, jj], vb[ok]


def _row_pairs(row, extent=None):
    """The valid pairs of one ``diff_pairs_df`` row: the DATA rows of
    the A image or strip (padding rows are another strip's, never
    counted twice) against the B image or strip (columns ``b_*``)."""
    a, ls, ds, de = _strip(row)
    b, b_ls, b_ds, b_de = _strip(row, "b_")
    return _strip_pairs(a[ds - ls:de - ls], ds, row.gt, row.no_val,
                        b, b_ls, (b_ds, b_de), row.b_gt, row.b_no_val,
                        extent)


def _diff(va: np.ndarray, vb: np.ndarray, adjust: float,
          negate: bool) -> np.ndarray:
    """diff = b - a + adjust, negated on request (main.rs:109-112)."""
    d = vb - va + adjust
    return -d if negate else d


def _diff_bins(d: np.ndarray, hmin: float, hmax: float, bins) -> np.ndarray:
    """The reference histogram bin of each diff: -1 below ``hmin``,
    ``bins`` at or above ``hmax`` (main.rs:117-125)."""
    bn = np.floor((d - hmin) / ((hmax - hmin) / bins)).astype(np.int64)
    return np.where(d >= hmax, bins,
                    np.where(d < hmin, -1, np.minimum(bn, bins)))


def diff_pairs_df(a: DataFrame, b: DataFrame, pair_col: str = "image_id") -> DataFrame:
    """Join the A and B image (or chunk-strip) tables into one pair
    table. B columns get a ``b_`` prefix. Catalyst picks broadcast vs
    shuffle hash.

    With B as strips, a north-up pair (no rotation term in either
    transform) joins only the B strips whose data rows the A rows map
    into: B's fractional row of the first and last A data-row centre
    is a plan-time expression of the two transforms (the row mapping is
    monotonic), with a +/-1 safety margin. A rotated pair meets every
    B strip of its pair. Either way the strip kernel keeps only the B
    lookups inside a strip's half-open data range, so every pair lands
    in exactly one B strip."""
    bb = b.select(
        F.col(pair_col).alias("pair_id"),
        *[F.col(c).alias(f"b_{c}") for c in b.columns if c != pair_col],
    )
    aa = a.select(F.col(pair_col).alias("pair_id"),
                  *[c for c in a.columns if c != pair_col])
    pairs = aa.join(bb, on="pair_id", how="inner")
    if "data_start" not in b.columns:
        return pairs
    gt, b_gt = F.col("gt"), F.col("b_gt")
    north_up = (gt[2] == 0) & (gt[4] == 0) & (b_gt[2] == 0) & (b_gt[4] == 0)
    a0, a1 = ((F.col("data_start"), F.col("data_end"))
              if "data_start" in a.columns else (F.lit(0), F.col("h")))
    fa = (gt[3] + (a0 + 0.5) * gt[5] - b_gt[3]) / b_gt[5]
    fb = (gt[3] + (a1 - 0.5) * gt[5] - b_gt[3]) / b_gt[5]
    overlap = ((F.col("b_data_start") <= F.greatest(fa, fb) + 1) &
               (F.col("b_data_end") >= F.least(fa, fb) - 1))
    return pairs.where(~north_up | overlap)


def _pair_stats(pairs: DataFrame, adjust: float, negate: bool,
                per_pair: bool, extent=None) -> DataFrame:
    """RasterDiffStats of a pair table: one partial row per pair row,
    merged (per pair on request) with the derived diff mean and std."""
    cols = [c.split(" ")[0] for c in DIFF_PARTIAL_SCHEMA.split(", ")]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                vals = _empty_partial()
                _, _, va, vb = _row_pairs(row, extent)
                d = _diff(va, vb, adjust, negate)
                vals["count"] = float(va.size)
                _acc(vals, "first", va)
                _acc(vals, "second", vb)
                _acc(vals, "diff", d)
                _acc(vals, "abs_diff", np.abs(d))
                out.append({"pair_id": row.pair_id, **vals})
            yield pd.DataFrame(out, columns=cols)

    partials = pairs.mapInPandas(gen, schema=DIFF_PARTIAL_SCHEMA)
    merged = diff_merge_exprs()
    if per_pair:
        out = partials.groupBy("pair_id").agg(*merged)
    else:
        out = partials.agg(*merged)
    # NULL, not DIVIDE_BY_ZERO, when no pixel pairs (disjoint rasters)
    count = F.col("count")
    return out.withColumn("diff_mean", F.try_divide("diff_sum", count)) \
              .withColumn("diff_std",
                          F.sqrt(F.try_divide("diff_sum_2", count)))


def _pair_histogram(pairs: DataFrame, hmin: float, hmax: float, bins: int,
                    adjust: float, negate: bool) -> DataFrame:
    """Diff histogram of a pair table: per-task bin counts, additively
    merged (integer counts, so the merge is exact)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc: dict[int, int] = {}
            for row in pdf.itertuples(index=False):
                _, _, va, vb = _row_pairs(row)
                bn = _diff_bins(_diff(va, vb, adjust, negate),
                                hmin, hmax, bins)
                idx, cnt = np.unique(bn, return_counts=True)
                for i, c in zip(idx, cnt):
                    acc[int(i)] = acc.get(int(i), 0) + int(c)
            yield pd.DataFrame({"bin": list(acc.keys()), "n": list(acc.values())})

    partials = pairs.mapInPandas(gen, schema="bin long, n long")
    return partials.groupBy("bin").agg(F.sum("n").alias("n")).orderBy("bin")


def diff_stats(a: DataFrame, b: DataFrame, pair_col: str = "image_id",
               adjust: float = 0.0, negate: bool = False,
               extent=None, per_pair: bool = False) -> DataFrame:
    """RasterDiffStats over aligned pairs (A3). Returns one row (or one
    per pair) with count + {first,second,diff,abs_diff}_{min,max,sum,sum_2}
    and derived mean/variance/std for the diff. ``a`` and ``b`` are
    image or chunk-strip tables; strip partials merge to the
    whole-image result."""
    return _pair_stats(diff_pairs_df(a, b, pair_col), adjust, negate,
                       per_pair, extent)


def diff_histogram(a: DataFrame, b: DataFrame, hmin: float, hmax: float,
                   bins: int, pair_col: str = "image_id",
                   adjust: float = 0.0, negate: bool = False) -> DataFrame:
    """Histogram of the diff values (A2 over M3), bin -1 = underflow,
    bin len = overflow; reference histogram bin rule exactly. Per-task
    bin counts merge additively, so image and strip inputs give the
    same counts (raster-diff bins per chunk, main.rs:108-156)."""
    return _pair_histogram(diff_pairs_df(a, b, pair_col), hmin, hmax, bins,
                           adjust, negate)


def diff_raster(a: DataFrame, b: DataFrame, pair_col: str = "image_id",
                adjust: float = 0.0, negate: bool = False,
                discretize: tuple | None = None) -> DataFrame:
    """Materialized diff raster per pair.

    Default: float64 blocks, NaN where unpaired (S7-analogue sink row
    carrying A's geometry). With ``discretize=(hmin, hmax, bins)``:
    int32 blocks, -128 no-data, bins per main.rs:117-125.

    Each pair row emits its pairs' flat pixel indices and values; one
    groupBy on ``pair_id`` writes them into one raster per pair. The
    partials of an A or B strip table are disjoint (each A pixel pairs
    with at most one B data row), so strips give the whole-image bytes.
    """
    fmt, dtype, fill = (("raw", "<f8", np.nan) if discretize is None
                        else ("i32", "<i4", -128))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                ii, jj, va, vb = _row_pairs(row)
                d = _diff(va, vb, adjust, negate)
                if discretize is not None:
                    d = _diff_bins(d, *discretize)
                out.append((row.pair_id, (ii * row.w + jj).astype("<i8")
                            .tobytes(), d.astype(dtype).tobytes(), row.w,
                            row.h, list(row.gt), row.crs))
            yield pd.DataFrame(out, columns=["pair_id", "_idx", "_val", "w",
                                             "h", "gt", "crs"])

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        res = np.full(int(first["h"]) * int(first["w"]), fill, dtype=dtype)
        for idx, val in zip(pdf["_idx"], pdf["_val"]):
            res[np.frombuffer(idx, dtype="<i8")] = np.frombuffer(val, dtype)
        return pd.DataFrame([(first["pair_id"], res.tobytes(), first["w"],
                              first["h"], fmt, list(first["gt"]),
                              first["crs"], float(fill))],
                            columns=["pair_id", "bytes", "w", "h", "fmt",
                                     "gt", "crs", "no_val"])

    return diff_pairs_df(a, b, pair_col) \
        .mapInPandas(partials, schema=(
            "pair_id string, _idx binary, _val binary, w int, h int, "
            "gt array<double>, crs string")) \
        .groupBy("pair_id") \
        .applyInPandas(merge, schema=(
            "pair_id string, bytes binary, w int, h int, fmt string, "
            "gt array<double>, crs string, no_val double"))
