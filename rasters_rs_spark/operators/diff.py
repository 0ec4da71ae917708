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

Spark shape: pair A and B rows with an equi-join on a pair key, then an
Arrow-batched pandas UDF runs the vectorized alignment per A-chunk
(ChunkPlan rows keep memory bounded for large blocks) and emits partial
aggregate rows; one groupBy merges them. The only shuffle is the
broadcast-or-hash pair join plus the tiny partial-agg merge.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import codecs, geom
from ..plans.chunking import ChunkPlan
from .stats import _valid_mask
_STAT_KEYS = ("first", "second", "diff", "abs_diff")


def diff_merge_exprs():
    """The partial->final merge expressions of the diff-stats monoid —
    shared by diff_stats and both chunked variants so the aggregation
    can never silently diverge between the whole-image and chunked
    paths."""
    from pyspark.sql import functions as F
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


def align_pairs(block_a: np.ndarray, gt_a, no_val_a: float,
                block_b: np.ndarray, gt_b, no_val_b: float,
                extent=None, chunk_rows: int | None = None):
    """Yield (ii, jj, vals_a, vals_b) index/value arrays of aligned valid
    pixel pairs, chunk by chunk. ``ii``/``jj`` index into block_a.

    ``extent`` is an optional (ring_offsets, xs, ys) polygon in *world*
    coords; A pixels outside it are dropped (J3, diff.rs:79-107: the
    test point is the pixel center expressed in cell-center coordinates).
    """
    t = geom.transform_between(gt_a, gt_b)
    h_a, w_a = block_a.shape
    h_b, w_b = block_b.shape
    plan = ChunkPlan(w_a, h_a)
    plan = plan.with_min_data_height(chunk_rows if chunk_rows else h_a)

    ext = None
    if extent is not None:
        inv = np.linalg.inv(geom.transform_from_gdal(gt_a))
        ro, xs, ys = extent
        exs, eys = geom.transform_points(inv, np.asarray(xs, dtype=np.float64),
                                         np.asarray(ys, dtype=np.float64))
        ext = (ro, exs, eys)

    for (_, ds, de, ls, le) in plan.chunks():
        sub = block_a[ls:le]
        rows, cols = sub.shape
        if rows == 0:
            continue
        # window of B covering this A chunk (diff.rs:38-43)
        win_b = geom.transform_window(((0, ls), (w_a, rows)), t, (w_b, h_b))
        (bx, by), (bw, bh) = win_b
        sub_b = block_b[by:by + bh, bx:bx + bw]

        if sub.size == 0 or sub_b.size == 0:
            continue  # F4 early exit (diff.rs:67-70)

        # chunk transform with pixel-center shift (diff.rs:72-74)
        ct = geom.chunk_transform(t, (0.5, ls + 0.5), (float(bx), float(by)))
        valid_idx, i2, j2 = geom.index_transform_grid(ct, rows, cols, (bw, bh))

        va = sub
        mask = valid_idx & _valid_mask(va, no_val_a)

        if ext is not None:
            # extent translated to cell-center coords of this chunk
            ro, exs, eys = ext
            mask &= geom.grid_in_rings(
                np.arange(cols, dtype=np.float64),
                np.arange(rows, dtype=np.float64), ro,
                exs - 0.5, eys - (ls + 0.5))

        if not mask.any():
            continue
        ii, jj = np.nonzero(mask)
        vb = sub_b[i2[ii, jj], j2[ii, jj]]
        ok = _valid_mask(vb, no_val_b)
        ii, jj = ii[ok], jj[ok]
        yield ii + ls, jj, sub[ii, jj], vb[ok]


def diff_pairs_df(a: DataFrame, b: DataFrame, pair_col: str = "image_id") -> DataFrame:
    """Join the A and B image tables into one pair table. B columns get a
    ``b_`` prefix. Catalyst picks broadcast vs shuffle hash."""
    bb = b.select(
        F.col(pair_col).alias("pair_id"),
        *[F.col(c).alias(f"b_{c}") for c in b.columns if c != pair_col],
    )
    aa = a.select(F.col(pair_col).alias("pair_id"),
                  *[c for c in a.columns if c != pair_col])
    return aa.join(bb, on="pair_id", how="inner")


def diff_stats(a: DataFrame, b: DataFrame, pair_col: str = "image_id",
               adjust: float = 0.0, negate: bool = False,
               extent=None, chunk_rows: int | None = None,
               per_pair: bool = False) -> DataFrame:
    """RasterDiffStats over aligned pairs (A3). Returns one row (or one
    per pair) with count + {first,second,diff,abs_diff}_{min,max,sum,sum_2}
    and derived mean/variance/std for the diff."""
    pairs = diff_pairs_df(a, b, pair_col)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                block_a = codecs.decode_block(row.bytes, row.h, row.w, row.fmt)
                block_b = codecs.decode_block(row.b_bytes, row.b_h, row.b_w, row.b_fmt)
                vals = _empty_partial()
                for (_, _, va, vb) in align_pairs(
                        block_a, row.gt, row.no_val,
                        block_b, row.b_gt, row.b_no_val,
                        extent=extent, chunk_rows=chunk_rows):
                    d = vb - va + adjust
                    if negate:
                        d = -d
                    vals["count"] += float(va.size)
                    _acc(vals, "first", va)
                    _acc(vals, "second", vb)
                    _acc(vals, "diff", d)
                    _acc(vals, "abs_diff", np.abs(d))
                out.append({"pair_id": row.pair_id, **vals})
            cols = [c.split(" ")[0] for c in DIFF_PARTIAL_SCHEMA.split(", ")]
            yield pd.DataFrame(out, columns=cols)

    partials = pairs.mapInPandas(gen, schema=DIFF_PARTIAL_SCHEMA)
    merged = diff_merge_exprs()
    if per_pair:
        out = partials.groupBy("pair_id").agg(*merged)
    else:
        out = partials.agg(*merged)
    return out.withColumn("diff_mean", F.col("diff_sum") / F.col("count")) \
              .withColumn("diff_std", F.sqrt(F.col("diff_sum_2") / F.col("count")))


def diff_histogram(a: DataFrame, b: DataFrame, hmin: float, hmax: float,
                   bins: int, pair_col: str = "image_id",
                   adjust: float = 0.0, negate: bool = False) -> DataFrame:
    """Histogram of the diff values (A2 over M3), bin -1 = underflow,
    bin len = overflow; reference histogram bin rule exactly."""
    pairs = diff_pairs_df(a, b, pair_col)
    step = (hmax - hmin) / bins

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc: dict[int, int] = {}
            for row in pdf.itertuples(index=False):
                block_a = codecs.decode_block(row.bytes, row.h, row.w, row.fmt)
                block_b = codecs.decode_block(row.b_bytes, row.b_h, row.b_w, row.b_fmt)
                for (_, _, va, vb) in align_pairs(block_a, row.gt, row.no_val,
                                                  block_b, row.b_gt, row.b_no_val):
                    d = vb - va + adjust
                    if negate:
                        d = -d
                    bn = np.floor((d - hmin) / step).astype(np.int64)
                    bn = np.where(d >= hmax, bins, np.where(d < hmin, -1,
                                  np.minimum(bn, bins)))
                    idx, cnt = np.unique(bn, return_counts=True)
                    for i, c in zip(idx, cnt):
                        acc[int(i)] = acc.get(int(i), 0) + int(c)
            yield pd.DataFrame({"bin": list(acc.keys()), "n": list(acc.values())})

    partials = pairs.mapInPandas(gen, schema="bin long, n long")
    return partials.groupBy("bin").agg(F.sum("n").alias("n")).orderBy("bin")


def diff_raster(a: DataFrame, b: DataFrame, pair_col: str = "image_id",
                adjust: float = 0.0, negate: bool = False,
                discretize: tuple | None = None) -> DataFrame:
    """Materialized diff raster per pair.

    Default: float64 blocks, NaN where unpaired (S7-analogue sink row
    carrying A's geometry). With ``discretize=(hmin, hmax, bins)``:
    int32 blocks, -128 no-data, bins per main.rs:117-125.
    """
    pairs = diff_pairs_df(a, b, pair_col)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                block_a = codecs.decode_block(row.bytes, row.h, row.w, row.fmt)
                block_b = codecs.decode_block(row.b_bytes, row.b_h, row.b_w, row.b_fmt)
                if discretize is None:
                    res = np.full(block_a.shape, np.nan)
                else:
                    res = np.full(block_a.shape, -128, dtype=np.int32)
                for (ii, jj, va, vb) in align_pairs(block_a, row.gt, row.no_val,
                                                    block_b, row.b_gt, row.b_no_val):
                    d = vb - va + adjust
                    if negate:
                        d = -d
                    if discretize is None:
                        res[ii, jj] = d
                    else:
                        hmin, hmax, bins = discretize
                        step = (hmax - hmin) / bins
                        bn = np.floor((d - hmin) / step).astype(np.int64)
                        bn = np.where(d >= hmax, bins,
                                      np.where(d < hmin, -1, np.minimum(bn, bins)))
                        res[ii, jj] = bn.astype(np.int32)
                dtype = "<f8" if discretize is None else "<i4"
                out.append((row.pair_id, res.astype(dtype).tobytes(),
                            row.w, row.h,
                            "raw" if discretize is None else "i32",
                            list(row.gt), row.crs,
                            float("nan") if discretize is None else -128.0))
            yield pd.DataFrame(out, columns=["pair_id", "bytes", "w", "h",
                                             "fmt", "gt", "crs", "no_val"])

    schema = ("pair_id string, bytes binary, w int, h int, fmt string, "
              "gt array<double>, crs string, no_val double")
    return pairs.mapInPandas(gen, schema=schema)
