"""Chunked-image representation: the reference's padded-strip chunk
model (src/chunking.rs) as a DataFrame.

For rasters too large to hold one-per-row, images explode into
full-width padded strips keyed by (image_id, chunk_idx). This is the
distributed form of the reference's physical plan: each chunk row is a
Spark partition-level work unit (P1/P2), and the alignment diff (J1)
becomes a chunk-granular equi-join — each A-chunk row joins its B
image, or the B strips whose rows it needs, computed from the plan at
plan time (the manual dynamic-partition-pruning analogue described in
SURVEY.md section 4).

A whole image is the one-strip chunk (load_start = data_start = 0,
data_end = h; ``_strip``), so the chunked operators here are thin
adapters over the whole-image kernels: the zonal and majority block
kernels of ``stats``, the diff strip kernel, bin rule, accumulator and
merge of ``diff``, and the hole and patch kernels of ``knn``.

Memory note: chunk rows duplicate the padding region only (rows
load_start..data_start and data_end..load_end), so the blow-up over the
source bytes is (2*padding / data_height), typically a few percent.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import codecs
from ..plans.chunking import ChunkPlan
from .stats import (MAJORITY_PARTIAL_COLS, MAJORITY_PARTIAL_SCHEMA,
                    ZONAL_PARTIAL_COLS, ZONAL_PARTIAL_SCHEMA, _block_partial,
                    _packed_aoi_rows, majority_block_partials,
                    majority_from_partials, merge_partials_exprs,
                    with_derived_stats, zonal_block_partials)

CHUNK_SCHEMA = (
    "image_id string, chunk_idx int, data_start long, data_end long, "
    "load_start long, load_end long, bytes binary, w int, h int, "
    "fmt string, gt array<double>, crs string, no_val double"
)
_CHUNK_COLS = [c.split(" ")[0] for c in CHUNK_SCHEMA.split(", ")]


def _slice_strip_bytes(data: bytes, ls: int, le: int, w: int,
                       fmt: str) -> bytes:
    """Row-range slice of an encoded block WITHOUT decode/re-encode.
    Critical for q16: re-encoding a strip would re-quantize it onto a
    strip-local min/max grid, so decoded strip values would differ from
    the whole-image decode by up to one quantization step — slicing the
    stored codes (and keeping the image-global header) is byte-exact."""
    if fmt == "raw":
        return data[ls * w * 8: le * w * 8]
    if fmt == "q16":
        return data[:16] + data[16 + ls * w * 2: 16 + le * w * 2]
    raise ValueError(f"unknown block format: {fmt}")


def _strip_span(row, prefix: str = ""):
    """(load_start, data_start, data_end, load_end) of the image or
    chunk-strip columns of ``row`` named ``prefix + column``. A whole
    image is the one-strip chunk: load_start = data_start = 0 and
    data_end = load_end = h."""
    if not hasattr(row, prefix + "load_start"):
        h = int(getattr(row, prefix + "h"))
        return 0, 0, h, h
    return tuple(int(getattr(row, prefix + c)) for c in
                 ("load_start", "data_start", "data_end", "load_end"))


def _strip(row, prefix: str = ""):
    """(decoded strip, load_start, data_start, data_end) of the image or
    chunk-strip columns of ``row`` named ``prefix + column``."""
    ls, ds, de, le = _strip_span(row, prefix)
    strip = codecs.decode_block(getattr(row, prefix + "bytes"), le - ls,
                                getattr(row, prefix + "w"),
                                getattr(row, prefix + "fmt"))
    return strip, ls, ds, de


def _strip_data(row) -> np.ndarray:
    """The DATA rows (data_start..data_end) of one image or chunk-strip
    row."""
    strip, ls, ds, de = _strip(row)
    return strip[ds - ls:de - ls]


def chunk_images(images: DataFrame, min_data_size: int = 0x10000,
                 padding: int = 0, block_size: int = 1) -> DataFrame:
    """Explode an image table into padded chunk-strip rows. Strip bytes
    are row-slices of the stored encoding (no decode/re-encode — q16
    strips keep the image-global quantization grid, so chunked readers
    see bit-identical values); `h` stays the FULL image height (strip
    row range is load_start..load_end)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                plan = (ChunkPlan(row.w, row.h)
                        .add_block_size(block_size)
                        .with_min_data_size(min_data_size)
                        .with_padding(padding))
                for (i, ds, de, ls, le) in plan.chunks():
                    out.append((row.image_id, i, ds, de, ls, le,
                                _slice_strip_bytes(row.bytes, ls, le,
                                                   row.w, row.fmt),
                                row.w, row.h, row.fmt, list(row.gt),
                                row.crs, row.no_val))
            yield pd.DataFrame(out, columns=_CHUNK_COLS)

    return images.mapInPandas(gen, schema=CHUNK_SCHEMA)


#: Largest single image assemble_images will stitch inside one task.
MAX_ASSEMBLE_BYTES = 1 << 30


def assemble_images(chunks: DataFrame,
                    max_image_bytes: int = MAX_ASSEMBLE_BYTES) -> DataFrame:
    """Inverse of chunk_images: groupBy image, stitch data ranges back
    into one block (padding rows are redundant and dropped). REFUSES an
    image whose stitched bytes exceed ``max_image_bytes`` — a raster
    chunked because it doesn't fit task memory must not be silently
    re-stitched into one task; keep operating on the chunk rows (every
    chunked operator consumes them directly), or raise the bound
    explicitly for a known-small assembly.

    Stitches the STORED row bytes (the _slice_strip_bytes inverse) —
    never decode/re-encode: a q16 re-encode would re-quantize onto a
    recomputed min/max grid, and even a same-grid decode->encode round
    trip can drift codes by one step (floor of a ~1-ulp-under-integer
    ratio), so chunk_images -> assemble_images is byte-identical to the
    input image, and rows never covered by a data range (the clamped
    borders under padding > 0) come out as NaN (q16 code 0)."""

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("chunk_idx")
        first = pdf.iloc[0]
        h, w = int(first["h"]), int(first["w"])
        fmt = first["fmt"]
        if h * w * 8 > max_image_bytes:
            raise ValueError(
                f"assemble_images: image {first['image_id']} is "
                f"{w}x{h} ({h * w * 8 >> 20} MiB stitched) — over "
                f"max_image_bytes={max_image_bytes}. Operate on the "
                f"chunk rows instead, or raise the bound explicitly.")
        if fmt == "raw":
            head, row_nb = 0, w * 8
            nan_row = np.full(w, np.nan).tobytes()
            header = b""
        elif fmt == "q16":
            head, row_nb = 16, w * 2
            nan_row = b"\x00" * row_nb
            header = bytes(first["bytes"])[:16]
        else:
            raise ValueError(f"assemble_images: unknown chunk format {fmt}")
        rows = [nan_row] * h
        for row in pdf.itertuples(index=False):
            data = bytes(row.bytes)
            ds, de, ls = (int(row.data_start), int(row.data_end),
                          int(row.load_start))
            for r in range(ds, de):
                off = head + (r - ls) * row_nb
                rows[r] = data[off: off + row_nb]
        return pd.DataFrame([{
            "image_id": first["image_id"],
            "bytes": header + b"".join(rows),
            "w": w, "h": h, "fmt": fmt, "gt": list(first["gt"]),
            "crs": first["crs"], "no_val": float(first["no_val"]),
        }])

    schema = ("image_id string, bytes binary, w int, h int, fmt string, "
              "gt array<double>, crs string, no_val double")
    return chunks.groupBy("image_id").applyInPandas(
        lambda key, pdf: assemble(pdf), schema=schema)


def diff_stats_chunked(a_chunks: DataFrame, b: DataFrame,
                       pair_col: str = "image_id", adjust: float = 0.0,
                       negate: bool = False,
                       per_pair: bool = False) -> DataFrame:
    """Chunk-granular alignment diff (J1, distributed form): every
    A-chunk row's DATA rows pair independently against its pair's B
    image through the one diff strip kernel; the partial-stat rows
    merge in one aggregation. With A chunked, the parallelism unit is
    the chunk, not the image — the path for rasters whose full block
    exceeds task memory. For huge-B-side pairs use
    ``diff_stats_chunked_both``."""
    from .diff import _pair_stats, diff_pairs_df
    return _pair_stats(diff_pairs_df(a_chunks, b, pair_col), adjust,
                       negate, per_pair)


def diff_stats_chunked_both(a_chunks: DataFrame, b_chunks: DataFrame,
                            pair_col: str = "image_id",
                            per_pair: bool = False) -> DataFrame:
    """Alignment diff with BOTH sides chunked — the huge-A x huge-B
    path, mirroring the reference's windowed B reads per A chunk
    (raster-diff/diff.rs:38-57) in join form.

    Plan: the B row range each A chunk needs is a plan-time expression
    of the two geo-transforms (north-aligned rasters: row mapping is
    monotonic in y), so the join is pair-key equi + a range-overlap
    predicate on B's data rows with a +/-1 safety margin. The diff
    strip kernel maps each A pixel to GLOBAL B indices and keeps those
    in the B chunk's half-open data range, so every pair lands in
    exactly one B chunk and none is double-counted. Exactly equal to
    the whole-image diff (tested).

    The predicate needs north-up rasters, the reference's gate: a pair
    whose A or B transform has a rotation term (gt[2] or gt[4] != 0)
    is refused with an error naming the pair, where a silent predicate
    would drop pairs. ``diff_stats_chunked`` takes rotated A images.

    B chunks are lookup storage, so chunk B with padding=0 (data ranges
    then tile the full height). Padded B chunks follow the reference's
    processed-range clamp: the first/last `padding` rows are context
    only and lookups there are dropped."""
    from .diff import _pair_stats, diff_pairs_df
    gt, b_gt = F.col("gt"), F.col("b_gt")
    rotated = (gt[2] != 0) | (gt[4] != 0) | (b_gt[2] != 0) | (b_gt[4] != 0)
    # B fractional row of the first/last A data-row center (plan-time
    # expression over the gt metadata columns)
    fa = (gt[3] + (F.col("data_start") + 0.5) * gt[5] - b_gt[3]) / b_gt[5]
    fb = (gt[3] + (F.col("data_end") - 0.5) * gt[5] - b_gt[3]) / b_gt[5]
    overlap = ((F.col("b_data_start") <= F.greatest(fa, fb) + 1) &
               (F.col("b_data_end") >= F.least(fa, fb) - 1))
    refuse = F.raise_error(F.concat(
        F.lit("diff_stats_chunked_both: pair "), F.col("pair_id").cast("string"),
        F.lit(" has a rotated geo-transform (gt[2] or gt[4] != 0); the "
              "B-strip predicate needs north-up rasters, use "
              "diff_stats_chunked")))
    pairs = diff_pairs_df(a_chunks, b_chunks, pair_col).where(
        F.when(rotated, refuse).otherwise(overlap))
    return _pair_stats(pairs, 0.0, False, per_pair)


def diff_histogram_chunked(a_chunks: DataFrame, b: DataFrame,
                           hmin: float, hmax: float, bins: int,
                           pair_col: str = "image_id",
                           adjust: float = 0.0,
                           negate: bool = False) -> DataFrame:
    """Histogram of diff values with the A side chunked: per-strip bin
    counts (data rows only, through the one diff strip kernel),
    additively merged — bin counts equal the whole-image
    diff_histogram exactly (counts are integers; the merge is exact).
    Reference shape: raster-diff bins per chunk inside the rayon fold
    and merges histograms (main.rs:108-156)."""
    from .diff import _pair_histogram, diff_pairs_df
    return _pair_histogram(diff_pairs_df(a_chunks, b, pair_col), hmin, hmax,
                           bins, adjust, negate)


def chunked_zonal_stats(chunks: DataFrame, aois: pd.DataFrame) -> DataFrame:
    """Zonal statistics over the chunked representation — the
    reference's actual execution shape (raster-stats folds per chunk,
    main.rs:50-93): each strip contributes partial per-AOI stats from
    its DATA rows only, one groupBy merges. Equals the whole-image
    zonal_stats exactly (tested); the path for rasters whose full block
    exceeds task memory."""
    aoi_rows = _packed_aoi_rows(aois)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                out.extend(_strip_zonal_partials(row, aoi_rows))
            yield pd.DataFrame(out, columns=ZONAL_PARTIAL_COLS)

    partials = chunks.mapInPandas(gen, schema=ZONAL_PARTIAL_SCHEMA)
    return with_derived_stats(
        partials.groupBy("aoi_id").agg(*merge_partials_exprs()))


def _strip_zonal_partials(row, aoi_rows) -> list:
    return zonal_block_partials(row.image_id, _strip_data(row), row.gt,
                                row.no_val, int(row.data_start), aoi_rows)


def chunked_zonal_stats_dist(chunks: DataFrame, aois: DataFrame,
                             zoom: int = 12) -> DataFrame:
    """The BOTH-sides-huge zonal join: raster as chunk strips (no task
    decodes a whole image) x a distributed AOI catalog (nothing
    driver-side). Strip data-row bboxes become covering cells (pure
    Catalyst over gt/w/data range), equi-join aoi_cells_dist, distinct
    (strip, part) candidates, cogroup back with the chunk rows, then
    the SAME per-strip kernel as chunked_zonal_stats over each strip's
    pruned AOI subset. Identical results to zonal_stats /
    chunked_zonal_stats (tested)."""
    from ..functions.mercator import MAX_COORD
    from .celljoin import aoi_cells_dist

    ts = 2.0 * MAX_COORD / float(1 << zoom)
    g = [F.col("gt")[i] for i in range(6)]
    w = F.col("w").cast("double")
    dsd = F.col("data_start").cast("double")
    ded = F.col("data_end").cast("double")
    zero = F.lit(0.0)
    corners = [(zero, dsd), (w, dsd), (zero, ded), (w, ded)]
    cxs = [g[0] + j * g[1] + i * g[2] for (j, i) in corners]
    cys = [g[3] + j * g[4] + i * g[5] for (j, i) in corners]
    hx = (F.abs(g[1]) + F.abs(g[2])) / 2.0
    hy = (F.abs(g[4]) + F.abs(g[5])) / 2.0
    b = chunks.select(
        "image_id", "chunk_idx",
        F.floor((F.least(*cxs) - hx + F.lit(MAX_COORD)) / F.lit(ts))
         .cast("long").alias("_x0"),
        F.floor((F.greatest(*cxs) + hx + F.lit(MAX_COORD)) / F.lit(ts))
         .cast("long").alias("_x1"),
        F.floor((F.least(*cys) - hy + F.lit(MAX_COORD)) / F.lit(ts))
         .cast("long").alias("_y0"),
        F.floor((F.greatest(*cys) + hy + F.lit(MAX_COORD)) / F.lit(ts))
         .cast("long").alias("_y1"))
    b = b.withColumn("_cx", F.explode(F.sequence("_x0", "_x1")))
    b = b.withColumn("_cy", F.explode(F.sequence("_y0", "_y1")))
    scells = b.select(
        "image_id", "chunk_idx",
        (F.shiftleft(F.col("_cx"), 32) + F.col("_cy")).alias("cell"))

    acells = aoi_cells_dist(aois, zoom)
    # aliases: the candidate side derives from `chunks` (ambiguous
    # self-join on the cogroup keys otherwise)
    cand = (scells.join(acells, on="cell")
            .dropDuplicates(["image_id", "chunk_idx", "part"])
            .select(F.col("image_id").alias("_img"),
                    F.col("chunk_idx").alias("_ci"),
                    "aoi_id", "ring_offsets", "xs", "ys"))

    def kernel(strip_pdf: pd.DataFrame, aoi_pdf: pd.DataFrame) -> pd.DataFrame:
        aoi_rows = _packed_aoi_rows(aoi_pdf.sort_values("aoi_id"))
        out = []
        for row in strip_pdf.itertuples(index=False):
            out.extend(_strip_zonal_partials(row, aoi_rows))
        return pd.DataFrame(out, columns=ZONAL_PARTIAL_COLS)

    partials = chunks.groupBy("image_id", "chunk_idx").cogroup(
        cand.groupBy("_img", "_ci")) \
        .applyInPandas(lambda key, a, c: kernel(a, c),
                       schema=ZONAL_PARTIAL_SCHEMA)
    return with_derived_stats(
        partials.groupBy("aoi_id").agg(*merge_partials_exprs()))


def chunked_pixel_stats(chunks: DataFrame) -> DataFrame:
    """PixelStats over the chunked representation: each strip
    contributes only its DATA rows (padding excluded), so totals equal
    the whole-image statistics exactly."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                c, mn, mx, s, s2 = _block_partial(_strip_data(row),
                                                  row.no_val)
                out.append((row.image_id, c, mn, mx, s, s2))
            yield pd.DataFrame(out, columns=["image_id", "count", "min",
                                             "max", "sum", "sum_2"])

    partials = chunks.mapInPandas(
        gen, schema="image_id string, count double, min double, max double, "
                    "sum double, sum_2 double")
    return with_derived_stats(
        partials.groupBy("image_id").agg(*merge_partials_exprs()))


def chunked_zonal_majority(chunks: DataFrame, aois: pd.DataFrame,
                           n_classes: int = 4) -> DataFrame:
    """zonal_majority over the chunked representation: each strip
    counts its DATA-row pixels per (zone, class) — a pure count
    monoid, so the merged table equals the whole-image operator
    exactly — then the same tiny argmax window. The path for rasters
    whose full block exceeds task memory."""
    aoi_rows = _packed_aoi_rows(aois)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                out.extend(majority_block_partials(
                    row.image_id, _strip_data(row), row.gt, row.no_val,
                    int(row.data_start), aoi_rows, n_classes))
            yield pd.DataFrame(out, columns=MAJORITY_PARTIAL_COLS)

    return majority_from_partials(
        chunks.mapInPandas(gen, schema=MAJORITY_PARTIAL_SCHEMA))
