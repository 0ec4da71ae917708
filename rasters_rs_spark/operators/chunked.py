"""Chunked-image representation: the reference's padded-strip chunk
model (src/chunking.rs) as a DataFrame.

For rasters too large to hold one-per-row, images explode into
full-width padded strips keyed by (image_id, chunk_idx). Each strip row
is a Spark work unit (P1/P2), and no task has to decode a whole image.

A whole image is the one-strip chunk (load_start = data_start = 0,
data_end = h; ``codecs._strip``), so there is one operator per raster
decision: every strip-capable operator (``stats.image_pixel_stats``,
``zonal_stats``, ``zonal_stats_dist``, ``zonal_majority``,
``diff.diff_stats`` / ``diff_histogram`` / ``diff_raster``,
``knn.hole_pixels`` and the distributed fills, ``focal.focal``) reads
the representation from its input's columns and takes image rows and
strip rows alike. The alignment diff with A and/or B as strips is a
chunk-granular equi-join: each A row joins its B image, or the B
strips whose rows it needs, computed from the geo-transforms at plan
time (the manual dynamic-partition-pruning analogue described in
SURVEY.md section 4). This module only cuts and stitches strips.

Memory note: chunk rows duplicate the padding region only (rows
load_start..data_start and data_end..load_end), so the blow-up over the
source bytes is (2*padding / data_height), typically a few percent.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..plans.chunking import ChunkPlan
from .stats import zonal_stats

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


def chunk_images(images: DataFrame, min_data_size: int = 0x10000,
                 padding: int = 0, block_size: int = 1) -> DataFrame:
    """Explode an image table into padded chunk-strip rows. Strip bytes
    are row-slices of the stored encoding (no decode/re-encode — q16
    strips keep the image-global quantization grid, so chunked readers
    see bit-identical values); `h` stays the FULL image height (strip
    row range is load_start..load_end).

    ``min_data_size`` counts PIXELS, not bytes: each strip holds at
    least ceil(min_data_size / w) data rows (rounded up to
    ``block_size``). The default is the reference's 64k pixels
    (raster-diff/args.rs:160)."""

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


#: The strip-table name of ``stats.zonal_stats``, which takes image rows
#: and strip rows alike.
chunked_zonal_stats = zonal_stats
