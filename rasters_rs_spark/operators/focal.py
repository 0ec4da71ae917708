"""Focal (neighborhood) raster operators: 3x3 mean and central-
difference gradient magnitude.

This is what the chunk model's PADDING is for (reference
src/chunking.rs: load ranges overlap data ranges by `padding` rows so
neighborhood kernels can run per-chunk without a halo exchange):
``focal`` takes image rows or padded chunk strips alike and computes
each row's kernel over its whole LOAD range (an image is the one-strip
chunk 0..h), so a strip's data rows equal the whole-image kernel
exactly. Border pixels (incomplete neighborhoods) are NaN by
definition, which coincides with the chunk plan's border-row clamp.

Both kernels are exact-arithmetic friendly on the LCG fixtures: the
3x3 mean is an order-free dyadic sum / 9, and the gradient magnitude
is sqrt of dyadic squares — both carry hard DuckDB oracles in the
driver contract.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions import codecs
from .chunked import CHUNK_SCHEMA

FOCAL_OPS = ("mean3", "grad_mag", "slope", "hillshade")


def _horn_gradients(block: np.ndarray, pixel_size_x: float,
                    pixel_size_y: float):
    """Horn's 8-neighbor weighted gradients (the standard GDAL/Esri DEM
    convention): dz/dx over the west/east neighbor columns with the
    row-adjacent cells weighted 1-2-1, likewise dz/dy — each axis over
    its OWN cell size (anisotropic pixels are common after
    reprojection). Row index +1 is -y (north-up rasters), so dz/dy
    negates."""
    nw, n_, ne = block[:-2, :-2], block[:-2, 1:-1], block[:-2, 2:]
    w_, e_ = block[1:-1, :-2], block[1:-1, 2:]
    sw, s_, se = block[2:, :-2], block[2:, 1:-1], block[2:, 2:]
    dzdx = ((ne + 2.0 * e_ + se) - (nw + 2.0 * w_ + sw)) \
        / (8.0 * pixel_size_x)
    dzdy = ((nw + 2.0 * n_ + ne) - (sw + 2.0 * s_ + se)) \
        / (8.0 * pixel_size_y)
    return dzdx, dzdy


def focal_block(block: np.ndarray, op: str, pixel_size: float = 1.0,
                sun_azimuth_deg: float = 315.0,
                sun_altitude_deg: float = 45.0,
                pixel_size_y: float | None = None) -> np.ndarray:
    """Apply a 3x3 focal kernel to one block; border rows/cols are NaN
    (incomplete neighborhood). Ops: mean3, grad_mag (central
    differences), slope (degrees, Horn), hillshade (0..255, Horn
    gradients + sun position — the standard DEM shaded relief)."""
    psy = pixel_size if pixel_size_y is None else pixel_size_y
    h, w = block.shape
    out = np.full((h, w), np.nan)
    if h < 3 or w < 3:
        return out
    c = block[1:-1, 1:-1]
    if op == "mean3":
        # strict accumulation order (row-major over the 3x3 offsets);
        # dyadic inputs make the sum exact and order-free anyway
        acc = np.zeros_like(c)
        for di in (0, 1, 2):
            for dj in (0, 1, 2):
                acc = acc + block[di:di + h - 2, dj:dj + w - 2]
        out[1:-1, 1:-1] = acc / 9.0
        return out
    if op == "grad_mag":
        # central differences; gt row order means +i is -y, but the
        # magnitude is orientation-free
        dzdx = (block[1:-1, 2:] - block[1:-1, :-2]) / (2.0 * pixel_size)
        dzdy = (block[2:, 1:-1] - block[:-2, 1:-1]) / (2.0 * psy)
        out[1:-1, 1:-1] = np.sqrt(dzdx * dzdx + dzdy * dzdy)
        return out
    if op == "slope":
        dzdx, dzdy = _horn_gradients(block, pixel_size, psy)
        out[1:-1, 1:-1] = np.degrees(
            np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy)))
        return out
    if op == "hillshade":
        dzdx, dzdy = _horn_gradients(block, pixel_size, psy)
        slope = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
        # aspect: downslope direction, clockwise from north; dzdx is
        # +east and dzdy +north, so downslope = (-dzdx, -dzdy)
        aspect = np.arctan2(-dzdx, -dzdy)
        az = np.radians(sun_azimuth_deg)
        alt = np.radians(sun_altitude_deg)
        shade = (np.sin(alt) * np.cos(slope)
                 + np.cos(alt) * np.sin(slope) * np.cos(az - aspect))
        out[1:-1, 1:-1] = np.clip(255.0 * shade, 0.0, 255.0)
        return out
    raise ValueError(f"unknown focal op: {op} (use one of {FOCAL_OPS})")


def focal(images: DataFrame, op: str, sun_azimuth_deg: float = 315.0,
          sun_altitude_deg: float = 45.0) -> DataFrame:
    """Focal kernel over image rows or padded chunk strips
    (chunked.CHUNK_SCHEMA, padding >= 1): one row in, one row out with
    the same columns (fmt raw, no_val NaN; pixel_size from the
    geo-transform). Each row computes the kernel on its LOAD range,
    which carries a strip's halo rows, so no strip needs another
    strip's pixels and the DATA rows of the strips reassemble
    (chunked.assemble_images) to the whole-image kernel exactly. The
    kernel leaves a strip's first and last loaded row NaN; when the
    strip is interior those are halo rows, outside its data range."""
    schema = CHUNK_SCHEMA if "chunk_idx" in images.columns else (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "gt array<double>, crs string, no_val double")
    cols = [c.split(" ")[0] for c in schema.split(", ")]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                strip = codecs._strip(row)[0]
                res = focal_block(strip, op, abs(float(row.gt[1])),
                                  sun_azimuth_deg, sun_altitude_deg,
                                  pixel_size_y=abs(float(row.gt[5])))
                rec = {c: getattr(row, c) for c in cols}
                rec.update(bytes=codecs.encode_raw(res), fmt="raw",
                           gt=list(row.gt), no_val=float("nan"))
                out.append(rec)
            yield pd.DataFrame(out, columns=cols)

    return images.mapInPandas(gen, schema=schema)
