"""Pixel-block codecs for the image table's ``bytes`` column.

Two formats, selected by the ``fmt`` column:

- ``raw``: float64 little-endian, row-major (lossless; allclose invariant)
- ``q16``: the reference's 16-bit quantization (lossy; PSNR>=40dB
  invariant), semantics from raster-tile/tiling/dem.rs:253-298:
  65535 bins, code 0 reserved for NaN, values clamped to [min, max],
  disc = floor((v - min) * bins / (max - min)), stored disc+1 when
  disc < bins, big-endian byte order (msb, lsb). We prepend a 16-byte
  header (min, max as float64 LE) so blocks are self-describing.

All functions are numpy-vectorized; they run inside Arrow-batched
pandas UDFs over whole blocks, never per pixel in Python.
"""

from __future__ import annotations

import struct

import numpy as np

Q16_BINS = (1 << 16) - 1  # 65535


def encode_raw(block: np.ndarray) -> bytes:
    return np.ascontiguousarray(block, dtype="<f8").tobytes()


def decode_raw(data: bytes, h: int, w: int) -> np.ndarray:
    return np.frombuffer(data, dtype="<f8").reshape(h, w).copy()


def q16_quantize(block: np.ndarray, vmin: float, vmax: float):
    """Quantize a float64 block; returns (codes_u16, max_abs_err).

    Mirrors dem.rs:258-290 exactly, including the disc==bins edge case
    (val == max floors to exactly bins and is stored un-incremented,
    colliding with disc == bins-1 -> 65535; replicated as-is).
    """
    stored = np.zeros(np.shape(block), dtype=np.uint16)
    return stored, _q16_into(np.asarray(block, dtype=np.float64), vmin,
                             vmax, stored)


def _q16_into(block: np.ndarray, vmin: float, vmax: float,
              out: np.ndarray, valid: np.ndarray | None = None) -> float:
    """q16 codes of ``block`` written into the zeroed uint16 array
    ``out`` (either byte order) where ``block`` is not NaN; returns the
    max reconstruction error. ``valid`` (``~isnan(block)``) saves the
    mask pass when the caller has it.

    One work plane, updated in place: d = (clamped - vmin) * coeff
    (clip propagates NaN), then its fraction d - floor(d), whose max
    times (vmax - vmin) / bins is dem.rs:276-280's error."""
    bins = Q16_BINS
    span = vmax - vmin
    coeff = bins / span
    d = np.clip(block, vmin, vmax)
    d -= vmin
    d *= coeff
    disc = np.floor(d)
    with np.errstate(invalid="ignore"):
        np.subtract(d, disc, out=d)
        m = np.fmax.reduce(d, axis=None, initial=-1.0)
    err = 0.0 if m < 0.0 else float(m) * span / bins
    if valid is None or not (np.isfinite(span) and np.isfinite(coeff)):
        # a non-finite span or coeff makes d NaN at some valid pixels
        valid = ~np.isnan(disc)
    with np.errstate(invalid="ignore"):
        disc += disc < bins
    np.copyto(out, disc, casting="unsafe", where=valid)
    return err


def q16_dequantize(stored: np.ndarray, vmin: float, vmax: float) -> np.ndarray:
    """Inverse of q16_quantize. Code 0 -> NaN; otherwise rec(disc) with
    disc = stored - 1 (the reference never decodes; at stored == 65535,
    which is ambiguous by construction, this reconstructs disc 65534 --
    error still <= one quantization step, so PSNR>=40dB holds)."""
    out = np.empty(stored.shape, dtype=np.float64)
    nan = stored == 0
    disc = stored.astype(np.float64) - 1.0
    out[:] = vmin + (vmax - vmin) * disc / Q16_BINS
    out[nan] = np.nan
    return out


def encode_q16(block: np.ndarray, vmin: float | None = None, vmax: float | None = None) -> bytes:
    valid = block[~np.isnan(block)]
    if vmin is None:
        vmin = float(valid.min()) if valid.size else 0.0
    if vmax is None:
        vmax = float(valid.max()) if valid.size else 1.0
    if vmax == vmin:
        vmax = vmin + 1.0
    stored, _err = q16_quantize(block, vmin, vmax)
    header = struct.pack("<dd", vmin, vmax)
    return header + stored.astype(">u2").tobytes()


def decode_q16(data: bytes, h: int, w: int) -> np.ndarray:
    vmin, vmax = struct.unpack_from("<dd", data, 0)
    stored = np.frombuffer(data, dtype=">u2", offset=16).reshape(h, w)
    return q16_dequantize(stored, vmin, vmax)


def decode_block(data: bytes, h: int, w: int, fmt: str) -> np.ndarray:
    """Dispatch on the image table's ``fmt`` column. ``i32`` (the
    discretized-diff sink format) decodes to float64 like the others so
    every block consumer can read it."""
    if fmt == "raw":
        return decode_raw(data, h, w)
    if fmt == "q16":
        return decode_q16(data, h, w)
    if fmt == "i32":
        return np.frombuffer(data, dtype="<i4").reshape(h, w) \
            .astype(np.float64)
    raise ValueError(f"unknown block format: {fmt}")


def encode_block(block: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return encode_raw(block)
    if fmt == "q16":
        return encode_q16(block)
    if fmt == "i32":
        return np.ascontiguousarray(block, dtype="<i4").tobytes()
    raise ValueError(f"unknown block format: {fmt}")


# An image row is the one-strip chunk of its table: the readers below
# serve image rows and chunk-strip rows (chunked.chunk_images) alike.


def _strip_keys(columns) -> list:
    """Row keys of a table with ``columns``: ``image_id``, plus
    ``chunk_idx`` for a chunk-strip table."""
    return ["image_id", "chunk_idx"] if "chunk_idx" in columns \
        else ["image_id"]


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
    strip = decode_block(getattr(row, prefix + "bytes"), le - ls,
                         getattr(row, prefix + "w"),
                         getattr(row, prefix + "fmt"))
    return strip, ls, ds, de


def _strip_data(row):
    """(DATA rows data_start..data_end, data_start) of one image or
    chunk-strip row."""
    strip, ls, ds, de = _strip(row)
    return strip[ds - ls:de - ls], ds


def patch_block_bytes(original: bytes, ii: np.ndarray, jj: np.ndarray,
                      values: np.ndarray, h: int, w: int, fmt: str) -> bytes:
    """Write ``values`` at pixel positions (ii, jj) INTO the original
    encoded buffer, leaving every other byte untouched. In-place patch
    paths (the IDW fills) must use this instead of decode -> modify ->
    encode_block: a q16 re-encode recomputes the min/max grid (shifting
    EVERY code), and even re-quantizing onto the original header's grid
    drifts unpatched codes by a step (floor of a ~1-ulp-under-integer
    ratio is not idempotent). Patched q16 values are quantized onto the
    ORIGINAL image-global (vmin, vmax) header — the invariant
    chunked._slice_strip_bytes preserves — clamping to the grid if out
    of range (the quantizer's established rule)."""
    buf = bytearray(original)
    vals = np.asarray(values, dtype=np.float64)
    if fmt == "raw":
        arr = np.frombuffer(buf, dtype="<f8").reshape(h, w)
        arr[ii, jj] = vals
    elif fmt == "q16":
        vmin, vmax = struct.unpack_from("<dd", buf, 0)
        codes, _err = q16_quantize(vals, vmin, vmax)
        arr = np.frombuffer(buf, dtype=">u2", offset=16).reshape(h, w)
        arr[ii, jj] = codes
    elif fmt == "i32":
        arr = np.frombuffer(buf, dtype="<i4").reshape(h, w)
        arr[ii, jj] = vals.astype(np.int32)
    else:
        raise ValueError(f"unknown block format: {fmt}")
    return bytes(buf)


def psnr(original: np.ndarray, decoded: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB over valid (non-NaN) pixels."""
    mask = ~(np.isnan(original) | np.isnan(decoded))
    if not mask.any():
        return float("inf")
    diff = original[mask] - decoded[mask]
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    peak = float(np.max(original[mask]) - np.min(original[mask]))
    if peak == 0.0:
        return float("inf")
    return 10.0 * np.log10(peak * peak / mse)
