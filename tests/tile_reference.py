"""Reference copies of the tile kernels, kept as test oracles.

``row_base_tiles_reference`` is the base-level kernel that builds the
pass mask from boolean gathers over broadcast (rows x cols) planes,
``q16_quantize_reference`` and ``encode_tile_array_reference`` the
q16 tile encode that quantizes the valid window out of place. The
package kernels must give the same bits (``test_tiling.py``).
"""

from __future__ import annotations

import numpy as np

from rasters_rs_spark.functions import codecs, geom
from rasters_rs_spark.plans.tileplan import TileConfig


def row_base_tiles_reference(block: np.ndarray, cfg: TileConfig, zoom: int,
                   tile_y: int, no_val: float):
    """All base tiles of one tile row: list of (x, tile_array, vmin, vmax).

    Vectorized replication of ChunkConfig::process (base.rs:62-123) +
    the weighted accumulate (main.rs:94-105) + Tile::from_aggregate
    (dem.rs:150-170).
    """
    ts = cfg.tile_size
    h, w = block.shape
    left_t, _, right_t, _ = cfg.tile_index_bounds(zoom)
    ntiles = right_t - left_t

    pb = cfg.row_pix_bounds(zoom, tile_y)
    (ox, oy), (sw, sh) = geom.window_from_bounds(pb, (w, h))

    wsum = np.zeros((ntiles * ts * ts,), dtype=np.float64)
    wgt = np.zeros((ntiles * ts * ts,), dtype=np.float64)

    if sw > 0 and sh > 0:
        data = block[oy:oy + sh, ox:ox + sw]
        l_edge, t_edge, r_edge, b_edge = pb
        tpw = (r_edge - l_edge) / ntiles / ts
        tph = (b_edge - t_edge) / ts
        tpx_w, tpx_h = ntiles * ts, ts

        # footprint bounds are column-/row-separable: compute 1-D and
        # broadcast (bit-identical per-element values; the 2-D meshgrid
        # formulation allocated ~12 full planes of the same numbers)
        cc = np.arange(sw, dtype=np.float64)
        rr = np.arange(sh, dtype=np.float64)
        fl = (cc + ox - l_edge) / tpw          # footprint left  (per col)
        ft = (rr + oy - t_edge) / tph          # footprint top   (per row)
        fr = (cc + 1.0 + ox - l_edge) / tpw
        fb = (rr + 1.0 + oy - t_edge) / tph

        # per-pixel candidate tile-pixel window (window_from_bounds)
        ix0 = np.maximum(fl, 0.0)
        iy0 = np.maximum(ft, 0.0)
        ix1 = np.minimum(fr, float(tpx_w))
        iy1 = np.minimum(fb, float(tpx_h))
        win_c = ix0 < ix1
        win_r = iy0 < iy1
        x0 = np.floor(ix0).astype(np.int64)
        y0 = np.floor(iy0).astype(np.int64)
        x1 = np.ceil(ix1).astype(np.int64)
        y1 = np.ceil(iy1).astype(np.int64)

        vals = data
        vmask = ~np.isnan(vals)
        if not np.isnan(no_val):
            vmask &= vals != no_val
        has_any = win_r.any() and win_c.any()

        span_x = int((x1 - x0)[win_c].max()) if has_any else 0
        span_y = int((y1 - y0)[win_r].max()) if has_any else 0
        for dy in range(span_y):
            tr = y0 + dy
            ovy = np.minimum(tr + 1.0, fb) - np.maximum(tr.astype(np.float64), ft)
            use_r = win_r & (tr < y1) & (ovy > 0.0)
            if not use_r.any():
                continue
            for dx in range(span_x):
                tc = x0 + dx
                ovx = np.minimum(tc + 1.0, fr) - np.maximum(tc.astype(np.float64), fl)
                use_c = win_c & (tc < x1) & (ovx > 0.0)
                if not use_c.any():
                    continue
                use = use_r[:, None] & use_c[None, :] & vmask
                if not use.any():
                    continue
                # mu = ovx * ovy elementwise, built by broadcast (same
                # operands per cell as the 2-D form -> same bits)
                mu = ovx[None, :] * ovy[:, None]
                tc2 = np.broadcast_to(tc, (sh, sw))
                tr2 = np.broadcast_to(tr[:, None], (sh, sw))
                # linear index: tile slot = tc // ts, within-tile col tc % ts
                # (np.add.at, not bincount: window-edge clipping makes
                # several source pixels share a tile pixel within one
                # pass, and the sequential add.at order is what the
                # bit-exact pyramid oracle and triple cross-check mirror)
                lin = (tc2[use] // ts) * ts * ts + tr2[use] * ts + (tc2[use] % ts)
                np.add.at(wsum, lin, mu[use] * vals[use])
                np.add.at(wgt, lin, mu[use])

    wsum = wsum.reshape(ntiles, ts, ts)
    wgt = wgt.reshape(ntiles, ts, ts)
    out = []
    for slot in range(ntiles):
        with np.errstate(invalid="ignore", divide="ignore"):
            tile = np.where(wgt[slot] > 0.0, wsum[slot] / wgt[slot], np.nan)
        valid = wgt[slot] > 0.0
        vmin = float(tile[valid].min()) if valid.any() else np.inf
        vmax = float(tile[valid].max()) if valid.any() else -np.inf
        out.append((left_t + slot, tile, vmin, vmax))
    return out


def q16_quantize_reference(block: np.ndarray, vmin: float, vmax: float):
    """Quantize a float64 block; returns (codes_u16, max_abs_err).

    Mirrors dem.rs:258-290 exactly, including the disc==bins edge case
    (val == max floors to exactly bins and is stored un-incremented,
    colliding with disc == bins-1 -> 65535; replicated as-is).
    """
    bins = codecs.Q16_BINS
    coeff = bins / (vmax - vmin)
    # d = (clamped - vmin) * coeff; clip propagates NaN
    d = (np.clip(block, vmin, vmax) - vmin) * coeff
    disc = np.floor(d)
    # err == max |clamped - rec| == max frac(d) * (vmax-vmin)/bins
    # (same quantity as dem.rs:276-280, fewer array passes)
    with np.errstate(invalid="ignore"):
        frac = d - disc
        m = np.nan_to_num(frac, nan=-1.0).max() if frac.size else -1.0
    err = 0.0 if m < 0.0 else float(m) * (vmax - vmin) / bins
    with np.errstate(invalid="ignore"):
        stored = np.where(np.isnan(d), 0.0, disc + (disc < bins)).astype(np.uint16)
    return stored, err


def encode_tile_array_reference(arr: np.ndarray, vmin: float, vmax: float):
    """q16 encode one tile (S9/M5): returns (bytes, err). Handles the
    constant-tile edge the way the reference does (coeff = inf, NaN
    disc casts to 0, stored 1, rec == min, err 0).

    Deep pyramid tiles are mostly NaN (one child quadrant of data), so
    the quantization passes run only over the valid bounding box — the
    rest of the output is memset zeros. Bit-identical result, a
    fraction of the memory traffic."""
    if not np.isfinite(vmin) or not np.isfinite(vmax):
        return np.zeros(arr.shape, dtype=">u2").tobytes(), 0.0

    valid = ~np.isnan(arr)
    rows = valid.any(axis=1)
    if not rows.any():
        return np.zeros(arr.shape, dtype=">u2").tobytes(), 0.0
    cols = valid.any(axis=0)
    r0, r1 = np.argmax(rows), len(rows) - np.argmax(rows[::-1])
    c0, c1 = np.argmax(cols), len(cols) - np.argmax(cols[::-1])
    sub = arr[r0:r1, c0:c1]

    if vmax > vmin:
        sub_stored, err = q16_quantize_reference(sub, vmin, vmax)
    else:  # constant tile
        sub_stored = np.where(np.isnan(sub), 0, 1).astype(np.uint16)
        err = 0.0
    stored = np.zeros(arr.shape, dtype=">u2")
    stored[r0:r1, c0:c1] = sub_stored  # byteswap happens on assignment
    return stored.tobytes(), err
