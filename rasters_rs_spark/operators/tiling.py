"""Web-mercator tile pyramid (reference raster-tile).

Pipeline semantics, re-expressed for Spark:

- base level (J4/A5/A6): per tile row at max zoom, every source pixel's
  footprint in tile-pixel coords contributes fractional-area weights mu
  (0 < mu <= 1) to each overlapped tile pixel (tiling/base.rs:62-123);
  weighted aggregation value = sum(mu*val)/sum(mu) over valid pixels
  (raster-tile/main.rs:94-105, dem.rs:150-170). One footprint geometry
  (``_row_footprint``) and its passes (``_footprint_passes``) serve
  both the aggregate (``row_base_tiles``) and the raw relation
  (``assignment_triples``), in the order the SQL mirror sums;
- pyramid (A7): parent pixel = NaN-aware mean of the child 2x2 block,
  children placed by corner: x even -> left half, y odd -> TOP half
  (tile y grows northward; dem.rs:176-251). Each level is either
  computed in-task per image ("local" mode: zero shuffle, right for
  billions of small images) or via a per-level groupBy shuffle
  ("distributed" mode, right for huge single rasters);
- streaming (dem.rs:35-104 hands tiles to a decoupled writer as they
  are made, a memory optimization with identical semantics): every
  tile generator is a ``mapInArrow`` that makes one image's tiles at a
  time (``_image_tiles``) and yields an Arrow batch whenever its
  payload reaches ``_BATCH_BYTES`` (``_arrow_batches``), so a task
  holds one batch budget plus one image's pyramid, however many images
  its input batch carries;
- encode (S9/M5): 16-bit quantization, 0 = NaN, per-tile max
  reconstruction error (dem.rs:253-298);
- index (S11): nested {zoom: {y: {"y": y, "index": {x: stats}}}} JSON
  (dem.rs:303-367); non-finite min/max serialize as null like serde_json.
"""

from __future__ import annotations

import json
import zlib
from functools import partial
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..functions import codecs, geom
from ..plans.tileplan import TileConfig

TILE_SCHEMA = (
    "image_id string, z int, x long, y long, data binary, "
    "vmin double, vmax double, min_zoom int"
)

ENCODED_SCHEMA = (
    "image_id string, z int, x long, y long, bytes binary, "
    "min double, max double, bins int, err double"
)

#: Image-table columns the tile generators read.
_IMAGE_COLS = ("image_id", "bytes", "h", "w", "fmt", "gt", "crs", "no_val")

#: Payload bytes an output batch of a tile generator collects before it
#: is yielded. One batch per image instead costs the parquet sink about
#: a tenth more per stage; 1 and 4 MiB write equally fast.
_BATCH_BYTES = 1 << 20

_ARROW_TYPES = {"string": pa.string(), "int": pa.int32(),
                "long": pa.int64(), "binary": pa.binary(),
                "double": pa.float64()}


def _arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema ``mapInArrow`` expects for a flat DDL schema."""
    return pa.schema([(n, _ARROW_TYPES[t]) for n, t in
                      (f.split() for f in ddl.split(", "))])


_TILE_ARROW = _arrow_schema(TILE_SCHEMA)
_ENCODED_ARROW = _arrow_schema(ENCODED_SCHEMA)


# ---------------------------------------------------------------------------
# base level
# ---------------------------------------------------------------------------


def _row_footprint(cfg: TileConfig, zoom: int, tile_y: int, w: int,
                   h: int):
    """The source-pixel footprints of one tile row at ``zoom`` over a
    (w, h) raster, the geometry of ChunkConfig::process
    (base.rs:62-123) shared by ``row_base_tiles`` and
    ``assignment_triples``. None when no source pixel reaches the row,
    else ``((ox, oy, sw, sh), rows, cols)``: the read window, then per
    window row ``(ft, fb, y0, y1, win_r)`` and per window column
    ``(fl, fr, x0, x1, win_c)``: the footprint edges in tile-pixel
    coords, the tile-pixel range each footprint may touch and whether
    it touches any. The footprint bounds are column- and
    row-separable, so all of this is 1-D."""
    ts = cfg.tile_size
    left_t, _, right_t, _ = cfg.tile_index_bounds(zoom)
    ntiles = right_t - left_t
    pb = cfg.row_pix_bounds(zoom, tile_y)
    (ox, oy), (sw, sh) = geom.window_from_bounds(pb, (w, h))
    if sw == 0 or sh == 0:
        return None
    l_edge, t_edge, r_edge, b_edge = pb
    tpw = (r_edge - l_edge) / ntiles / ts
    tph = (b_edge - t_edge) / ts
    cc = np.arange(sw, dtype=np.float64)
    rr = np.arange(sh, dtype=np.float64)
    fl = (cc + ox - l_edge) / tpw          # footprint left  (per col)
    ft = (rr + oy - t_edge) / tph          # footprint top   (per row)
    fr = (cc + 1.0 + ox - l_edge) / tpw
    fb = (rr + 1.0 + oy - t_edge) / tph
    # per-pixel candidate tile-pixel window (window_from_bounds)
    ix0 = np.maximum(fl, 0.0)
    iy0 = np.maximum(ft, 0.0)
    ix1 = np.minimum(fr, float(ntiles * ts))
    iy1 = np.minimum(fb, float(ts))
    win_c = ix0 < ix1
    win_r = iy0 < iy1
    if not (win_r.any() and win_c.any()):
        return None
    return ((ox, oy, sw, sh),
            (ft, fb, np.floor(iy0).astype(np.int64),
             np.ceil(iy1).astype(np.int64), win_r),
            (fl, fr, np.floor(ix0).astype(np.int64),
             np.ceil(ix1).astype(np.int64), win_c))


def _footprint_passes(fp, vmask: np.ndarray | None = None):
    """The passes of a ``_row_footprint``: a footprint covers up to
    span_y x span_x tile pixels, and pass (dy, dx) pairs every source
    pixel with its (dy, dx)-th one. Passes come in dy-then-dx order
    and yield ``(idx, r, c, tr, tc, ovy, ovx)``: ``idx`` the flat
    read-window index of each contributing pixel, row-major, and
    ``r``, ``c`` its row and column; ``tr``, ``ovy`` the pass's
    tile-pixel row and overlap height per window row; ``tc``, ``ovx``
    the same per window column. ``vmask`` (rows x cols) drops pixels.
    Only the pass mask is a plane, one per pass."""
    (_, _, sw, _), (ft, fb, y0, y1, win_r), (fl, fr, x0, x1, win_c) = fp
    cols = []
    for dx in range(int((x1 - x0)[win_c].max())):
        tc = x0 + dx
        ovx = np.minimum(tc + 1.0, fr) - np.maximum(tc.astype(np.float64), fl)
        use_c = win_c & (tc < x1) & (ovx > 0.0)
        if use_c.any():
            cols.append((tc, ovx, use_c))
    for dy in range(int((y1 - y0)[win_r].max())):
        tr = y0 + dy
        ovy = np.minimum(tr + 1.0, fb) - np.maximum(tr.astype(np.float64), ft)
        use_r = win_r & (tr < y1) & (ovy > 0.0)
        if not use_r.any():
            continue
        for tc, ovx, use_c in cols:
            use = use_r[:, None] & use_c[None, :]
            if vmask is not None:
                use &= vmask
            idx = np.flatnonzero(use)
            if idx.size:
                r, c = np.divmod(idx, sw)
                yield idx, r, c, tr, tc, ovy, ovx


def row_base_tiles(block: np.ndarray, cfg: TileConfig, zoom: int,
                   tile_y: int, no_val: float):
    """All base tiles of one tile row: list of (x, tile_array, vmin, vmax).

    Vectorized replication of ChunkConfig::process (base.rs:62-123) +
    the weighted accumulate (main.rs:94-105) + Tile::from_aggregate
    (dem.rs:150-170): each footprint pass adds mu * val and mu onto
    its tile pixels, and a tile pixel is sum(mu * val) / sum(mu), NaN
    where no valid (not NaN, not ``no_val``) source pixel reached it.

    The sums run in pass order, then in row-major source order
    (``np.add.at``, not bincount: window-edge clipping makes several
    source pixels share a tile pixel within one pass). The SQL mirror
    of ``tile_pyramid_synth`` and the triple cross-check follow that
    order bit for bit, so it must not change. The sums cover only the
    bounding box of the row's footprints, a fraction of the tiles for
    an image smaller than its tiles.
    """
    ts = cfg.tile_size
    h, w = block.shape
    left_t, _, right_t, _ = cfg.tile_index_bounds(zoom)
    ntiles = right_t - left_t
    tiles = np.full((ntiles, ts, ts), np.nan)
    fp = _row_footprint(cfg, zoom, tile_y, w, h)
    if fp is None:
        return [(left_t + slot, tiles[slot], np.inf, -np.inf)
                for slot in range(ntiles)]

    (ox, oy, sw, sh), (_, _, y0, y1, win_r), (_, _, x0, x1, win_c) = fp
    ty0, ty1 = int(y0[win_r].min()), int(y1[win_r].max())
    tx0, tx1 = int(x0[win_c].min()), int(x1[win_c].max())
    bw = tx1 - tx0
    data = block[oy:oy + sh, ox:ox + sw]
    vmask = ~np.isnan(data)
    if not np.isnan(no_val):
        vmask &= data != no_val
    flat = data.ravel()
    wsum = np.zeros((ty1 - ty0) * bw)
    wgt = np.zeros((ty1 - ty0) * bw)
    for idx, r, c, tr, tc, ovy, ovx in _footprint_passes(fp, vmask):
        lin = ((tr - ty0) * bw)[r] + (tc - tx0)[c]
        mu = ovx[c] * ovy[r]
        np.add.at(wsum, lin, mu * flat[idx])
        np.add.at(wgt, lin, mu)

    valid = wgt > 0.0
    box = np.full(wsum.shape, np.nan)
    np.divide(wsum, wgt, out=box, where=valid)
    box = box.reshape(ty1 - ty0, bw)
    valid = valid.reshape(ty1 - ty0, bw)
    out = []
    for slot in range(ntiles):
        # the box's columns inside this tile
        a = max(tx0, slot * ts)
        b = min(tx1, (slot + 1) * ts)
        v = np.empty(0)
        if a < b:
            sub = box[:, a - tx0:b - tx0]
            tiles[slot, ty0:ty1, a - slot * ts:b - slot * ts] = sub
            v = sub[valid[:, a - tx0:b - tx0]]
        vmin = float(v.min()) if v.size else np.inf
        vmax = float(v.max()) if v.size else -np.inf
        out.append((left_t + slot, tiles[slot], vmin, vmax))
    return out


def base_tiles_for_image(block: np.ndarray, gt, crs: str, no_val: float,
                         tile_size: int = 256, min_zoom: int | None = None,
                         max_zoom: int | None = None):
    """Base-level tiles for one image: (cfg, zoom, min_zoom, rows) where
    rows is a list of (x, y, tile_array, vmin, vmax)."""
    h, w = block.shape
    cfg = TileConfig.for_raster(w, h, gt, crs, tile_size)
    zoom = max_zoom if max_zoom is not None else cfg.max_zoom()
    mz = min_zoom if min_zoom is not None else cfg.min_zoom()
    _, top, _, bot = cfg.tile_index_bounds(zoom)
    rows = []
    for ty in range(top, bot):
        for (tx, tile, vmin, vmax) in row_base_tiles(block, cfg, zoom, ty, no_val):
            rows.append((tx, ty, tile, vmin, vmax))
    return cfg, zoom, mz, rows


def assignment_triples(cfg: TileConfig, zoom: int, tile_y: int, dims):
    """The raw tile-assignment relation for one tile row: arrays
    (tile_x, tpx, tpy, px, py, mu) where (px, py) index the read window
    and mu is the fractional overlap area (0 < mu <= 1).

    Value-independent (pure geometry) — this is the exact-match surface
    BASELINE.json requires; `row_base_tiles` is its aggregated form
    over the same footprint passes, in the same order (cross-checked in
    tests). Mirrors base.rs:62-123 triple-for-triple.
    """
    ts = cfg.tile_size
    fp = _row_footprint(cfg, zoom, tile_y, *dims)
    left_t = cfg.tile_index_bounds(zoom)[0]
    outs = []
    for _, r, c, tr, tc, ovy, ovx in (() if fp is None
                                      else _footprint_passes(fp)):
        t = tc[c]
        outs.append((left_t + t // ts, t % ts, tr[r], c, r, ovx[c] * ovy[r]))
    if not outs:
        return (tuple(np.empty(0, dtype=np.int64) for _ in range(5))
                + (np.empty(0, dtype=np.float64),))
    return tuple(np.concatenate([o[i] for o in outs]) for i in range(6))


# ---------------------------------------------------------------------------
# pyramid 4 -> 1
# ---------------------------------------------------------------------------


def scale_children(children: list[tuple[int, int, np.ndarray]], ts: int):
    """One parent tile from up to 4 children [(x, y, arr)], reference
    corner layout (dem.rs:176-251): x even -> left, y odd -> top.
    Returns (parent_array, vmin, vmax).

    Deep-pyramid children are mostly NaN, so the 2x2 reduction runs
    only over each child's even-aligned valid bounding box (aligned so
    the 2x2 blocks don't shift) — bit-identical values, a fraction of
    the array traffic."""
    parent = np.full((ts, ts), np.nan)
    half = ts // 2
    vmin, vmax = np.inf, -np.inf
    for (x, y, arr) in children:
        # each child fills exactly one parent quadrant (quadrants are
        # disjoint), so the 2x2 NaN-aware mean reduces per child
        pr = 0 if y % 2 == 1 else half
        pc = 0 if x % 2 == 0 else half
        valid = ~np.isnan(arr)
        rows = valid.any(axis=1)
        if not rows.any():
            continue
        cols = valid.any(axis=0)
        r0 = int(np.argmax(rows)) & ~1
        r1 = min((ts - int(np.argmax(rows[::-1])) + 1) & ~1, ts)
        c0 = int(np.argmax(cols)) & ~1
        c1 = min((ts - int(np.argmax(cols[::-1])) + 1) & ~1, ts)
        sub = arr[r0:r1, c0:c1]
        quads = (sub[0::2, 0::2], sub[0::2, 1::2],
                 sub[1::2, 0::2], sub[1::2, 1::2])
        masks = [~np.isnan(v) for v in quads]
        cnt = masks[0].astype(np.int64)
        for m in masks[1:]:
            cnt += m
        s = np.zeros(quads[0].shape, dtype=np.float64)
        for v, m in zip(quads, masks):
            s += np.where(m, v, 0.0)
        with np.errstate(invalid="ignore"):
            out = np.where(cnt > 0, s / np.maximum(cnt, 1), np.nan)
        parent[pr + r0 // 2:pr + r1 // 2, pc + c0 // 2:pc + c1 // 2] = out
        ok = cnt > 0
        if ok.any():
            vmin = min(vmin, float(out[ok].min()))
            vmax = max(vmax, float(out[ok].max()))
    return parent, float(vmin), float(vmax)


def pyramid_local(base_rows, zoom: int, min_zoom: int, ts: int):
    """Full pyramid in memory for one image (zero-shuffle path).
    ``base_rows``: [(x, y, arr, vmin, vmax)] at ``zoom``. Yields
    (z, x, y, arr, vmin, vmax) for every level zoom..min_zoom."""
    level = {(x, y): arr for (x, y, arr, _, _) in base_rows}
    for (x, y, arr, vmin, vmax) in base_rows:
        yield (zoom, x, y, arr, vmin, vmax)
    z = zoom
    while z > min_zoom:
        parents: dict[tuple[int, int], list] = {}
        for (x, y), arr in level.items():
            parents.setdefault((x // 2, y // 2), []).append((x, y, arr))
        nxt = {}
        for (px, py), kids in parents.items():
            parr, vmin, vmax = scale_children(kids, ts)
            nxt[(px, py)] = parr
            yield (z - 1, px, py, parr, vmin, vmax)
        level = nxt
        z -= 1


# ---------------------------------------------------------------------------
# Spark pipeline
# ---------------------------------------------------------------------------


def _image_tiles(batches: Iterator[pa.RecordBatch], ts: int,
                 min_zoom: int | None, max_zoom: int | None,
                 pyramid: bool = True):
    """Tile rows (image_id, z, x, y, tile, vmin, vmax, min_zoom) of the
    images in ``batches`` (Arrow batches of an image table), made one
    image at a time: decode, base level, then with ``pyramid`` every
    level down to min zoom (``pyramid_local``). The pixel payload is
    read from the Arrow buffer without a copy."""
    for batch in batches:
        data = batch.column("bytes")
        ids, hs, ws, fmts, gts, crss, nvs = (
            batch.column(c).to_pylist() for c in _IMAGE_COLS if c != "bytes")
        for i in range(batch.num_rows):
            block = codecs.decode_block(data[i].as_buffer(), hs[i], ws[i],
                                        fmts[i])
            no_val = np.nan if nvs[i] is None else nvs[i]
            _, zoom, mz, rows = base_tiles_for_image(
                block, gts[i], crss[i], no_val, ts, min_zoom, max_zoom)
            if pyramid:
                levels = pyramid_local(rows, zoom, mz, ts)
            else:
                levels = ((zoom, x, y, a, mn, mx) for (x, y, a, mn, mx) in rows)
            for (z, x, y, arr, vmin, vmax) in levels:
                yield ids[i], z, x, y, arr, vmin, vmax, mz


def _arrow_batches(rows, schema: pa.Schema,
                   payload: str) -> Iterator[pa.RecordBatch]:
    """``schema`` record batches of the row tuples ``rows``: one is
    yielded whenever its ``payload`` column holds ``_BATCH_BYTES`` or
    more, and the rest at the end of ``rows``."""
    at = schema.get_field_index(payload)
    cols: list = [[] for _ in schema]
    size = 0

    def batch():
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema)

    for row in rows:
        for col, v in zip(cols, row):
            col.append(v)
        size += len(row[at])
        if size >= _BATCH_BYTES:
            yield batch()
            cols, size = [[] for _ in schema], 0
    if cols[0]:
        yield batch()


def _tile_batches(batches: Iterator[pa.RecordBatch], ts: int,
                  min_zoom: int | None, max_zoom: int | None,
                  pyramid: bool) -> Iterator[pa.RecordBatch]:
    """tile_pyramid's generator: TILE_SCHEMA batches of raw tiles."""
    return _arrow_batches(
        ((iid, z, x, y, codecs.encode_raw(arr), vmin, vmax, mz)
         for (iid, z, x, y, arr, vmin, vmax, mz)
         in _image_tiles(batches, ts, min_zoom, max_zoom, pyramid)),
        _TILE_ARROW, "data")


def _encoded_tiles(tiles, compress: bool = False):
    """ENCODED_SCHEMA rows of tile rows (image_id, z, x, y, tile, vmin,
    vmax, ...): q16 payload, deflated at level 1 with ``compress``."""
    for (iid, z, x, y, arr, vmin, vmax, *_) in tiles:
        data, err = encode_tile_array(arr, vmin, vmax)
        if compress:
            data = zlib.compress(data, 1)
        yield iid, z, x, y, data, float(vmin), float(vmax), codecs.Q16_BINS, err


def _manifest_batches(batches: Iterator[pa.RecordBatch], ts: int,
                      min_zoom: int | None, max_zoom: int | None,
                      compress: bool) -> Iterator[pa.RecordBatch]:
    """tile_index_manifest's local generator: ENCODED_SCHEMA batches."""
    return _arrow_batches(
        _encoded_tiles(_image_tiles(batches, ts, min_zoom, max_zoom),
                       compress),
        _ENCODED_ARROW, "bytes")


def tile_pyramid(images: DataFrame, tile_size: int = 256,
                 min_zoom: int | None = None, max_zoom: int | None = None,
                 mode: str = "local") -> DataFrame:
    """Tile pyramid rows for every image: TILE_SCHEMA DataFrame.

    mode="local": base + pyramid inside one mapInArrow pass per image
    (no shuffle; the scale path for corpora of bounded-size images).
    mode="distributed": base via mapInArrow, then one groupBy per level
    (the scale path for a single huge raster; bit-identical results).
    """
    ts = tile_size

    def base(pyramid: bool) -> DataFrame:
        return images.select(*_IMAGE_COLS).mapInArrow(
            partial(_tile_batches, ts=ts, min_zoom=min_zoom,
                    max_zoom=max_zoom, pyramid=pyramid),
            schema=TILE_SCHEMA)

    if mode == "local":
        return base(True)

    # parents are reduced in BUCKETS of B x B parent tiles per group,
    # not one group per parent: applyInPandas pays a Python call +
    # Arrow round-trip per GROUP, and per-parent groups (<= 4 rows
    # each) made the per-level shuffle ~40x slower than the fused
    # local mode at 40k images (measured 660s -> see BENCH/SCALE10X).
    # B bounds per-task memory at 4*B^2 decoded tiles (~64 MB at
    # ts=256) whatever the raster size, and a huge single raster still
    # fans out across many buckets.
    B = 16

    def reduce_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for (_px, _py), sub in pdf.groupby(
                [pdf["x"] // 2, pdf["y"] // 2], sort=True):
            kids = [
                (int(r.x), int(r.y),
                 codecs.decode_raw(r.data, ts, ts))
                for r in sub.itertuples(index=False)
            ]
            parr, vmin, vmax = scale_children(kids, ts)
            first = sub.iloc[0]
            out.append({
                "image_id": first["image_id"], "z": int(first["z"]) - 1,
                "x": int(first["x"]) // 2, "y": int(first["y"]) // 2,
                "data": codecs.encode_raw(parr), "vmin": vmin,
                "vmax": vmax, "min_zoom": int(first["min_zoom"]),
            })
        return pd.DataFrame(out, columns=[
            "image_id", "z", "x", "y", "data", "vmin", "vmax", "min_zoom"])

    # eager localCheckpoint per level: materializes AND cuts lineage
    # (without it level k's plan nests every level below it), and the
    # blocks are reclaimed when the DataFrames are GC'd — a plain
    # persist would pin every level in executor storage for the
    # application lifetime with no caller-visible handle to release
    cur = base(False).localCheckpoint(eager=True)
    levels = [cur]
    # driver loop over zoom levels; each step is one shuffle (A7)
    while True:
        children = cur.where(F.col("z") > F.col("min_zoom"))
        if children.isEmpty():
            break
        parents = (
            children.groupBy(
                "image_id", "z",
                F.expr(f"(x div 2) div {B}").alias("bx"),
                F.expr(f"(y div 2) div {B}").alias("by"))
            .applyInPandas(lambda key, pdf: reduce_groups(pdf),
                           schema=TILE_SCHEMA)
            .localCheckpoint(eager=True)
        )
        levels.append(parents)
        cur = parents

    out = levels[0]
    for extra in levels[1:]:
        out = out.unionByName(extra)
    return out


def encode_tile_array(arr: np.ndarray, vmin: float, vmax: float):
    """q16 encode one tile (S9/M5): returns (bytes, err). Handles the
    constant-tile edge the way the reference does (coeff = inf, NaN
    disc casts to 0, stored 1, rec == min, err 0).

    Deep pyramid tiles are mostly NaN (one child quadrant of data), so
    the quantization runs only over the valid bounding box, in place,
    and writes its codes straight into the big-endian output through
    the valid mask; the rest of the output stays the NaN code 0."""
    stored = np.zeros(arr.shape, dtype=">u2")
    if not np.isfinite(vmin) or not np.isfinite(vmax):
        return stored.tobytes(), 0.0

    valid = ~np.isnan(arr)
    rows = valid.any(axis=1)
    if not rows.any():
        return stored.tobytes(), 0.0
    r0, r1 = np.argmax(rows), len(rows) - np.argmax(rows[::-1])
    cols = valid[r0:r1].any(axis=0)
    c0, c1 = np.argmax(cols), len(cols) - np.argmax(cols[::-1])
    win = stored[r0:r1, c0:c1]
    vwin = valid[r0:r1, c0:c1]
    if vmax > vmin:
        err = codecs._q16_into(arr[r0:r1, c0:c1], vmin, vmax, win, vwin)
    else:  # constant tile
        np.copyto(win, 1, where=vwin)
        err = 0.0
    return stored.tobytes(), err


def encode_tiles(tiles: DataFrame, tile_size: int = 256) -> DataFrame:
    """q16-encode tile pixel arrays (S9/M5); emits per-tile stats
    (min, max, bins, err) used by the index."""
    ts = tile_size

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def tile_rows():
            for batch in batches:
                data = batch.column("data")
                ids, zs, xs, ys, vmins, vmaxs = (
                    batch.column(c).to_pylist()
                    for c in ("image_id", "z", "x", "y", "vmin", "vmax"))
                for i in range(batch.num_rows):
                    yield (ids[i], zs[i], xs[i], ys[i],
                           codecs.decode_raw(data[i].as_buffer(), ts, ts),
                           vmins[i], vmaxs[i])
        return _arrow_batches(_encoded_tiles(tile_rows()), _ENCODED_ARROW,
                              "bytes")

    return tiles.mapInArrow(gen, schema=ENCODED_SCHEMA)


#: Largest tile count index_json will collect into one driver dict.
MAX_INDEX_TILES = 2_000_000


def index_json(encoded: DataFrame, image_id: str | None = None,
               max_tiles: int = MAX_INDEX_TILES) -> dict:
    """Nested tile-index manifest, fixture-compatible (dem.rs:303-367):
    {"<z>": {"<y>": {"y": y, "index": {"<x>": {min,max,bins,err}}}}}.
    A driver-sized manifest convenience: REFUSES (via a limit-capped
    collect, never an unbounded one) tile tables above ``max_tiles`` —
    write the tile rows themselves (write_tiles / the parquet sink)
    for pyramids that big."""
    df = encoded
    if image_id is not None:
        df = df.where(F.col("image_id") == image_id)
    rows = df.select("image_id", "z", "y", "x", "min", "max", "bins",
                     "err").limit(max_tiles + 1).collect()
    if len(rows) > max_tiles:
        raise ValueError(
            f"index_json collects the tile index onto the driver; the "
            f"table exceeds max_tiles={max_tiles}. Keep the tile rows "
            f"distributed (parquet tile sink) or raise max_tiles "
            f"explicitly.")
    distinct_ids = {r["image_id"] for r in rows}
    if len(distinct_ids) > 1:
        # tiles from different images share (z, y, x) keys — a merged
        # dict would silently drop all but one; force an explicit choice
        raise ValueError(
            f"index_json covers one raster; the tile table holds "
            f"{len(distinct_ids)} images — pass image_id=... (one "
            f"manifest per image)")
    return _nest_index(
        [(r["z"], r["y"], r["x"], r["min"], r["max"], r["bins"], r["err"])
         for r in rows])


def _nest_index(rows) -> dict:
    """Shared manifest nesting of index_json and the distributed
    per-image kernel: rows sort by (z, y, x) FIRST, so dict insertion
    order — hence the serialized JSON bytes — is a function of the
    tile set alone, not of partition arrival order (both paths emit
    identical bytes; tested)."""
    idx: dict = {}
    for z, y, x, mn, mx, bins, err in sorted(
            rows, key=lambda r: (r[0], r[1], r[2])):
        zd = idx.setdefault(str(z), {})
        yd = zd.setdefault(str(y), {"y": int(y), "index": {}})
        yd["index"][str(x)] = {
            "min": float(mn) if np.isfinite(mn) else None,
            "max": float(mx) if np.isfinite(mx) else None,
            "bins": int(bins),
            "err": float(err),
        }
    return idx


def index_json_strings(encoded: DataFrame) -> DataFrame:
    """Distributed manifest sink (round-5 VERDICT #4): ONE
    groupBy(image_id) + applyInPandas emits (image_id, manifest_json,
    n_tiles) — a corpus of rasters renders every manifest in a single
    job with driver traffic bounded by manifest text, not O(images)
    driver-loop jobs. Each JSON string is byte-identical to
    json.dumps(index_json(encoded, image_id)) (shared _nest_index,
    tested); write the rows with a parquet/text sink, or collect when
    the corpus is driver-sized (dump_index_json does)."""
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        idx = _nest_index(list(zip(
            pdf["z"], pdf["y"], pdf["x"], pdf["min"], pdf["max"],
            pdf["bins"], pdf["err"])))
        return pd.DataFrame({
            "image_id": [pdf["image_id"].iloc[0]],
            "manifest_json": [json.dumps(idx)],
            "n_tiles": [len(pdf)]})

    return encoded.select("image_id", "z", "y", "x", "min", "max",
                          "bins", "err") \
        .groupBy("image_id") \
        .applyInPandas(kernel, schema=("image_id string, "
                                       "manifest_json string, "
                                       "n_tiles long"))


def decode_tile_bytes(data: bytes, tile_size: int, vmin: float, vmax: float,
                      compressed: bool = False) -> np.ndarray:
    """Decode a tile payload (optionally deflate-compressed q16) back to
    float64 pixels."""
    raw = zlib.decompress(data) if compressed else data
    stored = np.frombuffer(raw, dtype=">u2").reshape(tile_size, tile_size)
    return codecs.q16_dequantize(stored.astype(np.uint16), vmin, vmax)


def tile_index_manifest(images: DataFrame, tile_size: int = 256,
                        mode: str = "local",
                        min_zoom: int | None = None,
                        max_zoom: int | None = None,
                        compress: bool = False) -> DataFrame:
    """End-to-end: images -> pyramid -> encoded tiles DataFrame (the
    manifest is the DataFrame; index_json() renders the nested JSON).

    In local mode base+pyramid+encode are FUSED inside one mapInArrow
    generator, so raw float64 tile arrays never cross an Arrow stage
    boundary — only the 2-byte quantized payloads leave Python. The
    generator makes one image's pyramid at a time and streams its tiles
    out in Arrow batches of about ``_BATCH_BYTES`` of payload, so a
    task holds one batch plus one image's pyramid, whatever the length
    of its input batch. With ``compress=True`` payloads are
    additionally deflate-compressed in the (parallel) Python stage —
    mostly-NaN deep-pyramid tiles shrink to ~7%, trading cheap task CPU
    for scarce bus/JVM-heap traffic (decode with
    ``decode_tile_bytes(compressed=True)``). The distributed mode keeps
    the per-level shuffle and encodes after."""
    if mode != "local":
        return encode_tiles(
            tile_pyramid(images, tile_size, min_zoom, max_zoom, mode=mode),
            tile_size)

    return images.select(*_IMAGE_COLS).mapInArrow(
        partial(_manifest_batches, ts=tile_size, min_zoom=min_zoom,
                max_zoom=max_zoom, compress=compress),
        schema=ENCODED_SCHEMA)


def dump_index_json(encoded: DataFrame, path: str, image_id: str | None = None):
    """Write the manifest. With ``image_id`` (or a single-image table):
    the reference-shaped nested dict. A multi-image table without an
    explicit id writes one manifest PER image keyed by image_id —
    merging them would silently drop colliding (z, y, x) entries.
    The multi-image path runs ONE job (index_json_strings — the
    round-4 shape was one driver job per image) and assembles the
    outer object by string concatenation, byte-identical to
    json.dump of the per-image dicts (tested)."""
    if image_id is None:
        rows = sorted((r["image_id"], r["manifest_json"])
                      for r in index_json_strings(encoded).collect())
        with open(path, "w") as f:
            if len(rows) > 1:
                f.write("{" + ", ".join(f"{json.dumps(i)}: {m}"
                                        for i, m in rows) + "}")
            else:
                f.write(rows[0][1] if rows else "{}")
        return
    with open(path, "w") as f:
        json.dump(index_json(encoded, image_id), f)
