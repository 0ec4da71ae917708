"""Seeded input generators and numpy references for the benchmark.

Everything here is the benchmark's own code: the image encoders, the
polygon generator, the ray-cast containment test and the brute-force
similarity math do not import the program, so the output checks stay
independent of the kernels they check. Inputs are a pure function of
(seed, workload sizes) and are written as parquet with pyarrow.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXTENT = (-2000.0, -2000.0, 2000.0, 2000.0)
Q16_BINS = 65535
WORDS = (
    "aerial drone ortho survey field crop ridge valley river delta canal "
    "road bridge rooftop solar panel quarry forest shore dune glacier "
    "terrace vineyard orchard paddock runway harbor reef mesa butte plain "
    "marsh lagoon atoll fjord steppe tundra savanna prairie canyon gorge "
    "plateau basin estuary levee dam weir sluice pier jetty wharf silo "
    "barn mill farm ranch greenhouse park stadium track pool school campus"
).split()
ASPECTS = ((512, 512), (640, 448), (448, 640), (768, 384), (384, 768))


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


# ---------------------------------------------------------------------------
# pixel codecs (format of the image table's ``bytes`` column)
# ---------------------------------------------------------------------------


def encode_raw(block: np.ndarray) -> bytes:
    return np.ascontiguousarray(block, dtype="<f8").tobytes()


def encode_q16(block: np.ndarray) -> bytes:
    """16-byte (min, max) float64 LE header + big-endian u16 codes;
    code 0 is NaN, disc = floor((v - min) * 65535 / (max - min)) and
    the stored code is disc + 1 below the top bin."""
    vmin = float(np.nanmin(block))
    vmax = float(np.nanmax(block))
    if vmax == vmin:
        vmax = vmin + 1.0
    d = (np.clip(block, vmin, vmax) - vmin) * (Q16_BINS / (vmax - vmin))
    disc = np.floor(d)
    codes = np.where(np.isnan(d), 0.0, disc + (disc < Q16_BINS))
    return struct.pack("<dd", vmin, vmax) + codes.astype(">u2").tobytes()


def dequantize(codes: np.ndarray, vmin: float, vmax: float) -> np.ndarray:
    out = vmin + (vmax - vmin) * (codes.astype(np.float64) - 1.0) / Q16_BINS
    out[codes == 0] = np.nan
    return out


def decode_pixels(data: bytes, h: int, w: int, fmt: str) -> np.ndarray:
    if fmt == "raw":
        return np.frombuffer(data, dtype="<f8").reshape(h, w)
    vmin, vmax = struct.unpack_from("<dd", data, 0)
    codes = np.frombuffer(data, dtype=">u2", offset=16).reshape(h, w)
    return dequantize(codes, vmin, vmax)


def tile_codes(data: bytes, ts: int) -> np.ndarray:
    """A written tile payload: deflate-compressed big-endian q16 codes
    on the row's (min, max) grid."""
    return np.frombuffer(zlib.decompress(data), dtype=">u2").reshape(ts, ts)


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------

IMAGE_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("gt", pa.list_(pa.float64())),
    ("crs", pa.string()), ("no_val", pa.float64()), ("bands", pa.int32()),
])
AOI_SCHEMA = pa.schema([
    ("aoi_id", pa.string()), ("ring_offsets", pa.list_(pa.int32())),
    ("xs", pa.list_(pa.float64())), ("ys", pa.list_(pa.float64())),
])
POINT_SCHEMA = pa.schema([
    ("pt_id", pa.string()), ("x", pa.float64()), ("y", pa.float64()),
])


def write_parquet(rows: dict, schema: pa.Schema, path: str, files: int) -> int:
    """Write ``rows`` (column -> list) as ``files`` parquet files under
    the directory ``path``; returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pydict(rows, schema=schema)
    n = table.num_rows
    total = 0
    for f in range(files):
        lo, hi = n * f // files, n * (f + 1) // files
        fn = os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), fn)
        total += os.path.getsize(fn)
    return total


def caption(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(WORDS, size=int(rng.integers(6, 13))))


def jittered_grid(rng: np.random.Generator, n: int, size: float) -> np.ndarray:
    """(n, 2) lower-left corners of ``size``-wide squares, each placed
    at random inside its own cell of a square grid over EXTENT (the
    cells are a random n of the grid's). Spreading the squares evenly
    keeps the overlap work of images and polygons nearly the same from
    seed to seed, which uniform placement does not."""
    g = int(np.ceil(np.sqrt(n)))
    cell = (EXTENT[2] - EXTENT[0]) / g
    idx = rng.permutation(g * g)[:n]
    jitter = rng.random((n, 2)) * max(cell - size, 0.0)
    return (np.stack([idx % g, idx // g], axis=1) * cell + jitter
            + np.array(EXTENT[:2]))


def images(seed: int, n: int, px: int, pixel_size: float) -> dict:
    """n px-by-px gaussian images, raw and q16 alternating, one per cell
    of a jittered grid over EXTENT."""
    corner = jittered_grid(rng_for(seed, 1), n, px * pixel_size)
    cols = {k: [] for k in IMAGE_SCHEMA.names}
    for i in range(n):
        block = rng_for(seed, 2, i).normal(size=(px, px))
        fmt = ("raw", "q16")[i % 2]
        cols["image_id"].append(f"img_{i:08d}")
        cols["bytes"].append(encode_raw(block) if fmt == "raw"
                             else encode_q16(block))
        cols["w"].append(px)
        cols["h"].append(px)
        cols["fmt"].append(fmt)
        cols["caption"].append(caption(rng_for(seed, 3, i)))
        cols["phash"].append(0)
        cols["gt"].append([corner[i, 0], pixel_size, 0.0,
                           corner[i, 1] + px * pixel_size, 0.0, -pixel_size])
        cols["crs"].append("EPSG:3857")
        cols["no_val"].append(float("nan"))
        cols["bands"].append(1)
    return cols


def star_polygons(seed: int, n: int, vertices: int, hole_every: int,
                  r_lo: float, r_hi: float) -> dict:
    """n star-convex polygons with ``vertices`` exterior vertices inside
    EXTENT, centred one per cell of a jittered grid, with radii drawn
    one from each of n equal strata of [r_lo, r_hi]; every
    ``hole_every``-th one gets an 8-vertex hole ring (wound opposite the
    exterior) around its centre."""
    rng = rng_for(seed, 4)
    radii = r_lo + (rng.permutation(n) + rng.random(n)) / n * (r_hi - r_lo)
    centres = jittered_grid(rng, n, 0.0)
    cols = {k: [] for k in AOI_SCHEMA.names}
    for i in range(n):
        r = radii[i]
        cx, cy = np.clip(centres[i], np.array(EXTENT[:2]) + r,
                         np.array(EXTENT[2:]) - r)
        ang = np.sort(rng.random(vertices)) * 2 * np.pi
        rad = r * (0.6 + 0.4 * rng.random(vertices))
        xs = list(cx + rad * np.cos(ang))
        ys = list(cy + rad * np.sin(ang))
        offs = [0]
        if hole_every and i % hole_every == 0:
            offs.append(len(xs))
            ha = -np.arange(8) * (2 * np.pi / 8)
            xs += list(cx + 0.2 * r * np.cos(ha))
            ys += list(cy + 0.2 * r * np.sin(ha))
        cols["aoi_id"].append(f"aoi_{i:05d}")
        cols["ring_offsets"].append(offs)
        cols["xs"].append([float(v) for v in xs])
        cols["ys"].append([float(v) for v in ys])
    return cols


# ---------------------------------------------------------------------------
# references
# ---------------------------------------------------------------------------


def ray_cast(px, py, ring_offsets, xs, ys) -> np.ndarray:
    """Even-odd containment by casting a ray towards +x, looping over
    edges (vectorised over points). Holes are extra rings."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    bounds = list(ring_offsets) + [len(xs)]
    for a, b in zip(bounds[:-1], bounds[1:]):
        if b - a < 3:
            continue
        j = b - 1
        for i in range(a, b):
            xi, yi, xj, yj = xs[i], ys[i], xs[j], ys[j]
            if yi != yj:
                cross = (yi > py) != (yj > py)
                xint = xi + (py - yi) * (xj - xi) / (yj - yi)
                inside ^= cross & (px < xint)
            j = i
    return inside


def containing(px, py, aois: dict) -> list[set]:
    """For each point, the set of aoi_ids whose polygon contains it."""
    out = [set() for _ in range(len(px))]
    for aid, ro, xs, ys in zip(aois["aoi_id"], aois["ring_offsets"],
                               aois["xs"], aois["ys"]):
        for k in np.flatnonzero(ray_cast(px, py, ro, xs, ys)):
            out[k].add(aid)
    return out


def pixel_centres(gt, h: int, w: int):
    jj, ii = np.meshgrid(np.arange(w) + 0.5, np.arange(h) + 0.5)
    return gt[0] + jj * gt[1] + ii * gt[2], gt[3] + jj * gt[4] + ii * gt[5]


def cosines(q: np.ndarray, c: np.ndarray) -> np.ndarray:
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    return qn @ cn.T
