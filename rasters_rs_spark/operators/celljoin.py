"""Cell-keyed spatial joins: the engine's H3/S2-style index layer.

The cell index is the web-mercator quadkey (z, x, y) from
functions/mercator.py (reference web_mercator.rs:43-102); a k-ring is
the (x +/- k, y +/- k) window at fixed z. This file implements the
filter-refine spatial join that replaces the reference's O(pixels x
polygons) nested-loop PIP (raster-stats/main.rs:72-82):

  points  -> cell key (one expression, JVM-side)
  AOIs    -> covering cell set (bbox tile range)
  filter  -> a pandas catalog: a lookup of each point's cell in the
             driver-built cover (sorted cell keys + CSR part offsets)
             that rides the kernel closure with the rings, inside one
             mapInArrow over the points; no join, so ``salt`` and
             ``broadcast_aois`` have no effect on it. An AOI DataFrame:
             an equi-join on cell (broadcast when the cell table is
             small, shuffle-hash otherwise, optional salting for hot
             cells)
  refine  -> exact point-in-polygon per AOI part, even-odd by default
             (nonzero winding on request): in the lookup kernel, in a
             mapInArrow over the ring-carrying candidate rows of a
             broadcast join, or, when an AOI DataFrame is joined
             without broadcast, in a cogroup applyInArrow of pyarrow
             tables against the one-row-per-part ring table.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import codecs, geom, scanpar
from ..functions.mercator import MAX_COORD

AOI_SCHEMA = (
    "aoi_id string, ring_offsets array<int>, xs array<double>, ys array<double>"
)


def cell_expr(x_col: str, y_col: str, zoom: int):
    """Tile/cell index of a WM point as a single long: (x << 32) | y.

    Pure Catalyst expression (floor + shift), no UDF.
    """
    ts = 2.0 * MAX_COORD / float(1 << zoom)
    cx = F.floor((F.col(x_col) + F.lit(MAX_COORD)) / F.lit(ts)).cast("long")
    cy = F.floor((F.col(y_col) + F.lit(MAX_COORD)) / F.lit(ts)).cast("long")
    return F.shiftleft(cx, 32) + cy


def morton_expr(cx_col, cy_col, bits: int = 16):
    """Z-order (Morton) code of two cell coordinates: interleaves the
    low ``bits`` bits of each — the space-filling-curve sort key that
    keeps spatially-near tiles/cells in the same files when used as a
    range-partition/sort column (locality for z/x/y lookups). Pure
    Catalyst shifts/masks; identically expressible in ANSI SQL (the
    contract oracle)."""
    code = F.lit(0).cast("long")
    for b in range(bits):
        code = (code
                + F.shiftleft(F.shiftrightunsigned(F.col(cx_col), b)
                              .bitwiseAND(F.lit(1)), 2 * b + 1)
                + F.shiftleft(F.shiftrightunsigned(F.col(cy_col), b)
                              .bitwiseAND(F.lit(1)), 2 * b))
    return code


def rasterize(spark: SparkSession, aois: pd.DataFrame, gt, w: int, h: int,
              strip_height: int = 256,
              pip_rule: str = "evenodd") -> DataFrame:
    """Vector -> raster: burn each target pixel whose CENTER lies
    inside an AOI with that AOI's ordinal (its position in the sorted
    aoi_id list; the smallest id wins where AOIs overlap). Uncovered
    pixels are NaN. The inverse of the zonal flow — together they
    close the raster<->vector loop.

    Scale shape: the target grid explodes into ROW STRIPS (one task
    decodes nothing and holds strip_height x w doubles); the AOI table
    is the small dimension side and rides the task closure with a bbox
    prefilter per strip, exactly like the zonal broadcast. Returns
    chunked strip rows (chunked.CHUNK_SCHEMA); assemble with
    chunked.assemble_images when the raster fits one task."""
    from .chunked import CHUNK_SCHEMA, _CHUNK_COLS
    gt = [float(v) for v in gt]
    strip_height = max(1, min(strip_height, h))
    srt = aois.sort_values("aoi_id")
    polys = _burn_polys(srt.assign(ordinal=np.arange(len(srt))))
    winding = _winding(pip_rule)
    n_strips = (h + strip_height - 1) // strip_height
    t = geom.transform_from_gdal(gt)

    def gen(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                sy = int(row.id)
                out.append(_burn_strip_row(sy, strip_height, w, h, gt, t,
                                           polys, winding))
            yield pd.DataFrame(out, columns=_CHUNK_COLS)

    return spark.range(n_strips).mapInPandas(gen, schema=CHUNK_SCHEMA)


def _burn_polys(aois: pd.DataFrame) -> list:
    """(ordinal, ring_offsets, xs, ys, bbox) burn polygons of an AOI
    table with an ``ordinal`` column, in ascending ordinal order. An AOI
    with no ring of at least 3 vertices burns no pixel and is left out;
    the others keep their ordinals."""
    from .stats import _packed_aoi_rows
    return _packed_aoi_rows(aois.sort_values("ordinal"), key="ordinal")


def _winding(pip_rule: str) -> bool:
    return {"evenodd": False, "nonzero": True}[pip_rule]


def _burn_strip_row(sy: int, strip_height: int, w: int, h: int, gt, t,
                    polys, winding: bool):
    """Burn one target-grid row strip against (ordinal, rings, bbox)
    polys — the kernel shared by rasterize (broadcast AOI closure) and
    rasterize_dist (cell-join-pruned AOI subset). Ascending-ordinal
    iteration + the isnan guard make the smallest ordinal win
    overlaps."""
    r0 = sy * strip_height
    r1 = min(r0 + strip_height, h)
    xc, yc = geom.pixel_centers(t, r1 - r0, w, r0)
    block = np.full((r1 - r0, w), np.nan)
    for k, rows, cols, mask in geom.centers_in_polygons(xc, yc, polys,
                                                        winding):
        sub = block[rows, cols]
        sub[mask & np.isnan(sub)] = float(k)
    return ("rasterized", sy, r0, r1, r0, r1, codecs.encode_raw(block),
            w, h, "raw", gt, "EPSG:3857", float("nan"))


def aoi_ordinals_dist(aois: DataFrame, partitions: int = 64) -> DataFrame:
    """(aoi_id, ordinal) by global aoi_id sort order WITHOUT a
    single-partition window (which funnels the whole catalog through
    one task): scanpar.range_rank over the DISTINCT ids — the driver
    holds one count per partition, never the catalog."""
    ranked, _ = scanpar.range_rank(aois.select("aoi_id").distinct(),
                                   "aoi_id", partitions=partitions)
    return ranked.select("aoi_id", F.col("_rank").alias("ordinal"))


def rasterize_dist(aois: DataFrame, gt, w: int, h: int,
                   strip_height: int = 256, zoom: int = 12,
                   pip_rule: str = "evenodd") -> DataFrame:
    """rasterize with a DISTRIBUTED AOI side (celljoin.AOI_SCHEMA
    DataFrame) — the path for AOI catalogs too large for a task
    closure. Burn values are ordinals of the aoi_id sort order, exactly
    like rasterize; pass a precomputed ``ordinal`` column to skip the
    one-off global row_number (a single-partition window — fine as a
    metadata step, precompute it for repeated rasterizations).

    Shape: strip bboxes (Catalyst exprs of the strip index over gt
    LITERALS) -> covering cells -> equi-join aoi_cells_dist -> distinct
    (strip, aoi-part) -> cogroup with the strip index -> the shared
    burn kernel over each strip's pruned AOI subset. Per-task memory is
    strip_height x w doubles + candidate rings; the catalog never
    lands on the driver. Ordinals are PER aoi_id (aoi_ordinals_dist,
    two-pass distributed rank — no single-partition window): all parts
    of a multipart id burn the same value, which the pandas rasterize
    only matches for unique-id tables (its ordinals are per ROW)."""
    from .chunked import CHUNK_SCHEMA, _CHUNK_COLS
    spark = aois.sparkSession
    gt = [float(v) for v in gt]
    strip_height = max(1, min(strip_height, h))
    n_strips = (h + strip_height - 1) // strip_height
    t = geom.transform_from_gdal(gt)
    winding = _winding(pip_rule)

    if "ordinal" not in aois.columns:
        aois = aois.join(aoi_ordinals_dist(aois), on="aoi_id")
    acells = aoi_cells_dist(aois, zoom, extra_cols=("ordinal",))

    ts = 2.0 * MAX_COORD / float(1 << zoom)
    strips = spark.range(n_strips).select(F.col("id").cast("int").alias("sy"))
    r0 = F.col("sy").cast("double") * strip_height
    r1 = F.least(r0 + strip_height, F.lit(float(h)))
    zero, ww = F.lit(0.0), F.lit(float(w))
    cxs = [gt[0] + j * gt[1] + i * gt[2]
           for (j, i) in ((zero, r0), (ww, r0), (zero, r1), (ww, r1))]
    cys = [gt[3] + j * gt[4] + i * gt[5]
           for (j, i) in ((zero, r0), (ww, r0), (zero, r1), (ww, r1))]
    b = strips.select(
        "sy",
        F.floor((F.least(*cxs) + F.lit(MAX_COORD)) / F.lit(ts))
         .cast("long").alias("_x0"),
        F.floor((F.greatest(*cxs) + F.lit(MAX_COORD)) / F.lit(ts))
         .cast("long").alias("_x1"),
        F.floor((F.least(*cys) + F.lit(MAX_COORD)) / F.lit(ts))
         .cast("long").alias("_y0"),
        F.floor((F.greatest(*cys) + F.lit(MAX_COORD)) / F.lit(ts))
         .cast("long").alias("_y1"))
    b = b.withColumn("_cx", F.explode(F.sequence("_x0", "_x1")))
    b = b.withColumn("_cy", F.explode(F.sequence("_y0", "_y1")))
    scells = b.select(
        "sy", (F.shiftleft(F.col("_cx"), 32) + F.col("_cy")).alias("cell"))

    # _sy alias: the candidate side derives from `strips` (ambiguous
    # self-join otherwise, same fix as zonal_stats_dist)
    cand = (scells.join(acells, on="cell")
            .dropDuplicates(["sy", "part"])
            .select(F.col("sy").alias("_sy"), "ordinal",
                    "ring_offsets", "xs", "ys"))

    def kernel(strip_pdf: pd.DataFrame, aoi_pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        polys = _burn_polys(aoi_pdf)
        for row in strip_pdf.itertuples(index=False):
            out.append(_burn_strip_row(int(row.sy), strip_height, w, h,
                                       gt, t, polys, winding))
        return pd.DataFrame(out, columns=_CHUNK_COLS)

    return strips.groupBy("sy").cogroup(cand.groupBy("_sy")) \
        .applyInPandas(lambda key, a, b_: kernel(a, b_), schema=CHUNK_SCHEMA)


def with_hilbert(df: DataFrame, cx_col: str = "cx", cy_col: str = "cy",
                 bits: int = 8, out: str = "hilbert") -> DataFrame:
    """Hilbert-curve distance of two cell coordinates (low ``bits``
    bits each) — the space-filling sort key with strictly better range
    locality than Morton (consecutive codes are always 4-adjacent
    cells, so a contiguous code range is a compact blob, not Z-shaped
    jumps). Use as the repartitionByRange/sortBy column for tile and
    cell sinks at scale.

    Pure integer Catalyst expressions: the standard xy2d rotation
    recurrence unrolled over ``bits`` levels, each level a projection
    over the previous one (no expression-tree blowup). The identical
    level-by-level CASE logic is emitted by the SQL oracle, so codes
    are engine-exact."""
    x = F.col(cx_col).cast("long")
    y = F.col(cy_col).cast("long")
    df = df.withColumn("_hx", x).withColumn("_hy", y) \
           .withColumn("_hd", F.lit(0).cast("long"))
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        rx = F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0, F.lit(1)) \
              .otherwise(F.lit(0))
        ry = F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0, F.lit(1)) \
              .otherwise(F.lit(0))
        df = df.withColumn("_rx", rx).withColumn("_ry", ry)
        d = (F.col("_hd")
             + F.lit(s).cast("long") * F.lit(s)
             * (F.lit(3) * F.col("_rx")).bitwiseXOR(F.col("_ry")))
        # rotate the quadrant when ry == 0 (reflect when rx == 1, swap)
        nx = F.when(F.col("_ry") == 0,
                    F.when(F.col("_rx") == 1,
                           F.lit(s - 1) - F.col("_hy"))
                     .otherwise(F.col("_hy"))) \
              .otherwise(F.col("_hx"))
        ny = F.when(F.col("_ry") == 0,
                    F.when(F.col("_rx") == 1,
                           F.lit(s - 1) - F.col("_hx"))
                     .otherwise(F.col("_hx"))) \
              .otherwise(F.col("_hy"))
        df = df.withColumn("_hd", d).withColumn("_nx", nx) \
               .withColumn("_ny", ny) \
               .withColumn("_hx", F.col("_nx")) \
               .withColumn("_hy", F.col("_ny")) \
               .drop("_nx", "_ny", "_rx", "_ry")
    return df.withColumn(out, F.col("_hd")).drop("_hx", "_hy", "_hd")


def hilbert_xy2d(x: int, y: int, bits: int = 8) -> int:
    """Scalar python mirror (tests): standard Hilbert xy2d."""
    rx = ry = 0
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def aoi_cells_dist(aois: DataFrame, zoom: int, extra_cols=()) -> DataFrame:
    """Covering cells of an AOI DataFrame (AOI_SCHEMA) as PURE Catalyst
    expressions — the corpus-scale counterpart of _bbox_cover for AOI
    catalogs too large for the driver: bbox from array_min/array_max
    (all-ring bbox, the polygon_bbox convention), tile range floors,
    sequence() x sequence() double explode. The plan is scan ->
    project -> generate -> generate — no driver materialization, no
    Python. ``part`` (the per-AOI-ROW identity _refine groups by) is a
    monotonically_increasing_id captured before the explode; each cell
    row carries its own ring buffers, so refine stays row-local."""
    ts = 2.0 * MAX_COORD / float(1 << zoom)
    if "part" not in aois.columns:
        # NOTE: monotonically_increasing_id is only stable WITHIN one
        # evaluation — a caller whose plan evaluates the cell table
        # twice (e.g. the cogroup refine) must mint part itself on a
        # checkpointed table and pass it in
        aois = aois.withColumn("part", F.monotonically_increasing_id())
    b = (aois
         .withColumn("_x0", F.floor((F.array_min("xs") + F.lit(MAX_COORD))
                                    / F.lit(ts)).cast("long"))
         .withColumn("_x1", F.floor((F.array_max("xs") + F.lit(MAX_COORD))
                                    / F.lit(ts)).cast("long"))
         .withColumn("_y0", F.floor((F.array_min("ys") + F.lit(MAX_COORD))
                                    / F.lit(ts)).cast("long"))
         .withColumn("_y1", F.floor((F.array_max("ys") + F.lit(MAX_COORD))
                                    / F.lit(ts)).cast("long")))
    b = b.withColumn("_cx", F.explode(F.sequence("_x0", "_x1")))
    b = b.withColumn("_cy", F.explode(F.sequence("_y0", "_y1")))
    # part stays long: monotonically_increasing_id carries the
    # partition id in high bits (an int cast would overflow under ANSI)
    return b.select(
        "aoi_id", "part",
        (F.shiftleft(F.col("_cx"), 32) + F.col("_cy")).alias("cell"),
        "ring_offsets", "xs", "ys", *extra_cols)


def image_cells_dist(images: DataFrame, zoom: int) -> DataFrame:
    """(image_id[, chunk_idx], cell) covering cells of the world-space
    bbox of each image, or of each chunk strip's DATA rows
    (data_start..data_end; an image's rows are 0..h), as pure Catalyst
    expressions over gt, w and the row range — the image side of the
    distributed zonal candidate join. The bbox maps all four corners
    (rotated-gt safe, the G6 lesson) and pads by half a pixel along
    each gt axis so it is always a superset of the padded pixel-CENTER
    bbox the zonal kernel prefilters with. Only the row keys and the
    cell survive the explode — bytes never enter it."""
    keys = codecs._strip_keys(images.columns)
    ts = 2.0 * MAX_COORD / float(1 << zoom)
    g = [F.col("gt")[i] for i in range(6)]
    w = F.col("w").cast("double")
    zero = F.lit(0.0)
    if "data_start" in images.columns:
        i0 = F.col("data_start").cast("double")
        i1 = F.col("data_end").cast("double")
    else:
        i0, i1 = zero, F.col("h").cast("double")
    corners = ((zero, i0), (w, i0), (zero, i1), (w, i1))
    cxs = [g[0] + j * g[1] + i * g[2] for (j, i) in corners]
    cys = [g[3] + j * g[4] + i * g[5] for (j, i) in corners]
    hx = (F.abs(g[1]) + F.abs(g[2])) / 2.0
    hy = (F.abs(g[4]) + F.abs(g[5])) / 2.0
    b = (images.select(
            *keys,
            F.floor((F.least(*cxs) - hx + F.lit(MAX_COORD)) / F.lit(ts))
             .cast("long").alias("_x0"),
            F.floor((F.greatest(*cxs) + hx + F.lit(MAX_COORD)) / F.lit(ts))
             .cast("long").alias("_x1"),
            F.floor((F.least(*cys) - hy + F.lit(MAX_COORD)) / F.lit(ts))
             .cast("long").alias("_y0"),
            F.floor((F.greatest(*cys) + hy + F.lit(MAX_COORD)) / F.lit(ts))
             .cast("long").alias("_y1")))
    b = b.withColumn("_cx", F.explode(F.sequence("_x0", "_x1")))
    b = b.withColumn("_cy", F.explode(F.sequence("_y0", "_y1")))
    return b.select(
        *keys,
        (F.shiftleft(F.col("_cx"), 32) + F.col("_cy")).alias("cell"))


def _bbox_cover(aois: pd.DataFrame, zoom: int):
    """The covering cells at ``zoom`` of every row (part) of a pandas
    AOI table, as CSR: sorted distinct cell keys ``cells``, and
    ``parts[offsets[i]:offsets[i + 1]]``, ascending, the row positions
    whose ring bbox covers ``cells[i]`` (a bbox cover; the exact test
    happens after the lookup)."""
    ts = 2.0 * MAX_COORD / float(1 << zoom)
    keys, owners = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for part, r in enumerate(aois.itertuples(index=False)):
        minx, miny, maxx, maxy = geom.polygon_bbox(r.ring_offsets, r.xs, r.ys)
        cx = np.arange(int(np.floor((minx + MAX_COORD) / ts)),
                       int(np.floor((maxx + MAX_COORD) / ts)) + 1)
        cy = np.arange(int(np.floor((miny + MAX_COORD) / ts)),
                       int(np.floor((maxy + MAX_COORD) / ts)) + 1)
        k = ((cx[:, None] << 32) + cy[None, :]).ravel()
        keys.append(k)
        owners.append(np.full(k.size, part, dtype=np.int64))
    keys, owners = np.concatenate(keys), np.concatenate(owners)
    order = np.lexsort((owners, keys))
    keys, parts = keys[order], owners[order]
    cells, starts = np.unique(keys, return_index=True)
    return cells, np.append(starts, keys.size), parts


def _pip(pip_rule: str):
    """The point-in-polygon kernel of ``pip_rule``: 'evenodd' (crossing
    parity — the reference's geo::Contains semantics) or 'nonzero'
    (signed winding number — the GEOS/PostGIS rule; differs only on
    self-intersecting rings and same-winding overlaps)."""
    return {"evenodd": geom.points_in_rings,
            "nonzero": geom.points_in_rings_winding}[pip_rule]


def _column(batch: pa.RecordBatch, name: str) -> np.ndarray:
    return batch.column(name).to_numpy(zero_copy_only=False)


def _inside_parts(px: np.ndarray, py: np.ndarray, part: np.ndarray,
                  rings, pip) -> np.ndarray:
    """Whether candidate k's point (px[k], py[k]) lies in its AOI part
    ``part[k]``: one ``pip`` call per distinct part (an aoi_id spanning
    several rows tests each candidate against ITS OWN part's rings).
    ``rings(k)`` is the (ring_offsets, xs, ys) of candidate k's part."""
    inside = np.zeros(part.size, dtype=bool)
    order = np.argsort(part, kind="stable")
    for grp in np.split(order, np.flatnonzero(np.diff(part[order])) + 1):
        if grp.size:
            inside[grp] = pip(px[grp], py[grp], *rings(grp[0]))
    return inside


def _lookup_join(pts: DataFrame, aois: pd.DataFrame, zoom: int,
                 keep_cols: list, x_col: str, y_col: str, pip_rule: str,
                 multipart: bool) -> DataFrame:
    """cell_pip_join against a pandas catalog: one mapInArrow over the
    points and their Catalyst ``cell`` column. Each batch looks its
    cells up in the driver-built bbox cover (``_bbox_cover``, shipped
    with the rings in the kernel closure) with one ``searchsorted``,
    expands the candidate parts, runs the exact test per part and
    ``take``s the kept point rows: no join, no broadcast job. With
    ``multipart`` a point row inside several parts of one aoi_id yields
    one row; every candidate of a point row is in its batch, so that
    dedup is batch-local."""
    cells, offsets, parts = _bbox_cover(aois, zoom)
    ids, codes = np.unique(aois["aoi_id"].to_numpy(dtype=object),
                           return_inverse=True)
    ids = pa.array(ids.tolist(), type=pa.string())
    rings = [(np.asarray(r.ring_offsets, dtype=np.int64),
              np.asarray(r.xs, dtype=np.float64),
              np.asarray(r.ys, dtype=np.float64))
             for r in aois.itertuples(index=False)]
    names = [c.split(" ")[0] for c in keep_cols]
    pip = _pip(pip_rule)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0 or cells.size == 0:
                continue
            key = batch.column("cell")
            k = pc.fill_null(key, 0).to_numpy()
            j = np.minimum(np.searchsorted(cells, k), cells.size - 1)
            hit = cells[j] == k
            if key.null_count:
                hit &= key.is_valid().to_numpy(zero_copy_only=False)
            row = np.flatnonzero(hit)
            start, n = offsets[j[row]], np.diff(offsets)[j[row]]
            # the candidates of a hit are parts[start:start + n]
            part = parts[np.repeat(start - (np.cumsum(n) - n), n)
                         + np.arange(n.sum())]
            row = np.repeat(row, n)
            inside = _inside_parts(
                _column(batch, x_col).astype(np.float64)[row],
                _column(batch, y_col).astype(np.float64)[row], part,
                lambda c: rings[part[c]], pip)
            row, aoi = row[inside], codes[part[inside]]
            if multipart:
                first = np.sort(np.unique(row * len(ids) + aoi,
                                          return_index=True)[1])
                row, aoi = row[first], aoi[first]
            if row.size:
                out = batch.select(names).take(pa.array(row))
                yield pa.RecordBatch.from_arrays(
                    out.columns + [ids.take(pa.array(aoi))],
                    names=names + ["aoi_id"])

    return pts.mapInArrow(gen, schema=", ".join(keep_cols + ["aoi_id string"]))


def _refine(df: DataFrame, keep_cols: list[str],
            pip_rule: str = "evenodd") -> DataFrame:
    """Exact point-in-polygon refine over candidate (point, AOI part)
    rows that carry their part's rings (an AOI DataFrame joined without
    the cogroup): one mapInArrow, the per-part test of ``_inside_parts``
    with each part's rings read from its first candidate row."""
    names = [c.split(" ")[0] for c in keep_cols]
    pip = _pip(pip_rule)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ring = [batch.column(c) for c in ("ring_offsets", "xs", "ys")]
            inside = _inside_parts(
                _column(batch, "px"), _column(batch, "py"),
                _column(batch, "part"),
                lambda c: [a[int(c)].values.to_numpy(zero_copy_only=False)
                           for a in ring], pip)
            yield batch.select(names).filter(pa.array(inside))

    return df.mapInArrow(gen, schema=", ".join(keep_cols))


#: Max probe-side cell rows an auto decision will broadcast (each row
#: carries its AOI's full ring buffers — keep the table executor-safe).
MAX_BROADCAST_AOI_CELLS = 200_000

#: Max catalog rows the multipart=None auto-probe scans before falling
#: back to the conservative answer (True: dedup always applied).
MULTIPART_PROBE_ROWS = 100_000


def _multipart_probe(parts: DataFrame) -> bool:
    """Whether an AOI catalog may hold several rows per aoi_id, from
    one bounded Arrow collect of at most MULTIPART_PROBE_ROWS + 1 ids
    (a groupBy over the limit would cost a second job): a repeated id
    decides True exactly, a whole catalog without one False exactly,
    and a larger catalog falls back to True — conservative but never
    wrong, since the (_rowid, aoi_id) dedup is a semantic no-op on a
    single-part catalog and only costs one extra shuffle."""
    cap = MULTIPART_PROBE_ROWS
    ids = parts.select("aoi_id").limit(cap + 1).toArrow().column(0)
    return len(ids) > cap or \
        pc.count_distinct(ids, mode="all").as_py() < len(ids)


def cell_pip_join(points: DataFrame, aois, zoom: int = 12,
                  x_col: str = "x", y_col: str = "y",
                  broadcast_aois: bool | None = None, salt: int = 1,
                  pip_rule: str = "evenodd",
                  multipart: bool | None = None,
                  refine_salt: int = 8) -> DataFrame:
    """Join points to every AOI that exactly contains them.

    ``points`` needs (id..., x_col, y_col) in WM/world coords — column
    names ``cell``/``px``/``py``/``part`` and the AOI column names are
    reserved (rejected, they would be silently clobbered). ``aois`` is
    either a small pandas AOI table or an AOI **DataFrame** in
    AOI_SCHEMA:

    - pandas: the driver builds the bbox cover once and the kernel
      closure carries it with the rings; one mapInArrow over the points
      looks their cells up and refines (``_lookup_join``). There is no
      join, so ``broadcast_aois`` and ``salt`` have no effect.
    - DataFrame, the corpus-scale path: covering cells are Catalyst
      exprs (aoi_cells_dist), nothing lands on the driver, and the
      equi-join broadcasts only when a capped probe says the cell table
      is small. Set ``salt`` > 1 to spread a hot cell across ``salt``
      shuffle keys when the AOI side is shuffled and a cell is skewed.

    An aoi_id may span multiple rows (multipolygon parts); a point
    matching any part yields one output row. Returns the point columns
    + ``aoi_id``. ``multipart=None`` auto-detects duplicate aoi_ids
    (exact for pandas; a bounded id collect for DataFrames — pass
    False/True to skip the probe when the catalog shape is known)."""
    reserved = {"cell", "px", "py", "part", "aoi_id", "ring_offsets",
                "xs", "ys", "_rowid"} & set(points.columns)
    if reserved:
        raise ValueError(
            f"cell_pip_join: point columns {sorted(reserved)} collide "
            f"with internal/AOI columns — rename them first")
    catalog = isinstance(aois, DataFrame)
    if catalog:
        if "part" not in aois.columns:
            aois = aois.withColumn("part",
                                   F.monotonically_increasing_id())
        # one row per AOI part, MATERIALIZED: the cogroup refine (and
        # the probe + join) evaluate this subplan several times, and
        # monotonically_increasing_id is only consistent across those
        # evaluations when they read the same materialized rows — a
        # recomputed id (different partition layout under AQE) silently
        # mismatched ~97% of pairs at the 1M-point scale test. The
        # checkpoint is one row per AOI (catalog-sized, not x cells).
        aoi_parts_src = aois.localCheckpoint(eager=True)
        cells = aoi_cells_dist(aoi_parts_src, zoom)
        if multipart is None:
            multipart = _multipart_probe(aoi_parts_src)
        if broadcast_aois is None:
            cap = MAX_BROADCAST_AOI_CELLS
            broadcast_aois = \
                cells.select("cell").limit(cap + 1).count() <= cap
    elif multipart is None:
        multipart = len(aois) != aois["aoi_id"].nunique()
    if points.isStreaming:
        if multipart:
            # the (_rowid, aoi_id) dropDuplicates below is a CROSS-
            # micro-batch stateful dedup on a stream, and
            # monotonically_increasing_id restarts every micro-batch
            # (partition_id << 33 + offset): later batches colliding
            # with earlier state would silently lose rows while state
            # grows unbounded (round-4 ADVICE). A pandas catalog's
            # lookup dedups inside its batch, but both catalog kinds
            # accept the same streams.
            raise ValueError(
                "cell_pip_join: multipart AOI catalogs are unsupported "
                "on a streaming point source (per-row dedup is not "
                "batch-local in Structured Streaming). Split "
                "multipolygon AOIs into one single-part row per aoi_id "
                "(or pre-union their rings), then pass multipart=False.")
        if catalog and salt > 1:
            raise ValueError(
                "cell_pip_join: salt > 1 keys the spread on per-row ids, "
                "which are not stable on a streaming source")
    pts = points.withColumn("cell", cell_expr(x_col, y_col, zoom))
    keep = [f"{c} {t}" for c, t in points.dtypes]
    if not catalog:
        return _lookup_join(pts, aois, zoom, keep, x_col, y_col, pip_rule,
                            multipart)
    pts = pts.withColumn("px", F.col(x_col)).withColumn("py", F.col(y_col))

    # cogroup applyInArrow is batch-only: a streaming query with a
    # too-big-to-broadcast catalog falls back to the carry-rings
    # stream-static equi-join (rings duplicated per candidate row —
    # correct, but prefer broadcast-sized catalogs on streams)
    cogroup_refine = not broadcast_aois and not points.isStreaming
    if multipart or salt > 1 or cogroup_refine:
        # per-ROW identity, captured BEFORE the join: the multipart
        # dedup must collapse (one input row x several parts of one
        # aoi_id) without also collapsing genuinely duplicated input
        # point rows (dedup on the point VALUES would), and the salts
        # must spread duplicate rows (the common cause of a hot cell
        # or hot polygon) across tasks instead of hashing them to one
        # key
        pts = pts.withColumn("_rowid", F.monotonically_increasing_id())

    if salt > 1:
        pts = pts.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("_rowid")), F.lit(salt)))
        cells = cells.withColumn("_salt", F.explode(F.lit(list(range(salt)))))
        join_keys = ["cell", "_salt"]
    else:
        join_keys = ["cell"]

    keep += (["_rowid long"] if multipart else []) + ["aoi_id string"]

    if cogroup_refine:
        # SHUFFLED-catalog plan: the candidate join must not carry the
        # ring buffers — an equi-join duplicating each AOI's packed
        # coordinates onto EVERY candidate row ships rings x candidate
        # fan-out through the exchange. Join on a slim (cell, part,
        # aoi_id) projection, then COGROUP candidates with the
        # one-row-per-part AOI table on (part, sub-salt): rings cross
        # the wire once per (part, salt group), and the sub-salt
        # bounds a hot polygon's group size (its right side is a
        # replicated single row, so salting costs nothing).
        out = _refine_cogroup(pts, cells, aoi_parts_src, join_keys, keep,
                              pip_rule, refine_salt)
    else:
        right = F.broadcast(cells) if broadcast_aois else cells
        out = _refine(pts.join(right, on=join_keys, how="inner"), keep,
                      pip_rule)
    if multipart:
        # multipart AOIs: a point row inside several parts of one
        # aoi_id must still produce ONE row — keyed on row identity,
        # so duplicate input rows each keep their own output row
        out = out.dropDuplicates(["_rowid", "aoi_id"]).drop("_rowid")
    return out


def _refine_cogroup(pts: DataFrame, cells: DataFrame,
                    aoi_parts_src: DataFrame,
                    join_keys: list, keep_cols: list, pip_rule: str,
                    refine_salt: int) -> DataFrame:
    """Exact PIP refine for the shuffled AOI-catalog path (see
    cell_pip_join): slim candidate join + per-(part, salt) cogroup
    against the one-row-per-part ring table. ``aoi_parts_src`` is the
    CHECKPOINTED part-id table `cells` was derived from — part ids are
    only consistent across the two consumers because both read the
    same materialized rows (a re-minted monotonically_increasing_id
    under a different partition layout mismatched ~97% of pairs in the
    1M-point scale test)."""
    pip = _pip(pip_rule)
    names = [c.split(" ")[0] for c in keep_cols]
    out_schema = ", ".join(keep_cols)

    slim = cells.select(*join_keys, "part", "aoi_id")
    cand = (pts.join(slim, on=join_keys, how="inner")
            .withColumn("_gsalt",
                        F.pmod(F.xxhash64("_rowid"), F.lit(refine_salt))))
    # _apart alias mints a fresh attribute: the cogroup sides otherwise
    # share exprIds (ambiguous self-join). _asalt MUST be cast to the
    # left side's long: cogroup keys are NOT type-coerced like join
    # keys — an int 3 and a long 3 hash to different shuffle
    # partitions, so mismatched-type groups silently fail to pair
    # (caught by the 1M-point scale check: ~97% of pairs vanished;
    # small fixtures pass by partition-collision luck)
    aoi_parts = (aoi_parts_src
                 .select(F.col("part").alias("_apart"),
                         "ring_offsets", "xs", "ys")
                 .withColumn("_asalt",
                             F.explode(F.lit(list(range(refine_salt)))))
                 .withColumn("_asalt", F.col("_asalt").cast("long")))

    def ring(aoi: pa.Table, col: str) -> np.ndarray:
        return aoi.column(col)[0].values.to_numpy(zero_copy_only=False)

    def kernel(pts: pa.Table, aoi: pa.Table) -> pa.Table:
        out = pts.select(names)
        if pts.num_rows == 0 or aoi.num_rows == 0:
            return out.slice(0, 0)
        inside = pip(pts.column("px").to_numpy(), pts.column("py").to_numpy(),
                     ring(aoi, "ring_offsets"), ring(aoi, "xs"),
                     ring(aoi, "ys"))
        return out.filter(inside)

    return cand.groupBy("part", "_gsalt").cogroup(
        aoi_parts.groupBy("_apart", "_asalt")) \
        .applyInArrow(kernel, schema=out_schema)


def point_tile_pyramid(points: DataFrame, zoom_max: int = 12,
                       zoom_min: int = 8, x_col: str = "x",
                       y_col: str = "y",
                       value_col: str = "value") -> DataFrame:
    """Point-density tile pyramid (the supercluster/heat-map serving
    shape): aggregate points onto web-mercator tiles at ``zoom_max``,
    then roll the per-tile partials up every level to ``zoom_min`` —
    each parent tile is the coordinate right-shift of its children,
    so the rollup is a pure integer regroup. Returns one row per
    (zoom, tx, ty): n points, exact decimal value sum, and the
    centroid NUMERATORS (sum_x/sum_y as decimals — emit sums, not
    means, so every level is an exact monoid fold and parents equal
    the sum of their children bit-for-bit; a tile server divides at
    render time).

    Scale shape: ONE corpus-sized shuffle (the zoom_max groupBy with
    map-side combine); the level explode runs on the AGGREGATED tile
    table (cells, not points) and its regroup touches
    n_tiles * n_levels rows. All keys integer, sums decimal-exact —
    hash-hard."""
    if zoom_min > zoom_max:
        raise ValueError("zoom_min must be <= zoom_max")
    ts = 2.0 * MAX_COORD / float(1 << zoom_max)
    tx = F.floor((F.col(x_col) + F.lit(MAX_COORD)) / F.lit(ts)) \
        .cast("long")
    ty = F.floor((F.col(y_col) + F.lit(MAX_COORD)) / F.lit(ts)) \
        .cast("long")
    base = (points
            .select(tx.alias("tx"), ty.alias("ty"),
                    F.col(x_col).cast("decimal(24,6)").alias("_x"),
                    F.col(y_col).cast("decimal(24,6)").alias("_y"),
                    F.col(value_col).cast("decimal(18,2)").alias("_v"))
            .groupBy("tx", "ty")
            .agg(F.count("*").alias("n"), F.sum("_v").alias("sv"),
                 F.sum("_x").alias("sx"), F.sum("_y").alias("sy")))
    lv = base.withColumn(
        "zoom", F.explode(F.sequence(F.lit(zoom_min), F.lit(zoom_max))))
    # per-row shift amount: shiftrightunsigned() in PySpark only takes
    # a literal bit count, so go through the SQL expression (parent
    # tile = child coords >> (zoom_max - zoom), exact integers)
    return (lv.groupBy("zoom",
                       F.expr(f"shiftrightunsigned(tx, {zoom_max} - zoom)")
                       .alias("tx"),
                       F.expr(f"shiftrightunsigned(ty, {zoom_max} - zoom)")
                       .alias("ty"))
            .agg(F.sum("n").cast("long").alias("n"),
                 F.sum("sv").cast("double").alias("sum_value"),
                 F.sum("sx").cast("double").alias("sum_x"),
                 F.sum("sy").cast("double").alias("sum_y"))
            .withColumn("zoom", F.col("zoom").cast("int")))
