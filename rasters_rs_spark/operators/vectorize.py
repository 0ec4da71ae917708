"""Raster -> vector operators: polygonize (connected-component region
extraction, the GDAL ``gdal_polygonize`` semantics) and marching-squares
contour cells.

The reference engine is raster->raster/aggregate only; these close the
vector direction of its raster<->vector model (reference chunking model:
src/chunking.rs — the strip decomposition here is the same plan). Both
operators are built for the 100 TB shape:

- ``polygonize_chunked`` never moves pixels through a shuffle: each
  chunk strip labels its own pixels with a vectorized numpy union-find
  (min-label propagation + pointer jumping — no per-pixel Python), and
  only FRAGMENT STATS plus the strip's two boundary rows leave the
  Arrow stage. Cross-strip merging runs on the boundary-pixel graph
  (O(image_width) rows per strip, not O(pixels)) via the engine's
  iterative connected-components surface, then one groupBy folds
  fragment stats into region stats. Pixel bytes are touched exactly
  once.
- ``contour_cases`` is one mapInPandas over image rows (zero
  shuffles): per 2x2 pixel cell it emits the marching-squares case
  index, segment count, the four edge-crossing parameters (exact IEEE
  divisions of dyadic values — hash-comparable against the DuckDB
  oracle) and the saddle disambiguation bit (center-mean rule).

Region labels are canonical: a region's label is the global row-major
pixel id (i*w + j) of its smallest member, so distributed and
whole-image paths agree bit-for-bit and the DuckDB recursive-CTE
oracle can pin them.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import codecs
from ..sources.io import local_table


def quantize_classes(block: np.ndarray, n_classes: int) -> np.ndarray:
    """Class id = floor(v * n_classes) clipped to [0, n_classes-1] —
    exact on the dyadic LCG grid (v in [0,1))."""
    cls = np.floor(block * n_classes).astype(np.int32)
    return np.clip(cls, 0, n_classes - 1)


def ccl_min_labels(cls: np.ndarray) -> np.ndarray:
    """4-connectivity connected-component labels for one class grid:
    every pixel gets the smallest row-major flat index of its
    component. Vectorized min-label relaxation over the fixed
    horizontal/vertical same-class edge lists with full pointer
    compression between rounds — O(edges) numpy work per round,
    rounds ~ O(log diameter), no per-pixel Python."""
    h, w = cls.shape
    n = h * w
    lab = np.arange(n, dtype=np.int64)
    flat = lab.reshape(h, w)
    hm = cls[:, :-1] == cls[:, 1:]
    vm = cls[:-1, :] == cls[1:, :]
    ea = np.concatenate([flat[:, :-1][hm], flat[:-1, :][vm]])
    eb = np.concatenate([flat[:, 1:][hm], flat[1:, :][vm]])
    if len(ea) == 0:
        return lab
    for _ in range(n):
        new = lab.copy()
        np.minimum.at(new, ea, lab[eb])
        np.minimum.at(new, eb, lab[ea])
        # full path compression: chase pointers to their roots
        while True:
            nxt = new[new]
            if np.array_equal(nxt, new):
                break
            new = nxt
        if np.array_equal(new, lab):
            return lab
        lab = new
    raise RuntimeError("ccl_min_labels failed to converge")  # unreachable


def _region_stats(cls: np.ndarray, lab: np.ndarray, row_offset: int,
                  w: int):
    """Aggregate (label, cls, n_pixels, perimeter, bbox) per component
    of one strip; labels/bboxes are in IMAGE coordinates (row_offset =
    the strip's absolute first row). Perimeter counts pixel sides
    whose 4-neighbor is a different class or OUTSIDE the strip — for
    the chunked path the strip-edge sides are corrected downstream by
    subtracting 2 per cross-strip same-class pair (each side was
    counted once by each strip)."""
    h = cls.shape[0]
    ii = np.repeat(np.arange(h, dtype=np.int64), w)
    jj = np.tile(np.arange(w, dtype=np.int64), h)
    roots, inv = np.unique(lab, return_inverse=True)
    n_pix = np.bincount(inv)
    min_i = np.full(len(roots), np.iinfo(np.int64).max)
    max_i = np.full(len(roots), -1, dtype=np.int64)
    min_j = np.full(len(roots), np.iinfo(np.int64).max)
    max_j = np.full(len(roots), -1, dtype=np.int64)
    np.minimum.at(min_i, inv, ii)
    np.maximum.at(max_i, inv, ii)
    np.minimum.at(min_j, inv, jj)
    np.maximum.at(max_j, inv, jj)
    # per-pixel boundary sides: 4 minus same-class in-strip neighbors
    same = np.zeros((h, w), dtype=np.int64)
    hm = cls[:, :-1] == cls[:, 1:]
    vm = cls[:-1, :] == cls[1:, :]
    same[:, :-1] += hm
    same[:, 1:] += hm
    same[:-1, :] += vm
    same[1:, :] += vm
    perim = np.zeros(len(roots), dtype=np.int64)
    np.add.at(perim, inv, (4 - same).ravel())
    glabel = roots + row_offset * w
    return pd.DataFrame({
        "label": glabel, "cls": cls.ravel()[roots],
        "n_pixels": n_pix.astype(np.int64),
        "perimeter": perim,
        "min_i": min_i + row_offset, "min_j": min_j,
        "max_i": max_i + row_offset, "max_j": max_j})


def polygonize(images: DataFrame, n_classes: int = 4) -> DataFrame:
    """Whole-image polygonize: one Arrow stage, region rows out
    (image_id, region_label, cls, n_pixels, perimeter, min_i, min_j,
    max_i, max_j); perimeter counts pixel sides on the region's
    4-boundary (different class or outside the image — the standard
    polygonize companion for compactness metrics); region_label = global row-major pixel id of the region's
    smallest member. Zero shuffles — the per-image kernel is the unit
    of work. For images that exceed one task's memory, use
    polygonize_chunked."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                block = codecs.decode_block(row.bytes, row.h, row.w,
                                            row.fmt)
                cls = quantize_classes(block, n_classes)
                lab = ccl_min_labels(cls)
                st = _region_stats(cls, lab, 0, int(row.w))
                st.insert(0, "image_id", row.image_id)
                st = st.rename(columns={"label": "region_label"})
                yield st

    schema = ("image_id string, region_label long, cls int, "
              "n_pixels long, perimeter long, min_i long, min_j long, "
              "max_i long, max_j long")
    return images.mapInPandas(gen, schema=schema)


# unified stage-1 output for the chunked path: fragment-stat rows
# (kind=0) and boundary-pixel rows (kind=1 top data row, kind=2
# bottom data row — distinct kinds so the cross-strip join can never
# pair two rows of the SAME strip) share one schema so the strip is
# decoded exactly once
_FRAG_SCHEMA = ("image_id string, kind int, label long, cls int, "
                "n_pixels long, perimeter long, min_i long, min_j long, "
                "max_i long, max_j long, i long, j long")


def _driver_union_find(pairs) -> list:
    """Union-find over a small collected edge list; returns
    (node, component) tuples with component = min member."""
    parent = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = set()
    for a, b in pairs:
        nodes.add(a)
        nodes.add(b)
    return [(n, find(n)) for n in nodes]


def polygonize_chunked(chunks: DataFrame, n_classes: int = 4,
                       max_iters: int = 25,
                       driver_graph_cap: int = 1_000_000) -> DataFrame:
    """Distributed polygonize over chunk strips (padding 0): local CCL
    per strip, then cross-strip merge on the boundary graph only.

    Scale shape: pixels never shuffle. Stage 1 emits per-strip
    fragment stats + the strip's first/last data rows (O(w) rows); the
    cross-strip edge join and the iterative min-label components both
    run on that boundary table, which is smaller than the raster by a
    factor of the strip height. The final groupBy folds fragment stats
    (sum/min/max are the region monoid) into exact region rows —
    bit-identical to whole-image polygonize (pytested)."""
    from .dedup import connected_components

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ds, de = int(row.data_start), int(row.data_end)
                ls, le = int(row.load_start), int(row.load_end)
                strip = codecs.decode_block(row.bytes, le - ls, row.w,
                                            row.fmt)
                data = strip[ds - ls:de - ls]
                w = int(row.w)
                cls = quantize_classes(data, n_classes)
                lab = ccl_min_labels(cls)
                st = _region_stats(cls, lab, ds, w)
                st = st.assign(kind=0, i=np.int64(-1), j=np.int64(-1))
                frames = [st]
                glab = (lab.reshape(cls.shape) + ds * w)
                # top row as kind=1, bottom row as kind=2: the
                # cross-strip join pairs top rows against bottom rows
                # only, so two rows of the SAME strip can never pair
                # (a height-1 strip emits its one row under both
                # kinds — it faces both neighbors)
                for kind, r_loc, r_abs in ((1, 0, ds),
                                           (2, cls.shape[0] - 1, de - 1)):
                    frames.append(pd.DataFrame({
                        "label": glab[r_loc], "cls": cls[r_loc],
                        "n_pixels": np.int64(0),
                        "perimeter": np.int64(0),
                        "min_i": np.int64(-1), "min_j": np.int64(-1),
                        "max_i": np.int64(-1), "max_j": np.int64(-1),
                        "kind": kind, "i": np.int64(r_abs),
                        "j": np.arange(w, dtype=np.int64)}))
                out = pd.concat(frames, ignore_index=True)
                out.insert(0, "image_id", row.image_id)
                yield out[["image_id", "kind", "label", "cls",
                           "n_pixels", "perimeter", "min_i", "min_j",
                           "max_i", "max_j", "i", "j"]]

    staged = chunks.mapInPandas(gen, schema=_FRAG_SCHEMA) \
                   .localCheckpoint(eager=True)
    frags = staged.where(F.col("kind") == 0)
    tops = staged.where(F.col("kind") == 1) \
                 .select("image_id", "cls", "label", "i", "j")
    bots = staged.where(F.col("kind") == 2) \
                 .select("image_id", "cls", "label", "i", "j")
    a, b = tops.alias("a"), bots.alias("b")
    # every cross-strip same-class adjacency, exactly once (a = the
    # lower strip's top row, b = the upper strip's bottom row)
    cross = (a.join(b, (F.col("a.image_id") == F.col("b.image_id"))
                    & (F.col("a.cls") == F.col("b.cls"))
                    & (F.col("a.j") == F.col("b.j"))
                    & (F.col("a.i") == F.col("b.i") + 1))
             .localCheckpoint(eager=True))
    # per-strip kernels counted a strip-edge side as boundary on BOTH
    # sides of every cross pair -> subtract 2 per pair from the merged
    # region's perimeter
    corr = cross.groupBy(F.col("a.image_id").alias("image_id"),
                         F.col("a.label").alias("label")) \
                .agg(F.count("*").alias("_n_cross"))
    pairs = cross.where(F.col("a.label") != F.col("b.label"))
    # connected_components takes min over STRING labels, so the numeric
    # label must be zero-padded to make lexicographic order == numeric
    # order (the repo's round-6 streaming-parity bug class: "10" < "5")
    def key(side):
        return F.concat_ws("\x01", F.col(f"{side}.image_id"),
                           F.lpad(F.col(f"{side}.label").cast("string"),
                                  20, "0"))
    pairs = pairs.select(key("a").alias("id_a"), key("b").alias("id_b"))
    # boundary-label graph only; empty when strips never split a
    # region. Hybrid merge (the house adaptive-broadcast pattern):
    # the graph is O(boundary fragments) — usually tiny next to the
    # raster — so when it fits under driver_graph_cap, collect it and
    # union-find on the driver (one job, bounded by the cap) instead
    # of paying ~2 shuffles per iterative round; the distributed
    # min-label path stays the fallback for adversarial stripings
    # (e.g. strip_height 1 over giant images)
    # one job for probe AND payload (round-8: the capped count and the
    # collect were two sequential jobs): collect at most cap+1 rows —
    # within the cap those ARE all the pairs; one row over means fall
    # back, nothing unbounded ever reaches the driver
    pair_rows = pairs.limit(driver_graph_cap + 1).collect()
    if len(pair_rows) <= driver_graph_cap:
        edge_list = [(r["id_a"], r["id_b"]) for r in pair_rows]
        mapping = _driver_union_find(edge_list)
        spark = chunks.sparkSession
        comp = F.broadcast(local_table(
            spark, mapping, "node string, component string"))
    else:
        comp = connected_components(pairs, max_iters=max_iters)
    comp = comp \
        .select(F.split(F.col("node"), "\x01").getItem(0)
                .alias("image_id"),
                F.split(F.col("node"), "\x01").getItem(1).cast("long")
                .alias("label"),
                F.split(F.col("component"), "\x01").getItem(1)
                .cast("long").alias("final_label"))
    merged = (frags.join(corr, ["image_id", "label"], "left")
              .join(comp, ["image_id", "label"], "left")
              .withColumn("final_label",
                          F.coalesce(F.col("final_label"),
                                     F.col("label"))))
    return (merged.groupBy("image_id",
                           F.col("final_label").alias("region_label"),
                           "cls")
            .agg(F.sum("n_pixels").alias("n_pixels"),
                 (F.sum("perimeter")
                  - 2 * F.sum(F.coalesce(F.col("_n_cross"), F.lit(0))))
                 .alias("perimeter"),
                 F.min("min_i").alias("min_i"),
                 F.min("min_j").alias("min_j"),
                 F.max("max_i").alias("max_i"),
                 F.max("max_j").alias("max_j")))


# ---------------------------------------------------------------------------
# Marching squares
# ---------------------------------------------------------------------------

# segment count per case: 0 for empty/full, 2 for the saddles, else 1
_MS_NSEG = np.array([0, 1, 1, 1, 1, 2, 1, 1, 1, 1, 2, 1, 1, 1, 1, 0],
                    dtype=np.int64)


def contour_cases(images: DataFrame, level: float = 0.5) -> DataFrame:
    """Marching-squares cell table: for every 2x2 pixel cell (top-left
    corner i,j) emit the case index (bit order TL + 2*TR + 4*BR +
    8*BL of v >= level), segment count, the four edge-crossing
    parameters t in (0,1) (NULL when the edge has no crossing;
    t = (level - v_a) / (v_b - v_a) along top: TL->TR, right: TR->BR,
    bottom: BL->BR, left: TL->BL), and the saddle disambiguation bit
    (center mean >= level; NULL for non-saddle cases).

    One mapInPandas over image rows, zero shuffles. On the dyadic LCG
    fixtures every t is an exact IEEE division of exact values, so the
    full table (including the doubles) is hash-hard against the DuckDB
    mirror. Polyline assembly from this table is row-local per cell
    chain; the cell table itself is the distributed product (the same
    contract GDAL's contour writer consumes)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                v = codecs.decode_block(row.bytes, row.h, row.w, row.fmt)
                tl, tr = v[:-1, :-1], v[:-1, 1:]
                bl, br = v[1:, :-1], v[1:, 1:]
                b0 = (tl >= level).astype(np.int64)
                b1 = (tr >= level).astype(np.int64)
                b2 = (br >= level).astype(np.int64)
                b3 = (bl >= level).astype(np.int64)
                case = b0 + 2 * b1 + 4 * b2 + 8 * b3
                h, w = case.shape

                def t_of(va, vb, ba, bb):
                    with np.errstate(divide="ignore", invalid="ignore"):
                        t = (level - va) / (vb - va)
                    return np.where(ba != bb, t, np.nan).ravel()

                center = (tl + tr + bl + br) / 4.0
                saddle = np.isin(case, (5, 10))
                out = pd.DataFrame({
                    "image_id": row.image_id,
                    "i": np.repeat(np.arange(h, dtype=np.int64), w),
                    "j": np.tile(np.arange(w, dtype=np.int64), h),
                    "case_idx": case.ravel(),
                    "n_segments": _MS_NSEG[case.ravel()],
                    "t_top": t_of(tl, tr, b0, b1),
                    "t_right": t_of(tr, br, b1, b2),
                    "t_bottom": t_of(bl, br, b3, b2),
                    "t_left": t_of(tl, bl, b0, b3),
                    "saddle_high": pd.array(
                        np.where(saddle.ravel(),
                                 center.ravel() >= level, False),
                        dtype="boolean"),
                })
                for c in ("t_top", "t_right", "t_bottom", "t_left"):
                    out[c] = pd.array(out[c], dtype="Float64")
                    out.loc[out[c].isna(), c] = pd.NA
                out.loc[~saddle.ravel(), "saddle_high"] = pd.NA
                yield out

    schema = ("image_id string, i long, j long, case_idx long, "
              "n_segments long, t_top double, t_right double, "
              "t_bottom double, t_left double, saddle_high boolean")
    return images.mapInPandas(gen, schema=schema)


# marching-squares segment table: case -> list of (edge_a, edge_b)
# pairs, edges coded T/R/B/L; saddles (5, 10) resolved at runtime by
# the center-mean rule (same rule contour_cases reports)
_MS_SEGMENTS = {
    0: [], 15: [],
    1: [("L", "T")], 2: [("T", "R")], 3: [("L", "R")],
    4: [("R", "B")], 6: [("T", "B")], 7: [("L", "B")],
    8: [("B", "L")], 9: [("T", "B")], 11: [("R", "B")],
    12: [("R", "L")], 13: [("T", "R")], 14: [("L", "T")],
}


def _cell_edges(i, j, case, center_high):
    if case == 5:
        # TL+BR high: center high joins them -> isolate TR and BL
        return [("T", "R"), ("B", "L")] if center_high \
            else [("T", "L"), ("R", "B")]
    if case == 10:
        return [("T", "L"), ("R", "B")] if center_high \
            else [("T", "R"), ("B", "L")]
    return _MS_SEGMENTS[case]


def _edge_key(i, j, e):
    """Global id of a cell-edge: horizontal crossing edges H(i,j) sit
    between pixels (i,j)-(i,j+1); vertical V(i,j) between
    (i,j)-(i+1,j). Cell (i,j)'s T = H(i,j), B = H(i+1,j), L = V(i,j),
    R = V(i,j+1) — shared edges get one key from both sides."""
    if e == "T":
        return ("H", i, j)
    if e == "B":
        return ("H", i + 1, j)
    if e == "L":
        return ("V", i, j)
    return ("V", i, j + 1)


def assemble_polylines_block(v: np.ndarray, level: float):
    """Marching-squares polylines for one decoded block, pixel-space
    coords (x = column, y = row). Returns a list of dicts
    (closed, xs, ys) in canonical order: every chain starts at its
    lexicographically smallest (x, y) point (open chains: smaller
    endpoint first; closed loops: rotated + oriented), chains sorted
    by their start point. Deterministic — safe for rows-only contract
    entries and golden tests."""
    tl, tr = v[:-1, :-1], v[:-1, 1:]
    bl, br = v[1:, :-1], v[1:, 1:]
    b0, b1 = tl >= level, tr >= level
    b2, b3 = br >= level, bl >= level
    case = (b0.astype(int) + 2 * b1.astype(int) + 4 * b2.astype(int)
            + 8 * b3.astype(int))
    center_high = (tl + tr + bl + br) / 4.0 >= level

    def crossing_pt(i, j, e):
        if e == "T":
            t = (level - v[i, j]) / (v[i, j + 1] - v[i, j])
            return (j + t, float(i))
        if e == "B":
            t = (level - v[i + 1, j]) / (v[i + 1, j + 1] - v[i + 1, j])
            return (j + t, float(i + 1))
        if e == "L":
            t = (level - v[i, j]) / (v[i + 1, j] - v[i, j])
            return (float(j), i + t)
        t = (level - v[i, j + 1]) / (v[i + 1, j + 1] - v[i, j + 1])
        return (float(j + 1), i + t)

    adj = {}
    pts = {}
    ci, cj = np.nonzero((case > 0) & (case < 15))
    for i, j in zip(ci.tolist(), cj.tolist()):
        for (ea, eb) in _cell_edges(i, j, case[i, j],
                                    bool(center_high[i, j])):
            ka, kb = _edge_key(i, j, ea), _edge_key(i, j, eb)
            pts.setdefault(ka, crossing_pt(i, j, ea))
            pts.setdefault(kb, crossing_pt(i, j, eb))
            adj.setdefault(ka, []).append(kb)
            adj.setdefault(kb, []).append(ka)

    seen = set()
    chains = []

    def walk(start):
        chain = [start]
        seen.add(start)
        prev = None
        cur = start
        while True:
            nxts = [n for n in adj[cur] if n != prev]
            nxts = [n for n in nxts if n not in seen or
                    (n == start and len(chain) > 2)]
            if not nxts:
                return chain, False
            nxt = nxts[0]
            if nxt == start:
                return chain, True
            chain.append(nxt)
            seen.add(nxt)
            prev, cur = cur, nxt

    # open chains first (degree-1 endpoints), then closed loops
    for k in sorted(adj, key=lambda k: pts[k]):
        if k in seen or len(adj[k]) != 1:
            continue
        chain, closed = walk(k)
        chains.append((chain, closed))
    for k in sorted(adj, key=lambda k: pts[k]):
        if k in seen:
            continue
        chain, closed = walk(k)
        chains.append((chain, closed))

    out = []
    for chain, closed in chains:
        p = [pts[k] for k in chain]
        if closed:
            m = min(range(len(p)), key=lambda ix: p[ix])
            p = p[m:] + p[:m]
            if len(p) > 2 and p[1] > p[-1]:
                p = [p[0]] + p[1:][::-1]
        elif p[-1] < p[0]:
            p = p[::-1]
        out.append({"closed": closed,
                    "xs": [q[0] for q in p], "ys": [q[1] for q in p]})
    out.sort(key=lambda c: (c["xs"][0], c["ys"][0]))
    return out


def contour_polylines(images: DataFrame, level: float = 0.5,
                      world: bool = False) -> DataFrame:
    """Assembled marching-squares contour polylines, one row per chain:
    (image_id, line_id, closed, n_points, xs, ys) in pixel
    coordinates, or in world coordinates through each image's
    geo-transform when ``world=True`` (pixel-CENTER convention: grid
    vertex (x, y) sits at pixel center (j, i), matching the engine's
    +0.5 center rule — gdal_contour's convention). One mapInPandas over image rows, zero shuffles —
    assembly is row-local per image (chains never cross image
    boundaries; for chunked rasters, assemble per strip and join
    chains at strip borders via the shared t values, the same
    boundary-merge shape polygonize_chunked uses). Canonical chain
    ordering/orientation makes the output deterministic; the cell
    table this assembles (contour_cases) is the hash-hard oracled
    surface, so this operator is a rows-only contract entry with its
    geometry pinned by pytest invariants (segment-count conservation,
    edge-consistency, circle/plane goldens)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                v = codecs.decode_block(row.bytes, row.h, row.w, row.fmt)
                chains = assemble_polylines_block(v, level)
                if not chains:
                    continue
                if world:
                    gx, a = float(row.gt[0]), float(row.gt[1])
                    gy, e = float(row.gt[3]), float(row.gt[5])
                    for c in chains:
                        c["xs"] = [gx + (x + 0.5) * a for x in c["xs"]]
                        c["ys"] = [gy + (y + 0.5) * e for y in c["ys"]]
                yield pd.DataFrame({
                    "image_id": row.image_id,
                    "line_id": np.arange(len(chains), dtype=np.int64),
                    "closed": [c["closed"] for c in chains],
                    "n_points": np.array([len(c["xs"]) for c in chains],
                                         dtype=np.int64),
                    "xs": [c["xs"] for c in chains],
                    "ys": [c["ys"] for c in chains],
                })

    schema = ("image_id string, line_id long, closed boolean, "
              "n_points long, xs array<double>, ys array<double>")
    return images.mapInPandas(gen, schema=schema)


# ---------------------------------------------------------------------------
# Boundary tracing: regions -> vector rings (the gdal_polygonize output)
# ---------------------------------------------------------------------------

def trace_region_boundaries(member_mask: np.ndarray):
    """Boundary rings of one region (a boolean pixel mask) on the
    pixel-corner lattice: every exposed pixel side becomes a unit
    edge directed with the region interior on its right; chaining the
    edges yields the outer ring plus one ring per hole. At
    checkerboard corners (two diagonal region pixels sharing the
    point) the walker takes the rightmost turn, which keeps
    4-connected regions' boundaries simple. Collinear runs compress
    to their corner points. Returns a list of (is_hole, xs, ys) with
    a canonical start (lexicographically smallest corner) and
    orientation fixed by the tracing rule; shoelace(outer) - sum of
    |shoelace(holes)| == pixel count EXACTLY (tested)."""
    h, w = member_mask.shape
    m = np.zeros((h + 2, w + 2), dtype=bool)
    m[1:-1, 1:-1] = member_mask
    core = m[1:-1, 1:-1]
    edges = {}  # start point -> list of (end point, dir)

    def add(x1, y1, x2, y2, d):
        edges.setdefault((x1, y1), []).append(((x2, y2), d))

    ii, jj = np.nonzero(core & ~m[:-2, 1:-1])    # top exposed
    for i, j in zip(ii.tolist(), jj.tolist()):
        add(j, i, j + 1, i, 0)
    ii, jj = np.nonzero(core & ~m[1:-1, 2:])     # right exposed
    for i, j in zip(ii.tolist(), jj.tolist()):
        add(j + 1, i, j + 1, i + 1, 1)
    ii, jj = np.nonzero(core & ~m[2:, 1:-1])     # bottom exposed
    for i, j in zip(ii.tolist(), jj.tolist()):
        add(j + 1, i + 1, j, i + 1, 2)
    ii, jj = np.nonzero(core & ~m[1:-1, :-2])    # left exposed
    for i, j in zip(ii.tolist(), jj.tolist()):
        add(j, i + 1, j, i, 3)

    # rightmost-turn priority per incoming direction d:
    # right turn, straight, left turn (u-turns impossible)
    prio = {d: ((d + 1) % 4, d, (d + 3) % 4) for d in range(4)}
    rings = []
    used = set()
    starts = sorted(edges)
    for s in starts:
        for (e0, d0) in edges[s]:
            if (s, e0) in used:
                continue
            ring = [s]
            cur, d = e0, d0
            used.add((s, cur))
            while cur != s:
                ring.append(cur)
                outs = {dd: ee for (ee, dd) in edges.get(cur, [])
                        if (cur, ee) not in used}
                nxt = None
                for dd in prio[d]:
                    if dd in outs:
                        nxt = (outs[dd], dd)
                        break
                assert nxt is not None, "open boundary chain"
                used.add((cur, nxt[0]))
                cur, d = nxt
            # compress collinear runs
            comp = []
            n = len(ring)
            for k in range(n):
                px, py = ring[(k - 1) % n]
                cx, cy = ring[k]
                nx, ny = ring[(k + 1) % n]
                if (cx - px, cy - py) != (nx - cx, ny - cy):
                    comp.append((cx, cy))
            # canonical start: smallest corner
            mi = min(range(len(comp)), key=lambda ix: comp[ix])
            comp = comp[mi:] + comp[:mi]
            area2 = 0
            for k in range(len(comp)):
                x1, y1 = comp[k]
                x2, y2 = comp[(k + 1) % len(comp)]
                area2 += x1 * y2 - x2 * y1
            # y grows downward, so the interior-on-right outer ring
            # has positive doubled shoelace area in (x, y-down)
            rings.append((area2 < 0,
                          [float(p[0]) for p in comp],
                          [float(p[1]) for p in comp]))
    # outer ring first, then holes by start point
    rings.sort(key=lambda r: (r[0], r[1][0], r[2][0]))
    return rings


def polygonize_boundaries(images: DataFrame,
                          n_classes: int = 4) -> DataFrame:
    """Full vector polygonize: region rings as coordinate arrays in
    pixel-corner space — the gdal_polygonize output shape. One row per
    ring: (image_id, region_label, cls, ring_id, is_hole, n_points,
    xs, ys). Row-local per image (tracing needs the whole region;
    images that exceed one task use polygonize_chunked's region stats
    and trace per-region tiles downstream). Rows-only contract entry;
    the geometry is pinned by the EXACT shoelace identity
    (outer area - hole areas == n_pixels, integers) and golden ring
    tests, and the region set itself by the hash-hard
    polygonize_regions_synth row."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                block = codecs.decode_block(row.bytes, row.h, row.w,
                                            row.fmt)
                cls = quantize_classes(block, n_classes)
                lab = ccl_min_labels(cls).reshape(cls.shape)
                out = []
                for label in np.unique(lab):
                    mask = lab == label
                    li, lj = np.divmod(int(label), int(row.w))
                    c = int(cls[li, lj])
                    for rid, (is_hole, xs, ys) in enumerate(
                            trace_region_boundaries(mask)):
                        out.append((row.image_id, int(label), c, rid,
                                    bool(is_hole), len(xs), xs, ys))
                if out:
                    yield pd.DataFrame(out, columns=[
                        "image_id", "region_label", "cls", "ring_id",
                        "is_hole", "n_points", "xs", "ys"])

    schema = ("image_id string, region_label long, cls int, "
              "ring_id int, is_hole boolean, n_points int, "
              "xs array<double>, ys array<double>")
    return images.mapInPandas(gen, schema=schema)
