"""Hexagonal cell index: the H3-style analytics grid, pure Catalyst.

The engine's primary cell index is the square web-mercator tile grid
(`functions/mercator.py`, mirroring raster-tile/tiling/web_mercator.rs:
43-102); this module adds the hexagonal companion the brief's H3/S2
index layer calls for.  Hexagons are the canonical analytics binning
cell (every neighbor shares a full edge, all 6 neighbor centers are
equidistant, k-ring neighborhoods are isotropic), and an axial-
coordinate hex grid over the engine's planar web-mercator coordinates
gives H3's analytics semantics — hex binning, k-ring expansion,
integer cell distance — without H3's icosahedral projection (whose
purpose is global-sphere coverage, already served here by the WM
grid / the quad-sphere index in `functions/s2grid.py`).

All cell math is classic public axial/cube-coordinate geometry
(pointy-top orientation):

    fractional axial   qf = (x/sqrt(3) - y/3) / size
                       rf = (2y/3) / size
    cube round         (q, r) = round-to-nearest-cube-lattice point

and every operator here is a pure Catalyst expression tree — no UDFs,
no Python in the hot path — with an exactly-mirrored DuckDB SQL
emitter (`hex_cell_sql`) so cell assignments are engine-bit-exact:
the only operations are IEEE +,-,*,/ on shared double literals plus
floor/abs/CASE, all of which both engines evaluate identically.

``size`` is the hexagon circumradius (center -> corner) in map units.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..sources.io import local_table

# exact double constants, shared verbatim by the Spark and SQL sides
C_INV_SQRT3 = 1.0 / math.sqrt(3.0)   # 0.5773502691896258
C_1_3 = 1.0 / 3.0
C_2_3 = 2.0 / 3.0
SQRT3 = math.sqrt(3.0)


def _lit(v: float) -> str:
    """DuckDB double literal (bare floats parse as DECIMAL there)."""
    return f"{v:.17e}"


# ---------------------------------------------------------------------------
# cell assignment
# ---------------------------------------------------------------------------

def with_hex_cell(df: DataFrame, x_col: str = "x", y_col: str = "y",
                  size: float = 250.0, q_out: str = "hq",
                  r_out: str = "hr") -> DataFrame:
    """Assign each (x, y) point its axial hex cell (``hq``, ``r``) as
    long columns.  Pure Catalyst: fractional axial coords, then the
    standard cube-round (round each cube coordinate, then repair the
    one with the largest rounding error so q + r + s == 0 holds).

    Rounding is ``floor(v + 0.5)`` — not half-even ``round`` — so the
    tie rule is identical in Spark and DuckDB.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    qf = (x * F.lit(C_INV_SQRT3) - y * F.lit(C_1_3)) / F.lit(float(size))
    rf = (y * F.lit(C_2_3)) / F.lit(float(size))
    df = df.withColumn("_qf", qf).withColumn("_rf", rf) \
           .withColumn("_yf", -F.col("_qf") - F.col("_rf"))
    rx = F.floor(F.col("_qf") + F.lit(0.5))
    ry = F.floor(F.col("_yf") + F.lit(0.5))
    rz = F.floor(F.col("_rf") + F.lit(0.5))
    df = df.withColumn("_rx", rx).withColumn("_ry", ry).withColumn("_rz", rz)
    dx = F.abs(F.col("_rx").cast("double") - F.col("_qf"))
    dy = F.abs(F.col("_ry").cast("double") - F.col("_yf"))
    dz = F.abs(F.col("_rz").cast("double") - F.col("_rf"))
    df = df.withColumn("_dx", dx).withColumn("_dy", dy).withColumn("_dz", dz)
    fix_x = (F.col("_dx") > F.col("_dy")) & (F.col("_dx") > F.col("_dz"))
    hq = F.when(fix_x, -F.col("_ry") - F.col("_rz")).otherwise(F.col("_rx"))
    hr = F.when(~fix_x & (F.col("_dz") > F.col("_dy")),
                -F.col("_rx") - F.col("_ry")).otherwise(F.col("_rz"))
    return df.withColumn(q_out, hq.cast("long")) \
             .withColumn(r_out, hr.cast("long")) \
             .drop("_qf", "_rf", "_yf", "_rx", "_ry", "_rz",
                   "_dx", "_dy", "_dz")


def hex_cell_sql(x_sql: str, y_sql: str, size: float,
                 from_clause: str, extra_cols: str = "") -> str:
    """DuckDB mirror of :func:`with_hex_cell`: a CTE chain computing
    ``hq``/``hr`` with the identical expression tree and identical
    double literals (``:.17e`` so they parse as DOUBLE, not DECIMAL).
    ``extra_cols`` (e.g. ``"event_id, value"``) are carried through.
    """
    carry = f"{extra_cols}, " if extra_cols else ""
    s = _lit(float(size))
    return f"""
        WITH _hx0 AS (
          SELECT {carry}
                 (({x_sql}) * {_lit(C_INV_SQRT3)}
                  - ({y_sql}) * {_lit(C_1_3)}) / {s} AS qf,
                 (({y_sql}) * {_lit(C_2_3)}) / {s} AS rf
          {from_clause}
        ), _hx1 AS (
          SELECT {carry} qf, rf, -qf - rf AS yf,
                 floor(qf + 5.0e-01) AS rx,
                 floor(-qf - rf + 5.0e-01) AS ry,
                 floor(rf + 5.0e-01) AS rz
          FROM _hx0
        ), _hx2 AS (
          SELECT {carry} rx, ry, rz,
                 abs(rx - qf) AS dx, abs(ry - yf) AS dy,
                 abs(rz - rf) AS dz
          FROM _hx1
        )
        SELECT {carry}
               CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz
                         ELSE rx END AS BIGINT) AS hq,
               CAST(CASE WHEN NOT (dx > dy AND dx > dz) AND dz > dy
                         THEN -rx - ry ELSE rz END AS BIGINT) AS hr
        FROM _hx2
    """


def hex_cell_np(x, y, size: float):
    """Vectorized numpy mirror of :func:`with_hex_cell` (tests)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    qf = (x * C_INV_SQRT3 - y * C_1_3) / float(size)
    rf = (y * C_2_3) / float(size)
    yf = -qf - rf
    rx = np.floor(qf + 0.5)
    ry = np.floor(yf + 0.5)
    rz = np.floor(rf + 0.5)
    dx, dy, dz = np.abs(rx - qf), np.abs(ry - yf), np.abs(rz - rf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    hq = np.where(fix_x, -ry - rz, rx)
    hr = np.where(fix_z, -rx - ry, rz)
    return hq.astype(np.int64), hr.astype(np.int64)


# ---------------------------------------------------------------------------
# centers, distance, k-ring
# ---------------------------------------------------------------------------

def hex_center_exprs(q_col: str = "hq", r_col: str = "hr",
                     size: float = 250.0):
    """(cx, cy) Catalyst expressions for a cell's center point."""
    q = F.col(q_col).cast("double")
    r = F.col(r_col).cast("double")
    cx = F.lit(float(size)) * (F.lit(SQRT3) * q + F.lit(SQRT3) / F.lit(2.0) * r)
    cy = F.lit(float(size)) * (F.lit(1.5) * r)
    return cx, cy


def hex_center_np(q, r, size: float):
    q = np.asarray(q, dtype=np.float64)
    r = np.asarray(r, dtype=np.float64)
    return (float(size) * (SQRT3 * q + SQRT3 / 2.0 * r),
            float(size) * (1.5 * r))


#: Integer hex-grid distance between two axial cells as a SQL template:
#: (|dq| + |dr| + |dq + dr|) / 2 in exact BIGINT arithmetic.
HEX_DIST_SQL = ("CAST((abs({q1} - {q2}) + abs({r1} - {r2}) "
                "+ abs({q1} + {r1} - {q2} - {r2})) / 2 AS BIGINT)")


def kring_explode(df: DataFrame, q_col: str = "hq", r_col: str = "hr",
                  k: int = 1, nq_out: str = "nq", nr_out: str = "nr",
                  ring_out: str = "ring") -> DataFrame:
    """Expand each cell row to its full k-ring: every cell within hex
    distance <= k, tagged with its exact ring (hex distance).  Emits
    1 + 3k(k+1) rows per input via two nested ``sequence`` explodes —
    pure Catalyst generators, no Python, no driver loop.  This is the
    H3 ``grid_disk`` analogue and the candidate-cell generator for
    cell-keyed k-ring joins: explode the (small) query side, equi-join
    the (huge) point side on the cell key, never distance-filter a
    cross join.
    """
    df = df.withColumn("_dq", F.explode(F.sequence(F.lit(-k), F.lit(k))))
    lo = F.greatest(F.lit(-k), -F.col("_dq") - F.lit(k))
    hi = F.least(F.lit(k), -F.col("_dq") + F.lit(k))
    df = df.withColumn("_dr", F.explode(F.sequence(lo, hi)))
    ring = ((F.abs(F.col("_dq")) + F.abs(F.col("_dr"))
             + F.abs(F.col("_dq") + F.col("_dr"))) / F.lit(2)).cast("long")
    return (df.withColumn(nq_out, (F.col(q_col) + F.col("_dq")).cast("long"))
              .withColumn(nr_out, (F.col(r_col) + F.col("_dr")).cast("long"))
              .withColumn(ring_out, ring)
              .drop("_dq", "_dr"))


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------

def hex_bin_stats(points: DataFrame, x_col: str = "x", y_col: str = "y",
                  value_col: str = "value", size: float = 500.0) -> DataFrame:
    """Hex binning — the H3 analytics primitive: one shuffle, map-side
    partial aggregation, output bounded by the number of occupied
    cells.  Sums ride DECIMAL(18,2) so they are order-free exact (the
    engine's standard oracle-able aggregation discipline).
    """
    cells = with_hex_cell(points, x_col, y_col, size)
    return cells.groupBy("hq", "hr").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col(value_col).cast("decimal(18,2)"))
         .cast("double").alias("sum_value"),
    )


def hex_kring_join(queries: DataFrame, points: DataFrame,
                   x_col: str = "x", y_col: str = "y",
                   size: float = 250.0, k: int = 2) -> DataFrame:
    """Count points per (query cell, ring) for every ring 0..k.

    Scale shape: the QUERY side (small) explodes to its 1 + 3k(k+1)
    k-ring cells; the POINT side (huge) is touched once, keyed by its
    own cell, and equi-joined on the cell key — a shuffle-or-broadcast
    hash join Catalyst/AQE is free to pick, never an all-pairs
    distance filter over the corpus.  Returns one row per query cell
    per non-empty ring: (hq, hr, ring, n).

    (Round-8 A/B: forcing a broadcast of the exploded query side —
    the "obvious" scale hint — measured 0.96-1.27s vs 0.80-0.89s for
    AQE's own runtime choice at sf0.1, because the hint serializes the
    join onto the narrow point scan; AQE already broadcasts whichever
    side is ACTUALLY small at runtime, which is also the correct
    behavior on a huge point corpus. Left deliberately un-hinted.)
    """
    qcells = kring_explode(queries.select("hq", "hr").distinct(),
                           "hq", "hr", k=k)
    pcells = with_hex_cell(points, x_col, y_col, size,
                           q_out="pq", r_out="pr")
    joined = qcells.join(
        pcells, (F.col("nq") == F.col("pq")) & (F.col("nr") == F.col("pr")))
    return joined.groupBy("hq", "hr", "ring").agg(
        F.count("*").cast("bigint").alias("n"))


# ---------------------------------------------------------------------------
# polyfill (H3 polygon_to_cells semantics: center containment)
# ---------------------------------------------------------------------------

def hex_polyfill(aois: DataFrame, size: float = 250.0,
                 id_col: str = "aoi_id", xs_col: str = "xs",
                 ys_col: str = "ys") -> DataFrame:
    """H3 ``polygon_to_cells`` (polyfill) for single-ring polygons:
    every hex cell whose CENTER lies inside the polygon (H3's
    centroid-containment rule — polyfill is an assignment partition,
    not a covering). Returns (id, hq, hr, cx, cy).

    Pure Catalyst, zero UDFs, zero shuffles: candidate cells come from
    two nested ``sequence`` explodes over the polygon's bbox in axial
    coordinates (row range from the bbox y-span, per-row column range
    from the x-span shifted by the axial shear, each padded one cell
    for rounding), and the even-odd point-in-polygon test runs as a
    higher-order array expression over the packed coordinate arrays
    (filter over edge indices counting ray crossings, element_at
    lookups — the same even-odd rule the zonal oracle mirrors
    edge-for-edge). Candidate count is O(area / cell_area) per
    polygon and AOI rows fan out independently, so the operator
    scales as a generator stage on the AOI table; the giant side of
    any polyfill-driven join equi-joins on (hq, hr) downstream.

    Multi-ring AOIs (holes) would extend the crossing count over all
    rings — the even-odd rule already handles holes; single ring kept
    here to match the packed single-ring fixtures."""
    s = float(size)
    xs, ys = F.col(xs_col), F.col(ys_col)
    xmin, xmax = F.array_min(xs), F.array_max(xs)
    ymin, ymax = F.array_min(ys), F.array_max(ys)
    r0 = F.floor(ymin / F.lit(1.5 * s)).cast("long") - F.lit(1)
    r1 = F.floor(ymax / F.lit(1.5 * s)).cast("long") + F.lit(2)
    d = aois.select(F.col(id_col), xs.alias("_xs"), ys.alias("_ys"),
                    xmin.alias("_x0"), xmax.alias("_x1"),
                    F.explode(F.sequence(r0, r1)).alias("hr"))
    ro2 = F.col("hr").cast("double") / F.lit(2.0)
    q0 = (F.floor(F.col("_x0") / F.lit(SQRT3 * s) - ro2).cast("long")
          - F.lit(1))
    q1 = (F.floor(F.col("_x1") / F.lit(SQRT3 * s) - ro2).cast("long")
          + F.lit(2))
    d = d.withColumn("hq", F.explode(F.sequence(q0, q1)))
    cx, cy = hex_center_exprs("hq", "hr", s)
    d = d.withColumn("_cx", cx).withColumn("_cy", cy)
    n = F.size(F.col("_xs"))
    idx = F.sequence(F.lit(0), n - F.lit(1))

    def crossing(i):
        xi = F.element_at(F.col("_xs"), i + 1)
        yi = F.element_at(F.col("_ys"), i + 1)
        j = (i + 1) % n
        xj = F.element_at(F.col("_xs"), j + 1)
        yj = F.element_at(F.col("_ys"), j + 1)
        straddles = (yi > F.col("_cy")) != (yj > F.col("_cy"))
        t = (F.col("_cy") - yi) / (yj - yi)
        return straddles & (F.col("_cx") < xi + (xj - xi) * t)

    inside = F.size(F.filter(idx, crossing)) % 2 == 1
    return (d.where(inside)
            .select(F.col(id_col), F.col("hq"), F.col("hr"),
                    F.col("_cx").alias("cx"), F.col("_cy").alias("cy")))


def hex_hotspots(points: DataFrame, x_col: str = "x", y_col: str = "y",
                 value_col: str = "value", size: float = 500.0,
                 k: int = 1) -> DataFrame:
    """Getis-Ord Gi* hotspot z-scores over the hex-binned value
    surface (the standard hotspot-analysis statistic, computed over
    the OCCUPIED cells of the binned lattice; binary k-ring weights,
    self included — the usual Gi* convention):

        Gi* = (S1_i - xbar * W_i)
              / (S * sqrt((N * W_i - W_i^2) / (N - 1)))

    with S1_i = sum of neighbor cell values, W_i = occupied-neighbor
    count, xbar / S the global mean / sqrt(E[x^2] - xbar^2).

    Exactness discipline: cell values and ALL the sums feeding the
    moments (sum x, sum x^2 as decimal products, neighbor sums) are
    exact decimals; only the final mean/variance/z divisions run in
    double, as one fixed expression tree both engines evaluate
    identically — so the z-scores themselves are hash-hard.

    Scale shape: one binning shuffle; the k-ring explode runs on the
    CELL table (1 + 3k(k+1) per occupied cell), equi-joins back on
    the cell key; the two global scalars broadcast. Cells with
    undefined z (S == 0 or N < 2) return NULL."""
    bins = with_hex_cell(points, x_col, y_col, size) \
        .groupBy("hq", "hr").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_xv"))
    # re-narrow the cell sum to (18,2) before squaring: the (p,2)x(p,2)
    # product must stay under both engines' 38-digit decimal cap
    xv = F.col("_xv").cast("decimal(18,2)")
    # eager checkpoint (round-8): bins feeds FOUR consumers below (the
    # global moments, the kring explode, the neighbor side, and the
    # final join) — unmaterialized, the corpus binning aggregation ran
    # four times (4 source scans in the plan); the bins table itself is
    # bounded by occupied cells, never by points
    bins = bins.select(
        "hq", "hr", "n", F.col("_xv").cast("double").alias("x"),
        (xv * xv).alias("_xv2"), xv.alias("_xv")) \
        .localCheckpoint(eager=True)
    g = bins.agg(
        F.count("*").cast("long").alias("nn"),
        F.sum("_xv").cast("double").alias("sx"),
        F.sum("_xv2").cast("double").alias("sx2"))
    ring = kring_explode(bins.select("hq", "hr"), "hq", "hr", k=k)
    nb = bins.select(F.col("hq").alias("nq"), F.col("hr").alias("nr"),
                     F.col("_xv").alias("_nv"))
    s1 = (ring.join(nb, ["nq", "nr"])
          .groupBy("hq", "hr")
          .agg(F.count("*").cast("long").alias("w"),
               F.sum("_nv").cast("double").alias("s1")))
    d = bins.select("hq", "hr", "n", "x") \
        .join(s1, ["hq", "hr"]).crossJoin(F.broadcast(g))
    xbar = F.col("sx") / F.col("nn")
    s = F.sqrt(F.col("sx2") / F.col("nn") - xbar * xbar)
    w = F.col("w").cast("double")
    nn = F.col("nn").cast("double")
    denom = s * F.sqrt((nn * w - w * w) / (nn - F.lit(1.0)))
    z = F.when((F.col("nn") > 1) & (denom > 0),
               (F.col("s1") - xbar * w) / denom)
    return d.select("hq", "hr", "n", "x",
                    F.col("w").alias("w_neighbors"),
                    F.col("s1").alias("neighbor_sum"),
                    z.alias("gi_z"))


def hex_density_clusters(points: DataFrame, x_col: str = "x",
                         y_col: str = "y", size: float = 500.0,
                         min_count: int = 5, max_iters: int = 25,
                         driver_graph_cap: int = 1_000_000) -> DataFrame:
    """Grid-DBSCAN spatial clustering: hex-bin the points, keep DENSE
    cells (n >= min_count), and connect dense cells that are hex
    neighbors (distance 1) into clusters — the cell-grid variant of
    DBSCAN that the density-based clustering literature uses at scale
    (clustering cost depends on occupied cells, never on point
    pairs). Cluster id = the packed (hq, hr) key of the cluster's
    smallest cell under (hq, hr) ordering — canonical and
    oracle-mirrorable. Returns (hq, hr, n, cluster_q, cluster_r,
    cluster_size_cells, cluster_n_points) for every dense cell.

    Scale shape: one binning shuffle; neighbor edges come from a
    6-direction explode of the DENSE-cell table equi-joined on the
    cell key (never cells x cells); components run on that edge list
    through the engine's iterative min-label surface with zero-padded
    sortable keys (the round-6 "10" < "5" lesson)."""
    from ..operators.dedup import connected_components

    bins = with_hex_cell(points, x_col, y_col, size) \
        .groupBy("hq", "hr") \
        .agg(F.count("*").cast("bigint").alias("n")) \
        .where(F.col("n") >= min_count) \
        .localCheckpoint(eager=True)

    def key(q, r):
        # sortable signed-coordinate encoding: offset to non-negative
        # then zero-pad (axial coords are tiny vs 2^40)
        return F.concat_ws(
            ":", F.lpad((q + F.lit(1 << 40)).cast("string"), 14, "0"),
            F.lpad((r + F.lit(1 << 40)).cast("string"), 14, "0"))

    dirs = [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)]
    nbr = bins.select("hq", "hr").withColumn(
        "_d", F.explode(F.array(*[
            F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
            for dq, dr in dirs])))
    cand = nbr.select("hq", "hr",
                      (F.col("hq") + F.col("_d.dq")).alias("nq"),
                      (F.col("hr") + F.col("_d.dr")).alias("nr"))
    other = bins.select(F.col("hq").alias("nq"), F.col("hr").alias("nr"))
    edges = cand.join(other, ["nq", "nr"]) \
        .select(key(F.col("hq"), F.col("hr")).alias("id_a"),
                key(F.col("nq"), F.col("nr")).alias("id_b"))
    # hybrid merge, same as polygonize_chunked: the dense-cell edge
    # list is tiny next to the corpus, and dense regions can snake far
    # beyond any fixed iteration budget — under the cap, one bounded
    # collect + driver union-find replaces O(diameter) shuffle rounds
    # one job for probe AND payload (round-8: the capped count and the
    # collect were two sequential jobs over the same checkpointed
    # input): collect at most cap+1 rows — within the cap those ARE
    # all the edges; one row over means fall back, nothing unbounded
    # ever reaches the driver
    edge_rows = edges.limit(driver_graph_cap + 1).collect()
    if len(edge_rows) <= driver_graph_cap:
        from ..operators.vectorize import _driver_union_find
        mapping = _driver_union_find(
            [(r["id_a"], r["id_b"]) for r in edge_rows])
        spark = points.sparkSession
        comp = F.broadcast(local_table(
            spark, mapping, "node string, component string"))
    else:
        comp = connected_components(edges, max_iters=max_iters)

    def unkey(col, idx):
        return (F.split(col, ":").getItem(idx).cast("long")
                - F.lit(1 << 40))

    comp = comp.select(unkey(F.col("node"), 0).alias("hq"),
                       unkey(F.col("node"), 1).alias("hr"),
                       unkey(F.col("component"), 0).alias("cluster_q"),
                       unkey(F.col("component"), 1).alias("cluster_r"))
    lab = bins.join(comp, ["hq", "hr"], "left") \
        .withColumn("cluster_q",
                    F.coalesce(F.col("cluster_q"), F.col("hq"))) \
        .withColumn("cluster_r",
                    F.coalesce(F.col("cluster_r"), F.col("hr")))
    sizes = lab.groupBy("cluster_q", "cluster_r").agg(
        F.count("*").cast("long").alias("cluster_size_cells"),
        F.sum("n").cast("long").alias("cluster_n_points"))
    return lab.join(sizes, ["cluster_q", "cluster_r"]) \
        .select("hq", "hr", "n", "cluster_q", "cluster_r",
                "cluster_size_cells", "cluster_n_points")
