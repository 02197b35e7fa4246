"""Distributed spatial join: pages x airspace polygons.

Strategy (SURVEY.md §2 engine-only operators; no reference counterpart —
the reference is single-node, this is the north_rule's core operator):

1. **Cell encode** the point side with a pure column expression (codegen,
   no UDF on the fact table) at DEFAULT_JOIN_RES.
2. **Cell cover** each polygon: driver-side for a polygon list (the small
   side — thousands at most), by a distributed pandas-UDF polyfill for a
   polygons table. Both use the exact rectangle/polygon intersection, so
   the cover is sound and tight, and both put on each cover row the
   cell's band edges: the ring edges that can change the winding number
   of a point in that cell.
3. **Equi-join** page cells against cover cells — broadcast when the cover
   is small (the common case), or a shuffle join with explicit salting of
   hot cells when the polygon side is too big to broadcast.
4. **Refine** candidates with the winding number over the band edges, a
   Catalyst fold (`winding_col`) that the optimizer moves into the join
   condition — op for op the NumPy `points_in_ring_winding`.

`spatial_join` is the one operator for all of it; the polygon input type
picks only the cover.

The polygon-pair joins (`polygon_overlap_pairs`, `polygon_contains_pairs`)
share one pipeline: a self-join of the cover on `cell` gives candidate
pairs, and one mapInPandas refines them with an exact NumPy predicate over
the two rings. Every cover goes through `polygon_cover`, where the input
type — a driver list or a polygons table — picks the builder.

At 10^12 rows the fact table sees: one projection, one codegen'd cell id,
one broadcast hash join (no shuffle) whose condition is the refine, then
the aggregation of the caller's choice. No Python worker touches a page.
The only shuffle in the whole plan is whatever the caller aggregates
afterwards.
"""

from __future__ import annotations

import operator
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cellgrid
from ..functions.cellgrid import EDGE_PAD_DEG
from ..plans.localtable import literal_table

DEFAULT_JOIN_RES = 13  # ~0.044 deg cells: tight polygon covers, ~2x fewer false candidates than res 11 (bench-chosen)
# salt_plan's target: pages per reducer task of the hottest cell
ROWS_PER_TASK = 2_000_000
GEO_CLUSTER_RES, GEO_CLUSTER_MIN_PTS = 7, 2  # geo_cluster_cells' grid and dense-cell floor
ZORDER_RES = 12  # bits per axis of page_zorder


# An edge (x1, y1) -> (x2, y2) changes the winding number of a point
# (px, py) only when y1 <= py < y2 or y2 <= py < y1, and only when the edge
# crosses the line y = py right of px: upward, side > 0 holds exactly when
# the crossing is right of px; downward, side < 0 does. So a point of a
# cell needs only its BAND EDGES: edges whose y-range meets the cell's
# latitude band and whose max x is at or right of the cell's west edge.
# Both tests are widened by EDGE_PAD_DEG. This is safe: a point's
# coordinates lie within ~1e-13 deg of its cell's bounds (the rounding of
# the cell id), and for a dropped edge with py in its y-range (otherwise
# the exact y comparisons reject it) the exact side is |dy| * (px - xe),
# at least 1e-9 * |dy|, while its float error is below about 1e-12 * |dy|
# (|x2 - x1|, |px - x1| <= 360 and |py - y1| <= |dy|). The float side
# therefore keeps its exact sign and the edge adds 0 in
# points_in_ring_winding as well: the sum over band edges is that
# function's sum, bit for bit. (cellgrid.cover widens its cells by the
# same pad, so the point's cell is in the cover in the first place.)

EDGES_TYPE = T.ArrayType(
    T.StructType([T.StructField(n, T.DoubleType(), False) for n in ("x1", "y1", "x2", "y2")]), False
)

COVER_SCHEMA = T.StructType(
    [
        T.StructField("cell", T.LongType(), False),
        T.StructField("poly_id", T.IntegerType(), False),
        T.StructField("airspace_name", T.StringType(), False),
        T.StructField("airspace_type", T.StringType(), False),
        T.StructField("airspace_class", T.StringType(), False),
        T.StructField("edges", EDGES_TYPE, False),
    ]
)


def cover_with_edges(ring: np.ndarray, res: int) -> list[tuple[int, list[dict[str, float]]]]:
    """(cell, band edges) for every cell of cellgrid.cover(ring, res)."""
    ring = np.asarray(ring, dtype=np.float64)
    x1, y1, x2, y2 = ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
    y_lo, y_hi, x_hi = np.minimum(y1, y2), np.maximum(y1, y2), np.maximum(x1, x2)
    out = []
    for cell in cellgrid.cover(ring, res):
        west, south, _, north = cellgrid.cell_bounds(cell)
        keep = (y_hi >= south - EDGE_PAD_DEG) & (y_lo <= north + EDGE_PAD_DEG) & (x_hi >= west - EDGE_PAD_DEG)
        edges = np.column_stack([x1[keep], y1[keep], x2[keep], y2[keep]]).tolist()
        out.append((cell, [dict(zip(("x1", "y1", "x2", "y2"), e)) for e in edges]))
    return out


def winding_col(lon: Column, lat: Column, edges: Column) -> Column:
    """Winding number of (lon, lat) over an `edges` array, op for op
    geodesy.points_in_ring_winding: a Catalyst fold, so the point-in-polygon
    refine runs in the JVM."""

    def step(acc: Column, e: Column) -> Column:
        side = (e.x2 - e.x1) * (lat - e.y1) - (lon - e.x1) * (e.y2 - e.y1)
        up = (e.y1 <= lat) & (e.y2 > lat) & (side > 0.0)
        down = (e.y1 > lat) & (e.y2 <= lat) & (side < 0.0)
        return acc + F.when(up, 1).when(down, -1).otherwise(0)

    return F.aggregate(edges, F.lit(0), step)


def polygon_cover_df(spark: SparkSession, polygons: list[dict[str, Any]]) -> DataFrame:
    """Small-side table: one row per (DEFAULT_JOIN_RES cover cell, polygon)
    with the cell's band edges of the polygon's ring (COVER_SCHEMA)."""
    rows = [
        (cell, int(poly["poly_id"]), poly["name"], poly["type"], poly["class"], edges)
        for poly in polygons
        for cell, edges in cover_with_edges(poly["ring"], DEFAULT_JOIN_RES)
    ]
    # literal_table, not createDataFrame of pickled rows: the cover is
    # re-evaluated at EVERY broadcast build and each evaluation of a
    # parallelized pickle RDD costs defaultParallelism Python tasks
    return literal_table(spark, rows, COVER_SCHEMA)


POLYGONS_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.IntegerType(), False),
        T.StructField("airspace_name", T.StringType(), False),
        T.StructField("airspace_type", T.StringType(), False),
        T.StructField("airspace_class", T.StringType(), False),
        T.StructField("ring", T.ArrayType(T.ArrayType(T.DoubleType())), False),
    ]
)


def polygons_to_df(spark: SparkSession, polygons: list[dict[str, Any]]) -> DataFrame:
    """Fixture-style polygon dicts -> a polygons TABLE (the distributed
    representation; at production scale this comes straight from the
    converter output or a parquet/Iceberg polygons table, never a driver
    list)."""
    rows = [
        (int(p["poly_id"]), p["name"], p["type"], p["class"], np.asarray(p["ring"], dtype=np.float64).tolist())
        for p in polygons
    ]
    return literal_table(spark, rows, POLYGONS_SCHEMA)


def _ring_np(ring) -> np.ndarray:
    """Arrow delivers array<array<double>> as an object array of arrays;
    vstack rebuilds the (n, 2) ring matrix."""
    return np.vstack([np.asarray(pt) for pt in ring])


def polygon_cover_distributed(polygons_df: DataFrame) -> DataFrame:
    """Distributed cell cover: one pandas-UDF polyfill per polygon row +
    explode — no driver loop, so the polygon side can be millions of rows
    (VERDICT r1: the driver-side loop was the 100x scale-killer).

    Same cover_with_edges as polygon_cover_df, so the (cell, poly_id,
    edges) rows are identical to the driver-side builder's."""

    cell_edges = T.StructType([T.StructField("cell", T.LongType(), False), T.StructField("edges", EDGES_TYPE, False)])

    @F.pandas_udf(T.ArrayType(cell_edges))
    def cover_cells(rings: pd.Series) -> pd.Series:
        return pd.Series(
            [[{"cell": c, "edges": e} for c, e in cover_with_edges(_ring_np(r), DEFAULT_JOIN_RES)] for r in rings]
        )

    return polygons_df.select(
        F.explode(cover_cells(F.col("ring"))).alias("_c"),
        "poly_id",
        "airspace_name",
        "airspace_type",
        "airspace_class",
    ).select("_c.cell", "poly_id", "airspace_name", "airspace_type", "airspace_class", "_c.edges")


def polygon_cover(spark: SparkSession, polygons: list[dict[str, Any]] | DataFrame) -> DataFrame:
    """COVER_SCHEMA rows of a driver list (covered on the driver) or of a
    polygons TABLE (covered by the distributed polyfill); the two give the
    same rows."""
    if isinstance(polygons, DataFrame):
        return polygon_cover_distributed(polygons)
    return polygon_cover_df(spark, polygons)


OUT_COLS = ("url", "lat", "lon", "poly_id", "airspace_name", "airspace_type", "airspace_class")


def spatial_join(
    pages: DataFrame,
    polygons: list[dict[str, Any]] | DataFrame,
    broadcast: bool = True,
    salt: int | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Pages inside polygons. Returns (url, lat, lon, poly_id,
    airspace_name, airspace_type, airspace_class, *keep_cols).

    `polygons` is a fixture-style driver list or a polygons TABLE
    (POLYGONS_SCHEMA); the two give the same rows. The input type picks
    only the cover: a list is covered on the driver, a table by the
    distributed pandas-UDF polyfill, so nothing polygon-shaped touches the
    driver. Pages and cover meet on DEFAULT_JOIN_RES cells. Either cover
    row carries its cell's band edges, and the winding-number refine is
    `winding_col(...) != 0` over them, which Catalyst folds into the join
    condition: no Python on the page side.

    broadcast=True: map-side hash joins, zero shuffle of the page side.
    broadcast=False: shuffle hash join on the cell key; `salt` explicitly
    splinters hot cells — the page side gets a deterministic salt from
    xxhash64(url) and the cover side is exploded x salt, so skewed cells
    spread over `salt` reducers (AQE skew-join stays on as backstop).
    `salt_plan` derives a factor from the cell histogram. The rows are the
    same for every broadcast and salt choice; only the plan differs.
    """
    if not (salt is None or isinstance(salt, int)):
        raise TypeError(f"salt must be an int or None; got {salt!r}")
    cover = polygon_cover(pages.sparkSession, polygons)
    cells = pages.withColumn("cell", cellgrid.cell_id_col(F.col("lon"), F.col("lat"), DEFAULT_JOIN_RES))

    if broadcast:
        # salt is a shuffle-join concept: a broadcast join ignores it
        candidates = cells.join(F.broadcast(cover), "cell")
    else:
        if salt and salt > 1:
            cells = cells.withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(salt)).cast("int"))
            cover = cover.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
            candidates = cells.repartition(F.col("cell"), F.col("_salt")).join(
                cover, ["cell", "_salt"]
            ).drop("_salt")
        else:
            candidates = cells.join(cover, "cell")

    inside = candidates.where(winding_col(F.col("lon"), F.col("lat"), F.col("edges")) != 0)
    return inside.select(*OUT_COLS, *(c for c in keep_cols if c not in OUT_COLS))


def cell_histogram(pages: DataFrame) -> DataFrame:
    """Per-DEFAULT_JOIN_RES-cell page counts — the deterministic input for
    choosing a salt factor (hot cells = skew)."""
    return (
        pages.withColumn("cell", cellgrid.cell_id_col(F.col("lon"), F.col("lat"), DEFAULT_JOIN_RES))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


# ---------------------------------------------------------------------------
# polygon-pair joins: overlap (airspace conflicts) and containment (nesting)
# ---------------------------------------------------------------------------
#
# Overlap predicate (shared FORMULATION with the SQL oracle — not merely
# equivalent semantics): pair (A, B) overlaps iff
#   (a) some ring vertex of A is inside B by the EVEN-ODD crossing test
#       written with the oracle's exact op order
#       (px < x1 + (x2 - x1) * (py - y1) / (y2 - y1)), or vice versa; or
#   (b) some edge of A PROPERLY crosses an edge of B: strict sign tests on
#       cross products (d1*d2 < 0 AND d3*d4 < 0) — no division at all.
# Every comparison is on doubles computed by the identical single-rounded
# IEEE sequence in NumPy and DuckDB, so even boundary-degenerate inputs
# (abutting sectors sharing edges/vertices — common in real airspace)
# produce the SAME verdict in both engines. Geometrically, pairs that only
# TOUCH (shared edge, disjoint interiors) may report either way — that is
# a property of float predicates, documented here, deterministic across
# engines; exactness on degenerate inputs would need rational arithmetic.
#
# Candidate completeness: if the predicate holds there is a witness point
# q on both polygons' closed regions (a vertex of one inside the other, or
# a crossing point), so cell(q) intersects both rings and both cell COVERS
# contain it — the cover self-join on `cell` never misses a true pair.


def _even_odd_inside_np(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing parity, op-for-op the SQL oracle's formula."""
    x1 = ring[:-1, 0][None, :]
    y1 = ring[:-1, 1][None, :]
    x2 = ring[1:, 0][None, :]
    y2 = ring[1:, 1][None, :]
    pxc = px[:, None]
    pyc = py[:, None]
    straddle = (y1 > pyc) != (y2 > pyc)
    # the divide only matters where straddle (y2 != y1); elsewhere inf/nan
    # sentinels are masked out
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xcross = x1 + (x2 - x1) * (pyc - y1) / (y2 - y1)
    cnt = (straddle & (pxc < xcross)).sum(axis=1)
    return (cnt % 2) == 1


def _proper_cross_np(A: np.ndarray, B: np.ndarray) -> bool:
    """Any strict edge crossing between rings A and B (sign tests only)."""
    ax1 = A[:-1, 0][:, None]
    ay1 = A[:-1, 1][:, None]
    ax2 = A[1:, 0][:, None]
    ay2 = A[1:, 1][:, None]
    bx1 = B[:-1, 0][None, :]
    by1 = B[:-1, 1][None, :]
    bx2 = B[1:, 0][None, :]
    by2 = B[1:, 1][None, :]
    d1 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
    d2 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)
    d3 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
    d4 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
    return bool(np.any((d1 * d2 < 0) & (d3 * d4 < 0)))


def _rings_overlap_np(A: np.ndarray, B: np.ndarray) -> bool:
    if _even_odd_inside_np(A[:-1, 0], A[:-1, 1], B).any():
        return True
    if _even_odd_inside_np(B[:-1, 0], B[:-1, 1], A).any():
        return True
    return _proper_cross_np(A, B)


def _ring_contains_np(outer: np.ndarray, inner: np.ndarray) -> bool:
    """outer contains inner iff EVERY inner vertex passes the even-odd
    inside test against outer AND no edge properly crosses — the same
    float-predicate contract as _rings_overlap_np (identical single-rounded
    IEEE sequences in NumPy and the SQL oracle; rings that merely TOUCH may
    verdict either way, deterministically and identically in both engines)."""
    if not _even_odd_inside_np(inner[:-1, 0], inner[:-1, 1], outer).all():
        return False
    return not _proper_cross_np(outer, inner)


def _polygon_pairs(
    spark: SparkSession,
    polygons: list[dict[str, Any]] | DataFrame,
    keys: tuple[str, str],
    pair_filter: Callable[[Column, Column], Column],
    predicate: Callable[[np.ndarray, np.ndarray], bool],
) -> DataFrame:
    """(key_a, key_b) polygon pairs with predicate(ring_a, ring_b): cover
    self-join candidates -> ring arrays attached by two equi-joins on
    poly_id -> one mapInPandas exact refine. Ring payloads travel only on
    the (few) candidate pairs, and for a table nothing polygon-shaped
    touches the driver."""
    ka, kb = keys
    # the cover feeds BOTH sides of the candidate self-join; without a
    # materialization a table's pandas-UDF polyfill executes once per side
    # (plan-audited: two ArrowEvalPython stages) — the fan-out-reuse trap
    cover = polygon_cover(spark, polygons).select("cell", "poly_id").localCheckpoint()
    a = cover.select(F.col("cell"), F.col("poly_id").alias(ka))
    b = cover.select(F.col("cell"), F.col("poly_id").alias(kb))
    cand = a.join(b, "cell").where(pair_filter(F.col(ka), F.col(kb))).select(ka, kb).distinct()
    table = polygons if isinstance(polygons, DataFrame) else polygons_to_df(spark, polygons)
    rings = table.select(F.col("poly_id").cast("int").alias("poly_id"), "ring")
    cand = cand.join(rings.toDF(ka, "ring_a"), ka).join(rings.toDF(kb, "ring_b"), kb)

    def refine(batches):
        for pdf in batches:
            keep = [predicate(_ring_np(ra), _ring_np(rb)) for ra, rb in zip(pdf["ring_a"], pdf["ring_b"])]
            yield pdf.loc[keep, [ka, kb]]

    out_schema = T.StructType([T.StructField(ka, T.IntegerType()), T.StructField(kb, T.IntegerType())])
    return cand.mapInPandas(refine, schema=out_schema)


def polygon_overlap_pairs(spark: SparkSession, polygons: list[dict[str, Any]] | DataFrame) -> DataFrame:
    """(poly_a, poly_b), poly_a < poly_b: pairs of overlapping polygons
    (airspace conflicts) from a driver list or a polygons TABLE; the two
    give the same rows. Refine: vectorized vertex-in + edge-cross per
    candidate — candidates are few, each test O(|A| * |B|) NumPy."""
    return _polygon_pairs(spark, polygons, ("poly_a", "poly_b"), operator.lt, _rings_overlap_np)


def polygon_contains_pairs(spark: SparkSession, polygons: list[dict[str, Any]] | DataFrame) -> DataFrame:
    """(outer_poly, inner_poly) DIRECTED nesting pairs — which airspaces sit
    wholly inside others (a CTR inside its TMA, danger areas inside a CTA) —
    from a driver list or a polygons TABLE.

    Candidate completeness is STRONGER than overlap's: if outer contains
    inner, every cover cell of inner holds a point of inner ⊆ outer, so it
    intersects outer and is in outer's cover too — the cover self-join can
    never miss a true nesting. Refine is vectorized per pair (vertex-in
    O(|inner|x|outer|) + cross tests), pairs are few."""
    return _polygon_pairs(spark, polygons, ("outer_poly", "inner_poly"), operator.ne, _ring_contains_np)


def ring_decimate(polygons_df: DataFrame) -> DataFrame:
    """One-pass vertex decimation for tile rendering (single Visvalingam
    sweep): interior vertex i survives iff the triangle it spans with its
    neighbours has area > 1e-6 deg^2 — densified arc/circle chains (tiny, nearly
    collinear triangles) collapse to sparse outlines while true corners
    stay. Endpoints always survive, so closure is preserved.

    Expressed entirely as array expressions over the ring COLUMN (filter
    over an index sequence + element_at — the ring is a materialized input
    column, so per-element access is attribute lookup, not expression
    re-inlining). Zero shuffles; the explode is narrow. The area test is
    sub/mul/abs/compare — single-rounded IEEE ops, so kept coordinates
    hash-gate bit-for-bit against the DuckDB twin.

    Output: (poly_id, vertex_idx, x, y) of surviving vertices with their
    ORIGINAL 1-based index (consumers re-assemble rings by sorting)."""
    ring = F.col("ring")
    n = F.size(ring)

    def keep_vertex(i):
        pm = F.element_at(ring, i - 1)
        p = F.element_at(ring, i)
        pp = F.element_at(ring, i + 1)
        cross = (p[0] - pm[0]) * (pp[1] - p[1]) - (p[1] - pm[1]) * (pp[0] - p[0])
        return F.abs(cross) > F.lit(2e-6)

    interior = F.filter(F.sequence(F.lit(2), n - 1), keep_vertex)
    # the n >= 1 guard matters: Spark's sequence(1, 0) counts DOWN to
    # [1, 0] (the documented _word_ngrams_col trap) and element_at(ring, 0)
    # then throws under ANSI — an empty ring must yield zero rows, like
    # the oracle's generate_series(1, 0) = []
    keep = (
        F.when(n >= 3, F.concat(F.array(F.lit(1)), interior, F.array(n)))
        .when(n >= 1, F.sequence(F.lit(1), n))
        .otherwise(F.array().cast("array<int>"))
    )
    return (
        polygons_df.select("poly_id", "ring", keep.alias("keep"))
        .select("poly_id", "ring", F.explode("keep").alias("vertex_idx"))
        .select(
            F.col("poly_id").cast("int").alias("poly_id"),
            F.col("vertex_idx").cast("int").alias("vertex_idx"),
            F.element_at(ring, F.col("vertex_idx"))[0].alias("x"),
            F.element_at(ring, F.col("vertex_idx"))[1].alias("y"),
        )
    )


def polygon_area_orientation(polygons_df: DataFrame) -> DataFrame:
    """(poly_id, area_deg2, is_ccw): planar shoelace area and winding
    orientation of each ring, computed entirely in Catalyst expressions
    over the ring COLUMN (zip_with cross terms -> 0.0-seeded left-fold
    double sum — the determinism rule every ARRAY fold follows, so the
    DOUBLE hash-gates bit-for-bit against the oracle's list_reduce).

    Planar (degree^2) by design: the spherical area kernel
    (geodesy.ring_area_m2) is trig-based and libm sin() is not
    bit-reproducible across engines — it stays golden-pinned instead.
    Orientation is the useful analytic here (GeoJSON exterior rings are
    CCW); area ratios at airspace scales track the planar value closely.
    Zero shuffles: one projection over the polygons table."""
    ring = F.col("ring")
    n = F.size(ring) - 1
    head = F.slice(ring, 1, n)
    tail = F.slice(ring, 2, n)
    terms = F.zip_with(head, tail, lambda p, q: p[0] * q[1] - q[0] * p[1])
    signed2 = F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)
    staged = polygons_df.select(
        F.col("poly_id").cast("int").alias("poly_id"), signed2.alias("_s2")
    )
    return staged.select(
        "poly_id",
        (F.abs(F.col("_s2")) / F.lit(2.0)).alias("area_deg2"),
        (F.col("_s2") > F.lit(0.0)).alias("is_ccw"),
    )


# ---------------------------------------------------------------------------
# grid-density clustering (DBSCAN-style core cells + connected components)
# ---------------------------------------------------------------------------


def geo_cluster_cells(pages: DataFrame) -> DataFrame:
    """(cell, cluster_id, n_points): DBSCAN-flavored density clustering on
    the GEO_CLUSTER_RES cell grid — cells holding >= GEO_CLUSTER_MIN_PTS
    pages are dense; dense cells
    that are 8-neighbors merge into one cluster labeled by the minimum
    member cell id.

    Scale shape: the corpus collapses to per-cell counts in one map-side-
    partial groupBy; everything after runs on the DENSE-CELL set, which is
    bounded by the grid (2^res * 2^(res-1) cells), not the corpus. The
    8-neighbor edge join matches on DECODED (x, y) coordinates — never on
    id +/- offset arithmetic, which aliases across row boundaries at grid
    edges — and world wrap is deliberately absent (planar contract shared
    with knn_points). Components come from dedup.duplicate_clusters
    (min-label hop propagation, rounds ~ component diameter — fine here
    because the node set is grid-bounded and each round is a tiny join;
    its non-convergence RAISE contract applies)."""
    from .dedup import duplicate_clusters

    cells = (
        pages.select(cellgrid.cell_id_col(F.col("lon"), F.col("lat"), GEO_CLUSTER_RES).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    # dense feeds the edge self-join (twice) and the final join: materialize
    dense = cells.where(F.col("n_points") >= GEO_CLUSTER_MIN_PTS).localCheckpoint()
    shift = cellgrid._SHIFT
    xy = dense.select(
        "cell",
        (F.col("cell") % shift).alias("x"),
        F.expr(f"(cell div {shift}) % {shift}").alias("y"),
    )
    offs = literal_table(
        pages.sparkSession,
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)],
        "dx int, dy int",
    )
    a = xy.crossJoin(F.broadcast(offs)).select(
        F.col("cell").alias("key_a"), (F.col("x") + F.col("dx")).alias("nx"),
        (F.col("y") + F.col("dy")).alias("ny"),
    )
    b = xy.select(F.col("cell").alias("key_b"), F.col("x").alias("nx"), F.col("y").alias("ny"))
    pairs = (
        a.join(b, ["nx", "ny"]).where(F.col("key_a") < F.col("key_b")).select("key_a", "key_b")
    )
    labels = duplicate_clusters(
        pairs, documents=dense.select(F.col("cell")), key_col="cell", max_iters=200
    )
    return dense.join(labels, dense.cell == labels.key).select(
        "cell", "cluster_id", "n_points"
    )


def polygon_centroid(polygons_df: DataFrame) -> DataFrame:
    """(poly_id, centroid_lon, centroid_lat, area_deg2): planar polygon
    centroid via the shoelace moment formula — Cx = sum((x_i + x_j) *
    cross_ij) / (3 * sum(cross_ij)) — entirely Catalyst expressions over
    the ring COLUMN. Same determinism contract as
    polygon_area_orientation: every sum is a 0.0-seeded left fold, each
    remaining op (add inside the term, one multiply, one divide) is
    single-rounded IEEE in an op order shared with the SQL twin, so the
    DOUBLEs hash-gate. Degenerate zero-area rings yield NULL centroids.
    Zero shuffles — one staged projection over the polygons table."""
    ring = F.col("ring")
    n = F.size(ring) - 1
    head = F.slice(ring, 1, n)
    tail = F.slice(ring, 2, n)
    cross = lambda p, q: p[0] * q[1] - q[0] * p[1]  # noqa: E731
    staged = polygons_df.select(
        F.col("poly_id").cast("int").alias("poly_id"),
        F.aggregate(F.zip_with(head, tail, cross), F.lit(0.0), lambda a, t: a + t).alias("_s2"),
        F.aggregate(
            F.zip_with(head, tail, lambda p, q: (p[0] + q[0]) * cross(p, q)),
            F.lit(0.0),
            lambda a, t: a + t,
        ).alias("_sx"),
        F.aggregate(
            F.zip_with(head, tail, lambda p, q: (p[1] + q[1]) * cross(p, q)),
            F.lit(0.0),
            lambda a, t: a + t,
        ).alias("_sy"),
    )
    nonzero = F.col("_s2") != F.lit(0.0)
    return staged.select(
        "poly_id",
        F.when(nonzero, F.col("_sx") / (F.lit(3.0) * F.col("_s2"))).alias("centroid_lon"),
        F.when(nonzero, F.col("_sy") / (F.lit(3.0) * F.col("_s2"))).alias("centroid_lat"),
        (F.abs(F.col("_s2")) / F.lit(2.0)).alias("area_deg2"),
    )


def airspace_density(join_out: DataFrame, polygons_df: DataFrame) -> DataFrame:
    """Document density per airspace: spatial-join hit counts normalized
    by the planar shoelace area — (poly_id, doc_count, area_deg2,
    docs_per_deg2). Polygons with no hits keep a zero count; degenerate
    zero-area rings yield NULL density. ONE single-rounded division on
    top of the exact count and the fold-derived area, so it hash-gates.

    Scale shape: the fact side collapses to poly-level counts in one
    map-side-partial aggregation; the area projection and the final join
    run at polygon-table scale."""
    counts = join_out.groupBy("poly_id").agg(F.count(F.lit(1)).alias("doc_count"))
    areas = polygon_area_orientation(polygons_df).select("poly_id", "area_deg2")
    return areas.join(counts, "poly_id", "left").select(
        "poly_id",
        F.coalesce("doc_count", F.lit(0)).cast("bigint").alias("doc_count"),
        "area_deg2",
        F.when(
            F.col("area_deg2") > F.lit(0.0),
            F.coalesce("doc_count", F.lit(0)).cast("double") / F.col("area_deg2"),
        ).alias("docs_per_deg2"),
    )


def salt_plan(pages: DataFrame) -> DataFrame:
    """The skew-handling DERIVATION as a queryable one-row plan:
    (hottest_cell, hottest_rows, salt) with salt = ceil(hottest_rows /
    ROWS_PER_TASK) clamped to [1, 64]. Ties on the hottest count break to
    the smaller cell id. One map-side-partial aggregation to #cells rows,
    then a 1-row min-by."""
    hist = cell_histogram(pages)
    # hottest cell as a 1-row min-by over the negated count (ties -> the
    # smaller cell id, deterministic)
    top = hist.agg(
        F.min(F.struct((-F.col("n_pages")).alias("neg"), F.col("cell"))).alias("_b")
    ).select(
        F.col("_b.cell").alias("hottest_cell"),
        (-F.col("_b.neg")).alias("hottest_rows"),
    )
    salt = F.least(
        F.lit(64).cast("bigint"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr(f"(hottest_rows + {ROWS_PER_TASK - 1}) div {ROWS_PER_TASK}"),
        ),
    )
    return top.select("hottest_cell", "hottest_rows", salt.alias("salt"))


def page_zorder(pages: DataFrame) -> DataFrame:
    """(url, zkey): Z-order / Morton clustering key at ZORDER_RES bits per axis
    — the storage-layout key for 2D-local writes (a z-sorted or
    z-range-partitioned table prunes on BOTH lon and lat with one sort
    key, where the row-major cell id preserves locality only along x).
    Pure integer arithmetic shared with the oracle; codegen, zero
    shuffles. Pair with range_partition_plan over zkey for balanced
    z-clustered output files."""
    size = cellgrid.cell_size_deg(ZORDER_RES)
    x = F.floor((F.col("lon") + F.lit(180.0)) / F.lit(size)).cast("bigint")
    y = F.floor((F.col("lat") + F.lit(90.0)) / F.lit(size)).cast("bigint")
    return pages.select("url", x.alias("zx"), y.alias("zy")).select(
        "url", F.expr(cellgrid.morton_terms("zx", "zy", ZORDER_RES, "div")).cast("bigint").alias("zkey")
    )
