"""Raster <-> vector tile aggregation.

Engine-only operator (north rule): per-tile document counts and airspace
class rollups. A "tile" is a grid cell at a chosen resolution — the raster
side of the raster<->vector pairing; the airspace polygons are the vector
side. All aggregation is plain groupBy/rollup (map-side partial aggregation
+ one shuffle on the tile key, AQE-coalesced).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cellgrid
from ..plans.localtable import literal_table

DEFAULT_TILE_RES = 8  # ~1.4 degree tiles
GEOHASH_PRECISION = 5  # geohash_counts' cell length
ZOOM_LEVELS = 2  # resolutions tile_zoom_rollup climbs


def with_tile(df: DataFrame) -> DataFrame:
    return df.withColumn("tile_id", cellgrid.cell_id_col(F.col("lon"), F.col("lat"), DEFAULT_TILE_RES))


def tile_doc_counts(pages: DataFrame) -> DataFrame:
    """Raster aggregation of the document point cloud: docs per tile plus
    language diversity."""
    return (
        with_tile(pages)
        .groupBy("tile_id")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


def tile_class_rollup(join_out: DataFrame) -> DataFrame:
    """Rollup over (tile, airspace class): doc counts at tile x class,
    tile subtotal, and grand total (grouping-sets semantics identical in
    Spark and ANSI SQL ROLLUP)."""
    return (
        with_tile(join_out)
        .rollup("tile_id", "airspace_class")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.count_distinct("url").alias("n_docs"),
        )
    )


def parent_tile_col(tile: F.Column, levels: int) -> F.Column:
    """Parent cell id `levels` resolutions up, by pure integer arithmetic on
    the packed (res, y, x) id — the hierarchical-grid analogue of
    h3_to_parent. _SHIFT is 2^29, so unpacking is exact shift/mask bigint
    ops (ids approach 2^63; float division would round)."""
    mask = F.lit(cellgrid._SHIFT - 1)
    shift = F.lit(cellgrid._SHIFT)
    x = tile.bitwiseAND(mask)
    y = F.shiftright(tile, 29).bitwiseAND(mask)
    res = F.shiftright(tile, 58)
    return ((res - levels) * shift + F.shiftright(y, levels)) * shift + F.shiftright(x, levels)


def tile_zoom_rollup(tiles: DataFrame) -> DataFrame:
    """Re-aggregate an EXISTING per-tile table ZOOM_LEVELS resolutions
    coarser without rescanning the fact table: children map to parents by
    id arithmetic (2^ZOOM_LEVELS x 2^ZOOM_LEVELS children per parent),
    then one small shuffle on
    the parent key. This is how zoom pyramids are built at 100 TB — the
    fact scan happens once at the finest res, every coarser level costs
    only a tiles-sized aggregation."""
    return (
        tiles.withColumn("tile_id", parent_tile_col(F.col("tile_id"), ZOOM_LEVELS))
        .groupBy("tile_id")
        .agg(
            F.sum("doc_count").alias("doc_count"),
            F.sum("total_chars").alias("total_chars"),
        )
    )


def tile_vector_export(pages: DataFrame) -> DataFrame:
    """Raster -> vector export: per-tile aggregates with the tile's bbox
    attached as numeric columns (a GeoJSON sink serializes these into
    Polygon rings; numbers stay numeric here because float->string
    formatting is engine-specific while the bounds arithmetic is exact).

    Exactness: cell size 360/2^res is dyadic, x <= 2^res, so
    x * size - 180 is integer-times-dyadic arithmetic — bit-identical in
    Spark, DuckDB and NumPy (same guarantee cell encode relies on). The
    bbox attach is per-TILE (post-aggregation), adding nothing to the
    fact-table scan."""
    size = 360.0 / float(1 << DEFAULT_TILE_RES)
    mask = F.lit(cellgrid._SHIFT - 1)
    x = F.col("tile_id").bitwiseAND(mask)
    y = F.shiftright(F.col("tile_id"), 29).bitwiseAND(mask)
    return tile_doc_counts(pages).select(
        "tile_id",
        (x.cast("double") * F.lit(size) - F.lit(180.0)).alias("min_lon"),
        (y.cast("double") * F.lit(size) - F.lit(90.0)).alias("min_lat"),
        ((x + 1).cast("double") * F.lit(size) - F.lit(180.0)).alias("max_lon"),
        ((y + 1).cast("double") * F.lit(size) - F.lit(90.0)).alias("max_lat"),
        "doc_count",
        "n_langs",
        "total_chars",
    )


# --- Web-Mercator XYZ export (slippy-map tiles / Bing quadkeys) -------------
#
# Why this is hash-gateable despite ln/tan: xtile and the quadkey are pure
# shared arithmetic (bit-identical in Spark and DuckDB). ytile involves
# ln/tan, whose JVM (java.lang.Math) and libm results can differ by ulps —
# but the synthetic geotag lattice is FINITE (5 md5 hex chars -> weighted
# sum mod span, sources/pages.py), and enumerating every possible latitude
# shows the pre-floor mercator value stays >= 4.4e-6 tile units away from
# every integer boundary for z <= 12 (~1e9 x the ulp error), so floor() can
# never disagree across engines. tests/test_spatial.py pins this margin.
# The oracle still derives ytile independently (boundary-latitude interval
# containment, no transcendentals at query time).
MERCATOR_MAX_GATED_Z = 12
XYZ_ZOOM = 11  # the zoom tile_xyz_export writes


def xtile_sql(lon_expr: str, z: int) -> str:
    """Shared-dialect Web-Mercator x tile: floor((lon+180)/360 * 2^z).
    Every term DOUBLE; identical doubles in Spark and DuckDB, so exact
    boundary hits (the lon lattice does produce some) floor identically."""
    n = 1 << z
    return (
        f"CAST(floor(({lon_expr} + CAST(180 AS DOUBLE)) / CAST(360 AS DOUBLE)"
        f" * CAST({n} AS DOUBLE)) AS BIGINT)"
    )


def ytile_sql(lat_expr: str, z: int) -> str:
    """Web-Mercator y tile: floor((1 - asinh(tan(lat))/pi)/2 * 2^z), written
    as ln(tan+sec) since DuckDB lacks asinh. JVM-vs-libm safe for z <= 12
    (see module note above)."""
    if z > MERCATOR_MAX_GATED_Z:
        raise ValueError(f"z={z} exceeds the verified cross-engine parity budget ({MERCATOR_MAX_GATED_Z})")
    n = 1 << z
    return (
        f"CAST(floor((CAST(1 AS DOUBLE) - ln(tan(radians({lat_expr}))"
        f" + CAST(1 AS DOUBLE) / cos(radians({lat_expr}))) / pi())"
        f" / CAST(2 AS DOUBLE) * CAST({n} AS DOUBLE)) AS BIGINT)"
    )


def quadkey_sql(x_expr: str, y_expr: str, z: int, dialect: str) -> str:
    """Bing quadkey string (z digits, level order): digit_k = x_bit + 2*y_bit
    at level k. Integer-exact shared arithmetic: bits extracted with
    floor(v / 2^k) % 2 (int/double division is exact below 2^53; tile ids
    at z <= 12 are < 4096). Pass COLUMN NAMES, not full expressions — Spark
    re-evaluates duplicated subtrees (no subexpression elimination)."""
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    digits = []
    for k in range(z - 1, -1, -1):
        p = float(1 << k)
        d = (
            f"(CAST(floor({x_expr} / {p}) AS BIGINT) % 2"
            f" + 2 * (CAST(floor({y_expr} / {p}) AS BIGINT) % 2))"
        )
        digits.append(f"CAST({d} AS {cast})")
    return "concat(" + ", ".join(digits) + ")"


def tile_xyz_export(pages: DataFrame) -> DataFrame:
    """Slippy-map tile export at XYZ_ZOOM: per-XYZ-tile document counts,
    language diversity, and text volume, keyed by (zoom, x, y) + quadkey. The tile
    encode is a codegen'd column expression on the fact table (no UDF, no
    driver work); the exact count_distinct(lang) plans as the standard
    two-phase distinct aggregate — a map-side partial on (x, y, lang), then
    a second tiles-sized shuffle — both exchanges move pre-aggregated
    rows, never documents; the quadkey is computed AFTER aggregation so
    its z string ops run per-tile, not per-document."""
    z = XYZ_ZOOM
    xy = pages.select(
        "lang",
        F.length("text").alias("nb"),
        F.expr(xtile_sql("lon", z)).alias("xtile"),
        F.expr(ytile_sql("lat", z)).alias("ytile"),
    )
    return (
        xy.groupBy("xtile", "ytile")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("nb").alias("total_chars"),
        )
        .select(
            F.lit(z).alias("zoom"),
            "xtile",
            "ytile",
            F.expr(quadkey_sql("xtile", "ytile", z, "spark")).alias("quadkey"),
            "doc_count",
            "n_langs",
            "total_chars",
        )
    )


def geohash_counts(pages: DataFrame) -> DataFrame:
    """Per-geohash-cell page counts — the base32 sibling of the native
    cell grid and XYZ tiles (see functions/geohash.py for why the closed
    floor form is cross-engine exact with NO margin proof). Staged
    projections keep each quantization/interleave value nominally
    single-use; even where CollapseProject re-inlines them the whole chain
    is ~50 integer ops per row inside codegen. One shuffle (the rollup)."""
    from ..functions import geohash as gh

    lon_idx, lat_idx = gh.geohash_idx_sql("lat", "lon", GEOHASH_PRECISION)
    return (
        pages.selectExpr(f"{lon_idx} AS gh_lon_idx", f"{lat_idx} AS gh_lat_idx")
        .selectExpr(f"{gh.geohash_interleave_sql(GEOHASH_PRECISION, 'spark')} AS gh_i")
        .selectExpr(f"{gh.geohash_chars_sql(GEOHASH_PRECISION, 'spark')} AS geohash")
        .groupBy("geohash")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


PYRAMID_PRECISIONS = (3, 4, 5)  # geohash levels of geohash_pyramid, finest last


def geohash_pyramid(pages: DataFrame) -> DataFrame:
    """Multi-resolution geohash rollup in ONE pass: a geohash prefix IS the
    parent cell (the base32 hierarchy property), so the zoom pyramid is an
    explode over prefixes of the finest hash + a single aggregation —
    never one job per level. Output: (precision, geohash, n_pages) for each
    of PYRAMID_PRECISIONS."""
    from ..functions import geohash as gh

    finest = PYRAMID_PRECISIONS[-1]
    lon_idx, lat_idx = gh.geohash_idx_sql("lat", "lon", finest)
    prefixes = F.array(
        *[
            F.struct(
                F.lit(p).alias("precision"),
                F.expr(f"substring(gh5, 1, {p})").alias("geohash"),
            )
            for p in PYRAMID_PRECISIONS
        ]
    )
    return (
        pages.selectExpr(f"{lon_idx} AS gh_lon_idx", f"{lat_idx} AS gh_lat_idx")
        .selectExpr(f"{gh.geohash_interleave_sql(finest, 'spark')} AS gh_i")
        .selectExpr(f"{gh.geohash_chars_sql(finest, 'spark')} AS gh5")
        .select(F.explode(prefixes).alias("pg"))
        .select("pg.precision", "pg.geohash")
        .groupBy("precision", "geohash")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def tile_mode_class(join_out: DataFrame) -> DataFrame:
    """Dominant airspace class per tile — the categorical MODE, the raster
    labeling step of a choropleth/classification export. Output (tile_id,
    airspace_class, doc_count); ties on count break to the LARGEST class
    name (deterministic, engine-independent).

    Scale shape: (tile, class) counts first (one map-side-partial
    shuffle), then the argmax is a plain max over a struct — comparing
    (count, class) lexicographically — so the second aggregation needs no
    window, no sort, and re-shuffles only tile-level rows."""
    return (
        with_tile(join_out)
        .groupBy("tile_id", "airspace_class")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("tile_id")
        .agg(F.max(F.struct(F.col("n"), F.col("airspace_class"))).alias("m"))
        .select(
            "tile_id",
            F.col("m.airspace_class").alias("airspace_class"),
            F.col("m.n").alias("doc_count"),
        )
    )


def tile_unmatched_counts(pages: DataFrame, join_out: DataFrame) -> DataFrame:
    """Raster rollup of the pages NO airspace matched (the spatial
    anti-join — 'unclassified airspace' coverage gaps a tiling service
    must render too): (tile_id, n_unmatched). Matched urls arrive from
    any gated spatial-join mode; the anti-join and the count are both
    url/tile-granularity shuffles — the PIP work is NOT redone here."""
    matched = join_out.select("url").distinct()
    unmatched = pages.join(matched, "url", "left_anti")
    return with_tile(unmatched).groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_unmatched")
    )


def tile_nearest_airspace(pages: DataFrame, polygons: list[dict[str, Any]]) -> DataFrame:
    """(tile_id, n_docs, poly_id, dist_sq): each OCCUPIED tile's page count
    plus the nearest airspace to the tile CENTER by exact point-to-segment
    distance, ties to the smaller poly_id — the 'how far is this tile from
    controlled airspace' rollup a map layer wants.

    Scale shape — kNN on AGGREGATED keys: the corpus reduces to distinct
    occupied tiles first (one map-side-partial shuffle; at res 8 there are
    at most 2^16 x 2^15 tiles, in practice the occupied set is tiny), so
    the distance scan costs #tiles x #segments however many pages exist —
    pages never meet the segment table. Centers derive from the tile id by
    exact arithmetic (cell size 360/2^res is a power-of-two multiple, the
    center products round once, identically in both engines); distances
    use the shared seg_d2_expr clamped-projection formulation."""
    from ..operators.knn import _segment_arrays, seg_d2_expr

    tiles = with_tile(pages).groupBy("tile_id").agg(F.count(F.lit(1)).alias("n_docs"))
    size = cellgrid.cell_size_deg(DEFAULT_TILE_RES)
    x = F.pmod(F.col("tile_id"), F.lit(cellgrid._SHIFT))
    y = F.pmod(F.expr(f"tile_id div {cellgrid._SHIFT}"), F.lit(cellgrid._SHIFT))
    centers = tiles.select(
        "tile_id",
        "n_docs",
        (F.lit(-180.0) + (x.cast("double") + F.lit(0.5)) * F.lit(size)).alias("lon"),
        (F.lit(-90.0) + (y.cast("double") + F.lit(0.5)) * F.lit(size)).alias("lat"),
    )
    pids, ax, ay, bx, by = _segment_arrays(polygons)
    from ..plans.fanout import fan_out

    # literal relation (explicit schema keeps poly_id int as before);
    # fan_out restores the multi-partition layout the d2 scan parallelizes
    # over — segs is the STREAMED side of the crossJoin below
    segs = fan_out(
        literal_table(
            pages.sparkSession,
            list(zip(map(int, pids), map(float, ax), map(float, ay), map(float, bx), map(float, by))),
            "poly_id int, ax double, ay double, bx double, by double",
        )
    )
    return (
        segs.crossJoin(F.broadcast(centers))
        .select("tile_id", "n_docs", "poly_id", seg_d2_expr().alias("d2"))
        .groupBy("tile_id")
        .agg(
            F.min("n_docs").alias("n_docs"),
            F.min(F.struct(F.col("d2"), F.col("poly_id"))).alias("_b"),
        )
        .select(
            "tile_id",
            "n_docs",
            F.col("_b.poly_id").alias("poly_id"),
            F.col("_b.d2").alias("dist_sq"),
        )
    )
