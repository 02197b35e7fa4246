"""kNN: nearest airspace per page via cell-ring expansion.

Engine-only operator (no reference counterpart; mandated by the north
rule). Two distance metrics, both plain arithmetic so the DuckDB oracle
reproduces them bit-for-bit (trig-free):

* VERTEX distance (`knn_ring_expansion`, `knn_k`): squared planar degree
  distance to the nearest polygon ring vertex — tight on densified
  arc/circle rings, but `line:` boundary segments are NOT densified, so a
  page near the midpoint of a long straight edge can get an overstated
  distance (r3 VERDICT item).
* EDGE distance (`knn_edge_*`): exact squared point-to-segment distance
  (projection clamped to [0,1], every op a single-rounded IEEE double in a
  fixed order shared by the Spark expression, the NumPy fallback and the
  SQL oracle) — what "nearest airspace" users expect.

Implementations:

* `_expansion_loop` — the one ring-expansion loop, for both metrics,
  both polygon inputs, point-point kNN and every k. Index rows (ring
  vertices, segment sample points carrying their segment's endpoints, or
  the pages themselves) are bucketed by grid cell under a `key`; each
  round joins still-pending pages against the index over a Chebyshev
  window, keeps each page's k nearest DISTINCT keys (for edges: by the
  EXACT segment distance — sampling only drives candidate generation,
  never the reported distance), and finalizes pages whose k-th distance
  is strictly under anything an unseen ring could hold. Each round is one
  broadcast/shuffle join + aggregation on the shrinking pending set;
  stragglers past the last window get the exact scan `_bruteforce_k`. The
  loop reads the metric, the grid and which side of the join explodes
  over the window from an `_Index` record, built from a driver list or a
  polygons TABLE by `_vertex_index` or `_segment_index`, or from the
  corpus by `knn_points`.

* Four polygon entry points, each taking `polygons` as a driver list or a
  polygons table: `knn_ring_expansion` / `knn_edge_ring_expansion` (k=1,
  `OUT_COLS`, with a tiny-input exact fast path) and `knn_k` /
  `knn_edge_k` (`KNN_K_OUT_COLS`).

* `knn_bruteforce` / `knn_edge_bruteforce` — vectorized NumPy baselines
  (points x index rows per Arrow batch). Oracle cross-check + the k=1
  tiny-input fast path for driver lists.

* `knn_points` — point-point self kNN. Its index is the whole corpus, so
  the loop explodes the sampled QUERY side over each window instead.

Speed-only choices are module constants, read at call time: the grid
resolution (`KNN_RES`, `KNN_POINTS_RES`), the window schedule (`WINDOWS`),
the broadcast cap (`BROADCAST_INDEX_MAX_ROWS`) and the fast-path gates
(`SMALL_INPUT_ROWS`, `SMALL_INDEX_VERTICES`). Every entry point returns the
same rows at any value of them; a test that needs a particular code path
sets the constant.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce
from typing import Any, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cellgrid
from ..functions.columns import md5_prefix_int
from ..plans.localtable import literal_table

KNN_RES = 9  # ~0.7 deg cells for the vertex index
OUT_COLS = ("url", "lat", "lon", "poly_id", "dist_sq")
KNN_K_OUT_COLS = ("url", "rnk", "poly_id", "dist_sq")
KNN_K = 3  # distinct airspaces per page in knn_k / knn_edge_k
# every driver round is a full barrier (join + agg + checkpoint), so fewer,
# wider windows win whenever the expanded index stays joinable: this
# schedule measured ~1.5x faster than four geometric windows at bench scale
# with identical output. For very dense index sets more geometric windows
# bound per-round candidate fan-out; past BROADCAST_INDEX_MAX_ROWS the wide
# round shuffle-joins instead of broadcasting either way.
WINDOWS = ((0, 1), (2, 15))
# exploded-side rows (index rows or queries x window offsets) past this are
# shuffle-joined on `cell` instead of broadcast: building + shipping a
# multi-hundred-MB broadcast relation costs more than shuffling the other
# side (measured ~20% on the wide vertex round at bench scale)
BROADCAST_INDEX_MAX_ROWS = 500_000
# brute-force fallback: vertices scanned per inner chunk so each Arrow batch
# allocates O(batch_rows x chunk) instead of O(batch_rows x all_vertices)
BRUTEFORCE_CHUNK = 4096
# k=1 fast-path gates: below these, the exact scan beats the expansion
# loop's 2+ driver barriers. The page-count probe uses limit(N+1).count() —
# a CollectLimit that early-exits after N+1 rows, so the gate costs
# O(threshold) regardless of table size (a full count() here would add a
# whole-table job at 100 TB).
SMALL_INPUT_ROWS = 100_000
SMALL_INDEX_VERTICES = 10_000


def _vertex_arrays(polygons: list[dict[str, Any]]):
    pids, vx, vy = [], [], []
    for poly in polygons:
        ring = np.asarray(poly["ring"], dtype=np.float64)[:-1]  # closing dup excluded
        pids.append(np.full(len(ring), int(poly["poly_id"]), dtype=np.int64))
        vx.append(ring[:, 0])
        vy.append(ring[:, 1])
    return np.concatenate(pids), np.concatenate(vx), np.concatenate(vy)


def knn_bruteforce(pages: DataFrame, polygons: list[dict[str, Any]]) -> DataFrame:
    """(url, nearest poly_id, dist_sq) by exact scan over all vertices —
    vectorized per Arrow batch; ties break to the smaller poly_id."""
    pids, vx, vy = _vertex_arrays(polygons)
    order = np.lexsort((pids,))  # stable: ties resolved to smallest poly_id
    pids, vx, vy = pids[order], vx[order], vy[order]

    result_type = T.StructType(
        [
            T.StructField("poly_id", T.IntegerType()),
            T.StructField("dist_sq", T.DoubleType()),
        ]
    )

    @F.pandas_udf(result_type)
    def nearest(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lon_np = lon.to_numpy(dtype=np.float64)[:, None]
        lat_np = lat.to_numpy(dtype=np.float64)[:, None]
        n = len(lon_np)
        # scan vertices in pid-sorted chunks: per-batch memory stays
        # O(batch_rows x BRUTEFORCE_CHUNK) however many vertices exist.
        # argmin's first-occurrence rule on the pid-sorted array + the
        # strict `<` merge give the smallest-poly_id tie-break (matches the
        # SQL oracle's row_number ordered by dist_sq, poly_id).
        best = np.full(n, np.inf)
        best_pid = np.full(n, -1, dtype=np.int64)
        for s in range(0, len(vx), BRUTEFORCE_CHUNK):
            cx, cy, cp = vx[s : s + BRUTEFORCE_CHUNK], vy[s : s + BRUTEFORCE_CHUNK], pids[s : s + BRUTEFORCE_CHUNK]
            dx = lon_np - cx[None, :]
            dy = lat_np - cy[None, :]
            d2 = dx * dx + dy * dy
            idx = d2.argmin(axis=1)
            dmin = d2[np.arange(n), idx]
            take = dmin < best
            best[take] = dmin[take]
            best_pid[take] = cp[idx[take]]
        return pd.DataFrame({"poly_id": best_pid.astype("int32"), "dist_sq": best})

    return pages.select(
        "url", "lat", "lon", nearest(F.col("lon"), F.col("lat")).alias("_nn")
    ).select("url", "lat", "lon", F.col("_nn.poly_id").alias("poly_id"), F.col("_nn.dist_sq").alias("dist_sq"))


def vertex_index_df(spark: SparkSession, polygons: list[dict[str, Any]]) -> DataFrame:
    """Polygon vertices indexed by grid cell (the small broadcast side):
    (vcell, key = poly_id, vlon, vlat)."""
    pids, vx, vy = _vertex_arrays(polygons)
    cells = cellgrid.encode_np(vx, vy, KNN_RES)
    pdf = pd.DataFrame({"vcell": cells, "key": pids.astype("int32"), "vlon": vx, "vlat": vy})
    # Explicit schema: without it the inferred dtype of the poly_id key
    # depends on spark.sql.execution.arrow.pyspark.enabled (arrow keeps
    # int32, the non-arrow fallback widens to bigint), so the same polygons
    # would give an int key in one session and a bigint key in another.
    return spark.createDataFrame(pdf, "vcell bigint, key int, vlon double, vlat double")


def vertex_index_from_table(polygons_df: DataFrame) -> DataFrame:
    """Distributed vertex index from a polygons TABLE: explode the ring
    column (closing duplicate dropped), encode cells with the codegen cell
    expression — no UDF, no driver materialization, so the polygon side can
    be millions of rows (the same scale fix polygon_cover_distributed makes
    for spatial_join's cover of a polygons table)."""
    pts = polygons_df.select(
        F.col("poly_id").cast("int").alias("key"),
        F.explode(F.slice(F.col("ring"), F.lit(1), F.size(F.col("ring")) - 1)).alias("pt"),
    ).select(
        "key",
        F.col("pt")[0].alias("vlon"),
        F.col("pt")[1].alias("vlat"),
    )
    return pts.select(
        cellgrid.cell_id_col(F.col("vlon"), F.col("vlat"), KNN_RES).alias("vcell"),
        "key",
        "vlon",
        "vlat",
    )


# ---------------------------------------------------------------------------
# edge-exact kNN: point-to-SEGMENT distance (r3 VERDICT item 2)
# ---------------------------------------------------------------------------
#
# Shared formulation — the EXACT same op order in the Spark expression, the
# NumPy kernels and the SQL oracle, so every intermediate is a single-rounded
# IEEE double and results hash-compare bit-for-bit:
#   dx = bx - ax; dy = by - ay; px = lon - ax; py = lat - ay
#   dot = px * dx + py * dy;    len2 = dx * dx + dy * dy
#   t = 0 if dot <= 0 else (1 if dot >= len2 else dot / len2)
#   ex = px - t * dx; ey = py - t * dy;  d2 = ex * ex + ey * ey
# A degenerate segment (a == b) has len2 = 0 and dot = 0, so t = 0 and d2
# falls back to the vertex distance — no division ever sees a zero.


def seg_d2_expr() -> Column:
    """Squared point-to-segment distance as a codegen expression over
    columns (lon, lat, ax, ay, bx, by)."""
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    px = F.col("lon") - F.col("ax")
    py = F.col("lat") - F.col("ay")
    dot = px * dx + py * dy
    len2 = dx * dx + dy * dy
    t = (
        F.when(dot <= F.lit(0.0), F.lit(0.0))
        .when(dot >= len2, F.lit(1.0))
        .otherwise(dot / len2)
    )
    ex = px - t * dx
    ey = py - t * dy
    return ex * ex + ey * ey


def _segment_arrays(polygons: list[dict[str, Any]]):
    """(pid, ax, ay, bx, by) NumPy arrays for every ring segment, sorted by
    poly_id (stable) so chunked argmin tie-breaks to the smallest pid."""
    pids, ax, ay, bx, by = [], [], [], [], []
    for poly in polygons:
        ring = np.asarray(poly["ring"], dtype=np.float64)
        pids.append(np.full(len(ring) - 1, int(poly["poly_id"]), dtype=np.int64))
        ax.append(ring[:-1, 0])
        ay.append(ring[:-1, 1])
        bx.append(ring[1:, 0])
        by.append(ring[1:, 1])
    pids = np.concatenate(pids)
    order = np.lexsort((pids,))
    return (
        pids[order],
        np.concatenate(ax)[order],
        np.concatenate(ay)[order],
        np.concatenate(bx)[order],
        np.concatenate(by)[order],
    )


def _seg_d2_np(lon, lat, ax, ay, bx, by):
    """NumPy twin of seg_d2_expr — identical op order, elementwise IEEE."""
    dx = bx - ax
    dy = by - ay
    px = lon - ax
    py = lat - ay
    dot = px * dx + py * dy
    len2 = dx * dx + dy * dy
    with np.errstate(invalid="ignore", divide="ignore"):
        t = np.where(dot <= 0.0, 0.0, np.where(dot >= len2, 1.0, dot / len2))
    ex = px - t * dx
    ey = py - t * dy
    return ex * ex + ey * ey


def knn_edge_bruteforce(pages: DataFrame, polygons: list[dict[str, Any]]) -> DataFrame:
    """(url, nearest poly_id, dist_sq) by exact scan over all SEGMENTS —
    vectorized per Arrow batch; ties break to the smaller poly_id."""
    pids, ax, ay, bx, by = _segment_arrays(polygons)

    result_type = T.StructType(
        [
            T.StructField("poly_id", T.IntegerType()),
            T.StructField("dist_sq", T.DoubleType()),
        ]
    )

    @F.pandas_udf(result_type)
    def nearest(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lon_np = lon.to_numpy(dtype=np.float64)[:, None]
        lat_np = lat.to_numpy(dtype=np.float64)[:, None]
        n = len(lon_np)
        best = np.full(n, np.inf)
        best_pid = np.full(n, -1, dtype=np.int64)
        for s in range(0, len(ax), BRUTEFORCE_CHUNK):
            d2 = _seg_d2_np(
                lon_np,
                lat_np,
                ax[None, s : s + BRUTEFORCE_CHUNK],
                ay[None, s : s + BRUTEFORCE_CHUNK],
                bx[None, s : s + BRUTEFORCE_CHUNK],
                by[None, s : s + BRUTEFORCE_CHUNK],
            )
            idx = d2.argmin(axis=1)
            dmin = d2[np.arange(n), idx]
            take = dmin < best
            best[take] = dmin[take]
            best_pid[take] = pids[s : s + BRUTEFORCE_CHUNK][idx[take]]
        return pd.DataFrame({"poly_id": best_pid.astype("int32"), "dist_sq": best})

    return pages.select(
        "url", "lat", "lon", nearest(F.col("lon"), F.col("lat")).alias("_nn")
    ).select(
        "url",
        "lat",
        "lon",
        F.col("_nn.poly_id").alias("poly_id"),
        F.col("_nn.dist_sq").alias("dist_sq"),
    )


# Explicit schema for the same arrow-off dtype-widening reason as
# vertex_index_df: the poly_id key stays int in every session.
_SEGMENT_INDEX_DDL = "vcell bigint, key int, ax double, ay double, bx double, by double"


def _segment_index_pdf(polygons: list[dict[str, Any]]) -> pd.DataFrame:
    """Segments indexed by the cells of sample points at Euclidean spacing
    <= cell_size (the broadcast side), built on the driver. Sampling only
    drives candidate generation — the reported distance is always the exact
    segment distance — so the ceil() here needs no cross-engine
    determinism."""
    import math

    size = cellgrid.cell_size_deg(KNN_RES)
    pids, ax, ay, bx, by = _segment_arrays(polygons)
    rows_cell, rows = [], []
    for i in range(len(pids)):
        seg_len = math.hypot(bx[i] - ax[i], by[i] - ay[i])
        n_samples = max(1, int(math.ceil(seg_len / size)))
        seen = set()
        for j in range(n_samples + 1):
            t = j / n_samples
            cell = int(
                cellgrid.encode_np(
                    np.array([ax[i] + t * (bx[i] - ax[i])]),
                    np.array([ay[i] + t * (by[i] - ay[i])]),
                    KNN_RES,
                )[0]
            )
            if cell not in seen:
                seen.add(cell)
                rows.append((cell, int(pids[i]), float(ax[i]), float(ay[i]), float(bx[i]), float(by[i])))
    pdf = pd.DataFrame(rows, columns=["vcell", "key", "ax", "ay", "bx", "by"])
    pdf["key"] = pdf["key"].astype("int32")
    return pdf


def segment_index_from_table(polygons_df: DataFrame) -> DataFrame:
    """Distributed segment index from a polygons TABLE: consecutive ring
    points zipped into segments, sample offsets exploded with sequence(),
    cells via the codegen cell expression — no UDF, no driver
    materialization (the same scale shape as vertex_index_from_table)."""
    ring = F.col("ring")
    segs = F.zip_with(
        F.slice(ring, 1, F.size(ring) - 1),
        F.slice(ring, 2, F.size(ring) - 1),
        lambda a, b: F.struct(
            a[0].alias("ax"), a[1].alias("ay"), b[0].alias("bx"), b[1].alias("by")
        ),
    )
    size = cellgrid.cell_size_deg(KNN_RES)
    seg_df = polygons_df.select(
        F.col("poly_id").cast("int").alias("key"), F.explode(segs).alias("s")
    ).select("key", "s.ax", "s.ay", "s.bx", "s.by")
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    n_samples = F.greatest(
        F.lit(1), F.ceil(F.sqrt(dx * dx + dy * dy) / F.lit(size)).cast("int")
    )
    sampled = seg_df.select(
        "key",
        "ax",
        "ay",
        "bx",
        "by",
        F.explode(F.sequence(F.lit(0), n_samples)).alias("j"),
        n_samples.alias("n"),
    )
    t = F.col("j").cast("double") / F.col("n").cast("double")
    sx = F.col("ax") + t * (F.col("bx") - F.col("ax"))
    sy = F.col("ay") + t * (F.col("by") - F.col("ay"))
    return sampled.select(
        cellgrid.cell_id_col(sx, sy, KNN_RES).alias("vcell"),
        "key",
        "ax",
        "ay",
        "bx",
        "by",
    ).dropDuplicates(["vcell", "key", "ax", "ay", "bx", "by"])


# ---------------------------------------------------------------------------
# the ring-expansion loop: k nearest DISTINCT index keys per page
# ---------------------------------------------------------------------------


class _Index(NamedTuple):
    """What the loop needs to know about an index.

    `df` is (vcell, key, *payload) on the `res` grid; `d2_expr` scores a
    candidate from (lon, lat, *payload). `n_rows` sizes the broadcast of
    the exploded index (None for the self-join index, which is never
    exploded). `bound_margin` (in cell units) relaxes the finalization
    bound for indexes whose rows SAMPLE an extended object: with segment
    samples at Euclidean spacing <= cell_size, an unseen segment (no
    sample inside Chebyshev ring hi) can still pass within (hi - 1/2) *
    cell_size of the page — every segment point is within spacing/2 of
    some sample.

    `self_join` marks the point index, which is the page corpus itself
    keyed by url: a page is not its own neighbour, the query side (an md5
    sample of the index, so the smaller side) is the one exploded over the
    annulus, and the index holds one row per key."""

    df: DataFrame
    n_rows: int | None
    d2_expr: Column
    bound_margin: float
    res: int
    self_join: bool = False


def _ring_points(polygons: list[dict[str, Any]]) -> int:
    """Ring vertices (= ring segments) of a driver list, closing dups excluded."""
    return sum(len(p["ring"]) - 1 for p in polygons)


def _checkpointed(index_df: DataFrame, spark: SparkSession) -> DataFrame:
    # coalesce before checkpointing: a table-built index inherits the
    # polygons table's partitioning, which can be far wider than the index
    # warrants (a 64-part polygons scan would otherwise spawn 64 near-empty
    # tasks in EVERY expansion round); capping at defaultParallelism keeps
    # rounds at cluster width without a shuffle. Checkpointed once: the
    # index feeds every round plus the fallback (fan-out audit rule).
    return index_df.coalesce(spark.sparkContext.defaultParallelism).localCheckpoint()


def _vertex_index(spark: SparkSession, polygons: list[dict[str, Any]] | DataFrame) -> _Index:
    """KNN_RES ring-vertex index from a driver list or a polygons TABLE
    (distributed explode — nothing polygon-shaped on the driver)."""
    if isinstance(polygons, DataFrame):
        df = _checkpointed(vertex_index_from_table(polygons), spark)
        n_rows = df.count()  # tiny job on the (small) vertex table
    else:
        df, n_rows = vertex_index_df(spark, polygons), _ring_points(polygons)
    dx = F.col("lon") - F.col("vlon")
    dy = F.col("lat") - F.col("vlat")
    return _Index(df, n_rows, dx * dx + dy * dy, 0.0, KNN_RES)


def _segment_index(spark: SparkSession, polygons: list[dict[str, Any]] | DataFrame) -> _Index:
    """KNN_RES sampled ring-segment index from a driver list or a polygons
    TABLE (distributed zip/explode); scored by the exact segment distance."""
    if isinstance(polygons, DataFrame):
        df = _checkpointed(segment_index_from_table(polygons), spark)
        n_rows = df.count()  # tiny job on the (small) segment table
    else:
        pdf = _segment_index_pdf(polygons)
        df, n_rows = spark.createDataFrame(pdf, _SEGMENT_INDEX_DDL), len(pdf)
    return _Index(df, n_rows, seg_d2_expr(), 0.5, KNN_RES)


def _annulus(spark: SparkSession, lo: int, hi: int) -> tuple[DataFrame, int]:
    """(cell-id offsets of the Chebyshev annulus lo..hi as a literal table,
    offset count)."""
    offsets = [
        dy * cellgrid._SHIFT + dx
        for dx in range(-hi, hi + 1)
        for dy in range(-hi, hi + 1)
        if lo <= max(abs(dx), abs(dy)) <= hi
    ]
    return literal_table(spark, [(o,) for o in offsets], "off bigint"), len(offsets)


def _top_k(pairs: DataFrame, index: _Index, keys: tuple[str, ...], k: int) -> DataFrame:
    """(*keys, best): the k smallest (d2, key) per group over DISTINCT
    index keys, scoring (page, index row) pairs with the index's metric.
    A polygon's many index rows take a per-(group, key) MIN first, so one
    polygon never occupies more than one top-k slot; the self-join index
    has one row per key, so it skips that aggregation and drops the
    page's own row instead."""
    scored = pairs.withColumn("d2", index.d2_expr)
    if index.self_join:
        scored = scored.where(F.col("key") != F.col("url"))
    else:
        scored = scored.groupBy(*keys, "key").agg(F.min("d2").alias("d2"))
    return scored.groupBy(*keys).agg(
        F.slice(F.array_sort(F.collect_list(F.struct(F.col("d2"), F.col("key")))), 1, k).alias("best")
    )


def _topk_distinct_key(best_col: str, cand_col: str, k: int, empty: str):
    """Merge two (d2, key) struct arrays into the k smallest entries with
    DISTINCT keys, ordered by (d2, key) ascending; `empty` is the typed
    empty array. The dedup is an aggregate() fold over the sorted concat —
    the fold state `acc` is lambda-local, so nothing outer re-evaluates per
    element (the HOF re-inline trap), and the fold caps acc at k so work
    per row is O(k^2) on arrays of at most 2k entries."""
    return F.expr(
        f"aggregate(array_sort(concat({best_col}, coalesce({cand_col}, {empty}))), "
        f"{empty}, (acc, x) -> CASE WHEN size(acc) >= {k} "
        f"OR exists(acc, y -> y.key = x.key) "
        f"THEN acc ELSE array_append(acc, x) END)"
    )


def _bruteforce_k(tail: DataFrame, index: _Index, k: int) -> DataFrame:
    """(url, lat, lon, best): exact k-nearest scan — broadcast the (small)
    page tail against every index partition, then `_top_k`. The loop's
    straggler fallback, and the k=1 tiny-input path for tables."""
    pairs = index.df.crossJoin(F.broadcast(tail.select("url", "lat", "lon")))
    return _top_k(pairs, index, ("url", "lat", "lon"), k)


def _explode_best(df: DataFrame) -> DataFrame:
    return df.select("url", "lat", "lon", F.posexplode("best")).select(
        "url",
        "lat",
        "lon",
        (F.col("pos") + 1).cast("int").alias("rnk"),
        F.col("col.key").alias("key"),
        F.col("col.d2").alias("dist_sq"),
    )


def _expansion_loop(pages: DataFrame, index: _Index, k: int) -> DataFrame:
    """(url, lat, lon, rnk, key, dist_sq): the k nearest DISTINCT index
    keys per page, rnk 1..k by (dist_sq, key), over the index's grid.

    Round r joins still-pending pages against the index over the Chebyshev
    ring WINDOW [lo_r, hi_r] of WINDOWS: one side explodes across the
    window's offsets so the other stays one row per cell key, with a plain
    equi-join on `cell`. A polygon index is the small side and explodes; a
    self-join index is the corpus, so the pending queries explode instead.
    The exploded side is broadcast while (its rows x offsets) stays within
    BROADCAST_INDEX_MAX_ROWS and shuffle-joined past it. For the queries
    those rows are counted once, before the first round: the pending set
    only shrinks, so that count bounds every round.

    A page finalizes once it holds k distinct keys whose k-th distance is
    STRICTLY under ((hi - margin) * cell_size)^2: any index row in an
    unseen ring (Chebyshev > hi) is at least (hi - margin) * size away, so
    no unseen key can enter the top k OR improve any reported key's
    distance; strict < keeps an exactly-on-the-bound unseen key from
    stealing the k-th slot via the key tie-break.

    Each round's candidates reduce to the per-url top k (`_top_k`), and the
    carried state merges by min-per-key (a later ring can re-surface an
    already-held polygon; the sorted-fold dedup keeps the smaller entry).
    Truncating a round's candidates to k is lossless: a dropped entry is
    (d2, key)-dominated by k distinct kept keys whose merged entries only
    ever improve. Each round barriers on a localCheckpoint of the shrinking
    pending set; pages still pending after the last window get the exact
    scan."""
    spark = pages.sparkSession
    size = cellgrid.cell_size_deg(index.res)
    key_t = index.df.schema["key"].dataType.simpleString()
    empty = f"cast(array() as array<struct<d2:double,key:{key_t}>>)"
    pending = (
        pages.select("url", "lat", "lon")
        .withColumn("cell", cellgrid.cell_id_col(F.col("lon"), F.col("lat"), index.res))
        .withColumn("best", F.expr(empty))
    )
    n_exploded = pages.count() if index.self_join else index.n_rows
    cells = index.df.withColumnRenamed("vcell", "cell")
    finalized: list[DataFrame] = []

    for lo, hi in WINDOWS:
        off_df, n_offsets = _annulus(spark, lo, hi)
        probe = pending.select("url", "lat", "lon", "cell")
        fixed, exploded = (cells, probe) if index.self_join else (probe, cells)
        win = exploded.crossJoin(off_df).withColumn("cell", F.col("cell") + F.col("off")).drop("off")
        if n_exploded * n_offsets <= BROADCAST_INDEX_MAX_ROWS:
            win = F.broadcast(win)
        cand = _top_k(fixed.join(win, "cell"), index, ("url",), k).withColumnRenamed("best", "cbest")
        merged = pending.join(cand, "url", "left").select(
            "url", "lat", "lon", "cell", _topk_distinct_key("best", "cbest", k, empty).alias("best")
        )
        bound = float(((hi - index.bound_margin) * size) * ((hi - index.bound_margin) * size))
        guarantee = (F.size("best") >= k) & (F.element_at("best", k)["d2"] < F.lit(bound))
        finalized.append(merged.where(guarantee).select("url", "lat", "lon", "best"))
        pending = merged.where(~guarantee).localCheckpoint()
        if pending.isEmpty():
            break
    else:
        finalized.append(_bruteforce_k(pending, index, k))

    return _explode_best(reduce(DataFrame.unionByName, finalized))


def _polygon_rows(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """The loop's or the exact scan's exploded rows as a polygon entry
    point's `cols` (the index key is the poly_id)."""
    return df.withColumnRenamed("key", "poly_id").select(*cols)


def _nearest(
    pages: DataFrame,
    polygons: list[dict[str, Any]] | DataFrame,
    build_index: Callable[[SparkSession, Any], _Index],
    numpy_twin: Callable[[DataFrame, list[dict[str, Any]]], DataFrame],
) -> DataFrame:
    """The k=1 entry points' body. Tiny-input fast path (same rows, no loop
    barriers; SMALL_INPUT_ROWS = 0 forces the loop): a driver list takes
    the vectorized NumPy twin before any index is built, a table the exact
    scan over its index."""

    def few_pages() -> bool:
        return pages.select("url").limit(SMALL_INPUT_ROWS + 1).count() <= SMALL_INPUT_ROWS

    spark = pages.sparkSession
    if isinstance(polygons, DataFrame):
        index = build_index(spark, polygons)
        if SMALL_INPUT_ROWS and index.n_rows <= SMALL_INDEX_VERTICES and few_pages():
            return _polygon_rows(_explode_best(_bruteforce_k(pages, index, 1)), OUT_COLS)
    else:
        if SMALL_INPUT_ROWS and _ring_points(polygons) <= SMALL_INDEX_VERTICES and few_pages():
            return numpy_twin(pages.select("url", "lat", "lon"), polygons).select(*OUT_COLS)
        index = build_index(spark, polygons)
    return _polygon_rows(_expansion_loop(pages, index, 1), OUT_COLS)


def knn_ring_expansion(pages: DataFrame, polygons: list[dict[str, Any]] | DataFrame) -> DataFrame:
    """(url, lat, lon, poly_id, dist_sq): the nearest polygon per page by
    VERTEX distance, ties to the smaller poly_id. `polygons` is a driver
    list or a polygons table."""
    return _nearest(pages, polygons, _vertex_index, knn_bruteforce)


def knn_edge_ring_expansion(pages: DataFrame, polygons: list[dict[str, Any]] | DataFrame) -> DataFrame:
    """(url, lat, lon, poly_id, dist_sq) by EXACT point-to-segment
    distance: sampled segments drive candidates only, the reported distance
    is the exact clamped projection."""
    return _nearest(pages, polygons, _segment_index, knn_edge_bruteforce)


def knn_k(pages: DataFrame, polygons: list[dict[str, Any]] | DataFrame) -> DataFrame:
    """(url, rnk, poly_id, dist_sq): the KNN_K nearest DISTINCT airspaces per
    page by VERTEX distance."""
    index = _vertex_index(pages.sparkSession, polygons)
    return _polygon_rows(_expansion_loop(pages, index, KNN_K), KNN_K_OUT_COLS)


def knn_edge_k(pages: DataFrame, polygons: list[dict[str, Any]] | DataFrame) -> DataFrame:
    """(url, rnk, poly_id, dist_sq): the KNN_K nearest DISTINCT airspaces per
    page by EXACT point-to-segment distance."""
    index = _segment_index(pages.sparkSession, polygons)
    return _polygon_rows(_expansion_loop(pages, index, KNN_K), KNN_K_OUT_COLS)


# ---------------------------------------------------------------------------
# point-point kNN: the k nearest OTHER pages for each sampled query page
# ---------------------------------------------------------------------------

KNN_POINTS_RES = 6  # ~5.6 deg cells — sized for geotag density
KNN_POINTS_K = 8  # neighbors per query page
KNN_POINTS_QUERY_MOD = 7  # a page is a query when md5-prefix(url) % this == 0


def knn_points(pages: DataFrame) -> DataFrame:
    """(url, rnk, neighbor, dist_sq): the KNN_POINTS_K nearest OTHER pages
    for each deterministically md5-sampled query page (md5-prefix(url) %
    KNN_POINTS_QUERY_MOD == 0), planar squared-degree distance, ties broken
    by neighbor url. The similarity-search shape the polygon kNN family
    lacks: a point-point self kNN join, run on the same `_expansion_loop`
    over KNN_POINTS_RES cells.

    The index is the corpus itself, (vcell, key = url, plon, plat),
    checkpointed once because every round and the fallback read it. It is
    a self-join index: the sampled queries are the side the Chebyshev
    annulus explodes, and a page is never its own neighbour.

    Contract: url is the page key (`url_sql` is a function of the unique
    doc_id), so the index holds one row per url. The loop keeps DISTINCT
    neighbour keys; a corpus that repeated a url would list it once here
    where the brute-force oracle lists it twice.

    The planar-degree metric is the operator's contract (no wraparound:
    longitudes 179.9 and -179.9 are far apart BY DEFINITION here, in both
    engines), which is also why cell-id arithmetic at grid edges is safe:
    aliased off-grid ids either match nothing or contribute far candidates
    that lose the top-k."""
    points = pages.select(
        cellgrid.cell_id_col(F.col("lon"), F.col("lat"), KNN_POINTS_RES).alias("vcell"),
        F.col("url").alias("key"),
        F.col("lon").alias("plon"),
        F.col("lat").alias("plat"),
    ).localCheckpoint()
    dx = F.col("plon") - F.col("lon")
    dy = F.col("plat") - F.col("lat")
    index = _Index(points, None, dx * dx + dy * dy, 0.0, KNN_POINTS_RES, self_join=True)
    queries = pages.where(md5_prefix_int("url") % F.lit(KNN_POINTS_QUERY_MOD) == 0).select("url", "lat", "lon")
    loop = _expansion_loop(queries.localCheckpoint(), index, KNN_POINTS_K)
    return loop.select("url", "rnk", F.col("key").alias("neighbor"), "dist_sq")
