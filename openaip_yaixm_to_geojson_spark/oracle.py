"""DuckDB oracle SQL generators.

Every `queries()` entry in `__spark_entry__.py` pairs with an ANSI-SQL
string from here that DuckDB executes over the same parquet tables. The
SQL recomputes the operator's semantics independently (regexp parsing,
CASE decision tables, even-odd point-in-polygon over embedded polygon
edges, MinHash via list lambdas, decimal-exact dot products) — it is not a
dump of expected outputs, except for `airspace_features`, whose VALUES are
produced by the driver-side converter twin that pytest pins to the
reference goldens. The fixed query values (`k`, windows, thresholds) are
the engine's module constants, read at call time as module attributes
(`knn.KNN_K`), so an edit of one value moves both sides.

Float-parity ground rules (shared with the Spark side):
* md5/ascii/integer arithmetic only for synthetic derivations;
* every fractional literal is CAST(... AS DOUBLE) — bare decimals parse as
  DECIMAL in both engines and decimal arithmetic is not bit-compatible;
* sums that feed compare-hashed outputs are exact DECIMAL accumulations;
* `repr(float)` literals round-trip to the identical IEEE double.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from .functions.cellgrid import cell_id_sql
from .functions.classmap import COMBO_TABLE, RULE_TYPES, TYPE_ONLY, TYPE_RENAME
from .functions.convert_local import fixture_polygons
from .operators import dedup, events, graph, knn, multimodal, relational, similarity, spatial, terms, text, tiles, web
from .plans import pipeline
from .sources import pages, warc
from .sources.pages import pages_cte, warc_ts_seconds_sql

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------


def pages_with() -> str:
    return f"pages AS ({pages_cte('duckdb')})"


@lru_cache(maxsize=4)
def _polys():
    return fixture_polygons()


def _dbl(x: float) -> str:
    """Exact IEEE double literal: bare decimal literals parse as DECIMAL and
    DuckDB's decimal->double conversion is not always correctly rounded;
    a VARCHAR->DOUBLE cast goes through strtod, which is."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def edges_values() -> str:
    rows = []
    for poly in _polys():
        ring = np.asarray(poly["ring"])
        name = poly["name"].replace("'", "''")
        for i in range(len(ring) - 1):
            rows.append(
                f"({poly['poly_id']},'{name}','{poly['type']}','{poly['class']}',"
                f"{_dbl(ring[i, 0])},{_dbl(ring[i, 1])},{_dbl(ring[i + 1, 0])},{_dbl(ring[i + 1, 1])})"
            )
    return (
        "(VALUES "
        + ",".join(rows)
        + ") AS e(poly_id, airspace_name, airspace_type, airspace_class, x1, y1, x2, y2)"
    )


def vertices_values() -> str:
    rows = []
    for poly in _polys():
        ring = np.asarray(poly["ring"])[:-1]
        for i in range(len(ring)):
            rows.append(f"({poly['poly_id']},{_dbl(ring[i, 0])},{_dbl(ring[i, 1])})")
    return "(VALUES " + ",".join(rows) + ") AS v(poly_id, vlon, vlat)"


def pip_hits_cte() -> str:
    """Even-odd (ray crossing) PIP over the embedded edges: equivalent to
    the engine's winding number on these simple rings."""
    return f"""hits AS (
  SELECT p.url, p.lat, p.lon, e.poly_id,
         MIN(e.airspace_name) AS airspace_name,
         MIN(e.airspace_type) AS airspace_type,
         MIN(e.airspace_class) AS airspace_class
  FROM pages p JOIN {edges_values()} ON TRUE
  GROUP BY p.url, p.lat, p.lon, e.poly_id
  HAVING SUM(CASE WHEN (e.y1 > p.lat) <> (e.y2 > p.lat)
              THEN (CASE WHEN p.lon < e.x1 + (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1)
                    THEN 1 ELSE 0 END)
              ELSE 0 END) % 2 = 1
)"""


# ---------------------------------------------------------------------------
# spatial oracles
# ---------------------------------------------------------------------------


def sql_page_cells() -> str:
    return (
        f"WITH {pages_with()} "
        f"SELECT url, lat, lon, {cell_id_sql('lon', 'lat', spatial.DEFAULT_JOIN_RES)} AS cell FROM pages"
    )


def sql_spatial_join() -> str:
    return (
        f"WITH {pages_with()}, {pip_hits_cte()} "
        "SELECT url, poly_id, airspace_name, airspace_type, airspace_class FROM hits"
    )


def sql_join_count_by_airspace() -> str:
    return (
        f"WITH {pages_with()}, {pip_hits_cte()} "
        "SELECT poly_id, airspace_name, airspace_class, "
        "COUNT(*) AS doc_count, COUNT(DISTINCT url) AS n_docs "
        "FROM hits GROUP BY poly_id, airspace_name, airspace_class"
    )


def sql_range_partition_plan() -> str:
    """relational.range_partition_plan twin: value-granularity histogram,
    cumulative count over sorted distinct values, edge_j = min value whose
    cum reaches the identical ceil-div target, bin = #edges < value."""
    n_bins = relational.RANGE_PARTITION_BINS

    return f"""WITH h AS (SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
           FROM documents GROUP BY 1),
cm AS (SELECT v, c,
       CAST(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       CAST(SUM(c) OVER () AS BIGINT) AS n
       FROM h),
ed AS (SELECT j, MIN(v) AS edge
       FROM cm CROSS JOIN (SELECT unnest(range(1, {n_bins})) AS j)
       WHERE cum >= (j * n + {n_bins - 1}) // {n_bins}
       GROUP BY j),
asg AS (SELECT v, c, CAST(SUM(CASE WHEN edge < v THEN 1 ELSE 0 END) AS BIGINT) AS bin_id
        FROM cm CROSS JOIN ed GROUP BY v, c)
SELECT bin_id, MIN(v) AS lo_value, MAX(v) AS hi_value,
       CAST(SUM(c) AS BIGINT) AS n_docs
FROM asg GROUP BY bin_id"""


def sql_page_zorder() -> str:
    """spatial.page_zorder twin: identical floor-encode coordinates and the
    SAME morton_terms interleave (integer div/mod/mul only; DuckDB `//`
    spelling of Spark's `div`)."""
    from .functions.cellgrid import cell_size_deg, morton_terms

    size = repr(cell_size_deg(spatial.ZORDER_RES))
    return f"""WITH {pages_with()},
xy AS (SELECT url,
       CAST(FLOOR((lon + 180.0) / {size}) AS BIGINT) AS zx,
       CAST(FLOOR((lat + 90.0) / {size}) AS BIGINT) AS zy
       FROM pages)
SELECT url, CAST({morton_terms('zx', 'zy', spatial.ZORDER_RES, '//')} AS BIGINT) AS zkey FROM xy"""


def sql_salt_plan() -> str:
    """spatial.salt_plan twin: hottest-cell histogram max (ties to the
    smaller cell), salt = ceil-div clamped to [1, 64] in integer
    arithmetic. Resolution and rows per task are read from the engine's
    constants at call time, so both sides share one salt target."""
    res, rows_per_task = spatial.DEFAULT_JOIN_RES, spatial.ROWS_PER_TASK
    return f"""WITH {pages_with()},
h AS (SELECT {cell_id_sql('lon', 'lat', res)} AS cell, CAST(COUNT(*) AS BIGINT) AS n_pages
      FROM pages GROUP BY 1),
t AS (SELECT cell AS hottest_cell, n_pages AS hottest_rows,
             ROW_NUMBER() OVER (ORDER BY n_pages DESC, cell) AS rn FROM h)
SELECT hottest_cell, hottest_rows,
       LEAST(CAST(64 AS BIGINT), GREATEST(CAST(1 AS BIGINT),
         (hottest_rows + {rows_per_task - 1}) // {rows_per_task})) AS salt
FROM t WHERE rn = 1"""


def sql_knn() -> str:
    return f"""WITH {pages_with()},
d AS (
  SELECT p.url, v.poly_id,
         MIN((p.lon - v.vlon) * (p.lon - v.vlon) + (p.lat - v.vlat) * (p.lat - v.vlat)) AS dist_sq
  FROM pages p JOIN {vertices_values()} ON TRUE
  GROUP BY p.url, v.poly_id
)
SELECT url, poly_id, dist_sq
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY dist_sq, poly_id) AS rn FROM d)
WHERE rn = 1"""


def sql_knn_k() -> str:
    """knn.knn_k twin, index-free: per-(url, poly_id) MIN vertex distance
    over ALL embedded vertices (a polygon's many vertices fill one slot),
    then ROW_NUMBER by (dist_sq, poly_id) kept through rank KNN_K —
    verifying the k-th-distance finalization bound, the min-per-poly_id
    cross-round merge and the round-candidate truncation against brute
    force."""
    return f"""WITH {pages_with()},
d AS (
  SELECT p.url, v.poly_id,
         MIN((p.lon - v.vlon) * (p.lon - v.vlon) + (p.lat - v.vlat) * (p.lat - v.vlat)) AS dist_sq
  FROM pages p JOIN {vertices_values()} ON TRUE
  GROUP BY p.url, v.poly_id
)
SELECT url, CAST(rn AS INT) AS rnk, poly_id, dist_sq
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY dist_sq, poly_id) AS rn FROM d)
WHERE rn <= {knn.KNN_K}"""


def sql_knn_edge_k() -> str:
    """knn.knn_edge_k twin: the sql_knn_edge point-to-segment formulation
    (identical clamped-projection op order) ranked through KNN_K instead
    of 1."""
    return f"""WITH {pages_with()},
seg AS (
  SELECT p.url, e.poly_id,
         (e.x2 - e.x1) AS dx, (e.y2 - e.y1) AS dyy,
         (p.lon - e.x1) AS px, (p.lat - e.y1) AS py
  FROM pages p JOIN {edges_values()} ON TRUE
),
tt AS (
  SELECT url, poly_id, dx, dyy, px, py,
         (px * dx + py * dyy) AS dot, (dx * dx + dyy * dyy) AS len2
  FROM seg
),
dd AS (
  SELECT url, poly_id,
         (px - (CASE WHEN dot <= 0 THEN 0 WHEN dot >= len2 THEN 1 ELSE dot / len2 END) * dx) AS ex,
         (py - (CASE WHEN dot <= 0 THEN 0 WHEN dot >= len2 THEN 1 ELSE dot / len2 END) * dyy) AS ey
  FROM tt
),
d AS (SELECT url, poly_id, MIN(ex * ex + ey * ey) AS dist_sq FROM dd GROUP BY url, poly_id)
SELECT url, CAST(rn AS INT) AS rnk, poly_id, dist_sq
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY dist_sq, poly_id) AS rn FROM d)
WHERE rn <= {knn.KNN_K}"""


def sql_geo_cluster_cells() -> str:
    """spatial.geo_cluster_cells twin with an INDEPENDENT component
    strategy: the dense-cell adjacency closure as a recursive-CTE
    fixpoint (reachability x label, UNION-deduped) and cluster_id =
    MIN(reachable label) — no iteration budget, no label propagation.
    Neighbor test on decoded (x, y) with abs diffs, same planar
    no-wrap contract."""
    from .functions.cellgrid import _SHIFT

    return f"""WITH RECURSIVE {pages_with()},
c AS (SELECT {cell_id_sql('lon', 'lat', spatial.GEO_CLUSTER_RES)} AS cell FROM pages),
d AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_points FROM c
      GROUP BY cell HAVING COUNT(*) >= {spatial.GEO_CLUSTER_MIN_PTS}),
xy AS (SELECT cell, cell % {_SHIFT} AS x, (cell // {_SHIFT}) % {_SHIFT} AS y, n_points FROM d),
e AS (SELECT a.cell AS src, b.cell AS dst FROM xy a JOIN xy b
      ON abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1 AND a.cell <> b.cell),
reach AS (
  SELECT cell, cell AS lab FROM xy
  UNION
  SELECT e.dst AS cell, r.lab FROM reach r JOIN e ON e.src = r.cell
),
lbl AS (SELECT cell, MIN(lab) AS cluster_id FROM reach GROUP BY cell)
SELECT xy.cell, lbl.cluster_id, xy.n_points FROM xy JOIN lbl ON lbl.cell = xy.cell"""


def sql_knn_points() -> str:
    """knn.knn_points twin, deliberately index-free: every md5-sampled
    query ranked against the FULL page set by the identical planar
    squared-degree distance (dx*dx + dy*dy, same op order), ROW_NUMBER
    tie-broken on neighbor url — verifying the cell-annulus expansion,
    finalization bound and fallback against brute force."""
    return f"""WITH {pages_with()},
qh AS (SELECT url, lat, lon, md5(url) AS mh FROM pages),
q AS (SELECT url, lat, lon FROM qh WHERE {_hexcol_sql('mh', 1)} % {knn.KNN_POINTS_QUERY_MOD} = 0),
pr AS (SELECT q.url, p.url AS neighbor,
              (p.lon - q.lon) AS dx, (p.lat - q.lat) AS dy
       FROM q JOIN pages p ON p.url <> q.url),
d AS (SELECT url, neighbor, dx * dx + dy * dy AS dist_sq FROM pr),
r AS (SELECT url, neighbor, dist_sq,
      ROW_NUMBER() OVER (PARTITION BY url ORDER BY dist_sq, neighbor) AS rn FROM d)
SELECT url, CAST(rn AS INT) AS rnk, neighbor, dist_sq FROM r WHERE rn <= {knn.KNN_POINTS_K}"""


def rings_values() -> str:
    """Embedded rings as ordered list literals (exact strtod doubles) —
    for oracles that need the ring SEQUENCE, not the edge set."""
    rows = []
    for poly in _polys():
        ring = np.asarray(poly["ring"])
        pts = ", ".join(f"[{_dbl(x)}, {_dbl(y)}]" for x, y in ring)
        rows.append(f"({poly['poly_id']}, [{pts}])")
    return "(VALUES " + ", ".join(rows) + ") AS r(poly_id, ring)"


def sql_polygon_area_orientation() -> str:
    """spatial.polygon_area_orientation twin: shoelace cross terms via
    list_transform, 0.0-seeded strict left-fold double sum (list_prepend +
    list_reduce == Spark's aggregate(terms, 0.0, +) bit-for-bit), abs/2
    and the sign as single IEEE ops."""
    terms = (
        "list_transform(generate_series(1, len(ring) - 1), "
        "i -> ring[i][1] * ring[i + 1][2] - ring[i + 1][1] * ring[i][2])"
    )
    fold = f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {terms}), (x, y) -> x + y)"
    return f"""WITH s AS (SELECT poly_id, {fold} AS s2 FROM {rings_values()})
SELECT poly_id, abs(s2) / 2.0 AS area_deg2, s2 > 0.0 AS is_ccw FROM s"""


def sql_ring_decimate() -> str:
    """spatial.ring_decimate twin: identical neighbour-triangle area test
    (same sub/mul order, single abs, same strtod threshold literal) over
    the embedded exact rings; endpoints always kept."""
    thr = repr(2e-6)
    cross = (
        "abs((ring[i][1] - ring[i-1][1]) * (ring[i+1][2] - ring[i][2]) - "
        "(ring[i][2] - ring[i-1][2]) * (ring[i+1][1] - ring[i][1]))"
    )
    return f"""WITH r AS (SELECT poly_id, ring FROM {rings_values()}),
k AS (SELECT poly_id, ring,
             CASE WHEN len(ring) >= 3 THEN
               list_concat(list_concat([CAST(1 AS BIGINT)],
                 list_filter(generate_series(2, len(ring) - 1), i -> {cross} > {thr})),
                 [CAST(len(ring) AS BIGINT)])
             ELSE generate_series(1, len(ring)) END AS keep
      FROM r),
u AS (SELECT poly_id, ring, unnest(keep) AS vertex_idx FROM k)
SELECT CAST(poly_id AS INT) AS poly_id, CAST(vertex_idx AS INT) AS vertex_idx,
       ring[vertex_idx][1] AS x, ring[vertex_idx][2] AS y
FROM u"""


def sql_polygon_overlap_pairs() -> str:
    """Polygon-overlap oracle over the embedded edges, formulation-shared
    with operators/spatial._rings_overlap_np: even-odd vertex containment
    (the pip_hits_cte op order) OR a strict proper edge crossing
    (d1*d2 < 0 AND d3*d4 < 0 sign tests, no division) — identical IEEE
    sequences in both engines, so boundary-degenerate abutting sectors get
    the same deterministic verdict. Candidates here are ALL pairs (the
    oracle is independent of the engine's cover-join candidate step)."""
    d1 = "((a.x2 - a.x1) * (b.y1 - a.y1) - (a.y2 - a.y1) * (b.x1 - a.x1))"
    d2 = "((a.x2 - a.x1) * (b.y2 - a.y1) - (a.y2 - a.y1) * (b.x2 - a.x1))"
    d3 = "((b.x2 - b.x1) * (a.y1 - b.y1) - (b.y2 - b.y1) * (a.x1 - b.x1))"
    d4 = "((b.x2 - b.x1) * (a.y2 - b.y1) - (b.y2 - b.y1) * (a.x2 - b.x1))"
    return f"""WITH e AS (SELECT * FROM {edges_values()}),
verts AS (SELECT DISTINCT poly_id, x1 AS vx, y1 AS vy FROM e),
vin AS (
  SELECT LEAST(v.poly_id, e.poly_id) AS poly_a, GREATEST(v.poly_id, e.poly_id) AS poly_b
  FROM verts v JOIN e ON e.poly_id <> v.poly_id
  GROUP BY v.poly_id, e.poly_id, v.vx, v.vy
  HAVING SUM(CASE WHEN (e.y1 > v.vy) <> (e.y2 > v.vy)
              THEN (CASE WHEN v.vx < e.x1 + (e.x2 - e.x1) * (v.vy - e.y1) / (e.y2 - e.y1)
                    THEN 1 ELSE 0 END)
              ELSE 0 END) % 2 = 1
),
xs AS (
  SELECT a.poly_id AS poly_a, b.poly_id AS poly_b
  FROM e a JOIN e b ON a.poly_id < b.poly_id
  WHERE {d1} * {d2} < 0 AND {d3} * {d4} < 0
)
SELECT DISTINCT poly_a, poly_b
FROM (SELECT poly_a, poly_b FROM vin UNION ALL SELECT poly_a, poly_b FROM xs)"""


def sql_polygon_contains_pairs() -> str:
    """spatial.polygon_contains_pairs twin: DIRECTED (outer, inner) pairs
    where EVERY distinct inner vertex passes the even-odd test against the
    outer edges (BOOL_AND over the per-vertex parity, identical op order
    to sql_polygon_overlap_pairs) and no edge properly crosses (the same
    strict sign tests, both directions covered by the a <> b join);
    candidates are ALL ordered pairs — independent of the engine's cover
    self-join."""
    d1 = "((a.x2 - a.x1) * (b.y1 - a.y1) - (a.y2 - a.y1) * (b.x1 - a.x1))"
    d2 = "((a.x2 - a.x1) * (b.y2 - a.y1) - (a.y2 - a.y1) * (b.x2 - a.x1))"
    d3 = "((b.x2 - b.x1) * (a.y1 - b.y1) - (b.y2 - b.y1) * (a.x1 - b.x1))"
    d4 = "((b.x2 - b.x1) * (a.y2 - b.y1) - (b.y2 - b.y1) * (a.x2 - b.x1))"
    return f"""WITH e AS (SELECT * FROM {edges_values()}),
verts AS (SELECT DISTINCT poly_id, x1 AS vx, y1 AS vy FROM e),
vin AS (
  SELECT v.poly_id AS inner_poly, e.poly_id AS outer_poly,
         SUM(CASE WHEN (e.y1 > v.vy) <> (e.y2 > v.vy)
              THEN (CASE WHEN v.vx < e.x1 + (e.x2 - e.x1) * (v.vy - e.y1) / (e.y2 - e.y1)
                    THEN 1 ELSE 0 END)
              ELSE 0 END) % 2 = 1 AS inside
  FROM verts v JOIN e ON e.poly_id <> v.poly_id
  GROUP BY v.poly_id, e.poly_id, v.vx, v.vy
),
allin AS (SELECT outer_poly, inner_poly FROM vin
          GROUP BY outer_poly, inner_poly HAVING BOOL_AND(inside)),
xs AS (
  SELECT DISTINCT a.poly_id AS outer_poly, b.poly_id AS inner_poly
  FROM e a JOIN e b ON a.poly_id <> b.poly_id
  WHERE {d1} * {d2} < 0 AND {d3} * {d4} < 0
)
SELECT outer_poly, inner_poly FROM allin
EXCEPT
SELECT outer_poly, inner_poly FROM xs"""


def sql_knn_edge() -> str:
    """Edge-exact kNN oracle: minimum squared point-to-SEGMENT distance
    over the embedded edges, identical op order to operators/knn.seg_d2_expr
    (dot/len2 projection clamped via CASE; degenerate segments hit the
    dot <= 0 branch, so no division by zero) — every intermediate is a
    single-rounded IEEE double, hash-identical across engines."""
    return f"""WITH {pages_with()},
seg AS (
  SELECT p.url, e.poly_id,
         (e.x2 - e.x1) AS dx, (e.y2 - e.y1) AS dyy,
         (p.lon - e.x1) AS px, (p.lat - e.y1) AS py
  FROM pages p JOIN {edges_values()} ON TRUE
),
tt AS (
  SELECT url, poly_id, dx, dyy, px, py,
         (px * dx + py * dyy) AS dot, (dx * dx + dyy * dyy) AS len2
  FROM seg
),
dd AS (
  SELECT url, poly_id,
         (px - (CASE WHEN dot <= 0 THEN 0 WHEN dot >= len2 THEN 1 ELSE dot / len2 END) * dx) AS ex,
         (py - (CASE WHEN dot <= 0 THEN 0 WHEN dot >= len2 THEN 1 ELSE dot / len2 END) * dyy) AS ey
  FROM tt
),
d AS (SELECT url, poly_id, MIN(ex * ex + ey * ey) AS dist_sq FROM dd GROUP BY url, poly_id)
SELECT url, poly_id, dist_sq
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY url ORDER BY dist_sq, poly_id) AS rn FROM d)
WHERE rn = 1"""


def sql_tile_nearest_airspace() -> str:
    """tiles.tile_nearest_airspace twin: occupied-tile counts, centers by
    the identical exact arithmetic (-180.0 + (x + 0.5) * size, size a
    power-of-two multiple), nearest segment via the shared sql_knn_edge
    clamped-projection formulation, ties to the smaller poly_id."""
    from .functions.cellgrid import _SHIFT, cell_size_deg

    size = cell_size_deg(tiles.DEFAULT_TILE_RES)
    return f"""WITH {pages_with()},
tl AS (SELECT {cell_id_sql('lon', 'lat', tiles.DEFAULT_TILE_RES)} AS tile_id, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM pages GROUP BY 1),
ct AS (SELECT tile_id, n_docs,
       CAST(-180.0 AS DOUBLE) + (CAST(tile_id % {_SHIFT} AS DOUBLE) + CAST(0.5 AS DOUBLE)) * CAST({size!r} AS DOUBLE) AS lon,
       CAST(-90.0 AS DOUBLE) + (CAST((tile_id // {_SHIFT}) % {_SHIFT} AS DOUBLE) + CAST(0.5 AS DOUBLE)) * CAST({size!r} AS DOUBLE) AS lat
       FROM tl),
seg AS (
  SELECT c.tile_id, c.n_docs, e.poly_id,
         (e.x2 - e.x1) AS dx, (e.y2 - e.y1) AS dyy,
         (c.lon - e.x1) AS px, (c.lat - e.y1) AS py
  FROM ct c JOIN {edges_values()} ON TRUE
),
tt AS (
  SELECT tile_id, n_docs, poly_id, dx, dyy, px, py,
         (px * dx + py * dyy) AS dot, (dx * dx + dyy * dyy) AS len2
  FROM seg
),
dd AS (
  SELECT tile_id, n_docs, poly_id,
         (px - (CASE WHEN dot <= 0 THEN 0 WHEN dot >= len2 THEN 1 ELSE dot / len2 END) * dx) AS ex,
         (py - (CASE WHEN dot <= 0 THEN 0 WHEN dot >= len2 THEN 1 ELSE dot / len2 END) * dyy) AS ey
  FROM tt
),
d AS (SELECT tile_id, n_docs, poly_id, MIN(ex * ex + ey * ey) AS dist_sq
      FROM dd GROUP BY tile_id, n_docs, poly_id)
SELECT tile_id, n_docs, poly_id, dist_sq
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tile_id ORDER BY dist_sq, poly_id) AS rn FROM d)
WHERE rn = 1"""


def sql_tile_doc_counts() -> str:
    return (
        f"WITH {pages_with()} "
        f"SELECT {cell_id_sql('lon', 'lat', tiles.DEFAULT_TILE_RES)} AS tile_id, "
        "COUNT(*) AS doc_count, COUNT(DISTINCT lang) AS n_langs, "
        # DuckDB SUM(int) widens to HUGEINT (int128); Spark's is BIGINT. The
        # driver's hasher stringifies by type, so cast to match (r1 red cell).
        "CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars "
        "FROM pages GROUP BY 1"
    )


def sql_tile_zoom_rollup() -> str:
    """Child tiles re-aggregated to their parent via exact shift/mask
    arithmetic on the packed (res, y, x) id — same ops as
    operators/tiles.parent_tile_col."""
    S, lv = 536870912, tiles.ZOOM_LEVELS  # S = 2^29
    parent = (
        f"((((tile_id >> 58) - {lv}) * {S} + (((tile_id >> 29) & {S - 1}) >> {lv})) * {S}"
        f" + ((tile_id & {S - 1}) >> {lv}))"
    )
    return f"""
WITH {pages_with()},
t AS (
  SELECT {cell_id_sql('lon', 'lat', tiles.DEFAULT_TILE_RES)} AS tile_id,
         COUNT(*) AS doc_count,
         CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
  FROM pages GROUP BY 1
)
SELECT {parent} AS tile_id,
       CAST(SUM(doc_count) AS BIGINT) AS doc_count,
       CAST(SUM(total_chars) AS BIGINT) AS total_chars
FROM t GROUP BY 1"""


def sql_tile_class_rollup() -> str:
    return (
        f"WITH {pages_with()}, {pip_hits_cte()} "
        f"SELECT {cell_id_sql('lon', 'lat', tiles.DEFAULT_TILE_RES)} AS tile_id, airspace_class, "
        "COUNT(*) AS doc_count, COUNT(DISTINCT url) AS n_docs "
        "FROM hits GROUP BY ROLLUP(1, airspace_class)"
    )


def sql_text_passthrough() -> str:
    return (
        f"WITH {pages_with()}, {pip_hits_cte()} "
        "SELECT h.url, MIN(p.text) AS text, MIN(md5(p.text)) AS text_digest "
        "FROM hits h JOIN pages p ON h.url = p.url GROUP BY h.url"
    )


def sql_sessionize() -> str:
    """Gap-based sessionization of page fetches per language key: the same
    lag + running-counter formulation as operators/events.sessionize."""
    return f"""WITH {pages_with()},
ev AS (SELECT lang AS key, {warc_ts_seconds_sql('md5(url)')} AS t FROM pages),
m AS (
  SELECT key, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY key ORDER BY t) > 500000
              THEN 1 ELSE 0 END AS ns
  FROM ev
),
s AS (SELECT key, t, SUM(ns) OVER (PARTITION BY key ORDER BY t) AS sid FROM m)
SELECT key, MIN(t) AS session_start, MAX(t) AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY key, sid"""


def sql_pricing_summary() -> str:
    return """SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus"""


def sql_local_supplier_revenue() -> str:
    """relational.local_supplier_revenue twin (TPC-H Q5 shape), same
    DECIMAL-exact revenue sum."""
    return """SELECT n_name,
       CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name"""


def sql_big_orders() -> str:
    """relational.big_orders twin (TPC-H Q18 shape): same DECIMAL-exact
    quantity sum, threshold compare on the exact value."""
    return """WITH q AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS qd
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) > 300
)
SELECT o_orderkey, o_custkey, o_totalprice, CAST(qd AS DOUBLE) AS total_qty
FROM orders JOIN q ON o_orderkey = l_orderkey"""


def sql_snapshot_diff() -> str:
    """relational.snapshot_diff twin over the deterministic v2 snapshot:
    same md5 content compare, same change classification."""
    return f"""WITH v2 AS ({relational.snapshot_v2_sql('duckdb')}),
o AS (SELECT doc_id AS key, md5(text) AS oh, TRUE AS in_old FROM documents),
n AS (SELECT doc_id AS key, md5(text) AS nh, TRUE AS in_new FROM v2),
j AS (SELECT COALESCE(o.key, n.key) AS key, oh, nh, in_old, in_new
      FROM o FULL OUTER JOIN n ON o.key = n.key),
c AS (SELECT key,
             CASE WHEN in_old IS NULL THEN 'added'
                  WHEN in_new IS NULL THEN 'removed'
                  WHEN oh IS DISTINCT FROM nh THEN 'changed' END AS change_type
      FROM j)
SELECT key, change_type FROM c WHERE change_type IS NOT NULL"""


def sql_segment_revenue_topk() -> str:
    return """WITH agg AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS revenue_dec
  FROM customer JOIN orders ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY o_orderkey, o_orderpriority
  ORDER BY revenue_dec DESC, o_orderkey ASC
  LIMIT 10
)
SELECT o_orderkey, o_orderpriority, CAST(revenue_dec AS DOUBLE) AS revenue FROM agg"""


def sql_events_sessions() -> str:
    """Per-user gap sessions over the events table (epoch seconds via
    floor(epoch(ts)) — Spark's unix_timestamp floors the same way)."""
    return f"""WITH ev AS (
  SELECT CAST(user_id AS VARCHAR) AS key, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
m AS (
  SELECT key, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY key ORDER BY t) > {events.SESSION_GAP_SECONDS}
              THEN 1 ELSE 0 END AS ns
  FROM ev
),
s AS (SELECT key, t, SUM(ns) OVER (PARTITION BY key ORDER BY t) AS sid FROM m)
SELECT key, MIN(t) AS session_start, MAX(t) AS session_end, COUNT(*) AS n_events
FROM s GROUP BY key, sid"""


def sql_event_type_windows() -> str:
    return f"""WITH ev AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e, event_type,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
)
SELECT e - e % {events.WINDOW_SECONDS} AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(v) AS DECIMAL(38,2)) AS DOUBLE) AS total_value
FROM ev GROUP BY 1, 2"""


def sql_props_k_stats() -> str:
    return """SELECT event_type, COUNT(*) AS n_events,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
       COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_distinct
FROM events GROUP BY event_type"""


# ---------------------------------------------------------------------------
# converter oracles
# ---------------------------------------------------------------------------

CEILING_SAMPLES = [
    "SFC",
    "2367 ft",
    "13000 ft",
    "1500 ft SFC",
    "2500 ft",
    "5000 ft",
    "FL65",
    "FL105",
    "FL115",
    "FL 245",
    "600 FT",
    "3.5 ft",
]


def sql_ceiling_parse() -> str:
    feet = r"^(\d+(\.\d+)?)\s*(ft|FT)?\s*(SFC)?$"
    fl = r"^FL\s*(\d{2,})?$"
    values = ",".join(f"('{s}')" for s in CEILING_SAMPLES)
    return f"""
SELECT ceiling,
  CASE WHEN ceiling = 'SFC' THEN CAST(0 AS DOUBLE)
       WHEN regexp_matches(ceiling, '{feet}') THEN CAST(regexp_extract(ceiling, '{feet}', 1) AS DOUBLE)
       WHEN regexp_matches(ceiling, '{fl}') THEN CAST(regexp_extract(ceiling, '{fl}', 1) AS DOUBLE)
  END AS value,
  CASE WHEN ceiling = 'SFC' THEN 'FT'
       WHEN regexp_matches(ceiling, '{feet}') THEN
            (CASE WHEN regexp_extract(ceiling, '{feet}', 3) = '' THEN NULL
                  ELSE upper(regexp_extract(ceiling, '{feet}', 3)) END)
       WHEN regexp_matches(ceiling, '{fl}') THEN 'FL'
  END AS unit,
  CASE WHEN ceiling = 'SFC' THEN 'GND'
       WHEN regexp_matches(ceiling, '{feet}') THEN
            (CASE WHEN regexp_extract(ceiling, '{feet}', 4) = 'SFC' THEN 'GND' ELSE 'MSL' END)
       WHEN regexp_matches(ceiling, '{fl}') THEN 'STD'
  END AS reference_datum
FROM (VALUES {values}) AS t(ceiling)"""


# (type, localtype, class, rules) rows covering every mapping branch
MAPPING_SAMPLES: list[tuple[str | None, str | None, str | None, list[str] | None]] = [
    ("CTA", None, "D", None),
    ("TMA", None, "A", ["NOTAM"]),
    ("CTR", None, "D", None),
    ("ATZ", None, "G", None),
    ("D", None, "UNCLASSIFIED", ["NOTAM"]),
    ("P", None, "A", None),
    ("R", None, "B", None),
    ("CTA", None, "E", ["TMZ"]),
    ("CTA", None, "E", ["NOTAM", "TRA"]),
    ("CTA", None, "E", ["RMZ", "TMZ"]),
    ("OTHER", "MATZ", None, None),
    ("D_OTHER", "GLIDER", None, None),
    ("D_OTHER", "GVS", None, None),
    ("D_OTHER", "HIRTA", None, None),
    ("D_OTHER", "LASER", None, None),
    ("OTHER", "ILS", None, None),
    ("D_OTHER", "DZ", None, None),
    ("OTHER", "GLIDER", None, None),
    ("OTHER", "NOATZ", None, None),
    ("OTHER", "UL", None, None),
    ("OTHER", "RMZ", None, None),
    ("OTHER", "TMZ", None, None),
    ("ATZ", None, None, None),
    ("D", None, None, None),
    ("P", None, None, None),
    ("R", None, None, None),
]


def _sql_str(x: str | None) -> str:
    return "NULL" if x is None else f"'{x}'"


def _sql_rules(rules: list[str] | None) -> str:
    if rules is None:
        return "CAST(NULL AS VARCHAR[])"
    return "[" + ",".join(f"'{r}'" for r in rules) + "]"


def sql_class_type_mapping() -> str:
    values = ",".join(
        f"({i},{_sql_str(t)},{_sql_str(lt)},{_sql_str(c)},{_sql_rules(r)})"
        for i, (t, lt, c, r) in enumerate(MAPPING_SAMPLES)
    )
    rule_list = "[" + ",".join(f"'{r}'" for r in RULE_TYPES) + "]"
    rename = " ".join(f"WHEN '{src}' THEN '{dst}'" for src, dst in TYPE_RENAME.items())
    combo_t = " ".join(
        f"WHEN eff = '{t}' AND localtype = '{lt}' THEN '{mt}'" for (t, lt), (mt, _, _) in COMBO_TABLE.items()
    )
    combo_c = " ".join(
        f"WHEN eff = '{t}' AND localtype = '{lt}' THEN '{mc}'" for (t, lt), (_, mc, _) in COMBO_TABLE.items()
    )
    combo_a = " ".join(
        f"WHEN eff = '{t}' AND localtype = '{lt}' THEN {_sql_str(act)}"
        for (t, lt), (_, _, act) in COMBO_TABLE.items()
    )
    only_t = " ".join(f"WHEN '{t}' THEN '{mt}'" for t, (mt, _, _) in TYPE_ONLY.items())
    only_c = " ".join(f"WHEN '{t}' THEN '{mc}'" for t, (mc2, _, _) in TYPE_ONLY.items() for mc in [TYPE_ONLY[t][1]])
    return f"""
WITH input AS (
  SELECT row_id, type, localtype, class,
         COALESCE(list_filter(rules, r -> list_contains({rule_list}, r))[1], type) AS eff
  FROM (VALUES {values}) AS t(row_id, type, localtype, class, rules)
)
SELECT row_id,
  CASE WHEN class IS NOT NULL THEN (CASE eff {rename} END)
       WHEN localtype IS NOT NULL THEN (CASE {combo_t} END)
       ELSE (CASE eff {only_t} END)
  END AS mapped_type,
  CASE WHEN class IS NOT NULL THEN class
       WHEN localtype IS NOT NULL THEN (CASE {combo_c} END)
       ELSE (CASE eff {only_c} END)
  END AS mapped_class,
  COALESCE(CASE WHEN class IS NULL AND localtype IS NOT NULL THEN (CASE {combo_a} END) END, 'NONE') AS activity
FROM input"""


def sql_airspace_features() -> str:
    """Golden-twin VALUES: the driver-side converter (pinned to the
    reference goldens by pytest) provides the expected relational output of
    the full Spark conversion pipeline."""
    rows = []
    for f in _polys():
        gs = f.get("groundService")
        rows.append(
            "("
            + ",".join(
                [
                    _sql_str(f["name"]),
                    _sql_str(f["type"]),
                    _sql_str(f["class"]),
                    f"CAST({float(f['upperCeiling']['value'])!r} AS DOUBLE)",
                    _sql_str(f["upperCeiling"]["unit"]),
                    _sql_str(f["upperCeiling"]["referenceDatum"]),
                    f"CAST({float(f['lowerCeiling']['value'])!r} AS DOUBLE)",
                    _sql_str(f["lowerCeiling"]["unit"]),
                    _sql_str(f["lowerCeiling"]["referenceDatum"]),
                    "TRUE" if f["activatedByNotam"] else "FALSE",
                    _sql_str(f["activity"]),
                    _sql_str(f.get("remarks")),
                    _sql_str(gs["callsign"] if gs else None),
                    _sql_str(gs["frequency"] if gs else None),
                    str(len(f["ring"])),
                ]
            )
            + ")"
        )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(name, type, class, upper_value, upper_unit, upper_datum, "
        "lower_value, lower_unit, lower_datum, activated_by_notam, activity, "
        "remarks, gs_callsign, gs_frequency, n_ring_pts)"
    )


def sql_airspace_rings() -> str:
    """Golden-twin VALUES: md5 digest of each feature's densified ring
    (canonical 'lon,lat;...' string with repr floats). Pins the full
    geometry pipeline — not just vertex counts — into the driver's
    correctness gate; the twin itself is pytest-pinned to the reference
    goldens."""
    rows = []
    for f in _polys():
        canon = ";".join(f"{float(x)!r},{float(y)!r}" for x, y in np.asarray(f["ring"]))
        import hashlib

        digest = hashlib.md5(canon.encode()).hexdigest()
        rows.append(f"({f['poly_id']},'{digest}',{len(f['ring'])})")
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(poly_id, ring_digest, n_ring_pts)"
    )


def _services_values() -> str:
    from .data.fixtures_data import FIXTURES

    rows = []
    for idx, svc in enumerate(FIXTURES["service"]["service"]):
        controls = "[" + ",".join(f"'{c}'" for c in svc["controls"]) + "]"
        rows.append(f"({idx},'{svc['callsign']}',{controls},{float(svc['frequency'])!r})")
    return "(VALUES " + ",".join(rows) + ") AS s(service_idx, callsign, controls, frequency)"


def sql_service_join() -> str:
    """Unnest controls -> first-match service per airspace id, frequency
    zero-padded to 3 decimals."""
    # JS-padEnd semantics: pad the decimal part to 3 digits, never truncate
    freq = (
        "concat(string_split(CAST(s.frequency AS VARCHAR), '.')[1], '.', "
        "(CASE WHEN length(COALESCE(string_split(CAST(s.frequency AS VARCHAR), '.')[2], '000')) >= 3 "
        "THEN COALESCE(string_split(CAST(s.frequency AS VARCHAR), '.')[2], '000') "
        "ELSE rpad(COALESCE(string_split(CAST(s.frequency AS VARCHAR), '.')[2], '000'), 3, '0') END))"
    )
    return f"""
WITH exploded AS (
  SELECT s.service_idx, s.callsign, {freq} AS frequency,
         UNNEST(s.controls) AS airspace_id
  FROM {_services_values()}
)
SELECT airspace_id,
       arg_min(callsign, service_idx) AS callsign,
       arg_min(frequency, service_idx) AS frequency
FROM exploded GROUP BY airspace_id"""


# ---------------------------------------------------------------------------
# dedup / text / similarity oracles (documents & embeddings tables)
# ---------------------------------------------------------------------------


def sql_dedup_exact() -> str:
    return (
        "SELECT md5(text) AS digest, MIN(doc_id) AS representative, "
        "COUNT(*) AS n_copies FROM documents GROUP BY 1"
    )


_WORDS = "string_split_regex(trim(text), '\\s+')"

SHINGLES_EXPR = (
    f"list_distinct(CASE WHEN len({_WORDS}) >= 3 THEN "
    f"list_transform(generate_series(1, len({_WORDS}) - 2), "
    f"i -> concat({_WORDS}[i], ' ', {_WORDS}[i+1], ' ', {_WORDS}[i+2])) "
    "ELSE [] END)"
)


def _hex8_sql(arg: str) -> str:
    """BIGINT value of the first 8 hex chars of md5(arg) — ascii arithmetic
    (DuckDB has no hex-string-to-int conversion shared with Spark conv)."""
    hexval = (
        f"CAST((CASE WHEN ascii(substring(md5({arg}), {{i}}, 1)) >= 97 "
        f"THEN ascii(substring(md5({arg}), {{i}}, 1)) - 87 "
        f"ELSE ascii(substring(md5({arg}), {{i}}, 1)) - 48 END) AS BIGINT)"
    )
    return "(" + " + ".join(
        f"{hexval.format(i=k + 1)} * CAST({16 ** (7 - k)} AS BIGINT)" for k in range(8)
    ) + ")"


def _minhash_hashes_expr() -> str:
    """Base hashes: one md5 per shingle, x = hex8(md5(s)) % P — identical
    to operators/dedup.shingle_hash_col."""
    return f"list_transform(shingles, s -> {_hex8_sql('s')} % {dedup.MINHASH_P})"


def _minhash_exprs() -> list[str]:
    return [
        (
            f"list_aggregate(list_transform(hs, x -> (CAST({a} AS BIGINT) * x "
            f"+ CAST({b} AS BIGINT)) % {dedup.MINHASH_P}), 'min')"
        )
        for a, b in dedup.minhash_params()
    ]


def sql_minhash_signatures() -> str:
    sig = ", ".join(f"{e} AS h{j}" for j, e in enumerate(_minhash_exprs()))
    cols = ", ".join(f"h{j}" for j in range(dedup.MINHASH_NUM_HASHES))
    return f"""
WITH sh AS (SELECT doc_id, {SHINGLES_EXPR} AS shingles FROM documents),
hashed AS (SELECT doc_id, {_minhash_hashes_expr()} AS hs FROM sh WHERE len(shingles) > 0),
sig AS (SELECT doc_id, {sig} FROM hashed)
SELECT doc_id, concat_ws('|', {cols}) AS signature FROM sig"""


def sql_minhash_lsh_pairs(source: str = "documents") -> str:
    rows_per_band = dedup.MINHASH_NUM_HASHES // dedup.MINHASH_BANDS
    sig_exprs = ", ".join(f"{e} AS h{j}" for j, e in enumerate(_minhash_exprs()))
    sig_list = "[" + ", ".join(f"h{j}" for j in range(dedup.MINHASH_NUM_HASHES)) + "]"
    return f"""
WITH sh AS (SELECT doc_id AS key, {SHINGLES_EXPR} AS shingles FROM {source}),
hashed AS (SELECT key, shingles, {_minhash_hashes_expr()} AS hs FROM sh WHERE len(shingles) > 0),
sig AS (SELECT key, shingles, {sig_exprs} FROM hashed),
banded AS (
  SELECT key, shingles, b.band_idx,
         array_to_string(({sig_list})[b.band_idx * {rows_per_band} + 1 : (b.band_idx + 1) * {rows_per_band}], '|') AS band_key
  FROM sig, (SELECT UNNEST(generate_series(0, {dedup.MINHASH_BANDS - 1})) AS band_idx) b
),
cands AS (
  SELECT DISTINCT a.key AS key_a, b.key AS key_b, a.shingles AS sh_a, b.shingles AS sh_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.key < b.key
)
SELECT key_a, key_b,
       CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) / CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE) AS jaccard
FROM cands
WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) / CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE) >= {dedup.MINHASH_JACCARD}"""


def sql_lsh_recall_monitor() -> str:
    """dedup.lsh_recall_monitor twin: deterministic md5 sample -> exact
    all-pairs Jaccard truth -> LSH pairs over the same sample (the shared
    minhash oracle parameterized on the sample CTE) -> one-row counts.
    n_missed is computed by an ANTI-join of truth against found here (the
    engine uses n_true - n_found; equal because verified LSH pairs are a
    subset of truth), keeping the oracle independent."""
    hex8 = _hex8_sql("CAST(doc_id AS VARCHAR)")
    sample = f"(SELECT * FROM documents WHERE {hex8} % {dedup.LSH_RECALL_SAMPLE_MOD} = 0)"
    jac = (
        "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
        " / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE)"
    )
    lsh = sql_minhash_lsh_pairs(source="smp")
    return f"""
WITH smp AS (SELECT * FROM {sample} t),
tsh0 AS (SELECT doc_id AS key, {SHINGLES_EXPR} AS shingles FROM smp),
tsh AS (SELECT key, shingles FROM tsh0 WHERE len(shingles) > 0),
truth AS (
  SELECT a.key AS key_a, b.key AS key_b
  FROM tsh a JOIN tsh b ON a.key < b.key
  WHERE {jac} >= {dedup.MINHASH_JACCARD}
),
found AS ({lsh}),
missed AS (
  SELECT t.key_a, t.key_b FROM truth t
  ANTI JOIN found f ON t.key_a = f.key_a AND t.key_b = f.key_b
)
SELECT CAST((SELECT COUNT(*) FROM smp) AS BIGINT) AS n_sampled,
       CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_pairs,
       CAST((SELECT COUNT(*) FROM found) AS BIGINT) AS n_found_pairs,
       CAST((SELECT COUNT(*) FROM missed) AS BIGINT) AS n_missed_pairs"""


def sql_ngram_jaccard_pairs() -> str:
    """Blocked exact-Jaccard pairs (block key = shingle-count bucket of 8
    under DUAL offset keys floor(n/8) and floor((n+4)/8), pairs deduped),
    identical semantics to the gated ngram_jaccard_pairs call."""
    return f"""
WITH sh AS (
  SELECT doc_id AS key, {SHINGLES_EXPR} AS shingles FROM documents
),
d AS (
  SELECT key, shingles,
         UNNEST(list_distinct([CAST(floor(len(shingles) / 8.0) AS INTEGER),
                               CAST(floor((len(shingles) + 4) / 8.0) AS INTEGER)])) AS block
  FROM sh WHERE len(shingles) > 0
)
SELECT DISTINCT a.key AS key_a, b.key AS key_b,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) AS jaccard
FROM d a JOIN d b ON a.block = b.block AND a.key < b.key
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) >= {dedup.NGRAM_JACCARD}
"""


def sql_simhash_pairs() -> str:
    """Exhaustive SimHash near-dup pairs: bit_count over the XOR of the
    recomputed 16-bit simhashes (the engine's banded join must equal the
    all-pairs scan — banding is pigeonhole-lossless for the hamming budget)."""
    sim = sql_simhash()
    return f"""
WITH s AS ({sim})
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {dedup.SIMHASH_MAX_HAMMING}"""


def sql_dedup_clusters() -> str:
    """Connected components over the MinHash near-dup pairs (plus all docs
    as singletons): cluster_id = MIN reachable doc_id, computed with a
    recursive transitive-closure CTE — independent of the engine's
    iterative label propagation."""
    pairs = sql_minhash_lsh_pairs()
    return f"""
WITH RECURSIVE p AS ({pairs}),
e AS (SELECT key_a AS src, key_b AS dst FROM p UNION ALL SELECT key_b, key_a FROM p),
walk(k, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.k
)
SELECT k AS key, MIN(label) AS cluster_id FROM walk GROUP BY k"""


_HEX_BIT_SQL = [
    "('1','3','5','7','9','b','d','f')",
    "('2','3','6','7','a','b','e','f')",
    "('4','5','6','7','c','d','e','f')",
    "('8','9','a','b','c','d','e','f')",
]


def sql_simhash() -> str:
    """16-bit SimHash: per-bit majority vote over token md5 hex chars 1-4,
    same formulation as operators/dedup.simhash16."""
    bit_terms = []
    for pos in range(4):
        for bit in range(4):
            weight = 1 << (pos * 4 + bit)
            vote = (
                f"list_aggregate(list_transform({_WORDS}, "
                f"t -> CASE WHEN substring(md5(t), {pos + 1}, 1) IN {_HEX_BIT_SQL[bit]} "
                "THEN 1 ELSE -1 END), 'sum')"
            )
            bit_terms.append(f"(CASE WHEN {vote} >= 0 THEN {weight} ELSE 0 END)")
    total = " + ".join(bit_terms)
    return f"SELECT doc_id, CAST({total} AS INTEGER) AS simhash FROM documents"


def sql_simhash64() -> str:
    """64-bit SimHash: per-bit majority vote over token md5 hex chars 1-16,
    same formulation as operators/dedup.simhash64_expr (and the Arrow
    kernel pinned equal to it). Bit 63 carries the two's-complement weight
    -2^63 and is added LAST so every BIGINT partial sum stays in range."""
    bit_terms = []
    for pos in range(16):
        for bit in range(4):
            i = pos * 4 + bit
            weight = (
                "CAST(-9223372036854775808 AS BIGINT)"
                if i == 63
                else f"CAST({1 << i} AS BIGINT)"
            )
            vote = (
                f"list_aggregate(list_transform({_WORDS}, "
                f"t -> CASE WHEN substring(md5(t), {pos + 1}, 1) IN {_HEX_BIT_SQL[bit]} "
                "THEN 1 ELSE -1 END), 'sum')"
            )
            bit_terms.append(
                f"(CASE WHEN {vote} >= 0 THEN {weight} ELSE CAST(0 AS BIGINT) END)"
            )
    total = " + ".join(bit_terms)
    return f"SELECT doc_id, CAST({total} AS BIGINT) AS simhash64 FROM documents"


def sql_simhash64_pairs() -> str:
    """Exhaustive 64-bit SimHash near-dup pairs: bit_count over the XOR of
    the recomputed sketches (the engine's banded join must equal the
    all-pairs scan — banding is pigeonhole-lossless for the hamming budget)."""
    sim = sql_simhash64()
    return f"""
WITH s AS ({sim})
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       CAST(bit_count(xor(a.simhash64, b.simhash64)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash64, b.simhash64)) <= {dedup.SIMHASH_MAX_HAMMING}"""


def _dot_expr(a: str, b: str) -> str:
    """Dot product of two EMBED_DIM embeddings as a strict left-fold double
    sum — bit-identical to Spark's aggregate fold
    (operators/similarity.dot_double)."""
    return (
        f"list_reduce(list_transform(generate_series(1, {similarity.EMBED_DIM}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def sql_ann_topk() -> str:
    dot = _dot_expr("e.embedding", "q.embedding")
    return f"""
WITH s AS (
  SELECT q.vec_id AS query_id, e.vec_id, {dot} AS dsum
  FROM embeddings e JOIN embeddings q ON q.vec_id < {similarity.ANN_QUERIES} AND e.vec_id <> q.vec_id
)
SELECT query_id, vec_id, CAST(dsum AS DOUBLE) AS dot, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dsum DESC, vec_id) AS INTEGER) AS rank FROM s)
WHERE rank <= {similarity.ANN_K}"""


def _plane_list(plane) -> str:
    """One hyperplane as a DuckDB DOUBLE list literal (strtod-parsed, same
    IEEE doubles Spark gets from F.lit(float(w)))."""
    return "[" + ",".join(_dbl(w) for w in plane) + "]"


def _bucket_expr(vec: str, n_planes: int) -> str:
    """LSH bucket id from hyperplane sign bits — identical fold to
    operators/similarity.lsh_bucket_col (left-fold double sum per plane,
    bit i set when projection onto plane i is >= 0)."""
    planes = similarity.hyperplanes(similarity.EMBED_DIM, n_planes)
    terms = []
    for i, plane in enumerate(planes):
        proj = (
            f"list_reduce(list_transform(generate_series(1, {similarity.EMBED_DIM}), "
            f"j -> CAST({vec}[j] AS DOUBLE) * ({_plane_list(plane)})[j]), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def sql_ann_lsh() -> str:
    """Deterministic self-oracle for the LSH ANN path: hyperplanes are
    md5-derived (operators/similarity.hyperplanes), so bucket assignment,
    multiprobe neighbours, and in-bucket re-rank are all recomputable in
    SQL. This compares the approximate operator against ITSELF re-derived
    independently — the recall-vs-exact check lives in pytest."""
    n_planes = similarity.ANN_LSH_PLANES

    dot = _dot_expr("e.embedding", "p.qvec")
    probe_list = "[bucket" + "".join(f", xor(bucket, {1 << i})" for i in range(n_planes)) + "]"
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding, {_bucket_expr('embedding', n_planes)} AS bucket FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec,
         {_bucket_expr('embedding', n_planes)} AS bucket
  FROM embeddings WHERE vec_id < {similarity.ANN_QUERIES}
),
probes AS (SELECT query_id, qvec, UNNEST({probe_list}) AS bucket FROM q),
scored AS (
  SELECT p.query_id, e.vec_id, {dot} AS dsum
  FROM corpus e JOIN probes p ON e.bucket = p.bucket AND e.vec_id <> p.query_id
)
SELECT query_id, vec_id, CAST(dsum AS DOUBLE) AS dot, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dsum DESC, vec_id) AS INTEGER) AS rank FROM scored)
WHERE rank <= {similarity.ANN_K}"""


def sql_ann_ivf() -> str:
    """IVF ANN self-oracle: centroids are md5-derived
    (operators/similarity.ivf_centroids), so corpus list assignment
    (argmax dot, lowest-id tie-break), query probe lists (top IVF_PROBES
    by dot desc, id asc) and the in-list re-rank are all mechanical SQL."""
    cents = similarity.ivf_centroids(similarity.EMBED_DIM, similarity.IVF_CENTROIDS)

    def dot_lit(vec: str, c) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, {similarity.EMBED_DIM}), "
            f"j -> CAST({vec}[j] AS DOUBLE) * ({_plane_list(c)})[j]), (x, y) -> x + y)"
        )

    d_cols = ", ".join(f"{dot_lit('embedding', c)} AS d{i}" for i, c in enumerate(cents))
    g = "GREATEST(" + ", ".join(f"d{i}" for i in range(similarity.IVF_CENTROIDS)) + ")"
    argmax = "CASE " + " ".join(f"WHEN d{i} = g THEN {i}" for i in range(similarity.IVF_CENTROIDS)) + " END"
    cent_values = ",".join(f"({i}, {_plane_list(c)})" for i, c in enumerate(cents))
    qdot = (
        f"list_reduce(list_transform(generate_series(1, {similarity.EMBED_DIM}), "
        "j -> CAST(a.embedding[j] AS DOUBLE) * c.w[j]), (x, y) -> x + y)"
    )
    rdot = _dot_expr("e.embedding", "p.qvec")
    return f"""
WITH d AS (SELECT vec_id, embedding, {d_cols} FROM embeddings),
assigned AS (
  SELECT vec_id, embedding, CAST({argmax} AS INTEGER) AS cid
  FROM (SELECT *, {g} AS g FROM d)
),
probes AS (
  SELECT query_id, qvec, cid FROM (
    SELECT a.vec_id AS query_id, a.embedding AS qvec, c.cid,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY {qdot} DESC, c.cid) AS rn
    FROM embeddings a, (VALUES {cent_values}) AS c(cid, w)
    WHERE a.vec_id < {similarity.ANN_QUERIES}
  ) WHERE rn <= {similarity.IVF_PROBES}
),
scored AS (
  SELECT p.query_id, e.vec_id, {rdot} AS dsum
  FROM assigned e JOIN probes p ON e.cid = p.cid AND e.vec_id <> p.query_id
)
SELECT query_id, vec_id, CAST(dsum AS DOUBLE) AS dot, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dsum DESC, vec_id) AS INTEGER) AS rank FROM scored)
WHERE rank <= {similarity.ANN_K}"""


def sql_embedding_neardup_lsh() -> str:
    """Scale-path (bucketed) near-dup oracle: candidates limited to pairs
    sharing an LSH bucket, cosine recomputed with the same left-fold dots as
    the exact oracle."""
    dot = _dot_expr("a.embedding", "b.embedding")
    nsq = _dot_expr("embedding", "embedding")
    return f"""
WITH v AS (
  SELECT vec_id, embedding, {nsq} AS norm_sq,
         {_bucket_expr('embedding', similarity.NEARDUP_LSH_PLANES)} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS key_a, b.vec_id AS key_b,
         CAST({dot} AS DOUBLE) / sqrt(CAST(a.norm_sq AS DOUBLE) * CAST(b.norm_sq AS DOUBLE)) AS cosine
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT key_a, key_b, cosine FROM pairs WHERE cosine >= {similarity.NEARDUP_COSINE!r}"""


def sql_embedding_neardup() -> str:
    dot = _dot_expr("a.embedding", "b.embedding")
    nsq_a = _dot_expr("a.embedding", "a.embedding")
    nsq_b = _dot_expr("b.embedding", "b.embedding")
    return f"""
WITH pairs AS (
  SELECT a.vec_id AS key_a, b.vec_id AS key_b,
         CAST({dot} AS DOUBLE) / sqrt(CAST({nsq_a} AS DOUBLE) * CAST({nsq_b} AS DOUBLE)) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT key_a, key_b, cosine FROM pairs WHERE cosine >= {similarity.NEARDUP_COSINE!r}"""


def _stopword_hits_sql(lang_words: list[str]) -> str:
    pattern = "\\b(" + "|".join(lang_words) + ")\\b"
    return f"len(regexp_extract_all(lower(text), '{pattern}'))"


def sql_langid() -> str:
    hits = {lang: _stopword_hits_sql(words) for lang, words in text.LANG_STOPWORDS.items()}
    gmax = "GREATEST(" + ", ".join(f"h_{lang}" for lang in text.LANG_STOPWORDS) + ")"
    # ties resolve to the lexicographically LARGEST language code, matching
    # greatest(struct(hits, lang)) on the Spark side
    case = " ".join(
        f"WHEN h_{lang} = gmax THEN '{lang}'" for lang in sorted(text.LANG_STOPWORDS, reverse=True)
    )
    cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    return f"""
WITH h AS (SELECT doc_id, lang, {cols} FROM documents),
g AS (SELECT *, {gmax} AS gmax FROM h)
SELECT doc_id, lang, (CASE {case} END) AS lang_pred FROM g"""


def _quality_parts() -> dict[str, str]:
    n_chars = "CAST(length(text) AS DOUBLE)"
    n_words = f"CAST(len({_WORDS}) AS DOUBLE)"
    mean_wl = f"(CASE WHEN {n_words} > 0 THEN ({n_chars} - ({n_words} - 1)) / {n_words} ELSE CAST(0 AS DOUBLE) END)"
    n_punct = "CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE)"
    n_digit = "CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)"
    punct_r = f"(CASE WHEN {n_chars} > 0 THEN {n_punct} / {n_chars} ELSE CAST(0 AS DOUBLE) END)"
    digit_r = f"(CASE WHEN {n_chars} > 0 THEN {n_digit} / {n_chars} ELSE CAST(0 AS DOUBLE) END)"
    score = (
        f"(CASE WHEN {mean_wl} >= CAST(3 AS DOUBLE) AND {mean_wl} <= CAST(12 AS DOUBLE) THEN CAST(0.4 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"
        f" + CASE WHEN {punct_r} <= CAST(0.1 AS DOUBLE) THEN CAST(0.3 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"
        f" + CASE WHEN {digit_r} <= CAST(0.2 AS DOUBLE) THEN CAST(0.3 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)"
    )
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_wl": mean_wl,
        "punct_r": punct_r,
        "digit_r": digit_r,
        "score": score,
    }


def sql_quality() -> str:
    p = _quality_parts()
    n_chars, n_words, mean_wl, punct_r, digit_r, score = (
        p["n_chars"], p["n_words"], p["mean_wl"], p["punct_r"], p["digit_r"], p["score"],
    )
    return (
        f"SELECT doc_id, CAST({n_chars} AS BIGINT) AS n_chars, CAST({n_words} AS BIGINT) AS n_words, "
        f"{mean_wl} AS mean_word_len, {punct_r} AS punct_ratio, {digit_r} AS digit_ratio, "
        f"{score} AS quality_score FROM documents"
    )


def sql_sample() -> str:
    """Deterministic md5-bucket Bernoulli sample (operators/text.
    deterministic_sample): identical keep-set in both engines."""
    threshold = int(round(text.QUERY_SAMPLE_FRACTION * text.SAMPLE_BUCKETS))
    bucket = f"{_hex8_sql('CAST(doc_id AS VARCHAR)')} % {text.SAMPLE_BUCKETS}"
    return f"SELECT doc_id, lang FROM documents WHERE {bucket} < {threshold}"


def sql_corpus_clean() -> str:
    """End-to-end corpus construction: quality filter -> exact-dup
    representative -> deterministic sample -> fingerprint + token count.
    One composed SQL recomputing the whole pipeline."""
    score = _quality_parts()["score"]
    threshold = int(round(pipeline.SAMPLE_FRACTION * text.SAMPLE_BUCKETS))
    bucket = f"{_hex8_sql('CAST(doc_id AS VARCHAR)')} % {text.SAMPLE_BUCKETS}"
    return f"""
WITH f AS (SELECT doc_id, text FROM documents WHERE {score} >= {pipeline.QUALITY_MIN!r}),
reps AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY md5(text)),
s AS (SELECT f.doc_id, f.text FROM f JOIN reps USING (doc_id))
SELECT doc_id,
       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
       CAST(len({_WORDS}) AS INTEGER) AS n_tokens_ws
FROM s WHERE {bucket} < {threshold}"""


def sql_token_counts() -> str:
    pieces = "len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]'))"
    return (
        f"SELECT doc_id, CAST(len({_WORDS}) AS INTEGER) AS n_tokens_ws, "
        f"CAST({pieces} AS INTEGER) AS n_tokens_bpe FROM documents"
    )


def sql_rolling_fingerprint() -> str:
    """Word-level Rabin-Karp rolling hash, identical fold to
    operators/text.rolling_fingerprint_col (values pre-modded so the
    no-seed list_reduce matches Spark's zero-seeded aggregate)."""
    hexval = (
        "CAST((CASE WHEN ascii(substring(md5(w), {i}, 1)) >= 97 "
        "THEN ascii(substring(md5(w), {i}, 1)) - 87 "
        "ELSE ascii(substring(md5(w), {i}, 1)) - 48 END) AS BIGINT)"
    )
    v = " + ".join(f"{hexval.format(i=k + 1)} * CAST({16 ** (7 - k)} AS BIGINT)" for k in range(8))
    return f"""
WITH vals AS (
  SELECT doc_id,
         list_transform({_WORDS}, w -> CAST(({v}) AS BIGINT) % {text.ROLLING_MOD}) AS vs
  FROM documents
)
SELECT doc_id,
       CAST(list_reduce(vs, (x, y) -> (x * {text.ROLLING_BASE} + y) % {text.ROLLING_MOD}) AS BIGINT) AS rolling_fp
FROM vals"""


def sql_multimodal_features() -> str:
    """Oracle for the multimodal PLUMBING: the synthetic media table and
    the deterministic fake decode (operators/multimodal) are both pure
    md5/ascii arithmetic, so the whole mapInPandas path is recomputable —
    payload = 'payload-' || md5(id) (40 ascii bytes), feature[j] = mean of
    byte window j (integer sum / 5.0, rounded once to FLOAT)."""
    payload = "concat('payload-', md5(CAST(media_id AS VARCHAR)))"
    feature_terms = []
    for j in range(8):
        s = " + ".join(f"ascii(substring(p, {j * 5 + k + 1}, 1))" for k in range(5))
        # float32 value widened exactly back to DOUBLE — mirrors the gate
        # query unpacking feature[j]::double (primitive, hashable output).
        feature_terms.append(f"CAST(CAST(({s}) / CAST(5.0 AS DOUBLE) AS FLOAT) AS DOUBLE) AS f{j}")
    features = ",\n       ".join(feature_terms)
    return f"""
WITH m AS (
  SELECT UNNEST(generate_series(0, {multimodal.MEDIA_ROWS - 1})) AS media_id
),
p AS (
  SELECT media_id,
         CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         {payload} AS p
  FROM m
)
SELECT media_id, kind, CAST(length(p) AS INTEGER) AS n_bytes,
       {features}
FROM p"""


def _md5_byte_sql(seed: str, off: str) -> str:
    """BIGINT value of digest byte `off` (0-based SQL expression) of
    md5(seed): two hex chars at positions 2*off+1, 2*off+2, ascii
    arithmetic (lowercase hex)."""

    def d(q: str) -> str:
        c = f"ascii(substring(md5({seed}), {q}, 1))"
        return f"(CASE WHEN {c} >= 97 THEN {c} - 87 ELSE {c} - 48 END)"

    return f"({d(f'2 * ({off}) + 1')} * 16 + {d(f'2 * ({off}) + 2')})"


def sql_robots_filter() -> str:
    """web.robots_filter twin: identical md5-digit rule derivation per
    host (Disallow '/<d1>', Allow '/<d1><d2>', Allow '/'), prefix match
    via left(path, len) equality, and the longest-match verdict as
    ROW_NUMBER ordered (len DESC, allow DESC, rule DESC) — the same total
    order as Spark's max over struct(len, allow, rule)."""

    def hexd(i: int) -> str:
        c = f"ascii(substring(mh, {i}, 1))"
        return f"((CASE WHEN {c} >= 97 THEN {c} - 87 ELSE {c} - 48 END) % 10)"

    return f"""WITH {pages_with()},
h AS (SELECT DISTINCT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host FROM pages),
hm AS (SELECT host, md5(host) AS mh FROM h),
rl AS (
  SELECT host, '/' || chr(48 + {hexd(1)}) AS rule_path, FALSE AS allow FROM hm
  UNION ALL
  SELECT host, '/' || chr(48 + {hexd(1)}) || chr(48 + {hexd(2)}), TRUE FROM hm
  UNION ALL
  SELECT host, '/', TRUE FROM hm
),
p AS (SELECT url, regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
             CASE WHEN regexp_extract(url, '^[a-z]+://[^/]*(/.*)$', 1) = ''
                  THEN '/' ELSE regexp_extract(url, '^[a-z]+://[^/]*(/.*)$', 1)
             END AS path
      FROM pages),
m AS (SELECT p.url, rl.rule_path, rl.allow,
             ROW_NUMBER() OVER (PARTITION BY p.url
               ORDER BY length(rl.rule_path) DESC, rl.allow DESC, rl.rule_path DESC) AS rn
      FROM p JOIN rl ON rl.host = p.host
      WHERE left(p.path, length(rl.rule_path)) = rl.rule_path)
SELECT url, allow AS allowed, rule_path AS matched_rule FROM m WHERE rn = 1"""


def sql_warc_read() -> str:
    """Oracle for the REAL WARC ingest: record content derives from
    (file_id, rec_id) via md5 chains, so every extracted row — url,
    parsed WARC-Date epoch seconds, payload length and payload md5 — is
    recomputable in SQL, while the Spark side must walk real multi-member
    gzip files and parse real WARC headers to land on the same values."""
    html = (
        "'<html><head><title>page ' || CAST(fid AS VARCHAR) || '/' || CAST(rid AS VARCHAR)"
        " || '</title></head><body><p>crawl body '"
        " || md5('warc-' || CAST(fid AS VARCHAR) || '-' || CAST(rid AS VARCHAR))"
        " || '</p></body></html>'"
    )
    return f"""WITH g AS (
  SELECT f.fid, r.rid
  FROM (SELECT UNNEST(generate_series(0, {warc.WARC_FILES - 1})) AS fid) f,
       (SELECT UNNEST(generate_series(0, {warc.WARC_RECORDS_PER_FILE - 1})) AS rid) r
),
h AS (SELECT fid, rid, {html} AS html FROM g)
SELECT 'https://warc.example/' || CAST(fid AS VARCHAR) || '/' || CAST(rid AS VARCHAR) AS url,
       CAST({pages.CRAWL_EPOCH} + fid * 86400 + rid * 37 AS BIGINT) AS warc_ts_s,
       CAST(length(html) AS BIGINT) AS n_bytes,
       md5(html) AS html_md5
FROM h"""


def sql_multimodal_gif_features() -> str:
    """Oracle for the REAL GIF (LZW) decode path: pixels are the first
    w*h chained-md5 bytes (seed '{id}-px'), so the grayscale statistics
    are recomputable exactly — the Spark side must LZW-decode genuine GIF
    streams (variable-width codes, clear/EOI) to land on them."""
    npx = 8 * 8
    px_byte = _md5_byte_sql(
        "concat(CAST(media_id AS VARCHAR), '-px-', CAST(j // 16 AS VARCHAR))", "j % 16"
    )

    def f32(expr: str) -> str:
        return f"CAST(CAST({expr} AS FLOAT) AS DOUBLE)"

    mean = f"(s / CAST({float(npx)!r} AS DOUBLE))"
    var = f"((ss / CAST({float(npx)!r} AS DOUBLE)) - {mean} * {mean})"
    return f"""
WITH m AS (SELECT UNNEST(generate_series(0, {multimodal.CODEC_MEDIA_ROWS - 1})) AS media_id),
px AS (
  SELECT media_id, CAST({px_byte} AS BIGINT) AS v
  FROM m, (SELECT UNNEST(generate_series(0, {npx - 1})) AS j) t
),
agg AS (
  SELECT media_id, CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS ss,
         MIN(v) AS mn, MAX(v) AS mx
  FROM px GROUP BY media_id
)
SELECT media_id,
       {f32("8.0")} AS f0, {f32("8.0")} AS f1,
       {f32(mean)} AS f2, {f32(var)} AS f3,
       {f32("CAST(mn AS DOUBLE)")} AS f4, {f32("CAST(mx AS DOUBLE)")} AS f5,
       {f32(f"CAST({npx} AS DOUBLE)")} AS f6, {f32("0.0")} AS f7
FROM agg"""


def sql_multimodal_jpeg_features() -> str:
    """Oracle for the REAL baseline-JPEG decode path (r6): make_jpeg's
    source image is blockwise-constant (one md5-chain byte per 8x8 block),
    so each decoded block's value is a CLOSED-FORM integer:

        s   = c - 128                         (level shift)
        dcq = floor(8*s/17 + 1/2)             (DC quantize, q00 = 17 —
              = ((16*s + 17 + 3400) // 34) - 100, odd q00 => never on a
              boundary, so the encoder's float DCT ulp cannot flip it)
        d   = dcq * 17                        (dequantize)
        v   = clamp(floor((1448^2*d + 2^23) / 2^24) + 128, 0, 255)
              (the decoder's fixed-point integer IDCT, DC-only form)

    All integer arithmetic (floor divisions via non-negative offsets, so
    DuckDB's truncating // equals floor). The Spark side must parse real
    JFIF markers, Huffman-decode the entropy stream (with 0xFF00
    unstuffing and DC prediction), dequantize and run the integer IDCT to
    land on the identical statistics."""
    blocks = (16 // 8) * (16 // 8)
    npx = 16 * 16
    c_byte = _md5_byte_sql(
        "concat(CAST(media_id AS VARCHAR), '-px-', CAST(j // 16 AS VARCHAR))", "j % 16"
    )

    def f32(expr: str) -> str:
        return f"CAST(CAST({expr} AS FLOAT) AS DOUBLE)"

    mean = f"(s / CAST({float(npx)!r} AS DOUBLE))"
    var = f"((ss / CAST({float(npx)!r} AS DOUBLE)) - {mean} * {mean})"
    return f"""
WITH m AS (SELECT UNNEST(generate_series(0, {multimodal.CODEC_MEDIA_ROWS - 1})) AS media_id),
blk AS (
  SELECT media_id, CAST({c_byte} AS BIGINT) - 128 AS s
  FROM m, (SELECT UNNEST(generate_series(0, {blocks - 1})) AS j) t
),
dec AS (
  SELECT media_id,
         LEAST(255, GREATEST(0,
           ((2096704 * (((16 * s + 17 + 3400) // 34) - 100) * 17
             + 8388608 + 1099511627776) // 16777216) - 65536 + 128)) AS v
  FROM blk
),
agg AS (
  SELECT media_id,
         CAST(SUM(v) * 64 AS BIGINT) AS s, CAST(SUM(v * v) * 64 AS BIGINT) AS ss,
         MIN(v) AS mn, MAX(v) AS mx
  FROM dec GROUP BY media_id
)
SELECT media_id,
       {f32("16.0")} AS f0, {f32("16.0")} AS f1,
       {f32(mean)} AS f2, {f32(var)} AS f3,
       {f32("CAST(mn AS DOUBLE)")} AS f4, {f32("CAST(mx AS DOUBLE)")} AS f5,
       {f32(f"CAST({npx} AS DOUBLE)")} AS f6, {f32("0.0")} AS f7
FROM agg"""


def sql_multimodal_png_features() -> str:
    """Oracle for the REAL PNG decode path (r5): synth_media_png pixels
    are the same chained-md5 bytes as the PPM table, so the statistics are
    recomputable with exact integer arithmetic — while the Spark side must
    walk real PNG chunks, zlib-inflate the IDAT and unfilter scanlines to
    land on the identical values. n_bytes is excluded (the zlib stream
    length is not SQL-recomputable); the 8 features are the contract."""
    npx = 8 * 8 * 3
    px_byte = _md5_byte_sql(
        "concat(CAST(media_id AS VARCHAR), '-px-', CAST(j // 16 AS VARCHAR))", "j % 16"
    )

    def f32(expr: str) -> str:
        return f"CAST(CAST({expr} AS FLOAT) AS DOUBLE)"

    img_mean = lambda c: f"(s{c} / CAST(64.0 AS DOUBLE))"  # noqa: E731
    img_var = lambda c: f"((ss{c} / CAST(64.0 AS DOUBLE)) - {img_mean(c)} * {img_mean(c)})"  # noqa: E731
    return f"""
WITH m AS (SELECT UNNEST(generate_series(0, {multimodal.CODEC_MEDIA_ROWS - 1})) AS media_id),
px AS (
  SELECT media_id, t.j, CAST({px_byte} AS BIGINT) AS v
  FROM m, (SELECT UNNEST(generate_series(0, {npx - 1})) AS j) t
),
chan AS (
  SELECT media_id, j % 3 AS c, CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS ss
  FROM px GROUP BY 1, 2
),
chanw AS (
  SELECT media_id,
         MAX(CASE WHEN c = 0 THEN s END) AS s0, MAX(CASE WHEN c = 0 THEN ss END) AS ss0,
         MAX(CASE WHEN c = 1 THEN s END) AS s1, MAX(CASE WHEN c = 1 THEN ss END) AS ss1,
         MAX(CASE WHEN c = 2 THEN s END) AS s2, MAX(CASE WHEN c = 2 THEN ss END) AS ss2
  FROM chan GROUP BY media_id
)
SELECT media_id,
       {f32("8.0")} AS f0, {f32("8.0")} AS f1,
       {f32(img_mean(0))} AS f2, {f32(img_mean(1))} AS f3, {f32(img_mean(2))} AS f4,
       {f32(img_var(0))} AS f5, {f32(img_var(1))} AS f6, {f32(img_var(2))} AS f7
FROM chanw"""


def sql_multimodal_real_features() -> str:
    """Oracle for the REAL multimodal decode path: synth_media_real's
    payloads are genuine P6 PPM / PCM WAV files whose pixel/sample bytes
    come from chained md5 digests (seed '{id}-px-{k}' / '{id}-au-{k}'),
    so every decoded value is recomputable with exact integer arithmetic —
    the engine must parse the real headers and land on the identical
    statistics (fixed float64 sequence sum/n, var = sumsq/n - mean*mean,
    one FLOAT rounding; the same contract as the fake-decode oracle)."""
    npx = 8 * 8 * 3
    nsm = 128
    px_byte = _md5_byte_sql(
        "concat(CAST(media_id AS VARCHAR), '-px-', CAST(j // 16 AS VARCHAR))", "j % 16"
    )
    lo = _md5_byte_sql(
        "concat(CAST(media_id AS VARCHAR), '-au-', CAST((2 * j) // 16 AS VARCHAR))",
        "(2 * j) % 16",
    )
    hi = _md5_byte_sql(
        "concat(CAST(media_id AS VARCHAR), '-au-', CAST((2 * j + 1) // 16 AS VARCHAR))",
        "(2 * j + 1) % 16",
    )

    def f32(expr: str) -> str:
        return f"CAST(CAST({expr} AS FLOAT) AS DOUBLE)"

    img_mean = lambda c: f"(s{c} / CAST(64.0 AS DOUBLE))"  # noqa: E731
    img_var = lambda c: f"((ss{c} / CAST(64.0 AS DOUBLE)) - {img_mean(c)} * {img_mean(c)})"  # noqa: E731
    return f"""
WITH m AS (SELECT UNNEST(generate_series(0, {multimodal.MEDIA_ROWS - 1})) AS media_id),
px AS (
  SELECT media_id, t.j, CAST({px_byte} AS BIGINT) AS v
  FROM (SELECT media_id FROM m WHERE media_id % 3 = 0) i,
       (SELECT UNNEST(generate_series(0, {npx - 1})) AS j) t
),
chan AS (
  SELECT media_id, j % 3 AS c, CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS ss
  FROM px GROUP BY 1, 2
),
chanw AS (
  SELECT media_id,
         MAX(CASE WHEN c = 0 THEN s END) AS s0, MAX(CASE WHEN c = 0 THEN ss END) AS ss0,
         MAX(CASE WHEN c = 1 THEN s END) AS s1, MAX(CASE WHEN c = 1 THEN ss END) AS ss1,
         MAX(CASE WHEN c = 2 THEN s END) AS s2, MAX(CASE WHEN c = 2 THEN ss END) AS ss2
  FROM chan GROUP BY media_id
),
imgf AS (
  SELECT media_id, 'image' AS kind, CAST(203 AS INTEGER) AS n_bytes,
         {f32("8.0")} AS f0, {f32("8.0")} AS f1,
         {f32(img_mean(0))} AS f2, {f32(img_mean(1))} AS f3, {f32(img_mean(2))} AS f4,
         {f32(img_var(0))} AS f5, {f32(img_var(1))} AS f6, {f32(img_var(2))} AS f7
  FROM chanw
),
sm AS (
  SELECT media_id, t.j,
         CAST({lo} + 256 * {hi} - (CASE WHEN {lo} + 256 * {hi} >= 32768 THEN 65536 ELSE 0 END) AS BIGINT) AS v
  FROM (SELECT media_id FROM m WHERE media_id % 3 = 1) a,
       (SELECT UNNEST(generate_series(0, {nsm - 1})) AS j) t
),
smagg AS (
  SELECT media_id, CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS ss,
         MIN(v) AS mn, MAX(v) AS mx, CAST(SUM(ABS(v)) AS BIGINT) AS sabs
  FROM sm GROUP BY media_id
),
zc AS (
  SELECT a.media_id, COUNT(*) AS zcr
  FROM sm a JOIN sm b ON a.media_id = b.media_id AND b.j = a.j + 1 AND a.v * b.v < 0
  GROUP BY a.media_id
),
audf AS (
  SELECT g.media_id, 'audio' AS kind, CAST(300 AS INTEGER) AS n_bytes,
         {f32("16000.0")} AS f0, {f32(f"{nsm}.0")} AS f1,
         {f32(f"(s / CAST({nsm}.0 AS DOUBLE))")} AS f2,
         {f32(f"((ss / CAST({nsm}.0 AS DOUBLE)) - (s / CAST({nsm}.0 AS DOUBLE)) * (s / CAST({nsm}.0 AS DOUBLE)))")} AS f3,
         {f32("CAST(mn AS DOUBLE)")} AS f4, {f32("CAST(mx AS DOUBLE)")} AS f5,
         {f32("CAST(COALESCE(z.zcr, 0) AS DOUBLE)")} AS f6,
         {f32(f"(sabs / CAST({nsm}.0 AS DOUBLE))")} AS f7
  FROM smagg g LEFT JOIN zc z ON g.media_id = z.media_id
)
SELECT * FROM imgf UNION ALL SELECT * FROM audf"""


def sql_fingerprint() -> str:
    return (
        "SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint "
        "FROM documents"
    )


# ---------------------------------------------------------------------------
# web operators (operators/web.py twins)
# ---------------------------------------------------------------------------


def _strip_markup_sql(expr: str) -> str:
    """Same pipeline as web.strip_markup_col, same regex constants (shared
    module-level strings; RE2 == Java regex for this subset)."""
    s = f"regexp_replace({expr}, '{web.PAT_SCRIPT}', '', 'g')"
    s = f"regexp_replace({s}, '{web.PAT_STYLE}', '', 'g')"
    s = f"regexp_replace({s}, '{web.PAT_TAG}', ' ', 'g')"
    for ent, ch in web.ENTITIES:
        ch_sql = ch.replace("'", "''")
        s = f"replace({s}, '{ent}', '{ch_sql}')"
    return f"trim(regexp_replace({s}, '{web.WS_CLASS}', ' ', 'g'))"


def _html_docs_with() -> str:
    return f"h AS (SELECT doc_id, {web.html_wrap_sql('duckdb')} AS html_text FROM documents)"


def sql_html_extract_text() -> str:
    return f"""WITH {_html_docs_with()}
SELECT doc_id, {_strip_markup_sql('html_text')} AS extracted FROM h"""


def _paragraphs_with() -> str:
    from .sources.pages import url_sql

    nosrc = (
        f"regexp_replace(regexp_replace(html_text, '{web.PAT_SCRIPT}', '', 'g'),"
        f" '{web.PAT_STYLE}', '', 'g')"
    )
    return f"""{_html_docs_with()},
hp AS (SELECT {url_sql('duckdb')} AS key,
              regexp_extract_all({nosrc}, '{web.PAT_PARAGRAPH}', 1) AS paras
       FROM h JOIN documents USING (doc_id)),
paras AS (
  SELECT key,
         CAST(unnest(range(len(paras))) AS INTEGER) AS para_idx,
         {_strip_markup_sql('unnest(paras)')} AS paragraph
  FROM hp
)"""


def sql_html_paragraphs() -> str:
    return f"WITH {_paragraphs_with()} SELECT key, para_idx, paragraph FROM paras"


def sql_paragraph_dedup() -> str:
    return f"""WITH {_paragraphs_with()}
SELECT md5(paragraph) AS para_hash, MIN(key) AS owner, COUNT(*) AS n_copies
FROM paras WHERE length(paragraph) >= 1 GROUP BY 1"""


def sql_host_stats() -> str:
    return f"""WITH {pages_with()}
SELECT regexp_extract(url, '{web.PAT_HOST}', 1) AS host,
       COUNT(*) AS n_pages,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(length(text)) AS BIGINT) AS text_bytes
FROM pages GROUP BY 1"""


# ---------------------------------------------------------------------------
# Web-Mercator XYZ tile export (operators/tiles.py twin)
# ---------------------------------------------------------------------------


def _mercator_y_intervals(z: int) -> str:
    """VALUES table of (ytile, lat_lo, lat_hi): ytile = y iff
    lat in (lat_lo, lat_hi], with boundary latitudes
    atan(sinh(pi*(1 - 2y/2^z))) emitted as exact double literals. This
    derives ytile with pure comparisons — no ln/tan at query time — so it
    is both an independent recomputation of the engine's floor(formula)
    and immune to libm-vs-JVM ulp drift (the geotag lattice never comes
    within 4e-6 tile units of a boundary for z <= 12; see
    operators/tiles.py). Rows cover the synthetic clusters' lat range."""
    import math

    from .sources.pages import _CLUSTERS

    n = 1 << z

    def f(lat: float) -> float:  # exact-math tile row (pre-floor)
        r = math.radians(lat)
        return (1 - math.asinh(math.tan(r)) / math.pi) / 2 * n

    lat_min = min(float(c[0]) for c in _CLUSTERS) - 0.01
    lat_max = max(float(c[0]) + c[1] / 1e5 for c in _CLUSTERS) + 0.01
    y_lo = int(math.floor(f(lat_max)))  # f is decreasing in lat
    y_hi = int(math.floor(f(lat_min)))

    def lat_of(y: int) -> float:
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n))))

    rows = [
        f"({y},{_dbl(lat_of(y + 1))},{_dbl(lat_of(y))})" for y in range(y_lo, y_hi + 1)
    ]
    return "(VALUES " + ",".join(rows) + ") AS yb(ytile, lat_lo, lat_hi)"


def sql_tile_xyz_export() -> str:
    return f"""WITH {pages_with()},
xy AS (
  SELECT p.lang, LENGTH(p.text) AS nb, {tiles.xtile_sql('p.lon', tiles.XYZ_ZOOM)} AS xtile, yb.ytile
  FROM pages p JOIN {_mercator_y_intervals(tiles.XYZ_ZOOM)}
    ON p.lat > yb.lat_lo AND p.lat <= yb.lat_hi
)
SELECT {tiles.XYZ_ZOOM} AS zoom, xtile, ytile,
       {tiles.quadkey_sql('xtile', 'ytile', tiles.XYZ_ZOOM, 'duckdb')} AS quadkey,
       COUNT(*) AS doc_count,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(nb) AS BIGINT) AS total_chars
FROM xy GROUP BY xtile, ytile"""


# ---------------------------------------------------------------------------
# URL canonicalization / host quotas (operators/web.py twins)
# ---------------------------------------------------------------------------


def _canonical_url_ctes() -> str:
    """Messy-url generation + canonicalization as DuckDB CTEs, sharing the
    pattern constants with web.canonical_url_col verbatim. DuckDB's
    regexp_replace replaces the FIRST match only — every pattern here is
    anchored or end-anchored so first == all; replacement group syntax is
    the one dialect difference (\\1 here, $1 in Java)."""
    from .operators.web import (
        PAT_AUTHORITY,
        PAT_AUTHORITY_STRIP,
        PAT_DEFAULT_PORT,
        PAT_FRAGMENT,
        PAT_HTTP_SCHEME,
        PAT_QS_EXTRACT,
        PAT_QUERY,
        PAT_TRAILING_SLASH,
        PAT_WWW,
        messy_url_sql,
    )

    keep = (
        "p -> substring(p, 1, 4) <> 'utm_' AND substring(p, 1, 7) <> 'fbclid='"
        " AND substring(p, 1, 6) <> 'gclid=' AND p <> ''"
    )
    base = (
        f"concat('https://', lower(regexp_extract(base0, '{PAT_AUTHORITY}', 1)),"
        f" regexp_replace(base0, '{PAT_AUTHORITY_STRIP}', ''))"
    )
    base = f"regexp_replace({base}, '{PAT_WWW}', 'https://')"
    base = f"regexp_replace({base}, '{PAT_DEFAULT_PORT}', '\\1\\3')"
    base = f"regexp_replace({base}, '{PAT_TRAILING_SLASH}', '')"
    return f"""m AS (SELECT doc_id, {messy_url_sql('duckdb')} AS url FROM documents),
u AS (SELECT doc_id, url,
             regexp_replace(regexp_replace(url, '{PAT_FRAGMENT}', ''), '{PAT_HTTP_SCHEME}', 'https://') AS nofrag
      FROM m),
b AS (SELECT doc_id, url,
             regexp_replace(nofrag, '{PAT_QUERY}', '') AS base0,
             array_to_string(list_filter(string_split(regexp_extract(nofrag, '{PAT_QS_EXTRACT}', 1), '&'), {keep}), '&') AS kept
      FROM u),
c AS (SELECT doc_id, url,
             concat({base}, CASE WHEN length(kept) > 0 THEN concat('?', kept) ELSE '' END) AS canonical_url
      FROM b)"""


def sql_url_canonicalize() -> str:
    return f"WITH {_canonical_url_ctes()} SELECT doc_id, url, canonical_url FROM c"


def sql_url_canonical_dedup() -> str:
    return (
        f"WITH {_canonical_url_ctes()} "
        "SELECT canonical_url, COUNT(*) AS n_variants, MIN(url) AS representative "
        "FROM c GROUP BY 1"
    )


def sql_host_cap() -> str:
    return f"""WITH {pages_with()},
r AS (
  SELECT regexp_extract(url, '{web.PAT_HOST}', 1) AS host, url,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY regexp_extract(url, '{web.PAT_HOST}', 1) ORDER BY md5(url)
         ) AS INTEGER) AS host_rank
  FROM pages
)
SELECT host, url, host_rank FROM r WHERE host_rank <= {web.HOST_CAP}"""


# ---------------------------------------------------------------------------
# n-gram repetition / decontamination (operators/text.py twins)
# ---------------------------------------------------------------------------


def _ngrams_list_sql(n: int) -> str:
    """Word n-gram list over `words` (1-based list indexing): empty when the
    document has fewer than n words (range(1, <=1) is already empty)."""
    gram = "concat_ws(' ', " + ", ".join(f"words[i + {j}]" for j in range(n)) + ")"
    return f"list_transform(range(1, greatest(len(words) - {n - 1}, 0) + 1), i -> {gram})"


def sql_ngram_repetition() -> str:
    return f"""WITH w AS (SELECT doc_id AS key, {_WORDS} AS words FROM documents),
g AS (SELECT key, unnest({_ngrams_list_sql(text.REPETITION_N)}) AS gram FROM w),
pg AS (SELECT key, gram, COUNT(*) AS c FROM g GROUP BY key, gram),
a AS (
  SELECT key, CAST(SUM(c) AS BIGINT) AS n_grams, COUNT(*) AS n_distinct,
         CAST(MAX(c) AS BIGINT) AS top_count
  FROM pg GROUP BY key
)
SELECT key, n_grams, n_distinct, top_count,
       CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_fraction,
       CAST(top_count AS DOUBLE) / CAST(n_grams AS DOUBLE) AS top_fraction
FROM a"""


def sql_contamination() -> str:
    grams = _ngrams_list_sql(text.CONTAMINATION_N)
    return f"""WITH w AS (SELECT doc_id AS key, {_WORDS} AS words FROM documents),
cg AS (SELECT key, md5(unnest(list_distinct({grams}))) AS gram_hash FROM w),
gset AS (SELECT DISTINCT gram_hash FROM cg WHERE key % 101 = 0)
SELECT key, COUNT(*) AS n_shared_grams
FROM cg JOIN gset USING (gram_hash) GROUP BY key"""


def _linked_docs_with() -> str:
    from .sources.pages import url_sql

    return (
        f"h AS (SELECT doc_id, {url_sql('duckdb')} AS url, "
        f"{web.linked_html_sql('duckdb')} AS html_text FROM documents)"
    )


def sql_geohash_counts() -> str:
    """tiles.geohash_counts twin: identical floor-scaling quantization,
    bit interleave and base32 lookup (functions/geohash.py emits both
    dialects from one generator — only the shift syntax differs)."""
    from .functions import geohash as gh

    lon_idx, lat_idx = gh.geohash_idx_sql("lat", "lon", tiles.GEOHASH_PRECISION)
    return f"""WITH {pages_with()},
gi AS (SELECT {lon_idx} AS gh_lon_idx, {lat_idx} AS gh_lat_idx FROM pages),
ii AS (SELECT {gh.geohash_interleave_sql(tiles.GEOHASH_PRECISION, 'duckdb')} AS gh_i FROM gi)
SELECT {gh.geohash_chars_sql(tiles.GEOHASH_PRECISION, 'duckdb')} AS geohash,
       CAST(COUNT(*) AS BIGINT) AS n_pages
FROM ii GROUP BY 1"""


def sql_geohash_pyramid() -> str:
    """tiles.geohash_pyramid twin: same finest-level hash, prefixes
    unnested from a literal precision list."""
    from .functions import geohash as gh


    finest = tiles.PYRAMID_PRECISIONS[-1]
    lon_idx, lat_idx = gh.geohash_idx_sql("lat", "lon", finest)
    levels = ", ".join(map(str, tiles.PYRAMID_PRECISIONS))
    return f"""WITH {pages_with()},
gi AS (SELECT {lon_idx} AS gh_lon_idx, {lat_idx} AS gh_lat_idx FROM pages),
ii AS (SELECT {gh.geohash_interleave_sql(finest, 'duckdb')} AS gh_i FROM gi),
g5 AS (SELECT {gh.geohash_chars_sql(finest, 'duckdb')} AS gh5 FROM ii),
px AS (SELECT unnest([{levels}]) AS precision, gh5 FROM g5)
SELECT CAST(precision AS INT) AS precision, substring(gh5, 1, precision) AS geohash,
       CAST(COUNT(*) AS BIGINT) AS n_pages
FROM px GROUP BY 1, 2"""


def sql_link_extract() -> str:
    """web.extract_links twin over the synth linked pages."""
    return f"""WITH {_linked_docs_with()}
SELECT doc_id AS key, unnest(regexp_extract_all(html_text, '{web.PAT_HREF}', 1)) AS link
FROM h"""


def sql_anchor_texts() -> str:
    """web.extract_anchor_texts twin: the two capture groups of the same
    anchor pattern, zipped positionally."""
    return f"""WITH {_linked_docs_with()},
z AS (SELECT doc_id AS key,
             regexp_extract_all(html_text, '{web.PAT_ANCHOR}', 1) AS links,
             regexp_extract_all(html_text, '{web.PAT_ANCHOR}', 2) AS texts
      FROM h),
u AS (SELECT key, unnest(generate_series(1, len(links))) AS i, links, texts FROM z)
SELECT key, links[i] AS link, texts[i] AS anchor_text FROM u"""


def sql_host_link_graph() -> str:
    """web.host_link_graph twin: same href regex, same host regex."""
    return f"""WITH {_linked_docs_with()},
l AS (SELECT url, unnest(regexp_extract_all(html_text, '{web.PAT_HREF}', 1)) AS link FROM h)
SELECT regexp_extract(url, '{web.PAT_HOST}', 1) AS src_host,
       regexp_extract(link, '{web.PAT_HOST}', 1) AS dst_host,
       CAST(COUNT(*) AS BIGINT) AS n_links
FROM l GROUP BY 1, 2"""


def sql_link_pagerank() -> str:
    """web.link_pagerank twin: same href/host extraction, same integer
    PageRank recurrence unrolled as CTEs (sql_pagerank_int pattern) with
    STRING host ids and parallel edges kept."""
    base = 15 * graph.RANK_SCALE // 100
    parts = [
        f"""{_linked_docs_with()},
l AS (SELECT url, unnest(regexp_extract_all(html_text, '{web.PAT_HREF}', 1)) AS link FROM h),
e AS (SELECT regexp_extract(url, '{web.PAT_HOST}', 1) AS src,
             regexp_extract(link, '{web.PAT_HOST}', 1) AS dst FROM l),
nodes AS (SELECT DISTINCT host AS id
          FROM (SELECT src AS host FROM e UNION SELECT dst AS host FROM e)),
ed AS (SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS out_deg FROM e),
r0 AS (SELECT id, CAST({graph.RANK_SCALE} AS BIGINT) AS rank FROM nodes)"""
    ]
    for i in range(graph.PAGERANK_ITERS):
        parts.append(
            f"""c{i} AS (
  SELECT ed.dst, SUM(r{i}.rank // ed.out_deg) AS incoming
  FROM ed JOIN r{i} ON ed.src = r{i}.id GROUP BY ed.dst
),
r{i + 1} AS (
  SELECT r0.id,
         CAST({base} + (85 * COALESCE(c{i}.incoming, 0)) // 100 AS BIGINT) AS rank
  FROM r0 LEFT JOIN c{i} ON r0.id = c{i}.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id AS host, rank AS rank_int FROM r{graph.PAGERANK_ITERS}"
    )


def _hexcol_sql(col: str, start: int) -> str:
    """BIGINT value of 8 hex chars of an ALREADY-MATERIALIZED hex-string
    column, starting at 1-based `start` — same ascii arithmetic as
    _hex8_sql but without re-running md5 per character."""
    hexval = (
        f"CAST((CASE WHEN ascii(substring({col}, {{i}}, 1)) >= 97 "
        f"THEN ascii(substring({col}, {{i}}, 1)) - 87 "
        f"ELSE ascii(substring({col}, {{i}}, 1)) - 48 END) AS BIGINT)"
    )
    return "(" + " + ".join(
        f"{hexval.format(i=start + k)} * CAST({16 ** (7 - k)} AS BIGINT)" for k in range(8)
    ) + ")"


def sql_bloom_contamination() -> str:
    """text.bloom_contamination twin: identical Kirsch-Mitzenmacher probe
    arithmetic ((g1 + i*g2) mod m over the two 32-bit md5 halves), 32-bit
    masks in BIGINT words, bit_or-built filter — false positives are pure
    integer arithmetic so both engines flag the same gram set."""
    grams = _ngrams_list_sql(text.CONTAMINATION_N)
    g1, g2 = _hexcol_sql("gh", 1), _hexcol_sql("gh", 9)
    m, w, k = text.BLOOM_BITS, text.BLOOM_WORD_BITS, text.BLOOM_K
    return f"""WITH w AS (SELECT doc_id AS key, {_WORDS} AS words FROM documents),
cg AS (SELECT key, md5(unnest(list_distinct({grams}))) AS gh FROM w),
gv AS (SELECT key, gh, {g1} AS g1, {g2} AS g2 FROM cg),
probes AS (SELECT unnest(generate_series(0, {k - 1})) AS i),
bp AS (SELECT ((g1 + i * g2) % {m}) AS p
       FROM (SELECT DISTINCT gh, g1, g2 FROM gv WHERE key % 101 = 0) b
       CROSS JOIN probes),
bw AS (SELECT p // {w} AS word_idx,
              bit_or(CAST(1 AS BIGINT) << CAST(p % {w} AS INT)) AS word
       FROM bp GROUP BY 1),
pp AS (SELECT key, gh, ((g1 + i * g2) % {m}) // {w} AS word_idx,
              (CAST(1 AS BIGINT) << CAST(((g1 + i * g2) % {m}) % {w} AS INT)) AS mask
       FROM gv CROSS JOIN probes),
ph AS (SELECT key, gh,
              CASE WHEN (COALESCE(word, 0) & mask) = mask THEN 1 ELSE 0 END AS hit
       FROM pp LEFT JOIN bw USING (word_idx)),
hg AS (SELECT key, gh, SUM(hit) AS nh FROM ph GROUP BY key, gh)
SELECT key, CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN nh = {k} THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits
FROM hg GROUP BY key
HAVING SUM(CASE WHEN nh = {k} THEN 1 ELSE 0 END) > 0"""


def sql_tile_vector_export() -> str:
    """tiles.tile_vector_export twin: identical dyadic bounds arithmetic
    (integer decode via % and //, CAST-to-DOUBLE multiply by the exact
    size literal)."""
    S = 536870912  # 2^29
    size = _dbl(360.0 / float(1 << tiles.DEFAULT_TILE_RES))
    return f"""WITH {pages_with()},
t AS (
  SELECT {cell_id_sql('lon', 'lat', tiles.DEFAULT_TILE_RES)} AS tile_id,
         COUNT(*) AS doc_count, COUNT(DISTINCT lang) AS n_langs,
         CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
  FROM pages GROUP BY 1
)
SELECT tile_id,
       CAST(tile_id % {S} AS DOUBLE) * {size} - CAST(180 AS DOUBLE) AS min_lon,
       CAST((tile_id // {S}) % {S} AS DOUBLE) * {size} - CAST(90 AS DOUBLE) AS min_lat,
       CAST(tile_id % {S} + 1 AS DOUBLE) * {size} - CAST(180 AS DOUBLE) AS max_lon,
       CAST((tile_id // {S}) % {S} + 1 AS DOUBLE) * {size} - CAST(90 AS DOUBLE) AS max_lat,
       doc_count, n_langs, total_chars
FROM t"""


def sql_events_asof() -> str:
    """events.asof_join twin via DuckDB's NATIVE ASOF JOIN — a genuinely
    independent execution strategy (DuckDB plans a specialized asof
    operator; the engine uses union + carry-forward windows). Right rows
    tying on (user_id, ts) are pre-deduped to the greatest event_id, the
    operator's documented tie rule (native ASOF leaves duplicate picks
    undefined)."""
    return """WITH r0 AS (
  SELECT user_id, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'view'
),
rd AS (SELECT user_id, ts, event_id, value FROM r0 WHERE rn = 1),
l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       rd.event_id AS matched_event_id, rd.value AS matched_value
FROM l ASOF LEFT JOIN rd ON l.user_id = rd.user_id AND l.ts >= rd.ts"""


def sql_events_interval_join() -> str:
    """events.interval_join twin: sessions rebuilt with the lag+counter
    formulation, then a native BETWEEN containment join (DuckDB plans an
    IEJoin — independently verifying the engine's bucket-binned
    equi-join)."""
    return f"""WITH ev AS (
  SELECT event_id, CAST(user_id AS VARCHAR) AS key, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
m AS (
  SELECT key, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY key ORDER BY t) > {events.SESSION_GAP_SECONDS}
              THEN 1 ELSE 0 END AS ns
  FROM ev
),
s AS (SELECT key, t, SUM(ns) OVER (PARTITION BY key ORDER BY t) AS sid FROM m),
sess AS (SELECT key, MIN(t) AS session_start, MAX(t) AS session_end FROM s GROUP BY key, sid)
SELECT p.event_id, p.key, p.t, se.session_start, se.session_end
FROM ev p JOIN sess se
  ON p.key = se.key AND p.t BETWEEN se.session_start AND se.session_end"""


def sql_multimodal_frames() -> str:
    """multimodal.sample_frames twin in pure SQL: rebuild the synthetic
    payload STRING ('payload-' || md5(id)), video rows are id % 3 == 2
    (element_at over [image, audio, video] at id % 3 + 1), frame slice =
    8 chars at offset (idx * 7) % (len - 8). The Spark side runs the real
    mapInPandas plumbing; this verifies its values byte-for-byte."""
    return f"""WITH m AS (
  SELECT range AS media_id,
         concat('payload-', md5(CAST(range AS VARCHAR))) AS p
  FROM range({multimodal.MEDIA_ROWS}) WHERE range % 3 = 2
),
f AS (SELECT media_id, unnest(range(0, 16, {multimodal.FRAME_EVERY_K})) AS frame_idx, p FROM m)
SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       substring(p, CAST((frame_idx * 7) % (length(p) - 8) AS INTEGER) + 1, 8) AS frame
FROM f"""


def sql_scd2_build() -> str:
    """events.scd2_build twin via the INDEPENDENT gaps-and-islands
    strategy (rn - rn_per_type difference) instead of lag-change-cumsum;
    runs ordered for LEAD by MIN(rn) — monotone with temporal run order
    in both formulations even when adjacent runs share a microsecond."""
    return """WITH e AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us, event_id, event_type FROM events
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY us, event_id) AS rt
  FROM e
),
g AS (
  SELECT user_id, event_type, rn - rt AS grp, MIN(rn) AS ord,
         MIN(us) AS valid_from_us, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM r GROUP BY user_id, event_type, rn - rt
),
f AS (
  SELECT user_id, event_type, valid_from_us,
         LEAD(valid_from_us) OVER (PARTITION BY user_id ORDER BY ord) AS valid_to_us,
         n_events
  FROM g
)
SELECT user_id, event_type, valid_from_us, valid_to_us, n_events,
       valid_to_us IS NULL AS is_current
FROM f"""


def sql_event_transitions() -> str:
    """events.event_transitions twin: same (ts, event_id) sequence order
    (micros ints vs native TIMESTAMP order — identical total order)."""
    return """WITH s AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
  FROM events
)
SELECT from_type, event_type AS to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2"""


def sql_events_pivot() -> str:
    """events.events_pivot twin via conditional aggregation (the portable
    spelling of PIVOT); DECIMAL-exact value sum cast once to DOUBLE."""
    cols = ",\n       ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
        for t in events.EVENT_TYPES
    )
    return f"""SELECT user_id,
       {cols},
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_value
FROM events GROUP BY user_id"""


def sql_pagerank_int() -> str:
    """graph.pagerank_int twin: the same integer-exact recurrence with the
    iterations UNROLLED as CTEs (r0 -> r1 -> ... -> rN). Edge derivation
    mirrors graph.synth_link_graph's formula; all arithmetic is BIGINT
    `//` division and exact integer sums, so the hash compare is exact."""
    base = 15 * graph.RANK_SCALE // 100
    dsts = ", ".join(graph.LINK_RULES_SQL)
    parts = [
        f"""nn AS (SELECT COUNT(*) AS n FROM documents),
e AS (
  SELECT src, unnest([{dsts}]) AS dst
  FROM (SELECT doc_id AS src FROM documents) CROSS JOIN nn
),
ed AS (
  SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS out_deg FROM e
),
r0 AS (SELECT doc_id AS id, CAST({graph.RANK_SCALE} AS BIGINT) AS rank FROM documents)"""
    ]
    for i in range(graph.PAGERANK_ITERS):
        parts.append(
            f"""c{i} AS (
  SELECT ed.dst, SUM(r{i}.rank // ed.out_deg) AS incoming
  FROM ed JOIN r{i} ON ed.src = r{i}.id GROUP BY ed.dst
),
r{i + 1} AS (
  SELECT r0.id,
         CAST({base} + (85 * COALESCE(c{i}.incoming, 0)) // 100 AS BIGINT) AS rank
  FROM r0 LEFT JOIN c{i} ON r0.id = c{i}.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id AS doc_id, rank AS rank_int FROM r{graph.PAGERANK_ITERS}"
    )


def sql_lang_median_chars() -> str:
    """text.lang_median_chars twin: same order statistic (lower median by
    (n_chars, doc_id) rank) — exact integers, no interpolation."""
    return """WITH r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS cnt
  FROM documents
)
SELECT lang, n_chars AS median_chars, cnt AS n_docs
FROM r WHERE rn = (cnt + 1) // 2"""


def sql_sample_complement() -> str:
    """Set-op twin: documents EXCEPT the deterministic sample = rows whose
    md5 bucket fails the threshold (recomputed as the direct predicate,
    not subtracted — the Spark side's exceptAll must reproduce it)."""
    threshold = int(round(text.QUERY_SAMPLE_FRACTION * text.SAMPLE_BUCKETS))
    bucket = f"{_hex8_sql('CAST(doc_id AS VARCHAR)')} % {text.SAMPLE_BUCKETS}"
    return f"SELECT doc_id FROM documents WHERE {bucket} >= {threshold}"


# ---------------------------------------------------------------------------
# term-level corpus analytics (operators/terms.py twins)
# ---------------------------------------------------------------------------


def sql_inverted_index(df_cap: int | None = None) -> str:
    """terms.inverted_index twin: per-document distinct terms, postings as
    the comma-joined ascending doc-id list (exact integers + string join —
    nothing float). With df_cap, hot terms keep doc_freq and NULL their
    postings — recomputed here as a CASE over the uncapped list, which is
    exactly what the engine's routed two-pass plan must reproduce."""
    postings = "array_to_string(list_sort(list(doc_id)), ',')"
    if df_cap is not None:
        postings = f"CASE WHEN COUNT(*) <= {df_cap} THEN {postings} END"
    return f"""WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
p AS (SELECT doc_id, unnest(list_distinct(words)) AS term FROM w)
SELECT term, COUNT(*) AS doc_freq,
       {postings} AS postings
FROM p GROUP BY term"""


def _doc_gram_counts_cte() -> str:
    """Shared (doc, gram, n_pos) CTE body for the repeated-span oracles:
    positional GRAM_WIDTH-word grams via list slicing (DuckDB slices are
    1-based, end-inclusive), counts exact BIGINT."""
    n = terms.GRAM_WIDTH
    return f"""w AS (SELECT doc_id AS key, {_WORDS} AS words FROM documents),
g AS (
  SELECT key, UNNEST(list_transform(generate_series(1, len(words) - {n - 1}),
                                    i -> array_to_string(words[i : i + {n - 1}], ' '))) AS gram
  FROM w WHERE len(words) >= {n}
),
dg AS (SELECT key, gram, CAST(COUNT(*) AS BIGINT) AS n_pos FROM g GROUP BY key, gram)"""


def sql_repeated_grams() -> str:
    """terms.repeated_grams twin: per-gram distinct-doc count as a plain
    COUNT(*) over the pre-aggregated (doc, gram) rows — independent SQL,
    same no-COUNT-DISTINCT-expand semantics."""
    return f"""WITH {_doc_gram_counts_cte()}
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_pos) AS BIGINT) AS n_occ
FROM dg GROUP BY gram HAVING COUNT(*) >= 2"""


def sql_duplicated_span_stats() -> str:
    """terms.duplicated_span_stats twin: join the one-row-per-gram n_docs
    table back to the (doc, gram) level, aggregate per document. Exact
    BIGINTs end to end (SUM widens to HUGEINT -> cast back)."""
    return f"""WITH {_doc_gram_counts_cte()},
gd AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs FROM dg GROUP BY gram)
SELECT dg.key AS key,
       CAST(SUM(dg.n_pos) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN gd.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       CAST(SUM(CASE WHEN gd.n_docs >= 2 THEN dg.n_pos ELSE 0 END) AS BIGINT) AS n_dup_positions
FROM dg JOIN gd USING (gram) GROUP BY dg.key"""


def sql_tfidf_topk() -> str:
    """terms.tfidf_topk twin: score = CAST(tf) * (CAST(n_docs) / CAST(df))
    with the identical parenthesization — three single-rounded IEEE ops on
    exact integers, so the DOUBLE hash-compares bit-for-bit."""
    return f"""WITH w AS (SELECT doc_id AS key, {_WORDS} AS words FROM documents),
t AS (SELECT key, unnest(words) AS term FROM w),
tf AS (SELECT key, term, COUNT(*) AS tf FROM t GROUP BY key, term),
df AS (SELECT term, COUNT(DISTINCT key) AS df FROM t GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (
  SELECT key, term, tf, df,
         CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT key,
       CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY score DESC, term) AS INTEGER) AS rank,
       term, tf, df, score
FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY key ORDER BY score DESC, term) <= {terms.TFIDF_K}"""


def sql_kmv_distinct() -> str:
    """terms.kmv_distinct twin: same 32-bit md5-prefix hash (ascii
    arithmetic), kth-min via the identical ROW_NUMBER-over-sorted-hash
    multiset semantics, estimate = exact (k-1)*2^32 literal / kth-min."""
    k = terms.KMV_K

    return f"""WITH w AS (SELECT source, {_WORDS} AS words FROM documents),
p0 AS (SELECT source AS grp, unnest(words) AS term FROM w),
p AS (SELECT DISTINCT grp, term FROM p0),
hs AS (SELECT grp, {_hex8_sql('term')} AS h FROM p),
r AS (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM hs)
SELECT grp, COUNT(*) AS n_exact,
       MAX(CASE WHEN rn = {k} THEN h END) AS kth_min,
       {_dbl(float(k - 1) * float(2**32))}
         / CAST(MAX(CASE WHEN rn = {k} THEN h END) AS DOUBLE) AS kmv_estimate
FROM r GROUP BY grp"""


def sql_hll_distinct() -> str:
    """terms.hll_distinct twin: same 32-bit md5-prefix hash (ascii
    arithmetic over a materialized md5 column), rank = (REM_BITS+1) -
    length(bin(rem)) — DuckDB's bin() also prints without leading zeros —
    exact integer register sum, one shared-literal division."""
    rem_mod = 1 << terms.HLL_REM_BITS
    rb1 = terms.HLL_REM_BITS + 1
    return f"""WITH w AS (SELECT source, {_WORDS} AS words FROM documents),
p0 AS (SELECT source AS grp, unnest(words) AS term FROM w),
p AS (SELECT DISTINCT grp, term FROM p0),
hm AS (SELECT grp, md5(term) AS mh FROM p),
hs AS (SELECT grp, {_hexcol_sql('mh', 1)} AS h FROM hm),
rg AS (SELECT grp, h // {rem_mod} AS idx, h % {rem_mod} AS rem FROM hs),
rk AS (SELECT grp, idx,
       CASE WHEN rem = 0 THEN {terms.HLL_REM_BITS} ELSE {rb1} - length(bin(rem)) END AS rnk FROM rg),
ag AS (SELECT grp, idx, MAX(rnk) AS rmax, COUNT(*) AS cnt FROM rk GROUP BY grp, idx),
fin AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n_exact,
        CAST(COUNT(*) AS BIGINT) AS n_registers,
        CAST(SUM(CAST(1 AS BIGINT) << CAST({terms.HLL_REM_BITS} - rmax AS INT)) AS BIGINT) AS occ_sum
        FROM ag GROUP BY grp)
SELECT grp, n_exact,
       {terms.HLL_M} - n_registers AS n_empty_registers,
       occ_sum + ({terms.HLL_M} - n_registers) * {rem_mod} AS reg_sum,
       {_dbl(terms.HLL_NUMERATOR)}
         / CAST(occ_sum + ({terms.HLL_M} - n_registers) * {rem_mod} AS DOUBLE) AS hll_estimate
FROM fin"""


def sql_hll_union() -> str:
    """terms.hll_union twin, computed WITHOUT the merge: the union sketch
    built directly over the GLOBAL distinct-term set (union of per-group
    distinct sets == global distinct set; same hash -> same registers).
    Equality with Spark's max-per-register MERGE of per-group sketches
    proves the merge exactly lossless across engines."""
    rem_mod = 1 << terms.HLL_REM_BITS
    rb1 = terms.HLL_REM_BITS + 1
    return f"""WITH w AS (SELECT {_WORDS} AS words FROM documents),
p0 AS (SELECT unnest(words) AS term FROM w),
p AS (SELECT DISTINCT term FROM p0),
hm AS (SELECT md5(term) AS mh FROM p),
hs AS (SELECT {_hexcol_sql('mh', 1)} AS h FROM hm),
rg AS (SELECT h // {rem_mod} AS idx, h % {rem_mod} AS rem FROM hs),
rk AS (SELECT idx,
       CASE WHEN rem = 0 THEN {terms.HLL_REM_BITS} ELSE {rb1} - length(bin(rem)) END AS rnk FROM rg),
ag AS (SELECT idx, MAX(rnk) AS rmax FROM rk GROUP BY idx),
fin AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_registers,
        CAST(SUM(CAST(1 AS BIGINT) << CAST({terms.HLL_REM_BITS} - rmax AS INT)) AS BIGINT) AS occ_sum
        FROM ag),
ng AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_groups FROM documents)
SELECT n_groups, n_registers,
       occ_sum + ({terms.HLL_M} - n_registers) * {rem_mod} AS reg_sum,
       {_dbl(terms.HLL_NUMERATOR)}
         / CAST(occ_sum + ({terms.HLL_M} - n_registers) * {rem_mod} AS DOUBLE) AS hll_estimate
FROM fin CROSS JOIN ng"""


def sql_bigram_pmi() -> str:
    """terms.bigram_pmi twin: ratio = (c_ab * N) / (c_a * c_b) with both
    products formed from exact BIGINTs and the same association — rank by
    the ratio is rank by PMI without a libm log in sight."""
    return f"""WITH w AS (SELECT {_WORDS} AS words FROM documents),
g AS (SELECT unnest({_ngrams_list_sql(2)}) AS gram FROM w),
cab AS (SELECT gram, COUNT(*) AS c_ab FROM g GROUP BY gram),
t AS (SELECT unnest(words) AS term FROM w),
uni AS (SELECT term, COUNT(*) AS c FROM t GROUP BY term),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni),
s AS (
  SELECT gram, c_ab, a.c AS c_a, b.c AS c_b, n_tokens,
         (CAST(c_ab AS DOUBLE) * CAST(n_tokens AS DOUBLE))
           / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)) AS pmi_ratio
  FROM cab
  JOIN uni a ON a.term = split_part(gram, ' ', 1)
  JOIN uni b ON b.term = split_part(gram, ' ', 2)
  CROSS JOIN n
)
SELECT gram, c_ab, c_a, c_b, n_tokens, pmi_ratio
FROM s ORDER BY pmi_ratio DESC, gram LIMIT {terms.PMI_TOP}"""


def sql_token_rarity() -> str:
    """terms.token_rarity twin: integer-exact frequency sums (HUGEINT ->
    BIGINT), one final division."""
    return f"""WITH w AS (SELECT doc_id AS key, {_WORDS} AS words FROM documents),
t AS (SELECT key, unnest(words) AS term FROM w),
uni AS (SELECT term, COUNT(*) AS c FROM t GROUP BY term),
a AS (SELECT key, COUNT(*) AS n_tokens, CAST(SUM(c) AS BIGINT) AS freq_sum
      FROM t JOIN uni USING (term) GROUP BY key)
SELECT key, n_tokens, freq_sum,
       CAST(freq_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_token_freq
FROM a"""


def sql_stratified_sample() -> str:
    """text.stratified_sample twin via the direct rank form: the engine's
    banded selection must reproduce exactly the STRATIFIED_QUOTA smallest
    (hash, key) rows per group — the oracle recomputes that set the
    straightforward way, so the band routing itself is what's being
    verified."""
    h = _hex8_sql("CAST(doc_id AS VARCHAR)")
    return f"""WITH r AS (
  SELECT doc_id AS key, lang AS grp,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n_g
  FROM documents
)
SELECT key, grp FROM r WHERE rn <= LEAST({text.STRATIFIED_QUOTA}, n_g)"""


def sql_corpus_cube() -> str:
    """relational.corpus_cube twin: CUBE + the shared GROUPING bitmask
    (first column = MSB in both engines); SUM -> HUGEINT -> BIGINT."""
    return """SELECT lang, source,
       CAST(GROUPING(lang, source) AS BIGINT) AS gid,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY CUBE (lang, source)"""


def _chunks_sql(source: str, size: int, stride: int) -> str:
    """text.chunk_documents twin over `source`: range() starts, inclusive
    1-based list slice (clamps at the end exactly like Spark's slice),
    arithmetic token counts — all integers."""
    return f"""w AS (SELECT doc_id AS key, {_WORDS} AS words FROM {source}),
s AS (SELECT key, words, unnest(range(0, len(words), {stride})) AS s FROM w)
SELECT key, s // {stride} AS chunk_id, s AS chunk_start,
       CAST(LEAST({size}, len(words) - s) AS BIGINT) AS chunk_tokens,
       array_to_string(words[s + 1 : s + {size}], ' ') AS chunk_text
FROM s"""


def sql_chunk_documents() -> str:
    return f"WITH {_chunks_sql('documents', text.QUERY_CHUNK_SIZE, text.QUERY_CHUNK_STRIDE)}"


def _packed_sql(source: str) -> str:
    """text.pack_documents twin over `source`: identical md5-order window
    cumsum per stream (SUM -> HUGEINT -> BIGINT before the subtraction)."""
    h = _hex8_sql("CAST(doc_id AS VARCHAR)")
    return f"""t AS (
  SELECT doc_id AS key, {h} AS h,
         CAST({h} % {text.PACK_STREAMS} AS BIGINT) AS stream,
         CAST(len({_WORDS}) AS BIGINT) AS n_tokens
  FROM {source}
),
c AS (
  SELECT key, stream, n_tokens,
         CAST(SUM(n_tokens) OVER (
           PARTITION BY stream ORDER BY h, key
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) - n_tokens AS tok_offset
  FROM t
)
SELECT key, stream, tok_offset, n_tokens, tok_offset // {text.PACK_CAPACITY} AS window_id
FROM c"""


def sql_pack_documents() -> str:
    return f"WITH {_packed_sql('documents')}"


def sql_length_winsorize() -> str:
    """text.length_winsorize twin: identical integer rank targets
    ((p_num*cnt + p_den-1) // p_den on non-negative ints == Spark div),
    threshold rows by MIN/MAX over the one-or-two selected ranks, clamped
    sum exact BIGINT."""
    return """WITH r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS cnt
  FROM documents),
t AS (SELECT lang, MIN(n_chars) AS lo_chars, MAX(n_chars) AS hi_chars
      FROM r WHERE rn = (1 * cnt + 19) // 20 OR rn = (19 * cnt + 19) // 20
      GROUP BY lang)
SELECT d.lang, COUNT(*) AS n_docs,
       MIN(lo_chars) AS lo_chars, MIN(hi_chars) AS hi_chars,
       CAST(SUM(CASE WHEN n_chars < lo_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
       CAST(SUM(CASE WHEN n_chars > hi_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
       CAST(SUM(GREATEST(lo_chars, LEAST(hi_chars, n_chars))) AS BIGINT) AS winsorized_chars
FROM documents d JOIN t USING (lang) GROUP BY d.lang"""


def sql_source_diversity() -> str:
    """text.source_diversity twin: per-source ratios divide FIRST (exact
    ints < 2^53 in double — the HUGEINT->DOUBLE double-rounding trap),
    then the identical source-ordered left fold (list_reduce over a
    0.0-prepended list == Spark's aggregate with a 0.0 seed)."""
    return """WITH c AS (
  SELECT lang AS grp, source AS src, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
g AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_sources,
             list(CAST(c AS DOUBLE) ORDER BY src) AS cl
      FROM c GROUP BY grp)
SELECT grp AS lang, n_docs, n_sources,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(cl, v -> (v / CAST(n_docs AS DOUBLE)) * (v / CAST(n_docs AS DOUBLE)))),
         (x, y) -> x + y) AS simpson
FROM g"""


def sql_bm25_topk() -> str:
    """terms.bm25_topk twin: the SAME BM25_SCORE_SQL string (shared
    formulation, not merely equivalent semantics), per-term partials via
    MAX(CASE) pivot columns added in the identical left-assoc order, tf/df
    exact BIGINTs, avgdl one shared division. Unnest happens in the FROM
    clause (lateral) — this DuckDB's binder cannot filter a SELECT-list
    unnest column downstream (the triangle_count note)."""
    qs = list(terms.BM25_QUERY)
    inlist = ", ".join("'" + t.replace("'", "''") + "'" for t in qs)
    pivot = ", ".join(
        f"MAX(CASE WHEN term = '{t}' THEN s END) AS s_{i}" for i, t in enumerate(qs)
    )
    total = " + ".join(f"COALESCE(s_{i}, CAST(0.0 AS DOUBLE))" for i in range(len(qs)))
    return f"""WITH w AS (SELECT doc_id AS key, {_WORDS} AS words FROM documents),
t0 AS (SELECT key, CAST(len(words) AS DOUBLE) AS dl, u.term AS term
       FROM w, unnest(w.words) AS u(term)),
tf AS (SELECT key, term, CAST(COUNT(*) AS BIGINT) AS tf, MIN(dl) AS dl
       FROM t0 WHERE term IN ({inlist}) GROUP BY key, term),
dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(len(words)) AS BIGINT) AS total_tokens FROM w),
st2 AS (SELECT n_docs, CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM st),
s AS (SELECT key, term, {terms.BM25_SCORE_SQL} AS s
      FROM tf JOIN dft USING (term) CROSS JOIN st2),
p AS (SELECT key, {pivot} FROM s GROUP BY key),
sc AS (SELECT key, {total} AS score FROM p),
r AS (SELECT key, score, ROW_NUMBER() OVER (ORDER BY score DESC, key) AS rn FROM sc)
SELECT key AS doc_id, score, CAST(rn AS INT) AS rnk FROM r WHERE rn <= {terms.BM25_K}"""


def _pipeline_corpus_cte() -> str:
    """The corpus-pipeline selection (plans/pipeline.run_corpus_pipeline)
    recomputed as one CTE chain ending in `corpus(doc_id, text)`:
    normalization-fingerprint dedup FIRST (representative = min doc_id per
    fingerprint over ALL analyzed docs — the pipeline dedups the analyzed
    stage, unlike sql_corpus_clean's filter-then-dedup operator), then the
    quality floor, then the deterministic md5-bucket sample."""
    score = _quality_parts()["score"]
    threshold = int(round(pipeline.SAMPLE_FRACTION * text.SAMPLE_BUCKETS))
    bucket = f"{_hex8_sql('CAST(doc_id AS VARCHAR)')} % {text.SAMPLE_BUCKETS}"
    fp = "md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""an AS (SELECT doc_id, text, {fp} AS fp, {score} AS q FROM documents),
dd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM an),
corpus AS (SELECT doc_id, text FROM dd
           WHERE rn = 1 AND q >= CAST({pipeline.QUALITY_MIN!r} AS DOUBLE) AND {bucket} < {threshold})"""


def sql_pipeline_corpus_stats() -> str:
    """Pipeline corpus_stats stage twin: per-predicted-language doc and
    token totals over the composed corpus selection (langid CASE identical
    to sql_langid, SUMs cast from HUGEINT to BIGINT)."""
    hits = {lang: _stopword_hits_sql(words) for lang, words in text.LANG_STOPWORDS.items()}
    gmax = "GREATEST(" + ", ".join(f"h_{lang}" for lang in text.LANG_STOPWORDS) + ")"
    case = " ".join(
        f"WHEN h_{lang} = gmax THEN '{lang}'" for lang in sorted(text.LANG_STOPWORDS, reverse=True)
    )
    cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    pieces = "len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]'))"
    return f"""WITH {_pipeline_corpus_cte()},
h AS (SELECT doc_id, text, {cols} FROM corpus),
g AS (SELECT *, {gmax} AS gmax FROM h),
p AS (SELECT doc_id, (CASE {case} END) AS lang_pred,
             CAST(len({_WORDS}) AS INTEGER) AS n_tokens_ws,
             CAST({pieces} AS INTEGER) AS n_tokens_bpe
      FROM g)
SELECT lang_pred, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens_ws) AS BIGINT) AS total_tokens_ws,
       CAST(SUM(n_tokens_bpe) AS BIGINT) AS total_tokens_bpe
FROM p GROUP BY lang_pred"""


def sql_pipeline_chunks() -> str:
    """Pipeline chunks EXPORT stage twin: the chunk_documents twin over
    the composed corpus selection at the pipeline's window."""
    return f"WITH {_pipeline_corpus_cte()},\n{_chunks_sql('corpus', pipeline.CHUNK_SIZE, pipeline.CHUNK_STRIDE)}"


def sql_pipeline_packed() -> str:
    """Pipeline packed EXPORT stage twin: the pack_documents twin over the
    composed corpus selection."""
    return f"WITH {_pipeline_corpus_cte()},\n{_packed_sql('corpus')}"


def sql_triangle_count() -> str:
    """graph.triangle_count twin: identical canonical-edge dedup, degree-
    ordered orientation via row-value comparison, wedge + closing joins —
    all integers. Edge derivation mirrors synth_link_graph."""
    # UNION ALL, not unnest: this DuckDB build's binder cannot filter a
    # column derived from a SELECT-list unnest in a downstream CTE
    # (INTERNAL Error binding "dst"); one branch per link rule is the
    # same edge multiset and e0's DISTINCT collapses it identically.
    branches = "\n  UNION ALL ".join(
        f"SELECT src, {rule} AS dst FROM (SELECT doc_id AS src FROM documents) CROSS JOIN nn"
        for rule in graph.LINK_RULES_SQL
    )
    return f"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
raw AS (
  {branches}
),
e0 AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
),
deg AS (
  SELECT v, COUNT(*) AS d
  FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v
),
e AS (
  SELECT CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.a ELSE e0.b END AS u,
         CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.b ELSE e0.a END AS v,
         CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN db.d ELSE da.d END AS dv
  FROM e0 JOIN deg da ON da.v = e0.a JOIN deg db ON db.v = e0.b
),
tri AS (
  SELECT e1.u AS u, e1.v AS x, e2.v AS y
  FROM e e1
  JOIN e e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT vertex, COUNT(*) AS n_triangles
FROM (SELECT u AS vertex FROM tri
      UNION ALL SELECT x FROM tri
      UNION ALL SELECT y FROM tri)
GROUP BY vertex"""


def sql_profile_documents() -> str:
    """relational.profile_table twin over documents: the same single
    aggregate (numeric min/max then VARCHAR cast) unpivoted as one UNION
    ALL branch per column."""
    aggs = ["COUNT(*) AS n_rows"]
    for i, c in enumerate(("doc_id", "text", "lang", "source", "n_chars")):
        aggs += [
            f"COUNT({c}) AS nn{i}",
            f"COUNT(DISTINCT {c}) AS nd{i}",
            f"CAST(MIN({c}) AS VARCHAR) AS mn{i}",
            f"CAST(MAX({c}) AS VARCHAR) AS mx{i}",
        ]
    branches = "\nUNION ALL ".join(
        f"SELECT n_rows, '{c}' AS column_name, nn{i} AS n_nonnull, "
        f"nd{i} AS n_distinct, mn{i} AS min_value, mx{i} AS max_value FROM a"
        for i, c in enumerate(("doc_id", "text", "lang", "source", "n_chars"))
    )
    return f"WITH a AS (SELECT {', '.join(aggs)} FROM documents)\n{branches}"


def sql_events_sessions_native() -> str:
    """events.user_sessions_native twin recomputed with lag + running
    counter — an independent strategy from Catalyst's merging-session
    aggregation. Split rule is > gap: measured on this Spark build, an
    event exactly gap seconds after the previous MERGES (windows touching
    at the boundary coalesce), pinned by
    test_session_window_native_boundary_semantics."""
    return f"""WITH ev AS (
  SELECT CAST(user_id AS VARCHAR) AS key, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
m AS (
  SELECT key, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY key ORDER BY t) > {events.SESSION_GAP_SECONDS}
              THEN 1 ELSE 0 END AS ns
  FROM ev
),
s AS (SELECT key, t, SUM(ns) OVER (PARTITION BY key ORDER BY t) AS sid FROM m)
SELECT key, MIN(t) AS session_start, MAX(t) AS session_end, COUNT(*) AS n_events
FROM s GROUP BY key, sid"""


# shared change-set derivation for the MERGE gate: doc_id % 11 routes rows
# to delete (0), update (1: uppercased text, lang 'xx') or insert (2:
# synthesized row at doc_id + 1000000). Mirrored by _merge_changes_df in
# __spark_entry__.py — keep the arithmetic identical.
def sql_merge_upsert() -> str:
    """relational.merge_upsert twin via an INDEPENDENT strategy: the
    engine anti-joins touched keys out and unions upserts in (the
    broadcastable formulation); the oracle resolves per column through a
    full outer join + CASE."""
    return """WITH changes AS (
  SELECT doc_id, NULL AS text, NULL AS lang, NULL AS source,
         CAST(NULL AS BIGINT) AS n_chars, 'delete' AS op
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id, upper(text), 'xx', source, n_chars, 'upsert'
  FROM documents WHERE doc_id % 11 = 1
  UNION ALL
  SELECT doc_id + 1000000, 'inserted doc ' || CAST(doc_id AS VARCHAR),
         'new', 'merge', CAST(length('inserted doc ' || CAST(doc_id AS VARCHAR)) AS BIGINT),
         'upsert'
  FROM documents WHERE doc_id % 11 = 2
)
SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
       CASE WHEN c.op = 'upsert' THEN c.text ELSE b.text END AS text,
       CASE WHEN c.op = 'upsert' THEN c.lang ELSE b.lang END AS lang,
       CASE WHEN c.op = 'upsert' THEN c.source ELSE b.source END AS source,
       CASE WHEN c.op = 'upsert' THEN c.n_chars ELSE b.n_chars END AS n_chars
FROM documents b FULL OUTER JOIN changes c ON b.doc_id = c.doc_id
WHERE c.op IS NULL OR c.op <> 'delete'"""


def sql_events_retention() -> str:
    """events.events_retention twin: (user, day)-level distinct first, so
    the per-(cohort, offset) user count is COUNT(*) — same
    no-COUNT-DISTINCT-expand rule as the engine; dates and ints only."""
    return """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
c AS (SELECT user_id, MIN(d) AS cohort_day FROM ud GROUP BY user_id)
SELECT c.cohort_day AS cohort_day,
       CAST(date_diff('day', c.cohort_day, ud.d) AS INTEGER) AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM ud JOIN c USING (user_id)
GROUP BY 1, 2"""


def sql_events_moving_stats() -> str:
    """events.events_moving_stats twin: the same ROWS frame over
    (ts, event_id) order, DECIMAL-exact frame sum, one DOUBLE cast at the
    boundary (both engines round the exact decimal once)."""
    return f"""
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS INTEGER) AS frame_n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DECIMAL(38,2)) AS DOUBLE) AS moving_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN {events.MOVING_FRAME_ROWS - 1} PRECEDING AND CURRENT ROW)"""


def sql_events_funnel() -> str:
    """events.events_funnel twin: the same chained strictly-after minimum
    selection in CTEs, integer microseconds via epoch_us."""
    return """WITH ev AS (
  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS t FROM events
),
s1 AS (SELECT user_id, MIN(t) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT ev.user_id, MIN(ev.t) AS t2 FROM ev JOIN s1 USING (user_id)
       WHERE ev.event_type = 'click' AND ev.t > s1.t1 GROUP BY ev.user_id),
s3 AS (SELECT ev.user_id, MIN(ev.t) AS t3 FROM ev JOIN s2 USING (user_id)
       WHERE ev.event_type = 'purchase' AND ev.t > s2.t2 GROUP BY ev.user_id)
SELECT s1.user_id, t1, t2, t3,
       CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS stage
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"""


def sql_chars_histogram() -> str:
    """relational.chars_histogram twin: same integer `//` bucketing."""
    width = relational.CHARS_HISTOGRAM_WIDTH

    return f"""SELECT n_chars // {width} AS bucket,
       (n_chars // {width}) * {width} AS bucket_lo,
       COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents GROUP BY n_chars // {width}"""


def sql_lang_percentile_chars() -> str:
    """text.lang_percentile_chars twin at its default p: identical integer
    rank selection ceil(p*n) = (p_num*n + p_den-1) // p_den."""
    p_num, p_den = text.P90_NUM, text.P90_DEN

    return f"""WITH r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS cnt
  FROM documents
)
SELECT lang, n_chars AS p_chars, cnt AS n_docs
FROM r WHERE rn = ({p_num} * cnt + {p_den - 1}) // {p_den}"""


def _hamilton_quotas_sql() -> str:
    """The largest-remainder split of text.MIXTURE_BUDGET over a `w`
    (grp, wt) CTE: floor quota, remainder rank desc with name tie-break."""
    b = text.MIXTURE_BUDGET
    return f"""t AS (SELECT CAST(SUM(wt) AS BIGINT) AS total FROM w),
s AS (SELECT grp, wt,
             CAST((CAST({b} AS HUGEINT) * wt) // total AS BIGINT) AS base,
             (CAST({b} AS HUGEINT) * wt) % total AS rem
      FROM w CROSS JOIN t),
r AS (SELECT grp, wt, base,
             ROW_NUMBER() OVER (ORDER BY rem DESC, grp) AS rem_rank,
             CAST({b} AS BIGINT) - SUM(base) OVER () AS leftover
      FROM s)
SELECT grp AS source, wt AS weight,
       CAST(base + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM r"""


def sql_mixture_allocate() -> str:
    """text.mixture_allocate twin: same largest-remainder integer
    arithmetic."""
    return f"""WITH w AS (SELECT source AS grp, CAST(SUM(n_chars) AS BIGINT) AS wt
           FROM documents GROUP BY 1),
{_hamilton_quotas_sql()}"""


_PII_INJECT_SQL = """SELECT doc_id,
  text || CASE WHEN doc_id % 5 = 0
      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
       || CASE WHEN doc_id % 7 = 0
      THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
       || CASE WHEN doc_id % 11 = 0
      THEN ' call +1415555' || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END AS text
  FROM documents"""


def sql_pii_scrub() -> str:
    """text.pii_scrub twin: identical regexes (no lookarounds/alternation
    — leftmost-first greedy matching agrees between Java regex and RE2),
    counts on the injected original, email -> ip -> phone replace order."""
    counts = ",\n  ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{kind}"
        for kind, pat, _ in text._PII_KINDS
    )
    red = "text"
    for _, pat, token in text._PII_KINDS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    return f"""WITH t AS ({_PII_INJECT_SQL})
SELECT doc_id AS key,
  {counts},
  {red} AS redacted
FROM t"""


def sql_length_quartiles() -> str:
    """text.length_quartiles twin: identical ntile over (n_chars, doc_id)."""
    return """WITH b AS (
  SELECT lang, n_chars,
         NTILE(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS quartile
  FROM documents
)
SELECT lang, CAST(quartile AS INT) AS quartile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM b GROUP BY 1, 2"""


def sql_countmin_heavy_hitters() -> str:
    """terms.countmin_heavy_hitters twin: same md5-salted row hashes
    (materialized once per (term, row) — never re-run per hex char), same
    deterministic top-k probe order, same min-over-rows read-out."""
    col = f"{_hexcol_sql('gh', 1)} % {terms.CM_WIDTH}"
    return f"""WITH t AS (SELECT unnest({_WORDS}) AS term FROM documents),
exact AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_count FROM t GROUP BY 1),
probes AS (SELECT term, exact_count FROM exact ORDER BY exact_count DESC, term LIMIT {terms.HEAVY_HITTERS_K}),
rows AS (SELECT unnest(generate_series(0, {terms.CM_DEPTH - 1})) AS row),
c0 AS (SELECT row, md5(concat(term, '-cm', CAST(row AS VARCHAR))) AS gh
       FROM t CROSS JOIN rows),
cells AS (SELECT row, {col} AS col FROM c0),
sketch AS (SELECT row, col, CAST(COUNT(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
p0 AS (SELECT term, exact_count, row,
              md5(concat(term, '-cm', CAST(row AS VARCHAR))) AS gh
       FROM probes CROSS JOIN rows),
pc AS (SELECT term, exact_count, row, {col} AS col FROM p0)
SELECT pc.term, MIN(pc.exact_count) AS exact_count, MIN(sketch.cnt) AS cm_estimate
FROM sketch JOIN pc ON sketch.row = pc.row AND sketch.col = pc.col
GROUP BY pc.term"""


def sql_sampled_percentile_chars() -> str:
    """text.sampled_percentile_chars twin: identical md5-bucket keep-set,
    identical integer rank selection over the sample."""
    p_num, p_den = text.P90_NUM, text.P90_DEN

    threshold = int(round(text.QUERY_SAMPLE_FRACTION * text.SAMPLE_BUCKETS))
    bucket = f"{_hex8_sql('CAST(doc_id AS VARCHAR)')} % {text.SAMPLE_BUCKETS}"
    return f"""WITH s AS (SELECT lang, n_chars, doc_id FROM documents WHERE {bucket} < {threshold}),
r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS cnt
  FROM s
)
SELECT lang, n_chars AS p_chars_est, cnt AS n_sampled
FROM r WHERE rn = ({p_num} * cnt + {p_den - 1}) // {p_den}"""


def sql_events_sliding_windows() -> str:
    """events.events_sliding_windows twin: window memberships enumerated
    arithmetically (start = slide*i for i in (floor((t-window)/slide),
    floor(t/slide)] — epoch-aligned, matching Spark's window()), DECIMAL
    sums, one DOUBLE cast at the boundary."""
    w, s = 3600, 1800
    # FLOOR division, not DuckDB's truncate-toward-zero `//`: Spark's
    # window() aligns starts with floorDiv, and the two differ for
    # negative numerators (events within `w` of the epoch, or pre-1970).
    # fd(a) = (a - ((a % s + s) % s)) / s is exact floor for s > 0.
    def fd(a: str) -> str:
        return f"(({a}) - ((({a}) % {s} + {s}) % {s})) // {s}"

    return f"""WITH ev AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
),
m AS (
  SELECT unnest(range({fd(f"t - {w}")} + 1, {fd("t")} + 1)) * {s} AS window_start,
         event_type, v
  FROM ev
)
SELECT window_start, event_type, COUNT(*) AS n_events,
       CAST(CAST(SUM(v) AS DECIMAL(38,2)) AS DOUBLE) AS total_value
FROM m GROUP BY window_start, event_type"""


def sql_json_roundtrip_stats() -> str:
    """text.json_roundtrip_stats twin — computed DIRECTLY from the base
    columns, no JSON anywhere: verifies the engine's to_json -> from_json
    roundtrip lost nothing."""
    return f"""WITH w AS (SELECT doc_id, lang, {_WORDS} AS words FROM documents)
SELECT doc_id, lang, len(words) AS n_words,
       words[1] AS first_word, words[len(words)] AS last_word
FROM w"""


_SCALE_CTE = """s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
  FROM embeddings
)"""


def _int8_codes_sql() -> str:
    """similarity._quantized_vectors twin: the BIGINT int8 codes of
    `embedding` at its per-vector `scale`."""
    return (
        "list_transform(embedding, x -> CAST(CASE WHEN scale = 0 THEN 0 "
        f"ELSE floor({_dbl(127.0)} * CAST(x AS DOUBLE) / scale + {_dbl(0.5)}) END AS BIGINT))"
    )


def _quantized_dots_sql() -> str:
    """CTEs s, qv, qs, d: the exact BIGINT dot of every corpus vector's
    int8 codes with each ANN query's (ann_topk_quantized's scoring)."""
    return f"""{_SCALE_CTE},
qv AS (SELECT vec_id, {_int8_codes_sql()} AS qc FROM s),
qs AS (SELECT vec_id AS query_id, qc AS qq FROM qv WHERE vec_id < {similarity.ANN_QUERIES}),
d AS (
  SELECT qs.query_id, qv.vec_id,
         list_sum(list_transform(range(1, len(qv.qc) + 1), i -> qv.qc[i] * qs.qq[i])) AS qdot
  FROM qv CROSS JOIN qs WHERE qs.query_id <> qv.vec_id
)"""


def sql_embedding_quantize() -> str:
    """similarity.embedding_quantize twin: identical single-rounded IEEE
    steps (float->double cast exact, one multiply, one divide, floor of
    +0.5) over DuckDB list lambdas."""
    return f"""WITH {_SCALE_CTE}
SELECT vec_id, scale,
       array_to_string(
         list_transform(embedding, x -> CAST(CASE WHEN scale = 0 THEN 0
           ELSE floor({_dbl(127.0)} * CAST(x AS DOUBLE) / scale + {_dbl(0.5)}) END AS INTEGER)),
         ',') AS q_codes
FROM s"""


def sql_kmeans_assign() -> str:
    """similarity.kmeans_assign twin: same left-fold (x-c)^2 distance
    (list_reduce == Spark's aggregate fold, pinned elsewhere), assignment
    via ROW_NUMBER tie-broken on seed_id, and the identical fixed-point
    centroid sum (floor(x * 2^20 + 0.5): exact power-of-two multiply, one
    rounding, exact BIGINT accumulation)."""
    k = similarity.KMEANS_K

    d2 = (
        f"list_reduce(list_transform(generate_series(1, {similarity.EMBED_DIM}), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.semb[i] AS DOUBLE))"
        " * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.semb[i] AS DOUBLE))), (x, y) -> x + y)"
    )
    fs = float(similarity.KMEANS_FP_SCALE)
    return f"""WITH s AS (SELECT vec_id AS seed_id, embedding AS semb FROM embeddings WHERE vec_id < {k}),
d AS (SELECT e.vec_id, s.seed_id, {d2} AS d2 FROM embeddings e CROSS JOIN s),
a AS (SELECT vec_id, seed_id AS cluster_id FROM
      (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, seed_id) AS rn FROM d)
      WHERE rn = 1),
i0 AS (SELECT unnest(generate_series(1, {similarity.EMBED_DIM})) AS i),
dims AS (SELECT i FROM i0),
m AS (SELECT a.cluster_id, dims.i - 1 AS dim_idx,
             CAST(floor(CAST(e.embedding[dims.i] AS DOUBLE) * {_dbl(fs)} + {_dbl(0.5)}) AS BIGINT) AS q
      FROM a JOIN embeddings e USING (vec_id) CROSS JOIN dims)
SELECT cluster_id, CAST(dim_idx AS INT) AS dim_idx, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(q) AS BIGINT) AS sum_fp,
       CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) * {similarity.KMEANS_FP_SCALE} AS DOUBLE) AS centroid_next
FROM m GROUP BY cluster_id, dim_idx"""


def sql_ann_topk_quantized() -> str:
    """similarity.ann_topk_quantized twin: identical quantization then an
    exact integer dot (list fold of BIGINT products — no float rules
    needed at all)."""
    return f"""WITH {_quantized_dots_sql()}
SELECT query_id, vec_id, CAST(qdot AS BIGINT) AS qdot,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qdot DESC, vec_id) AS INTEGER) AS rank
FROM d
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qdot DESC, vec_id) <= {similarity.ANN_K}"""


def sql_ann_two_stage() -> str:
    """similarity.ann_two_stage twin: the identical two stages — quantized
    BIGINT-dot top-ANN_TWO_STAGE_CANDIDATES candidates, then the exact left-fold
    float dot (the sql_ann_topk formulation) reranked to ANN_K."""
    m = similarity.ANN_TWO_STAGE_CANDIDATES
    dot = _dot_expr("e.embedding", "q.embedding")
    return f"""WITH {_quantized_dots_sql()},
c AS (
  SELECT query_id, vec_id FROM d
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qdot DESC, vec_id) <= {m}
),
r AS (
  SELECT c.query_id, c.vec_id, {dot} AS dsum
  FROM c JOIN embeddings e ON e.vec_id = c.vec_id
         JOIN embeddings q ON q.vec_id = c.query_id
)
SELECT query_id, vec_id, CAST(dsum AS DOUBLE) AS dot,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dsum DESC, vec_id) AS INTEGER) AS rank
FROM r
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dsum DESC, vec_id) <= {similarity.ANN_K}"""


def sql_quantization_error() -> str:
    """similarity.quantization_error twin: same quantize, same
    single-rounded reconstruction arithmetic, order-independent max."""
    return f"""WITH {_SCALE_CTE},
qv AS (SELECT vec_id, scale, embedding, {_int8_codes_sql()} AS qc FROM s)
SELECT vec_id, scale,
       list_max(list_transform(range(1, len(embedding) + 1),
         i -> abs(CAST(embedding[i] AS DOUBLE)
                  - (CAST(qc[i] AS DOUBLE) * scale / {_dbl(127.0)})))) AS max_abs_err
FROM qv"""


def sql_order_count_distribution() -> str:
    """relational.order_count_distribution twin (TPC-H Q13 shape) via the
    independent LEFT-JOIN-then-count formulation; COUNT(o_orderkey) over
    the outer join yields the zero bucket that the Spark side produces
    with coalesce(n_orders, 0)."""
    return """WITH pc AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS n_customers FROM pc GROUP BY c_count"""


def sql_min_cost_supplier() -> str:
    """relational.min_cost_supplier twin (TPC-H Q2 shape) via the
    independent groupBy-min + join-back formulation (the Spark side uses
    a window). unit price is the same single IEEE division, so the
    equality join on the minimum is exact in both engines."""
    return """WITH u AS (
  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
  FROM lineitem
),
m AS (
  SELECT l_partkey AS mk, MIN(unit_price) AS min_unit_price
  FROM u GROUP BY l_partkey
),
b AS (
  SELECT u.l_partkey, MIN(u.l_suppkey) AS best_suppkey,
         MIN(m.min_unit_price) AS min_unit_price
  FROM u JOIN m ON u.l_partkey = m.mk AND u.unit_price = m.min_unit_price
  GROUP BY u.l_partkey
)
SELECT p_partkey, p_name, best_suppkey, s_name, min_unit_price
FROM b JOIN part ON p_partkey = b.l_partkey
       JOIN supplier ON s_suppkey = b.best_suppkey"""


def sql_events_decay() -> str:
    """events.events_decay twin: same exact power-of-two BIGINT weights
    (float decay could never hash-gate), integer-floor age periods via
    DuckDB's // on non-negative operands == Spark's div. The anchor and
    the age cap are read from the engine's constants at call time."""
    return f"""WITH w AS (
  SELECT event_type,
         (CAST(1 AS BIGINT) << CAST({events.DECAY_AGE_CAP_DAYS} - LEAST(GREATEST(
            ({events.DECAY_ANCHOR_US} - epoch_us(ts)) // 86400000000,
            0), {events.DECAY_AGE_CAP_DAYS}) AS INTEGER)) AS w
  FROM events
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(w) AS BIGINT) AS decayed_weight,
       MAX(w) AS max_weight
FROM w GROUP BY event_type"""


def sql_events_attribution() -> str:
    """events.events_attribution twin via the INDEPENDENT join-then-rank
    strategy (the Spark side is a union carry-forward window): every
    in-window touch joins to its conversion, rank 1 on (us DESC,
    event_id DESC) is the last touch — the same (us, event_id) ordering
    contract pinned by event_transitions."""
    window_us = 7 * 86_400_000_000
    return f"""WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CAST(value AS DECIMAL(18,2)) AS value
  FROM events
),
c AS (SELECT * FROM e WHERE event_type = 'purchase'),
t AS (SELECT * FROM e WHERE event_type IN ('view', 'click')),
j AS (
  SELECT c.event_id AS cid, t.event_type AS touch_type,
         ROW_NUMBER() OVER (PARTITION BY c.event_id
                            ORDER BY t.us DESC, t.event_id DESC) AS rn
  FROM c JOIN t ON t.user_id = c.user_id
              AND t.us <= c.us
              AND c.us - t.us <= {window_us}
),
a AS (SELECT cid, touch_type FROM j WHERE rn = 1),
f AS (
  SELECT c.value, COALESCE(a.touch_type, 'none') AS attributed_type
  FROM c LEFT JOIN a ON a.cid = c.event_id
)
SELECT attributed_type, COUNT(*) AS n_conversions,
       CAST(CAST(SUM(value) AS DECIMAL(38,2)) AS DOUBLE) AS total_value
FROM f GROUP BY attributed_type"""


def sql_scd2_lookup() -> str:
    """events.scd2_lookup twin, independent on BOTH axes: the dimension is
    the gaps-and-islands formulation (not lag-change-cumsum) and the
    lookup is a half-open range join (not carry-forward) — the half-open
    predicate naturally skips the zero-length [t, t) runs that the Spark
    side supersedes via its valid_to_us tie order."""
    dims = ", ".join(f"'{t}'" for t in ("signup", "purchase"))
    probes = ", ".join(f"'{t}'" for t in ("view", "click"))
    return f"""WITH e AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us, event_id, event_type
  FROM events WHERE event_type IN ({dims})
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY us, event_id) AS rt
  FROM e
),
g AS (
  SELECT user_id, event_type, rn - rt AS grp, MIN(rn) AS ord,
         MIN(us) AS valid_from_us
  FROM r GROUP BY user_id, event_type, rn - rt
),
dim AS (
  SELECT user_id, event_type AS state_type, valid_from_us,
         LEAD(valid_from_us) OVER (PARTITION BY user_id ORDER BY ord) AS valid_to_us
  FROM g
),
p AS (
  SELECT event_type AS probe_type, user_id, CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events WHERE event_type IN ({probes})
),
m AS (
  SELECT p.probe_type, d.state_type
  FROM p LEFT JOIN dim d
    ON d.user_id = p.user_id AND d.valid_from_us <= p.us
   AND (d.valid_to_us IS NULL OR p.us < d.valid_to_us)
)
SELECT probe_type, COALESCE(state_type, 'none') AS state_type,
       COUNT(*) AS n_probes
FROM m GROUP BY probe_type, COALESCE(state_type, 'none')"""


def sql_bpe_pair_counts() -> str:
    """terms.bpe_pair_counts twin via the INDEPENDENT direct corpus-level
    unnest (the Spark side aggregates to the vocab before exploding
    pairs); same within-token multiplicity and (count DESC, pair ASC)
    top-k tiebreak."""
    return """WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents
),
p AS (
  SELECT unnest(list_transform(range(1, length(tok)),
                               i -> substr(tok, CAST(i AS INTEGER), 2))) AS pair
  FROM toks WHERE length(tok) >= 2
)
SELECT pair, COUNT(*) AS n_occurrences FROM p GROUP BY pair
ORDER BY n_occurrences DESC, pair LIMIT 50"""


def sql_edit_distance_pairs() -> str:
    """dedup.edit_distance_pairs twin, independent mechanism: candidates
    via raw substr margin equality (no md5 digests, no key explode) UNIONed
    across the prefix / suffix / short-bucket sources, then DuckDB's
    un-thresholded levenshtein verifies. Same recall contract."""
    d, c = dedup.EDIT_MAX_DISTANCE, dedup.EDIT_BLOCK_CHARS
    return f"""WITH d AS (
  SELECT doc_id, text, length(text) AS n FROM documents
),
big AS (SELECT * FROM d WHERE n >= {c}),
small AS (SELECT * FROM d WHERE n < {c}),
cand AS (
  SELECT a.doc_id AS key_a, b.doc_id AS key_b, a.text AS ta, b.text AS tb
  FROM big a JOIN big b
    ON substr(a.text, 1, {c}) = substr(b.text, 1, {c})
   AND a.doc_id < b.doc_id AND abs(a.n - b.n) <= {d}
  UNION
  SELECT a.doc_id, b.doc_id, a.text, b.text
  FROM big a JOIN big b
    ON substr(a.text, a.n - {c - 1}, {c}) = substr(b.text, b.n - {c - 1}, {c})
   AND a.doc_id < b.doc_id AND abs(a.n - b.n) <= {d}
  UNION
  SELECT a.doc_id, b.doc_id, a.text, b.text
  FROM small a JOIN small b
    ON (a.n // 8 = b.n // 8 OR a.n // 8 = (b.n + 4) // 8
        OR (a.n + 4) // 8 = b.n // 8 OR (a.n + 4) // 8 = (b.n + 4) // 8)
   AND a.doc_id < b.doc_id AND abs(a.n - b.n) <= {d}
)
SELECT key_a, key_b, CAST(levenshtein(ta, tb) AS INTEGER) AS edit_distance
FROM cand WHERE levenshtein(ta, tb) <= {d}"""


def sql_events_resample() -> str:
    """events.events_resample twin, independent spine mechanism:
    generate_series per type range (vs Spark sequence+explode) LEFT JOINed
    to the same bucket rollup; zero-fill via COALESCE. DECIMAL sum ->
    one DOUBLE cast (determinism rules at the top of this module)."""
    s = events.WINDOW_SECONDS
    return f"""WITH ev AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS e,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
),
agg AS (
  SELECT event_type, e - e % {s} AS window_start,
         COUNT(*) AS n, CAST(CAST(SUM(v) AS DECIMAL(38,2)) AS DOUBLE) AS tv
  FROM ev GROUP BY 1, 2
),
rng AS (
  SELECT event_type, MIN(window_start) AS mn, MAX(window_start) AS mx
  FROM agg GROUP BY 1
),
spine AS (
  SELECT event_type, UNNEST(generate_series(mn, mx, {s})) AS window_start
  FROM rng
)
SELECT spine.event_type, spine.window_start,
       COALESCE(agg.n, 0) AS n_events,
       COALESCE(agg.tv, CAST(0 AS DOUBLE)) AS total_value
FROM spine LEFT JOIN agg
  ON agg.event_type = spine.event_type AND agg.window_start = spine.window_start"""


def sql_events_new_users() -> str:
    """events.events_new_users twin: first-seen reduction then a running
    SUM OVER the bucket curve (exact BIGINTs throughout)."""
    s = 86400
    return f"""WITH fs AS (
  SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS e
  FROM events GROUP BY 1
),
pb AS (
  SELECT e - e % {s} AS window_start, COUNT(*) AS new_users
  FROM fs GROUP BY 1
)
SELECT window_start, new_users,
       SUM(new_users) OVER (ORDER BY window_start
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_users
FROM pb"""


def sql_lang_length_regression() -> str:
    """text.lang_length_regression twin: identical moment algebra with
    DuckDB-native exact integers (SUM(BIGINT) -> HUGEINT; the textbook
    combinations stay exact in HUGEINT and round to DOUBLE once), then the
    same single-rounded sqrt/multiply/divide op order."""
    return f"""WITH m AS (
  SELECT lang,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(length(text) AS BIGINT)) AS sx,
         SUM(CAST(len({_WORDS}) AS BIGINT)) AS sy,
         SUM(CAST(length(text) AS BIGINT) * CAST(len({_WORDS}) AS BIGINT)) AS sxy,
         SUM(CAST(length(text) AS BIGINT) * CAST(length(text) AS BIGINT)) AS sxx,
         SUM(CAST(len({_WORDS}) AS BIGINT) * CAST(len({_WORDS}) AS BIGINT)) AS syy
  FROM documents GROUP BY lang
),
c AS (
  SELECT lang, n,
         CAST(n * sxy - sx * sy AS DOUBLE) AS cov,
         CAST(n * sxx - sx * sx AS DOUBLE) AS varx,
         CAST(n * syy - sy * sy AS DOUBLE) AS vary,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM m
)
SELECT lang, CAST(n AS BIGINT) AS n_docs,
       CASE WHEN varx > 0 AND vary > 0 THEN cov / (sqrt(varx) * sqrt(vary)) END AS corr_chars_tokens,
       CASE WHEN varx > 0 THEN cov / varx END AS slope,
       CASE WHEN varx > 0 THEN (syd - (cov / varx) * sxd) / CAST(n AS DOUBLE) END AS intercept
FROM c"""


def sql_pareto_frontier() -> str:
    """relational.pareto_frontier twin, independent mechanism: direct
    NOT EXISTS dominance test (no bucketing, no windows)."""
    return f"""WITH d AS (
  SELECT doc_id, n_chars AS x,
         CAST(len(list_distinct({_WORDS})) AS BIGINT) AS y
  FROM documents
)
SELECT doc_id, x AS n_chars, y AS n_distinct_tokens
FROM d
WHERE NOT EXISTS (
  SELECT 1 FROM d d2
  WHERE d2.x >= d.x AND d2.y >= d.y AND (d2.x > d.x OR d2.y > d.y)
)"""


def sql_weighted_sample() -> str:
    """text.weighted_sample twin: same md5-bucket + exact integer
    inclusion inequality."""
    rate_num = int(round(text.WEIGHTED_RATE * text.SAMPLE_BUCKETS))
    cap = text.WEIGHTED_LENGTH_CAP
    bucket = f"{_hex8_sql('CAST(doc_id AS VARCHAR)')} % {text.SAMPLE_BUCKETS}"
    return f"""SELECT doc_id, lang, n_chars FROM documents
WHERE ({bucket}) * {cap} < LEAST(n_chars, {cap}) * CAST({rate_num} AS BIGINT)"""


def sql_boilerplate_scrub() -> str:
    """web.boilerplate_scrub twin: page-frequency via COUNT(DISTINCT key)
    (vs Spark's dedupe-then-COUNT(*)), reconstruction via ordered
    string_agg with FILTER (vs Spark's sort_array + filter + array_join)."""
    return f"""WITH {_paragraphs_with()},
ph AS (SELECT key, para_idx, paragraph, md5(paragraph) AS h FROM paras),
hot AS (
  SELECT h FROM (SELECT h, COUNT(DISTINCT key) AS np FROM ph GROUP BY 1)
  WHERE np >= 2
),
m AS (
  SELECT ph.key, ph.para_idx, ph.paragraph, hot.h IS NOT NULL AS is_hot
  FROM ph LEFT JOIN hot ON ph.h = hot.h
)
SELECT key,
       COALESCE(string_agg(paragraph, chr(10) ORDER BY para_idx)
                  FILTER (WHERE NOT is_hot), '') AS clean_text,
       COUNT(*) FILTER (WHERE NOT is_hot) AS n_kept,
       COUNT(*) FILTER (WHERE is_hot) AS n_removed
FROM m GROUP BY key"""


def sql_polygon_centroid() -> str:
    """spatial.polygon_centroid twin: same shoelace moment folds
    (list_prepend + list_reduce == Spark's 0.0-seeded aggregate) and the
    same single-rounded sx / (3.0 * s2) op order."""
    cross = "(ring[i][1] * ring[i + 1][2] - ring[i + 1][1] * ring[i][2])"
    tx = f"list_transform(generate_series(1, len(ring) - 1), i -> (ring[i][1] + ring[i + 1][1]) * {cross})"
    ty = f"list_transform(generate_series(1, len(ring) - 1), i -> (ring[i][2] + ring[i + 1][2]) * {cross})"
    ts = f"list_transform(generate_series(1, len(ring) - 1), i -> {cross})"
    fold = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {t}), (x, y) -> x + y)"
    return f"""WITH s AS (
  SELECT poly_id, {fold.format(t=ts)} AS s2,
         {fold.format(t=tx)} AS sx, {fold.format(t=ty)} AS sy
  FROM {rings_values()}
)
SELECT poly_id,
       CASE WHEN s2 <> 0.0 THEN sx / (3.0 * s2) END AS centroid_lon,
       CASE WHEN s2 <> 0.0 THEN sy / (3.0 * s2) END AS centroid_lat,
       abs(s2) / 2.0 AS area_deg2
FROM s"""


def sql_lang_vocab_overlap() -> str:
    """terms.lang_vocab_overlap twin: distinct (lang, token) via UNNEST,
    intersection via self-join, same exact-int + one-division Jaccard."""
    return f"""WITH v AS (
  SELECT DISTINCT lang, unnest({_WORDS}) AS token FROM documents
),
s AS (SELECT lang, COUNT(*) AS n_vocab FROM v GROUP BY 1),
i AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_common
  FROM v a JOIN v b ON a.token = b.token AND a.lang < b.lang
  GROUP BY 1, 2
)
SELECT lang_a, lang_b, sa.n_vocab AS vocab_a, sb.n_vocab AS vocab_b, n_common,
       CAST(n_common AS DOUBLE) / CAST(sa.n_vocab + sb.n_vocab - n_common AS DOUBLE) AS jaccard
FROM i JOIN s sa ON sa.lang = i.lang_a JOIN s sb ON sb.lang = i.lang_b"""


def sql_events_anomaly() -> str:
    """events.events_anomaly twin: the resample CTEs (generate_series
    spine), then identical trailing exact-int moments and the same
    single-rounded mean/var/sqrt/z op order."""
    s = events.WINDOW_SECONDS
    frame = "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING"
    part = f"PARTITION BY event_type ORDER BY window_start {frame}"
    return f"""WITH ev AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS e
  FROM events
),
agg AS (
  SELECT event_type, e - e % {s} AS window_start, COUNT(*) AS n
  FROM ev GROUP BY 1, 2
),
rng AS (SELECT event_type, MIN(window_start) AS mn, MAX(window_start) AS mx FROM agg GROUP BY 1),
spine AS (SELECT event_type, UNNEST(generate_series(mn, mx, {s})) AS window_start FROM rng),
series AS (
  SELECT spine.event_type, spine.window_start, COALESCE(agg.n, 0) AS n_events
  FROM spine LEFT JOIN agg
    ON agg.event_type = spine.event_type AND agg.window_start = spine.window_start
),
m AS (
  SELECT event_type, window_start, n_events,
         COUNT(*) OVER ({part}) AS h_n,
         SUM(n_events) OVER ({part}) AS h_s,
         SUM(n_events * n_events) OVER ({part}) AS h_ss
  FROM series
),
z AS (
  SELECT event_type, window_start, n_events,
         CASE WHEN h_n >= 8 AND h_n * h_ss - h_s * h_s > 0 THEN
           (CAST(n_events AS DOUBLE) - CAST(h_s AS DOUBLE) / CAST(h_n AS DOUBLE))
           / sqrt(CAST(h_n * h_ss - h_s * h_s AS DOUBLE) / CAST(h_n * (h_n - 1) AS DOUBLE))
         END AS zscore
  FROM m
)
SELECT event_type, window_start, n_events, zscore,
       CASE WHEN zscore IS NOT NULL THEN abs(zscore) >= 3.0 END AS is_anomaly
FROM z"""


def sql_host_components() -> str:
    """web.host_components twin, independent mechanism: recursive-CTE
    reachability fixpoint over the symmetric edge set (the
    geo_cluster_cells oracle pattern) instead of iterative min-label
    propagation — component = MIN(reachable label)."""
    return f"""WITH RECURSIVE {_linked_docs_with()},
l AS (SELECT url, unnest(regexp_extract_all(html_text, '{web.PAT_HREF}', 1)) AS link FROM h),
e0 AS (
  SELECT DISTINCT regexp_extract(url, '{web.PAT_HOST}', 1) AS src,
                  regexp_extract(link, '{web.PAT_HOST}', 1) AS dst
  FROM l
),
e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
n AS (SELECT DISTINCT src AS host FROM e),
reach AS (
  SELECT host, host AS lab FROM n
  UNION
  SELECT e.dst AS host, r.lab FROM reach r JOIN e ON e.src = r.host
)
SELECT host, MIN(lab) AS component FROM reach GROUP BY host"""


def sql_tile_mode_class() -> str:
    """tiles.tile_mode_class twin, independent mechanism: ROW_NUMBER over
    (count DESC, class DESC) instead of a struct argmax."""
    return f"""WITH {pages_with()}, {pip_hits_cte()},
c AS (
  SELECT {cell_id_sql('lon', 'lat', tiles.DEFAULT_TILE_RES)} AS tile_id, airspace_class, COUNT(*) AS n
  FROM hits GROUP BY 1, 2
),
rk AS (
  SELECT tile_id, airspace_class, n,
         ROW_NUMBER() OVER (PARTITION BY tile_id
                            ORDER BY n DESC, airspace_class DESC) AS rn
  FROM c
)
SELECT tile_id, airspace_class, n AS doc_count FROM rk WHERE rn = 1"""


def sql_events_time_pyramid() -> str:
    """events.events_time_pyramid twin, independent mechanism: one GROUP
    BY per level UNION ALLed (vs Spark's one-pass explode)."""
    parts = []
    for name, sec in events.TIME_PYRAMID_LEVELS:
        parts.append(
            f"""SELECT '{name}' AS level, e - e % {sec} AS window_start,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(v) AS DECIMAL(38,2)) AS DOUBLE) AS total_value
FROM ev GROUP BY 2"""
        )
    body = "\nUNION ALL\n".join(parts)
    return f"""WITH ev AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e, CAST(value AS DECIMAL(18,2)) AS v
  FROM events
)
{body}"""


def sql_char_diversity() -> str:
    """text.char_diversity twin, independent mechanism: UNNEST chars +
    GROUP BY (vs Spark's zero-shuffle sorted run-length fold); same exact
    integers and single division."""
    return """WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c
  FROM documents WHERE length(text) > 0
),
cc AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2),
g AS (
  SELECT doc_id, SUM(k * k) AS s2, COUNT(*) AS nd, SUM(k) AS n
  FROM cc GROUP BY 1
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars_total,
       CAST(nd AS BIGINT) AS n_distinct_chars,
       CAST(n * n - s2 AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini
FROM g
UNION ALL
SELECT doc_id, 0, 0, CAST(NULL AS DOUBLE)
FROM documents WHERE length(text) = 0"""


def sql_image_patches() -> str:
    """multimodal.image_patches twin: recompute every decoded pixel from
    the md5 byte layout (j -> (y, x, c) -> patch cell), exact BIGINT sums
    per (image, patch, channel), float32-rounded means (power-of-two
    division, exact before the rounding)."""
    npx = 8 * 8 * 3
    px_byte = _md5_byte_sql(
        "concat(CAST(media_id AS VARCHAR), '-px-', CAST(j // 16 AS VARCHAR))", "j % 16"
    )
    p = multimodal.IMAGE_PATCH
    np_ = p * p
    mean = lambda c: f"CAST(CAST(s{c} / CAST({np_}.0 AS DOUBLE) AS FLOAT) AS DOUBLE)"  # noqa: E731
    return f"""WITH m AS (SELECT UNNEST(generate_series(0, {multimodal.MEDIA_ROWS - 1})) AS media_id),
px AS (
  SELECT media_id, t.j, CAST({px_byte} AS BIGINT) AS v,
         ((t.j // 3) // 8) // {p} AS pr, ((t.j // 3) % 8) // {p} AS pc,
         t.j % 3 AS c
  FROM (SELECT media_id FROM m WHERE media_id % 3 = 0) i,
       (SELECT UNNEST(generate_series(0, {npx - 1})) AS j) t
),
s AS (
  SELECT media_id, pr, pc, c, CAST(SUM(v) AS BIGINT) AS sv
  FROM px GROUP BY 1, 2, 3, 4
),
w AS (
  SELECT media_id, CAST(pr AS INTEGER) AS patch_row, CAST(pc AS INTEGER) AS patch_col,
         MAX(CASE WHEN c = 0 THEN sv END) AS s0,
         MAX(CASE WHEN c = 1 THEN sv END) AS s1,
         MAX(CASE WHEN c = 2 THEN sv END) AS s2
  FROM s GROUP BY 1, 2, 3
)
SELECT media_id, patch_row, patch_col,
       s0 AS sum_r, s1 AS sum_g, s2 AS sum_b,
       {mean(0)} AS mean_r, {mean(1)} AS mean_g, {mean(2)} AS mean_b
FROM w"""


def sql_length_outliers() -> str:
    """text.length_outliers twin, independent median mechanism: the lower
    median as MIN(v) whose cumulative count reaches ceil(n/2) (value-level
    cumsum — no row ranks), applied to lengths then to deviations."""
    return """WITH d AS (SELECT lang, n_chars FROM documents),
n AS (SELECT lang, COUNT(*) AS c FROM d GROUP BY 1),
vals AS (SELECT lang, n_chars AS v, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
cum AS (
  SELECT lang, v, SUM(cnt) OVER (PARTITION BY lang ORDER BY v) AS cl FROM vals
),
med AS (
  SELECT c.lang, MIN(c.v) AS median_chars
  FROM cum c JOIN n ON n.lang = c.lang AND c.cl >= (n.c + 1) // 2
  GROUP BY 1
),
dev AS (
  SELECT d.lang, abs(d.n_chars - m.median_chars) AS dv
  FROM d JOIN med m ON m.lang = d.lang
),
dvals AS (SELECT lang, dv AS v, COUNT(*) AS cnt FROM dev GROUP BY 1, 2),
dcum AS (
  SELECT lang, v, SUM(cnt) OVER (PARTITION BY lang ORDER BY v) AS cl FROM dvals
),
mad AS (
  SELECT c.lang, MIN(c.v) AS mad_chars
  FROM dcum c JOIN n ON n.lang = c.lang AND c.cl >= (n.c + 1) // 2
  GROUP BY 1
),
fl AS (
  SELECT dev.lang, CAST(SUM(CASE WHEN dev.dv > 3 * mad.mad_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM dev JOIN mad ON mad.lang = dev.lang GROUP BY 1
)
SELECT n.lang, CAST(n.c AS BIGINT) AS n_docs, med.median_chars, mad.mad_chars, fl.n_outliers
FROM n JOIN med ON med.lang = n.lang JOIN mad ON mad.lang = n.lang JOIN fl ON fl.lang = n.lang"""


def sql_session_paths() -> str:
    """events.session_paths twin: same gap sessionization (lag + cumsum),
    path via ordered LIST slice + array_to_string."""
    gap_us = events.SESSION_GAP_SECONDS * 1_000_000
    return f"""WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
f AS (
  SELECT *, CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                      > {gap_us} THEN 1 ELSE 0 END AS brk
  FROM ev
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM f
),
p AS (
  SELECT user_id, sid,
         array_to_string(LIST(event_type ORDER BY us, event_id)[1:3], '>') AS path
  FROM s GROUP BY 1, 2
)
SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1"""


def sql_airspace_density() -> str:
    """spatial.airspace_density twin: pip-hit counts per polygon joined to
    the same shoelace fold area, one single-rounded division."""
    terms = (
        "list_transform(generate_series(1, len(ring) - 1), "
        "i -> ring[i][1] * ring[i + 1][2] - ring[i + 1][1] * ring[i][2])"
    )
    fold = f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {terms}), (x, y) -> x + y)"
    return f"""WITH {pages_with()}, {pip_hits_cte()},
c AS (SELECT poly_id, COUNT(*) AS doc_count FROM hits GROUP BY 1),
a AS (SELECT poly_id, abs({fold}) / 2.0 AS area_deg2 FROM {rings_values()})
SELECT a.poly_id, CAST(COALESCE(c.doc_count, 0) AS BIGINT) AS doc_count, a.area_deg2,
       CASE WHEN a.area_deg2 > 0.0
            THEN CAST(COALESCE(c.doc_count, 0) AS DOUBLE) / a.area_deg2 END AS docs_per_deg2
FROM a LEFT JOIN c ON c.poly_id = a.poly_id"""


def sql_co_citation() -> str:
    """web.co_citation twin: same extraction + md5-ordered per-page cap,
    pair counts via an independent GROUP BY over the join."""
    return f"""WITH {_linked_docs_with()},
l AS (SELECT url, unnest(regexp_extract_all(html_text, '{web.PAT_HREF}', 1)) AS link FROM h),
hosts AS (
  SELECT DISTINCT url AS key, regexp_extract(link, '{web.PAT_HOST}', 1) AS host
  FROM l WHERE regexp_extract(link, '{web.PAT_HOST}', 1) <> ''
),
capped AS (
  SELECT key, host FROM (
    SELECT key, host,
           ROW_NUMBER() OVER (PARTITION BY key ORDER BY md5(key || '|' || host)) AS rn
    FROM hosts
  ) WHERE rn <= {web.CO_CITATION_HOSTS}
)
SELECT a.host AS host_a, b.host AS host_b, COUNT(*) AS n_pages
FROM capped a JOIN capped b ON a.key = b.key AND a.host < b.host
GROUP BY 1, 2"""


def sql_normalized_dedup() -> str:
    """dedup.normalized_dedup twin: same normalization chain (lower ->
    strip non-alnum -> collapse whitespace -> trim) in DuckDB regex."""
    norm = (
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
        " '\\s+', ' ', 'g'))"
    )
    return f"""SELECT md5({norm}) AS digest,
       MIN(doc_id) AS representative,
       COUNT(*) AS n_copies,
       COUNT(DISTINCT md5(text)) AS n_raw_variants
FROM documents GROUP BY 1"""


def sql_quality_funnel() -> str:
    """text.quality_funnel twin: same quality expressions, cumulative
    conditional counts per source."""
    p = _quality_parts()
    c_len = f"(CAST({p['n_chars']} AS BIGINT) >= 50)"
    c_wl = f"({c_len} AND {p['mean_wl']} >= 3.0 AND {p['mean_wl']} <= 12.0)"
    c_punct = f"({c_wl} AND {p['punct_r']} <= 0.1)"
    c_digit = f"({c_punct} AND {p['digit_r']} <= 0.2)"
    s = lambda c, n: f"CAST(SUM(CASE WHEN {c} THEN 1 ELSE 0 END) AS BIGINT) AS {n}"  # noqa: E731
    return f"""SELECT source, COUNT(*) AS n_total,
       {s(c_len, 'n_len_ok')}, {s(c_wl, 'n_wordlen_ok')},
       {s(c_punct, 'n_punct_ok')}, {s(c_digit, 'n_all_ok')}
FROM documents GROUP BY source"""


def sql_ann_topk_filtered() -> str:
    """similarity.ann_topk_filtered twin: same left-fold dot, the filter
    as a join predicate on label."""
    dot = _dot_expr("e.embedding", "q.embedding")
    return f"""
WITH s AS (
  SELECT q.vec_id AS query_id, e.vec_id, {dot} AS dsum
  FROM embeddings e JOIN embeddings q
    ON q.vec_id < {similarity.ANN_QUERIES} AND e.vec_id <> q.vec_id AND e.label = q.label
)
SELECT query_id, vec_id, CAST(dsum AS DOUBLE) AS dot, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dsum DESC, vec_id) AS INTEGER) AS rank FROM s)
WHERE rank <= {similarity.ANN_K}"""


def sql_host_degree_histogram() -> str:
    """web.host_degree_histogram twin."""
    return f"""WITH {_linked_docs_with()},
l AS (SELECT url, unnest(regexp_extract_all(html_text, '{web.PAT_HREF}', 1)) AS link FROM h),
e AS (
  SELECT DISTINCT regexp_extract(url, '{web.PAT_HOST}', 1) AS src,
         regexp_extract(link, '{web.PAT_HOST}', 1) AS dst
  FROM l
),
d AS (SELECT src, COUNT(*) AS out_degree FROM e GROUP BY 1)
SELECT out_degree, COUNT(*) AS n_hosts FROM d GROUP BY 1"""


def sql_cross_source_dupes() -> str:
    """dedup.cross_source_dupes twin: COUNT(DISTINCT source) mechanism +
    ordered string_agg (vs Spark's dedupe-first + sorted collect)."""
    return """WITH g AS (
  SELECT md5(text) AS digest,
         COUNT(DISTINCT source) AS n_sources,
         COUNT(*) AS n_copies,
         string_agg(DISTINCT source, ',' ORDER BY source) AS sources
  FROM documents GROUP BY 1
)
SELECT digest, n_sources, CAST(n_copies AS BIGINT) AS n_copies, sources
FROM g WHERE n_sources >= 2"""


def sql_returned_item_revenue() -> str:
    """relational.returned_item_revenue twin: same DECIMAL-exact revenue,
    ordered on the exact decimal before the single DOUBLE cast."""
    return f"""WITH li AS (
  SELECT l_orderkey,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev
  FROM lineitem WHERE l_returnflag = 'R'
),
ow AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
),
pc AS (
  SELECT o_custkey, CAST(SUM(rev) AS DECIMAL(38,4)) AS revd, COUNT(*) AS n_items
  FROM li JOIN ow ON li.l_orderkey = ow.o_orderkey
  GROUP BY 1
)
SELECT c_custkey, c_name, n_name, CAST(revd AS DOUBLE) AS revenue, n_items
FROM pc JOIN customer ON c_custkey = o_custkey
        JOIN nation ON n_nationkey = c_nationkey
ORDER BY revd DESC, c_custkey LIMIT {relational.RETURNED_TOP_K}"""


def sql_label_centroid_distances() -> str:
    """similarity.label_centroid_distances twin: same fixed-point
    quantization, exact BIGINT per-dim numerators, the same three
    single-rounded ops per dim, and the same ORDERED left-fold sum
    (list_prepend + list_reduce == Spark's 0.0-seeded aggregate)."""
    fs = float(similarity.KMEANS_FP_SCALE)
    return f"""WITH ex AS (
  SELECT label, t.j AS dim_idx,
         CAST(floor(CAST(embedding[t.j + 1] AS DOUBLE) * {fs!r} + 0.5) AS BIGINT) AS q
  FROM embeddings, (SELECT UNNEST(generate_series(0, 63)) AS j) t
),
m AS (
  SELECT label, dim_idx, CAST(SUM(q) AS BIGINT) AS sq, COUNT(*) AS n
  FROM ex GROUP BY 1, 2
),
p AS (
  SELECT a.label AS label_a, b.label AS label_b, a.dim_idx,
         (CAST(a.sq * b.n - b.sq * a.n AS DOUBLE)
            / (CAST(a.n * b.n AS DOUBLE) * {fs!r})) AS u,
         a.n AS na, b.n AS nb
  FROM m a JOIN m b ON a.dim_idx = b.dim_idx AND a.label < b.label
),
g AS (
  SELECT label_a, label_b, MIN(na) AS n_a, MIN(nb) AS n_b,
         LIST(u * u ORDER BY dim_idx) AS ts
  FROM p GROUP BY 1, 2
)
SELECT label_a, label_b, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts), (x, y) -> x + y) AS dist_sq
FROM g"""


def sql_events_window_users() -> str:
    """events.events_window_users twin, independent mechanism:
    COUNT(DISTINCT user_id) directly (vs Spark's dedupe-first)."""
    return f"""WITH ev AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e, user_id FROM events
)
SELECT e - e % {events.WINDOW_SECONDS} AS window_start,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM ev GROUP BY 1"""


def sql_url_path_stats() -> str:
    """web.url_path_stats twin: same depth arithmetic over the stripped
    path."""
    return f"""WITH {pages_with()},
u AS (
  SELECT regexp_extract(url, '{web.PAT_HOST}', 1) AS host,
         CAST(length(regexp_replace(url, '^[a-z]+://[^/]*', ''))
              - length(replace(regexp_replace(url, '^[a-z]+://[^/]*', ''), '/', '')) AS BIGINT) AS d,
         CASE WHEN contains(url, '?') THEN 1 ELSE 0 END AS q
  FROM pages
)
SELECT host, COUNT(*) AS n_pages, MAX(d) AS max_depth,
       CAST(SUM(d) AS BIGINT) AS total_depth, CAST(SUM(q) AS BIGINT) AS n_with_query
FROM u GROUP BY 1"""


def sql_reciprocal_links() -> str:
    """web.reciprocal_links twin: same link-graph rollup (including the
    deterministic reciprocal gate pages — the circulant synth topology
    alone has zero reciprocal pairs, a vacuous gate), reciprocity via a
    plain self-join on the ordered pair."""
    extra = ", ".join(
        "('{0}', '{1}')".format(u, h.replace("'", "''")) for u, h in web.RECIPROCAL_GATE_PAGES
    )
    return f"""WITH {_linked_docs_with()},
hx AS (
  SELECT url, html_text FROM h
  UNION ALL
  SELECT * FROM (VALUES {extra}) v(url, html_text)
),
l AS (SELECT url, unnest(regexp_extract_all(html_text, '{web.PAT_HREF}', 1)) AS link FROM hx),
g AS (
  SELECT regexp_extract(url, '{web.PAT_HOST}', 1) AS src,
         regexp_extract(link, '{web.PAT_HOST}', 1) AS dst, COUNT(*) AS n
  FROM l GROUP BY 1, 2
),
gg AS (SELECT * FROM g WHERE src <> dst)
SELECT a.src AS host_a, a.dst AS host_b, a.n AS n_ab, b.n AS n_ba
FROM gg a JOIN gg b ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst"""


def sql_conversion_latency() -> str:
    """events.conversion_latency twin."""
    return """WITH ff AS (
  SELECT user_id, MIN(epoch_us(ts)) AS first_from_us
  FROM events WHERE event_type = 'view' GROUP BY 1
),
tt AS (SELECT user_id, epoch_us(ts) AS to_us FROM events WHERE event_type = 'purchase')
SELECT tt.user_id, ff.first_from_us, MIN(tt.to_us) AS first_to_us,
       MIN(tt.to_us) - ff.first_from_us AS latency_us
FROM tt JOIN ff ON ff.user_id = tt.user_id AND tt.to_us >= ff.first_from_us
GROUP BY 1, 2"""


def sql_audio_frames() -> str:
    """multimodal.audio_frames twin: every decoded int16 sample recomputed
    from the md5 byte layout (lo + 256*hi two's complement), exact frame
    aggregates, the same float32 one-rounding sequence."""
    nsm = 128
    lo = _md5_byte_sql(
        "concat(CAST(media_id AS VARCHAR), '-au-', CAST((2 * j) // 16 AS VARCHAR))",
        "(2 * j) % 16",
    )
    hi = _md5_byte_sql(
        "concat(CAST(media_id AS VARCHAR), '-au-', CAST((2 * j + 1) // 16 AS VARCHAR))",
        "(2 * j + 1) % 16",
    )
    f32 = lambda e: f"CAST(CAST({e} AS FLOAT) AS DOUBLE)"  # noqa: E731
    fr = multimodal.AUDIO_FRAME
    mean = f"(s / CAST({fr}.0 AS DOUBLE))"
    var = f"((ss / CAST({fr}.0 AS DOUBLE)) - {mean} * {mean})"
    return f"""WITH m AS (SELECT UNNEST(generate_series(0, {multimodal.MEDIA_ROWS - 1})) AS media_id),
sm AS (
  SELECT media_id, t.j,
         CAST({lo} + 256 * {hi} - (CASE WHEN {lo} + 256 * {hi} >= 32768 THEN 65536 ELSE 0 END) AS BIGINT) AS v
  FROM (SELECT media_id FROM m WHERE media_id % 3 = 1) a,
       (SELECT UNNEST(generate_series(0, {nsm - 1})) AS j) t
),
g AS (
  SELECT media_id, CAST(j // {fr} AS INTEGER) AS frame_idx,
         CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS ss,
         CAST(MIN(v) AS INTEGER) AS s_min, CAST(MAX(v) AS INTEGER) AS s_max
  FROM sm GROUP BY 1, 2
)
SELECT media_id, frame_idx, CAST({fr} AS INTEGER) AS n_samples,
       s AS s_sum, ss AS s_sumsq, s_min, s_max,
       {f32(mean)} AS mean, {f32(var)} AS var
FROM g"""


def sql_host_bfs_depth() -> str:
    """web.host_bfs_depth twin, independent mechanism: recursive-CTE walk
    from the MIN host with a depth cap, BFS depth = MIN(depth) per node
    (vs Spark's iterative frontier expansion)."""

    return f"""WITH RECURSIVE {_linked_docs_with()},
l AS (SELECT url, unnest(regexp_extract_all(html_text, '{web.PAT_HREF}', 1)) AS link FROM h),
e0 AS (
  SELECT DISTINCT regexp_extract(url, '{web.PAT_HOST}', 1) AS s,
                  regexp_extract(link, '{web.PAT_HOST}', 1) AS d
  FROM l
),
e AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
seed AS (SELECT MIN(s) AS m FROM e),
walk AS (
  SELECT m AS node, 0 AS depth FROM seed
  UNION
  SELECT e.d AS node, w.depth + 1 AS depth
  FROM walk w JOIN e ON e.s = w.node
  WHERE w.depth < 20
)
SELECT node AS host, CAST(MIN(depth) AS INTEGER) AS depth FROM walk GROUP BY node"""


def sql_events_stickiness() -> str:
    """events.events_stickiness twin, independent mechanism: per-day
    COUNT(DISTINCT) over a BETWEEN self-join (vs Spark's dedupe-explode
    -> COUNT(*))."""
    day = 86400
    span = (events.STICKINESS_WINDOW_DAYS - 1) * day
    return f"""WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % {day} AS d
  FROM events
),
days AS (SELECT DISTINCT d FROM ud),
dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY 1),
mau AS (
  SELECT days.d, COUNT(DISTINCT ud.user_id) AS mau
  FROM days JOIN ud ON ud.d BETWEEN days.d - {span} AND days.d
  GROUP BY 1
)
SELECT dau.d AS day_start, dau.dau, mau.mau,
       CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
FROM dau JOIN mau ON mau.d = dau.d"""


def sql_containment_pairs() -> str:
    """dedup.containment_pairs twin. The prefix-filter candidate rule is
    FORMULATION-SHARED (it defines the output set — the polygon_overlap
    precedent); verification counts the intersection independently via a
    three-way join. Threshold compare in exact integers."""
    thr = int(round(0.8 * 10**6))
    return f"""WITH sh0 AS (SELECT doc_id AS doc, {SHINGLES_EXPR} AS shingles FROM documents),
ds AS (SELECT DISTINCT doc, md5(unnest(shingles)) AS sh FROM sh0),
dft AS (SELECT sh, COUNT(*) AS df FROM ds GROUP BY 1),
rare AS (SELECT ds.doc, ds.sh, dft.df FROM ds JOIN dft ON dft.sh = ds.sh WHERE dft.df <= 50),
probe AS (
  SELECT doc, sh FROM (
    SELECT doc, sh, ROW_NUMBER() OVER (PARTITION BY doc ORDER BY df, sh) AS rn FROM rare
  ) WHERE rn <= 4
),
cand AS (
  SELECT DISTINCT p.doc AS key_a, i.doc AS key_b
  FROM probe p JOIN rare i ON i.sh = p.sh AND i.doc <> p.doc
),
sizes AS (SELECT doc, COUNT(*) AS n FROM ds GROUP BY 1),
inter AS (
  SELECT c.key_a, c.key_b, COUNT(*) AS n_common
  FROM cand c JOIN ds a ON a.doc = c.key_a JOIN ds b ON b.doc = c.key_b AND b.sh = a.sh
  GROUP BY 1, 2
)
SELECT i.key_a, i.key_b, i.n_common, s.n AS n_a,
       CAST(i.n_common AS DOUBLE) / CAST(s.n AS DOUBLE) AS containment
FROM inter i JOIN sizes s ON s.doc = i.key_a
WHERE i.n_common * 1000000 >= {thr} * s.n"""


def sql_tile_unmatched_counts() -> str:
    """tiles.tile_unmatched_counts twin: NOT IN over the pip-hit urls
    (vs Spark's left_anti join)."""
    return f"""WITH {pages_with()}, {pip_hits_cte()}
SELECT {cell_id_sql('lon', 'lat', tiles.DEFAULT_TILE_RES)} AS tile_id, COUNT(*) AS n_unmatched
FROM pages
WHERE url NOT IN (SELECT url FROM hits)
GROUP BY 1"""


def sql_lang_confusion() -> str:
    """text.lang_confusion twin: the sql_langid prediction CTE rolled up
    to the confusion matrix; row fractions via a correlated total."""
    hits = {lang: _stopword_hits_sql(words) for lang, words in text.LANG_STOPWORDS.items()}
    gmax = "GREATEST(" + ", ".join(f"h_{lang}" for lang in text.LANG_STOPWORDS) + ")"
    case = " ".join(
        f"WHEN h_{lang} = gmax THEN '{lang}'" for lang in sorted(text.LANG_STOPWORDS, reverse=True)
    )
    cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    return f"""WITH h AS (SELECT lang, {cols} FROM documents),
g AS (SELECT *, {gmax} AS gmax FROM h),
p AS (SELECT lang AS lang_true, (CASE {case} END) AS lang_pred FROM g),
cm AS (SELECT lang_true, lang_pred, COUNT(*) AS n_docs FROM p GROUP BY 1, 2),
t AS (SELECT lang_true, SUM(n_docs) AS tot FROM cm GROUP BY 1)
SELECT cm.lang_true, cm.lang_pred, cm.n_docs,
       CAST(cm.n_docs AS DOUBLE) / CAST(t.tot AS DOUBLE) AS frac_of_true
FROM cm JOIN t ON t.lang_true = cm.lang_true"""


def sql_dedup_report() -> str:
    """dedup.dedup_report twin: the recursive transitive-closure cluster
    CTE rolled up per source."""
    clusters = sql_dedup_clusters()
    return f"""WITH c AS ({clusters})
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN c.key = c.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_representatives,
       CAST(SUM(CASE WHEN c.key = c.cluster_id THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN c.key = c.cluster_id THEN 0 ELSE 1 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
FROM documents d JOIN c ON c.key = d.doc_id
GROUP BY d.source"""


def sql_events_seasonality() -> str:
    """events.events_seasonality twin: hour() on the UTC-pinned session,
    fractions via a correlated total."""
    return """WITH a AS (
  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour_of_day, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
t AS (SELECT event_type, SUM(n_events) AS tot FROM a GROUP BY 1)
SELECT a.event_type, a.hour_of_day, a.n_events,
       CAST(a.n_events AS DOUBLE) / CAST(t.tot AS DOUBLE) AS frac_of_type
FROM a JOIN t ON t.event_type = a.event_type"""


def sql_doc_novelty() -> str:
    """dedup.doc_novelty twin: same first-owner rule via a correlated MIN
    join on the shingle digest."""
    return f"""WITH sh0 AS (SELECT doc_id AS doc, {SHINGLES_EXPR} AS shingles FROM documents),
ds AS (SELECT DISTINCT doc, md5(unnest(shingles)) AS sh FROM sh0),
fo AS (SELECT sh, MIN(doc) AS first_doc FROM ds GROUP BY 1)
SELECT ds.doc AS doc_id, COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN ds.doc = fo.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN ds.doc = fo.first_doc THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM ds JOIN fo ON fo.sh = ds.sh
GROUP BY ds.doc"""


def sql_dedup_keep_best() -> str:
    """dedup.dedup_keep_best twin: recursive-CTE transitive closure for the
    clusters (independent of the engine's label propagation), then the
    SAME total order — quality_score DESC (identical literal arithmetic,
    see sql_quality), n_chars DESC, md5(text) ASC, doc_id ASC."""
    pairs = sql_minhash_lsh_pairs()
    score = _quality_parts()["score"]
    return f"""
WITH RECURSIVE p AS ({pairs}),
e AS (SELECT key_a AS src, key_b AS dst FROM p UNION ALL SELECT key_b, key_a FROM p),
walk(k, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.k
),
cl AS (SELECT k AS key, MIN(label) AS cluster_id FROM walk GROUP BY k),
sc AS (SELECT doc_id AS key, {score} AS quality_score,
              CAST(length(text) AS BIGINT) AS n_chars, md5(text) AS tie_md5
       FROM documents),
r AS (SELECT cl.cluster_id, sc.key, sc.quality_score,
             ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
               ORDER BY sc.quality_score DESC, sc.n_chars DESC, sc.tie_md5, sc.key) AS rn
      FROM cl JOIN sc ON sc.key = cl.key),
m AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members FROM cl GROUP BY cluster_id)
SELECT r.cluster_id, r.key AS doc_id, m.n_members, r.quality_score
FROM r JOIN m ON m.cluster_id = r.cluster_id WHERE r.rn = 1"""


def sql_readability() -> str:
    """text.readability twin: identical integer proxies (sentence runs
    [.!?]+, vowel runs [aeiouy]+ over lower(text), both floored by the
    word count) and the identical fixed-order single-rounded double
    combination from strtod literals, one FLOAT rounding at the boundary."""
    n_words = f"CAST(len({_WORDS}) AS BIGINT)"
    n_sent = f"GREATEST(CAST(1 AS BIGINT), CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))"
    n_syl = f"GREATEST({n_words}, CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT))"
    wps = f"(CAST({n_words} AS DOUBLE) / CAST({n_sent} AS DOUBLE))"
    spw = f"(CAST({n_syl} AS DOUBLE) / CAST({n_words} AS DOUBLE))"
    score = f"(({_dbl(206.835)} - {_dbl(1.015)} * {wps}) - {_dbl(84.6)} * {spw})"
    return f"""SELECT doc_id,
       {n_words} AS n_words, {n_sent} AS n_sentences, {n_syl} AS n_syllables,
       CAST(CAST({score} AS FLOAT) AS DOUBLE) AS flesch
FROM documents"""


def sql_charlm_surprisal() -> str:
    """terms.charlm_surprisal twin: identical bigram extraction (substring
    pairs over 1..len-1), corpus counts, and the bit-length surprisal
    bitlen(C(prefix)) - bitlen(C(bigram)) via length(bin(n)) — exact
    integers end to end (DuckDB bin() and Spark bin() agree: unpadded
    binary of positive BIGINTs)."""
    return """
WITH db AS (
  SELECT doc_id AS key, substring(text, CAST(i AS INTEGER), 2) AS bg, COUNT(*) AS cnt
  FROM documents, LATERAL (SELECT UNNEST(generate_series(1, length(text) - 1)) AS i) t
  WHERE length(text) >= 2
  GROUP BY doc_id, bg
),
cb AS (SELECT bg, CAST(SUM(cnt) AS BIGINT) AS cbg FROM db GROUP BY bg),
cp AS (SELECT substring(bg, 1, 1) AS pc, CAST(SUM(cbg) AS BIGINT) AS cpre FROM cb GROUP BY 1),
bits AS (
  SELECT cb.bg,
         CAST(length(bin(cp.cpre)) - length(bin(cb.cbg)) AS BIGINT) AS bits
  FROM cb JOIN cp ON cp.pc = substring(cb.bg, 1, 1)
)
SELECT db.key AS doc_id,
       CAST(SUM(db.cnt) AS BIGINT) AS n_bigrams,
       CAST(SUM(db.cnt * b.bits) AS BIGINT) AS surprisal_bits
FROM db JOIN bits b ON b.bg = db.bg
GROUP BY db.key"""


# registered-domain synthetic URL rule (dialect-shared except the id cast):
# subdomain prefix from doc_id % 3, public-suffix cycle from doc_id % 4 —
# exercises the www/multi-label/2-level-suffix branches non-trivially.
def domain_url_sql(dialect: str) -> str:
    cast = "CAST(doc_id AS STRING)" if dialect == "spark" else "CAST(doc_id AS VARCHAR)"
    return (
        "concat('https://', "
        "CASE WHEN doc_id % 3 = 0 THEN 'www.' WHEN doc_id % 3 = 1 THEN 'a.b.' ELSE '' END, "
        "source, "
        "CASE WHEN doc_id % 4 = 0 THEN '.co.uk' WHEN doc_id % 4 = 1 THEN '.com.au' "
        "WHEN doc_id % 4 = 2 THEN '.example' ELSE '.org' END, "
        f"'/', {cast})"
    )


def sql_domain_stats() -> str:
    """web.domain_stats twin: same registered-domain rule — last two
    labels, or last three when the trailing two are a listed public
    suffix (TWO_LEVEL_SUFFIXES is shared data, inlined as an IN list)."""
    in_list = ", ".join(f"'{s}'" for s in web.TWO_LEVEL_SUFFIXES)
    u = domain_url_sql("duckdb")
    return f"""
WITH p AS (
  SELECT regexp_extract({u}, '^[a-z]+://([^/]+)', 1) AS host,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
),
lab AS (
  SELECT host, n_chars, string_split(host, '.') AS labels, len(string_split(host, '.')) AS n
  FROM p
),
d AS (
  SELECT host, n_chars,
         CASE WHEN n <= 1 THEN host
              WHEN array_to_string(labels[n-1:n], '.') IN ({in_list}) AND n >= 3
                THEN array_to_string(labels[n-2:n], '.')
              WHEN n >= 2 THEN array_to_string(labels[n-1:n], '.')
              ELSE host END AS domain
  FROM lab
)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM d GROUP BY domain"""


def sql_kmeans_iterate() -> str:
    """similarity.kmeans_iterate twin: two unrolled Lloyd rounds — the
    integer-PageRank playbook. Round-1 fold distance + ROW_NUMBER tie on
    seed_id, fixed-point centroid components sum_q/(n*2^20) (one double
    rounding each, bit-identical), list(c ORDER BY dim) centroids with
    seed fallback for empty clusters, round-2 fold vs those doubles."""
    fs = float(similarity.KMEANS_FP_SCALE)
    d2_1 = (
        f"list_reduce(list_transform(generate_series(1, {similarity.EMBED_DIM}), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.semb[i] AS DOUBLE))"
        " * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.semb[i] AS DOUBLE))), (x, y) -> x + y)"
    )
    d2_2 = (
        f"list_reduce(list_transform(generate_series(1, {similarity.EMBED_DIM}), "
        "i -> (CAST(e2.embedding[i] AS DOUBLE) - cf.cemb[i])"
        " * (CAST(e2.embedding[i] AS DOUBLE) - cf.cemb[i])), (x, y) -> x + y)"
    )
    return f"""WITH s AS (SELECT vec_id AS seed_id, embedding AS semb FROM embeddings WHERE vec_id < {similarity.KMEANS_K}),
d1 AS (SELECT e.vec_id, s.seed_id, {d2_1} AS d2 FROM embeddings e CROSS JOIN s),
a1 AS (SELECT vec_id, seed_id AS c1 FROM
       (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, seed_id) AS rn FROM d1)
       WHERE rn = 1),
dims AS (SELECT unnest(generate_series(1, {similarity.EMBED_DIM})) AS i),
m AS (SELECT a1.c1, dims.i,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(CAST(e.embedding[dims.i] AS DOUBLE) * {_dbl(fs)} + {_dbl(0.5)}) AS BIGINT)) AS BIGINT) AS sum_q
      FROM a1 JOIN embeddings e USING (vec_id) CROSS JOIN dims
      GROUP BY a1.c1, dims.i),
cent AS (SELECT c1 AS cid,
                list(CAST(sum_q AS DOUBLE) / CAST(n * {similarity.KMEANS_FP_SCALE} AS DOUBLE) ORDER BY i) AS cemb
         FROM m GROUP BY c1),
cf AS (SELECT s.seed_id AS cid,
              COALESCE(cent.cemb, list_transform(s.semb, x -> CAST(x AS DOUBLE))) AS cemb
       FROM s LEFT JOIN cent ON cent.cid = s.seed_id),
d2r AS (SELECT a1.vec_id, a1.c1, cf.cid, {d2_2} AS d2
        FROM a1 JOIN embeddings e2 USING (vec_id) CROSS JOIN cf),
a2 AS (SELECT vec_id, c1, cid FROM
       (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2r)
       WHERE rn = 1)
SELECT vec_id, CAST(c1 AS BIGINT) AS cluster_r1, CAST(cid AS BIGINT) AS cluster_r2,
       (c1 != cid) AS moved
FROM a2"""


def sql_link_hits() -> str:
    """web.link_hits twin: same href/host edge extraction, HITS recurrence
    unrolled as CTEs — a_0 = 1, h_i = SUM a over out-edges, a_i = SUM h
    over in-edges; exact BIGINTs (no normalization: a per-round monotone
    scalar, ranking-irrelevant — the documented contract)."""
    rounds = graph.HITS_ROUNDS
    parts = [
        f"""{_linked_docs_with()},
l AS (SELECT url, unnest(regexp_extract_all(html_text, '{web.PAT_HREF}', 1)) AS link FROM h),
e AS (SELECT regexp_extract(url, '{web.PAT_HOST}', 1) AS src,
             regexp_extract(link, '{web.PAT_HOST}', 1) AS dst FROM l),
nodes AS (SELECT DISTINCT host AS id
          FROM (SELECT src AS host FROM e UNION SELECT dst AS host FROM e)),
a0 AS (SELECT id, CAST(1 AS BIGINT) AS a FROM nodes)"""
    ]
    for i in range(rounds):
        parts.append(
            f"""hs{i} AS (SELECT e.src, SUM(a{i}.a) AS h FROM e JOIN a{i} ON e.dst = a{i}.id GROUP BY e.src),
h{i + 1} AS (SELECT nodes.id, CAST(COALESCE(hs{i}.h, 0) AS BIGINT) AS h
             FROM nodes LEFT JOIN hs{i} ON nodes.id = hs{i}.src),
as{i} AS (SELECT e.dst, SUM(h{i + 1}.h) AS a FROM e JOIN h{i + 1} ON e.src = h{i + 1}.id GROUP BY e.dst),
a{i + 1} AS (SELECT nodes.id, CAST(COALESCE(as{i}.a, 0) AS BIGINT) AS a
             FROM nodes LEFT JOIN as{i} ON nodes.id = as{i}.dst)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT a{rounds}.id AS host, h{rounds}.h AS hub, a{rounds}.a AS authority"
        + f"\nFROM a{rounds} JOIN h{rounds} ON h{rounds}.id = a{rounds}.id"
    )


def sql_link_internal_stats() -> str:
    """web.link_internal_stats twin: same link extraction, same
    registered-domain rule on both endpoints, one rollup + one division."""
    in_list = ", ".join(f"'{s}'" for s in web.TWO_LEVEL_SUFFIXES)

    def dom(col: str) -> str:
        return f"""(
  SELECT CASE WHEN n <= 1 THEN host
              WHEN array_to_string(labels[n-1:n], '.') IN ({in_list}) AND n >= 3
                THEN array_to_string(labels[n-2:n], '.')
              WHEN n >= 2 THEN array_to_string(labels[n-1:n], '.')
              ELSE host END
  FROM (SELECT {col} AS host, string_split({col}, '.') AS labels,
               len(string_split({col}, '.')) AS n)
)"""

    return f"""WITH {_linked_docs_with()},
l AS (SELECT url, unnest(regexp_extract_all(html_text, '{web.PAT_HREF}', 1)) AS link FROM h),
d AS (SELECT {dom(f"regexp_extract(url, '{web.PAT_HOST}', 1)")} AS src_domain,
             {dom(f"regexp_extract(link, '{web.PAT_HOST}', 1)")} AS dst_domain
      FROM l)
SELECT src_domain,
       CAST(COUNT(*) AS BIGINT) AS n_links,
       CAST(SUM(CASE WHEN src_domain = dst_domain THEN 1 ELSE 0 END) AS BIGINT) AS n_internal,
       CAST(COUNT(*) - SUM(CASE WHEN src_domain = dst_domain THEN 1 ELSE 0 END) AS BIGINT) AS n_external,
       CAST(SUM(CASE WHEN src_domain = dst_domain THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS internal_ratio
FROM d GROUP BY src_domain"""


def sql_anchor_target_stats() -> str:
    """web.anchor_target_stats twin: (link, text)-level counts, modal text
    via ROW_NUMBER (cnt DESC, text ASC), totals joined back."""
    return f"""WITH {_linked_docs_with()},
z AS (SELECT regexp_extract_all(html_text, '{web.PAT_ANCHOR}', 1) AS links,
             regexp_extract_all(html_text, '{web.PAT_ANCHOR}', 2) AS texts
      FROM h),
u AS (SELECT unnest(generate_series(1, len(links))) AS i, links, texts FROM z),
pt AS (SELECT links[i] AS link, texts[i] AS anchor_text, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM u GROUP BY 1, 2),
r AS (SELECT link, anchor_text, cnt,
             ROW_NUMBER() OVER (PARTITION BY link ORDER BY cnt DESC, anchor_text) AS rn
      FROM pt),
tot AS (SELECT link, CAST(SUM(cnt) AS BIGINT) AS n_anchors,
               CAST(COUNT(*) AS BIGINT) AS n_unique_texts
        FROM pt GROUP BY link)
SELECT tot.link, tot.n_anchors, tot.n_unique_texts,
       r.anchor_text AS top_anchor, r.cnt AS top_count
FROM tot JOIN r ON r.link = tot.link AND r.rn = 1"""


def sql_sketch_quantiles() -> str:
    """relational.sketch_quantiles twin: equi-width histogram, integer
    ceil-rank targets, first qualifying bin via ROW_NUMBER, and the same
    parenthesized interpolation (bin_lo + ((t - cum_before)/cnt) * width)."""
    w = relational.SKETCH_BIN_WIDTH

    qrows = ", ".join(f"({n}, {d})" for n, d in ((1, 2), (9, 10), (99, 100)))
    return f"""
WITH hist AS (SELECT n_chars // {w} AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM documents GROUP BY 1),
c AS (SELECT bin, cnt,
             CAST(SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER () AS BIGINT) AS n
      FROM hist),
q(q_num, q_den) AS (VALUES {qrows}),
j AS (SELECT q.q_num, q.q_den, (q.q_num * c.n + q.q_den - 1) // q.q_den AS target_rank,
             c.bin, c.cnt, c.cum - c.cnt AS cum_before,
             ROW_NUMBER() OVER (PARTITION BY q.q_num, q.q_den ORDER BY c.bin) AS rn
      FROM q CROSS JOIN c
      WHERE c.cum >= (q.q_num * c.n + q.q_den - 1) // q.q_den)
SELECT CAST(q_num AS INT) AS q_num, CAST(q_den AS INT) AS q_den,
       CAST(target_rank AS BIGINT) AS target_rank,
       CAST(bin * {w} AS BIGINT) AS bin_lo,
       cnt AS bin_count,
       CAST(bin * {w} AS DOUBLE)
         + (CAST(target_rank - cum_before AS DOUBLE) / CAST(cnt AS DOUBLE)) * CAST({w} AS DOUBLE)
         AS estimate
FROM j WHERE rn = 1"""


def sql_temperature_mixture() -> str:
    """text.temperature_mixture twin (T=2): tempered weight =
    floor(sqrt(w)*1024 + 0.5) — sqrt is IEEE-correctly-rounded in both
    engines — then the mixture_allocate Hamilton arithmetic verbatim."""
    return f"""WITH w0 AS (SELECT source AS grp, CAST(SUM(n_chars) AS BIGINT) AS wt0
           FROM documents GROUP BY 1),
w AS (SELECT grp, CAST(floor(sqrt(CAST(wt0 AS DOUBLE)) * {_dbl(1024.0)} + {_dbl(0.5)}) AS BIGINT) AS wt
      FROM w0),
{_hamilton_quotas_sql()}"""


def sql_web_prefilter() -> str:
    """web.web_prefilter twin: the canonicalize -> dedup -> robots ->
    host-cap composition recomputed in one SQL from the shared pattern
    constants (canonical CTEs, md5-digit robots rules with the '/'
    pathless default, md5-ordered host quota)."""
    def hexd(i: int) -> str:
        c = f"ascii(substring(mh, {i}, 1))"
        return f"((CASE WHEN {c} >= 97 THEN {c} - 87 ELSE {c} - 48 END) % 10)"

    return f"""WITH {_canonical_url_ctes()},
rep AS (SELECT MIN(url) AS url FROM c GROUP BY canonical_url),
h0 AS (SELECT DISTINCT regexp_extract(url, '{web.PAT_HOST}', 1) AS host FROM rep),
hm AS (SELECT host, md5(host) AS mh FROM h0),
rl AS (
  SELECT host, '/' || chr(48 + {hexd(1)}) AS rule_path, FALSE AS allow FROM hm
  UNION ALL
  SELECT host, '/' || chr(48 + {hexd(1)}) || chr(48 + {hexd(2)}), TRUE FROM hm
  UNION ALL
  SELECT host, '/', TRUE FROM hm
),
p AS (SELECT url, regexp_extract(url, '{web.PAT_HOST}', 1) AS host,
             CASE WHEN regexp_extract(url, '^[a-z]+://[^/]*(/.*)$', 1) = ''
                  THEN '/' ELSE regexp_extract(url, '^[a-z]+://[^/]*(/.*)$', 1)
             END AS path
      FROM rep),
mch AS (SELECT p.url, p.host, rl.allow,
               ROW_NUMBER() OVER (PARTITION BY p.url
                 ORDER BY length(rl.rule_path) DESC, rl.allow DESC, rl.rule_path DESC) AS rn
        FROM p JOIN rl ON rl.host = p.host
        WHERE left(p.path, length(rl.rule_path)) = rl.rule_path),
keep AS (SELECT url, host FROM mch WHERE rn = 1 AND allow),
r AS (SELECT host, url,
             CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY md5(url)) AS INTEGER) AS host_rank
      FROM keep)
SELECT host, url, host_rank FROM r WHERE host_rank <= {web.HOST_CAP}"""


def sql_bpe_phrase_merge() -> str:
    """terms.bpe_phrase_merge twin: identical relational formulation —
    lead() site flags, gaps-and-islands key pos - running_count(site),
    odd-ranked sites merge, tails anti-joined out, stream rebuilt with
    string_agg ORDER BY pos and md5'd."""
    return f"""
WITH w AS (SELECT doc_id AS key, {_WORDS} AS words FROM documents),
toks AS (SELECT key, CAST(i - 1 AS BIGINT) AS pos, words[i] AS tok
         FROM w, LATERAL (SELECT UNNEST(generate_series(1, len(words))) AS i) t),
mk AS (SELECT key, pos, tok,
              LEAD(tok) OVER (PARTITION BY key ORDER BY pos) AS nxt
       FROM toks),
pc AS (SELECT concat_ws(' ', tok, nxt) AS pair, COUNT(*) AS cnt
       FROM mk WHERE nxt IS NOT NULL GROUP BY 1),
best AS (SELECT string_split(pair, ' ')[1] AS w1, string_split(pair, ' ')[2] AS w2
         FROM pc ORDER BY cnt DESC, pair LIMIT 1),
mk2 AS (SELECT mk.key, mk.pos, mk.tok, mk.nxt,
               (mk.tok = best.w1 AND mk.nxt = best.w2) AS s,
               SUM(CASE WHEN mk.tok = best.w1 AND mk.nxt = best.w2 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY mk.key ORDER BY mk.pos ROWS UNBOUNDED PRECEDING) AS rn_s
        FROM mk CROSS JOIN best),
sites AS (SELECT key, pos FROM (
            SELECT key, pos,
                   ROW_NUMBER() OVER (PARTITION BY key, pos - rn_s ORDER BY pos) AS rn2
            FROM mk2 WHERE s)
          WHERE rn2 % 2 = 1),
tails AS (SELECT key, pos + 1 AS pos FROM sites),
rebuilt AS (SELECT m.key, m.pos,
                   CASE WHEN st.pos IS NOT NULL THEN concat_ws('_', m.tok, m.nxt)
                        ELSE m.tok END AS t
            FROM mk2 m
            LEFT JOIN sites st ON st.key = m.key AND st.pos = m.pos
            WHERE NOT EXISTS (SELECT 1 FROM tails tl WHERE tl.key = m.key AND tl.pos = m.pos)),
agg AS (SELECT key, md5(string_agg(t, ' ' ORDER BY pos)) AS merged_md5 FROM rebuilt GROUP BY key),
nb AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_tokens_before FROM toks GROUP BY key),
nm AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_merges FROM sites GROUP BY key)
SELECT nb.key AS doc_id, nb.n_tokens_before,
       CAST(COALESCE(nm.n_merges, 0) AS BIGINT) AS n_merges, agg.merged_md5
FROM nb JOIN agg ON agg.key = nb.key LEFT JOIN nm ON nm.key = nb.key"""


def sql_span_scrub() -> str:
    """text.span_scrub twin: identical (doc, digest)-level hot-gram
    derivation, sequence cover expansion, anti-join scrub and ordered
    rebuild; empty stream -> md5('')."""
    return f"""
WITH w AS (SELECT doc_id AS key, {_WORDS} AS words FROM documents),
toks AS (SELECT key, CAST(i - 1 AS BIGINT) AS pos, words[i] AS tok
         FROM w, LATERAL (SELECT UNNEST(generate_series(1, len(words))) AS i) t),
g AS (SELECT key, CAST(i - 1 AS BIGINT) AS gpos, md5(grams[i]) AS dg
      FROM (SELECT key, {_ngrams_list_sql(text.SPAN_WORDS)} AS grams FROM w),
           LATERAL (SELECT UNNEST(generate_series(1, len(grams))) AS i) t),
hot AS (SELECT dg FROM (SELECT DISTINCT key, dg FROM g) GROUP BY dg HAVING COUNT(*) >= 2),
cover AS (SELECT DISTINCT g.key, g.gpos + o.j AS pos
          FROM g JOIN hot ON hot.dg = g.dg,
               LATERAL (SELECT UNNEST(generate_series(0, {text.SPAN_WORDS - 1})) AS j) o),
nt AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY key),
ns AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_scrubbed FROM cover GROUP BY key),
reb AS (SELECT t.key, md5(string_agg(t.tok, ' ' ORDER BY t.pos)) AS scrubbed_md5
        FROM toks t
        WHERE NOT EXISTS (SELECT 1 FROM cover c WHERE c.key = t.key AND c.pos = t.pos)
        GROUP BY t.key)
SELECT nt.key AS doc_id, nt.n_tokens,
       CAST(COALESCE(ns.n_scrubbed, 0) AS BIGINT) AS n_scrubbed,
       COALESCE(reb.scrubbed_md5, md5('')) AS scrubbed_md5
FROM nt LEFT JOIN ns ON ns.key = nt.key LEFT JOIN reb ON reb.key = nt.key"""


def sql_quality_lr_score() -> str:
    """text.quality_lr_score twin: same weights as strtod literals, same
    left-associated combination, one FLOAT rounding at the boundary."""
    p = _quality_parts()
    w0, w1, w2, w3, w4 = text.QUALITY_LR_WEIGHTS
    score = (
        f"(((({_dbl(w0)} + {_dbl(w1)} * {p['mean_wl']}) + {_dbl(w2)} * {p['punct_r']})"
        f" + {_dbl(w3)} * {p['digit_r']}) + {_dbl(w4)} * {p['n_chars']})"
    )
    return f"""SELECT doc_id,
       CAST(CAST({score} AS FLOAT) AS DOUBLE) AS lr_score,
       ({score} > CAST(0 AS DOUBLE)) AS keep
FROM documents"""


def sql_vocab_coverage() -> str:
    """terms.vocab_coverage twin: top-V vocabulary (count DESC, term ASC),
    broadcast-shaped left join recomputed relationally."""
    return f"""
WITH occ AS (
  SELECT doc_id AS key, term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest({_WORDS}) AS term FROM documents)
  GROUP BY doc_id, term
),
vocab AS (SELECT term FROM (
            SELECT term, SUM(cnt) AS tot FROM occ GROUP BY term
            ORDER BY tot DESC, term LIMIT {terms.VOCAB_SIZE})),
j AS (SELECT occ.key, occ.cnt, (vocab.term IS NOT NULL) AS iv
      FROM occ LEFT JOIN vocab ON vocab.term = occ.term)
SELECT key AS doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN iv THEN cnt ELSE 0 END) AS BIGINT) AS n_in_vocab,
       CAST(SUM(cnt) - SUM(CASE WHEN iv THEN cnt ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN iv THEN cnt ELSE 0 END) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS coverage
FROM j GROUP BY key"""


def sql_dataset_split() -> str:
    """text.dataset_split twin: same md5-bucket rule ((hex8 % 1e6) % 100
    == hex8 % 100 since 100 | 1e6 — the deterministic_sample space)."""
    bucket = f"({_hex8_sql('CAST(doc_id AS VARCHAR)')} % 100)"
    return f"""
WITH s AS (
  SELECT CASE WHEN {bucket} < 10 THEN 'val'
              WHEN {bucket} < 20 THEN 'test'
              ELSE 'train' END AS split,
         lang
  FROM documents
)
SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM s GROUP BY split, lang"""


def sql_dedup_method_agreement() -> str:
    """dedup.dedup_method_agreement twin: the MinHash pair set (banded +
    verified) vs the EXHAUSTIVE SimHash pair scan, full-outer joined on
    the ordered pair key, one rollup."""
    mh = sql_minhash_lsh_pairs()
    sh = sql_simhash64_pairs()
    return f"""
WITH mh AS ({mh}),
sh AS ({sh}),
j AS (
  SELECT (mh.key_a IS NOT NULL) AS in_mh, (sh.key_a IS NOT NULL) AS in_sh
  FROM mh FULL JOIN sh ON mh.key_a = sh.key_a AND mh.key_b = sh.key_b
),
a AS (
  SELECT CAST(SUM(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash,
         CAST(SUM(CASE WHEN in_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash,
         CAST(SUM(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         CAST(SUM(CASE WHEN in_mh AND NOT in_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_only,
         CAST(SUM(CASE WHEN in_sh AND NOT in_mh THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash_only
  FROM j
)
SELECT n_minhash, n_simhash, n_both, n_minhash_only, n_simhash_only,
       CAST(n_both AS DOUBLE) / CAST(n_minhash + n_simhash - n_both AS DOUBLE) AS jaccard_agreement
FROM a"""


def sql_forecast_revenue() -> str:
    """relational.forecast_revenue twin (TPC-H Q6 shape), the
    pricing_summary DECIMAL-exact sum recipe; discount bounds as strtod
    double literals."""
    return f"""SELECT
  CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= {_dbl(0.05)}
  AND l_discount <= {_dbl(0.07)}
  AND l_quantity < {_dbl(24.0)}"""
