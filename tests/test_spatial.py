"""Spatial join / kNN / tiles: engine results vs independent brute-force
NumPy oracles on the deterministic pages table (FIXTURES.md §5)."""

import numpy as np
import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def polygons():
    from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons

    return fixture_polygons()


@pytest.fixture(scope="module")
def pages_pdf(spark):
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    return pages_from_documents(spark, SF_DIR).select("url", "lat", "lon").toPandas()


def brute_force_join(pages_pdf, polygons):
    from openaip_yaixm_to_geojson_spark.functions.geodesy import points_in_ring_winding

    lon = pages_pdf["lon"].to_numpy()
    lat = pages_pdf["lat"].to_numpy()
    expected = set()
    for poly in polygons:
        inside = points_in_ring_winding(lon, lat, np.asarray(poly["ring"]))
        for url in pages_pdf["url"].to_numpy()[inside]:
            expected.add((url, poly["poly_id"]))
    return expected


def test_spatial_join_broadcast_matches_bruteforce(spark, polygons, pages_pdf):
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygons_to_df, spatial_join
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    expected = brute_force_join(pages_pdf, polygons)
    assert len(expected) > 0, "join must be non-trivially populated"
    # the polygon side as a driver list and as a polygons table
    for polys in (polygons, polygons_to_df(spark, polygons)):
        got = {
            (r["url"], r["poly_id"])
            for r in spatial_join(pages, polys, broadcast=True).collect()
        }
        assert got == expected


def test_spatial_join_salted_shuffle_same_result(spark, polygons, pages_pdf):
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygons_to_df, spatial_join
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    expected = brute_force_join(pages_pdf, polygons)
    for polys in (polygons, polygons_to_df(spark, polygons)):
        for salt in (None, 4):
            got = {
                (r["url"], r["poly_id"])
                for r in spatial_join(pages, polys, broadcast=False, salt=salt).collect()
            }
            assert got == expected


def test_text_byte_identical_through_join(spark, polygons):
    """Per-row invariant (BASELINE.json input_hint): extracted text stays
    byte-identical per url through the pipeline."""
    from openaip_yaixm_to_geojson_spark.operators.spatial import spatial_join
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    joined = spatial_join(pages, polygons, keep_cols=("text",))
    source = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    for row in joined.collect():
        assert row["text"] == source[row["url"]]
        assert row["text"].encode("utf-8") == source[row["url"]].encode("utf-8")


def test_knn_ring_expansion_matches_bruteforce(spark, polygons, monkeypatch):
    from openaip_yaixm_to_geojson_spark.operators import knn as knn_mod
    from openaip_yaixm_to_geojson_spark.operators.knn import (
        knn_bruteforce,
        knn_ring_expansion,
    )
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygons_to_df
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    brute = {r["url"]: (r["poly_id"], r["dist_sq"]) for r in knn_bruteforce(pages, polygons).collect()}
    # the polygon side as a driver list and as a polygons table
    for polys in (polygons, polygons_to_df(spark, polygons)):
        # SMALL_INPUT_ROWS = 0 forces the expansion loop (the default would
        # take the tiny-input brute-force fast path and test nothing)
        with monkeypatch.context() as m:
            m.setattr(knn_mod, "SMALL_INPUT_ROWS", 0)
            ring = {r["url"]: (r["poly_id"], r["dist_sq"]) for r in knn_ring_expansion(pages, polys).collect()}
        assert set(ring) == set(brute)
        mismatches = {u: (ring[u], brute[u]) for u in brute if ring[u] != brute[u]}
        assert not mismatches, list(mismatches.items())[:5]
        # the fast path (default gates) returns the identical mapping
        fast = {r["url"]: (r["poly_id"], r["dist_sq"]) for r in knn_ring_expansion(pages, polys).collect()}
        assert fast == brute


def test_tile_rollup_counts(spark, polygons):
    from openaip_yaixm_to_geojson_spark.operators.spatial import spatial_join
    from openaip_yaixm_to_geojson_spark.operators.tiles import tile_class_rollup
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    join_out = spatial_join(pages, polygons)
    rollup = tile_class_rollup(join_out).collect()
    total_rows = join_out.count()
    grand = [r for r in rollup if r["tile_id"] is None and r["airspace_class"] is None]
    assert len(grand) == 1 and grand[0]["doc_count"] == total_rows
    # tile subtotals equal the sum of their class rows
    by_tile = {}
    for r in rollup:
        if r["tile_id"] is not None and r["airspace_class"] is not None:
            by_tile[r["tile_id"]] = by_tile.get(r["tile_id"], 0) + r["doc_count"]
    for r in rollup:
        if r["tile_id"] is not None and r["airspace_class"] is None:
            assert by_tile[r["tile_id"]] == r["doc_count"]


def test_cellgrid_roundtrip_and_cover_soundness(polygons):
    from openaip_yaixm_to_geojson_spark.functions import cellgrid
    from openaip_yaixm_to_geojson_spark.functions.geodesy import points_in_ring_winding

    rng = np.random.default_rng(42)
    lons = rng.uniform(-6.5, 1.3, 500)
    lats = rng.uniform(49.5, 57.7, 500)
    for res in (7, 9, 11):
        cells = cellgrid.encode_np(lons, lats, res)
        for lon, lat, cell in zip(lons[:50], lats[:50], cells[:50]):
            min_lon, min_lat, max_lon, max_lat = cellgrid.cell_bounds(int(cell))
            assert min_lon <= lon < max_lon and min_lat <= lat < max_lat
            assert cellgrid.parent(int(cell)) == cellgrid.encode(lon, lat, res - 1)
    # cover soundness: every point inside a polygon lies in a cover cell
    for poly in polygons:
        ring = np.asarray(poly["ring"])
        cover = set(cellgrid.cover(ring, 11))
        inside = points_in_ring_winding(lons, lats, ring)
        for lon, lat in zip(lons[inside], lats[inside]):
            assert cellgrid.encode(lon, lat, 11) in cover


def test_knn_fallback_bruteforce_path(spark, polygons, monkeypatch):
    """Pages outside every ring window must hit the exact fallback without
    schema errors (round-1 ADVICE: the `cell` column crashed the union)."""
    from openaip_yaixm_to_geojson_spark.operators import knn as knn_mod
    from openaip_yaixm_to_geojson_spark.operators.knn import (
        knn_bruteforce,
        knn_ring_expansion,
    )
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR).limit(40)
    # a single (0, 0) window: anything not sharing a cell with a vertex
    # falls through to the brute-force fallback
    monkeypatch.setattr(knn_mod, "WINDOWS", ((0, 0),))
    monkeypatch.setattr(knn_mod, "SMALL_INPUT_ROWS", 0)
    ring = {r["url"]: (r["poly_id"], r["dist_sq"]) for r in knn_ring_expansion(pages, polygons).collect()}
    brute = {r["url"]: (r["poly_id"], r["dist_sq"]) for r in knn_bruteforce(pages, polygons).collect()}
    assert ring == brute and len(ring) == 40


def test_knn_shuffle_join_past_broadcast_threshold(spark, polygons, monkeypatch):
    """Same answers when the expanded vertex index is too big to broadcast."""
    from openaip_yaixm_to_geojson_spark.operators import knn as knn_mod
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    monkeypatch.setattr(knn_mod, "BROADCAST_INDEX_MAX_ROWS", 0)
    monkeypatch.setattr(knn_mod, "SMALL_INPUT_ROWS", 0)
    pages = pages_from_documents(spark, SF_DIR).limit(40)
    ring = {r["url"]: (r["poly_id"], r["dist_sq"]) for r in knn_mod.knn_ring_expansion(pages, polygons).collect()}
    brute = {r["url"]: (r["poly_id"], r["dist_sq"]) for r in knn_mod.knn_bruteforce(pages, polygons).collect()}
    assert ring == brute


def test_spatial_join_salt_type_validation(spark, polygons):
    """An invalid salt raises for either input in either join mode, even
    though a broadcast join never uses the salt."""
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygons_to_df, spatial_join
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    for polys in (polygons, polygons_to_df(spark, polygons)):
        for broadcast in (True, False):
            with pytest.raises(TypeError, match="salt"):
                spatial_join(pages, polys, broadcast=broadcast, salt="four")


def test_polygon_cover_distributed_scales_without_driver(spark):
    """10^4 polygons covered with no driver-side loop or collect: the cover
    is built by a pandas UDF + explode over a generated polygon table."""
    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.functions import cellgrid
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygon_cover_distributed

    n = 10_000
    # small synthetic boxes generated DISTRIBUTED (no driver list)
    polys = (
        spark.range(n)
        .select(
            F.col("id").cast("int").alias("poly_id"),
            F.concat(F.lit("P"), F.col("id")).alias("airspace_name"),
            F.lit("CTA").alias("airspace_type"),
            F.lit("D").alias("airspace_class"),
            ((F.col("id") % 360).cast("double") - 180.0).alias("x0"),
            ((F.col("id") % 170).cast("double") - 85.0).alias("y0"),
        )
        .select(
            "poly_id",
            "airspace_name",
            "airspace_type",
            "airspace_class",
            F.array(
                F.array(F.col("x0"), F.col("y0")),
                F.array(F.col("x0") + 0.02, F.col("y0")),
                F.array(F.col("x0") + 0.02, F.col("y0") + 0.02),
                F.array(F.col("x0"), F.col("y0") + 0.02),
                F.array(F.col("x0"), F.col("y0")),
            ).alias("ring"),
        )
    )
    cover = polygon_cover_distributed(polys)
    stats = cover.agg(
        F.count(F.lit(1)).alias("rows"), F.count_distinct("poly_id").alias("polys")
    ).first()
    assert stats["polys"] == n
    assert stats["rows"] >= n  # every polygon produced at least one cell
    # spot-check one polygon's cover against the driver-side builder
    import numpy as np

    one = cover.where(F.col("poly_id") == 7).select("cell").collect()
    ring = np.array([[-173.0, -78.0], [-172.98, -78.0], [-172.98, -77.98], [-173.0, -77.98], [-173.0, -78.0]])
    assert {r["cell"] for r in one} == set(cellgrid.cover(ring, 13))


def test_knn_hundred_thousand_vertices(spark):
    """kNN stays correct and memory-bounded with ~10^5 index vertices: the
    brute-force fallback scans in fixed chunks and the expanded window
    index auto-switches off broadcast past the row threshold."""
    from openaip_yaixm_to_geojson_spark.operators.knn import knn_ring_expansion

    rng = np.random.default_rng(7)
    polygons = []
    for pid in range(500):
        cx, cy = rng.uniform(-5.0, 1.0), rng.uniform(50.0, 57.0)
        theta = np.linspace(0.0, 2.0 * np.pi, 201)
        ring = np.stack([cx + 0.01 * np.cos(theta), cy + 0.01 * np.sin(theta)], axis=1)
        ring[-1] = ring[0]
        polygons.append({"poly_id": pid, "name": f"P{pid}", "type": "CTA", "class": "D", "ring": ring.tolist()})
    n_vertices = sum(len(p["ring"]) - 1 for p in polygons)
    assert n_vertices == 100_000

    pts = rng.uniform([-5.0, 50.0], [1.0, 57.0], size=(200, 2))
    pages = spark.createDataFrame(
        [(f"u{i}", float(y), float(x)) for i, (x, y) in enumerate(pts)], "url string, lat double, lon double"
    )
    got = {r["url"]: (r["poly_id"], r["dist_sq"]) for r in knn_ring_expansion(pages, polygons).collect()}

    # NumPy reference: nearest vertex distance per polygon, smallest-pid tie-break
    vx = np.concatenate([np.asarray(p["ring"])[:-1, 0] for p in polygons])
    vy = np.concatenate([np.asarray(p["ring"])[:-1, 1] for p in polygons])
    vp = np.concatenate([np.full(len(p["ring"]) - 1, p["poly_id"]) for p in polygons])
    d2 = (pts[:, 0:1] - vx[None, :]) ** 2 + (pts[:, 1:2] - vy[None, :]) ** 2
    idx = d2.argmin(axis=1)
    for i in range(len(pts)):
        url = f"u{i}"
        assert got[url][1] == d2[i, idx[i]]
        assert got[url][0] == vp[idx[i]]


def test_salted_join_under_real_skew(spark, polygons, monkeypatch):
    """All pages landing in ONE hot cell: salt_plan picks a factor > 1
    once the hottest cell exceeds the per-task target (and 1 on no pages),
    and the salted shuffle path still matches the broadcast path."""
    from openaip_yaixm_to_geojson_spark.operators import spatial as spatial_mod
    from openaip_yaixm_to_geojson_spark.operators.spatial import salt_plan, spatial_join

    # 20k pages on a single point inside FARNBOROUGH CTA 1 -> one cell
    inside = polygons[0]
    import numpy as np

    ring = np.asarray(inside["ring"])
    cx, cy = float(ring[:, 0].mean()), float(ring[:, 1].mean())
    pages = (
        spark.range(20_000)
        .selectExpr("concat('s', id) AS url")
        .selectExpr("url", f"CAST({cy!r} AS DOUBLE) AS lat", f"CAST({cx!r} AS DOUBLE) AS lon")
    )
    with monkeypatch.context() as m:
        m.setattr(spatial_mod, "ROWS_PER_TASK", 1_000)
        assert salt_plan(pages).first()["salt"] > 1
    assert salt_plan(pages.limit(0)).first()["salt"] == 1
    broadcast_rows = spatial_join(pages, polygons, broadcast=True).count()
    salted_rows = spatial_join(pages, polygons, broadcast=False, salt=8).count()
    assert broadcast_rows == salted_rows
    assert broadcast_rows >= 20_000  # every page is inside at least one polygon


def test_salt_plan_oracle_reads_engine_constants(monkeypatch):
    """The salt_plan gate oracle reads the join resolution and the rows per
    task from operators/spatial at call time, so a change of either
    constant moves the engine and its oracle together."""
    from openaip_yaixm_to_geojson_spark import oracle
    from openaip_yaixm_to_geojson_spark.operators import spatial as spatial_mod

    monkeypatch.setattr(spatial_mod, "ROWS_PER_TASK", 1_000)
    monkeypatch.setattr(spatial_mod, "DEFAULT_JOIN_RES", 11)
    sql = oracle.sql_salt_plan()
    assert "(hottest_rows + 999) // 1000" in sql
    assert "2000000" not in sql
    assert oracle.cell_id_sql("lon", "lat", 11) in sql


def test_polygon_cover_table_matches_driver(spark, polygons, monkeypatch):
    """The distributed cover (polyfill UDF over a polygons TABLE) produces
    the identical (cell, poly_id, edges) rows to the driver-loop cover, at
    the tile and at the join resolution."""
    from openaip_yaixm_to_geojson_spark.operators import spatial
    from openaip_yaixm_to_geojson_spark.operators.spatial import (
        DEFAULT_JOIN_RES,
        polygon_cover_df,
        polygon_cover_distributed,
        polygons_to_df,
    )
    from openaip_yaixm_to_geojson_spark.operators.tiles import DEFAULT_TILE_RES

    def rows(cover):
        return sorted((r["cell"], r["poly_id"], [tuple(e) for e in r["edges"]]) for r in cover.collect())

    polygons_df = polygons_to_df(spark, polygons)
    for res in (DEFAULT_TILE_RES, DEFAULT_JOIN_RES):
        monkeypatch.setattr(spatial, "DEFAULT_JOIN_RES", res)
        driver = rows(polygon_cover_df(spark, polygons))
        assert driver == rows(polygon_cover_distributed(polygons_df)) and driver, res
        assert all(edges for _, _, edges in driver)


def _adversarial_case(polygons):
    """Fixture polygons plus a cell-aligned rectangle and a triangle whose
    apex sits on a band boundary, and points made to sit on the edge cases
    of the refine: every ring vertex, points on edges (exactly, for the
    axis-aligned ones), within 1e-12 of an edge, on each cell band's lower
    bound and one ulp under its upper bound."""
    import pandas as pd

    from openaip_yaixm_to_geojson_spark.functions import cellgrid
    from openaip_yaixm_to_geojson_spark.operators.spatial import DEFAULT_JOIN_RES

    size = cellgrid.cell_size_deg(DEFAULT_JOIN_RES)
    x0, y0 = 4200 * size - 180.0, 6500 * size - 90.0  # on cell corners near Aberdeen
    rect = [(x0, y0), (x0 + 3 * size, y0), (x0 + 3 * size, y0 + 2 * size), (x0, y0 + 2 * size), (x0, y0)]
    apex = (x0 + size, y0 + size)
    tri = [(x0 + size / 3, y0 - 2 * size), (x0 + 2.5 * size, y0 - 1.5 * size), apex, (x0 + size / 3, y0 - 2 * size)]
    polys = list(polygons) + [
        {"poly_id": 900 + i, "name": f"SYN{i}", "type": "D", "class": "G", "ring": ring}
        for i, ring in enumerate((rect, tri))
    ]
    pts = []
    for p in polys:
        ring = np.asarray(p["ring"], dtype=np.float64)
        a, b = ring[:-1], ring[1:]
        pts.append(ring)
        for t in (0.25, 0.5, 0.75):
            pts.append(a + t * (b - a))
        mid = (a + b) / 2
        for d in ((1e-12, 0), (-1e-12, 0), (0, 1e-12), (0, -1e-12)):
            pts.append(mid + np.asarray(d))
        lo = np.floor((ring[:, 1].min() + 90.0) / size).astype(int)
        hi = np.floor((ring[:, 1].max() + 90.0) / size).astype(int)
        xs = np.unique(np.concatenate([ring[:, 0], mid[:, 0]]))[::3]
        for y in range(lo, hi + 1):
            band_lo = y * size - 90.0
            band_hi = np.nextafter(band_lo + size, -np.inf)
            for lat in (band_lo, band_hi):
                pts.append(np.column_stack([xs, np.full(len(xs), lat)]))
    pts = np.unique(np.vstack(pts), axis=0)
    pdf = pd.DataFrame({"url": [f"p{i}" for i in range(len(pts))], "lat": pts[:, 1], "lon": pts[:, 0]})
    return polys, pdf


def test_spatial_join_exact_on_boundary_points(spark, polygons):
    """List and table input equal points_in_ring_winding pair for pair on
    points that sit on vertices, edges and cell band bounds."""
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygons_to_df, spatial_join

    polys, pdf = _adversarial_case(polygons)
    expected = brute_force_join(pdf, polys)
    pages = spark.createDataFrame(pdf, "url string, lat double, lon double")
    assert len(expected) > 1000
    for side in (polys, polygons_to_df(spark, polys)):
        got = {(r["url"], r["poly_id"]) for r in spatial_join(pages, side).collect()}
        assert got == expected
    salted = {(r["url"], r["poly_id"]) for r in spatial_join(pages, polys, broadcast=False, salt=2).collect()}
    assert salted == expected


def test_mercator_lattice_margin_and_quadkey(spark, monkeypatch):
    """The proof that tile_xyz_export can be hash-gated: enumerate EVERY
    latitude the md5 geotag lattice can produce (5 hex-char ascii weighted
    sums mod span per cluster) and assert the pre-floor mercator value
    never comes near an integer tile boundary at the gated zooms — JVM
    Math and libm differ by ulps, so a >1e-7-tile margin means floor()
    agrees across engines. Also pins quadkey digits against the classic
    bit-interleave definition."""
    from openaip_yaixm_to_geojson_spark.operators import tiles
    from openaip_yaixm_to_geojson_spark.operators.tiles import (
        MERCATOR_MAX_GATED_Z,
        XYZ_ZOOM,
        quadkey_sql,
        tile_xyz_export,
    )
    from openaip_yaixm_to_geojson_spark.sources.pages import _CLUSTERS

    ascii_vals = np.array([ord(c) for c in "0123456789abcdef"], dtype=np.int64)
    sums = np.zeros(1, dtype=np.int64)
    for w in (10**8, 10**6, 10**4, 100, 1):
        sums = (sums[:, None] + ascii_vals[None, :] * w).ravel()
    for z in (XYZ_ZOOM, MERCATOR_MAX_GATED_Z):
        n = 1 << z
        for base_lat, lat_span, _base_lon, _lon_span, _w in _CLUSTERS:
            lats = np.unique(float(base_lat) + (sums % lat_span).astype(float) / 1e5)
            pre = (1 - np.log(np.tan(np.radians(lats)) + 1 / np.cos(np.radians(lats))) / np.pi) / 2 * n
            margin = np.abs(pre - np.round(pre)).min()
            assert margin > 1e-7, (z, base_lat, margin)

    # quadkey digits == interleaved bits (Bing definition), via Spark eval
    z = 5
    rows = [(x, y) for x in (0, 5, 19, 31) for y in (0, 7, 22, 31)]
    df = spark.createDataFrame(rows, "xtile bigint, ytile bigint")
    got = {
        (r["xtile"], r["ytile"]): r["qk"]
        for r in df.selectExpr(
            "xtile", "ytile", f"{quadkey_sql('xtile', 'ytile', z, 'spark')} AS qk"
        ).collect()
    }
    for x, y in rows:
        expect = "".join(
            str(((x >> k) & 1) + 2 * ((y >> k) & 1)) for k in range(z - 1, -1, -1)
        )
        assert got[(x, y)] == expect

    # z above the verified budget must refuse rather than silently flap
    monkeypatch.setattr(tiles, "XYZ_ZOOM", MERCATOR_MAX_GATED_Z + 1)
    with pytest.raises(ValueError):
        tile_xyz_export(spark.createDataFrame([], "lon double, lat double, text string, lang string"))


def test_tile_vector_export_bounds_match_cellgrid(spark):
    """The SQL-expression bbox decode must equal the Python cell_bounds
    kernel exactly (same dyadic arithmetic)."""
    from openaip_yaixm_to_geojson_spark.functions import cellgrid
    from openaip_yaixm_to_geojson_spark.operators.tiles import (
        DEFAULT_TILE_RES,
        tile_vector_export,
    )
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    out = tile_vector_export(pages_from_documents(spark, SF_DIR)).collect()
    assert out
    for r in out:
        exp = cellgrid.cell_bounds(r["tile_id"])
        assert (r["min_lon"], r["min_lat"], r["max_lon"], r["max_lat"]) == exp
        assert cellgrid.decode(r["tile_id"])[0] == DEFAULT_TILE_RES


def test_knn_edge_expansion_matches_bruteforce(spark, polygons, monkeypatch):
    """Edge-exact kNN: forced expansion loop (driver-list AND table index)
    == exhaustive segment scan, bit-for-bit including tie-breaks."""
    from openaip_yaixm_to_geojson_spark.operators import knn as knn_mod
    from openaip_yaixm_to_geojson_spark.operators.knn import (
        knn_edge_bruteforce,
        knn_edge_ring_expansion,
    )
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygons_to_df
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    brute = {
        r["url"]: (r["poly_id"], r["dist_sq"])
        for r in knn_edge_bruteforce(pages, polygons).collect()
    }
    monkeypatch.setattr(knn_mod, "SMALL_INPUT_ROWS", 0)
    loop = {r["url"]: (r["poly_id"], r["dist_sq"]) for r in knn_edge_ring_expansion(pages, polygons).collect()}
    assert loop == brute
    tab = {
        r["url"]: (r["poly_id"], r["dist_sq"])
        for r in knn_edge_ring_expansion(pages, polygons_to_df(spark, polygons)).collect()
    }
    assert tab == brute


def test_knn_edge_vs_vertex_pick_different_polygons(spark, monkeypatch):
    """The r3 VERDICT case: a long straight `line:`-style edge passes close
    to the page but its VERTICES are far away. Vertex-kNN picks the small
    nearby square; edge-kNN must pick the polygon whose boundary actually
    comes closest."""
    from openaip_yaixm_to_geojson_spark.operators import knn as knn_mod
    from openaip_yaixm_to_geojson_spark.operators.knn import (
        knn_edge_ring_expansion,
        knn_ring_expansion,
    )

    # poly 1: long thin triangle, bottom edge y=50.0 from lon -10..10 —
    # nearest EDGE point to the page is (0, 50.0), dist 0.1; nearest
    # VERTEX is ~10 deg away. poly 2: tiny square whose closest vertex is
    # (0.0, 50.9), dist 0.8 from the page.
    polygons = [
        {
            "poly_id": 1,
            "name": "LONG_EDGE_CTA",
            "type": "CTA",
            "class": "D",
            "ring": [[-10.0, 50.0], [10.0, 50.0], [0.0, 45.0], [-10.0, 50.0]],
        },
        {
            "poly_id": 2,
            "name": "SMALL_BOX",
            "type": "CTR",
            "class": "E",
            "ring": [[0.0, 50.9], [0.2, 50.9], [0.2, 51.1], [0.0, 51.1], [0.0, 50.9]],
        },
    ]
    pages = spark.createDataFrame([("u1", 50.1, 0.0)], "url string, lat double, lon double")
    vertex = knn_ring_expansion(pages, polygons).collect()[0]
    edge = knn_edge_ring_expansion(pages, polygons).collect()[0]
    assert vertex["poly_id"] == 2 and abs(vertex["dist_sq"] - 0.8 * 0.8) < 1e-12
    assert edge["poly_id"] == 1 and abs(edge["dist_sq"] - 0.1 * 0.1) < 1e-12
    # the forced expansion loop agrees with the tiny-input fast path
    monkeypatch.setattr(knn_mod, "SMALL_INPUT_ROWS", 0)
    edge_loop = knn_edge_ring_expansion(pages, polygons).collect()[0]
    assert (edge_loop["poly_id"], edge_loop["dist_sq"]) == (edge["poly_id"], edge["dist_sq"])


def test_knn_edge_degenerate_and_boundary(spark):
    """Degenerate (zero-length) segments fall back to vertex distance with
    no division blow-up; a page exactly ON a segment reports dist_sq 0."""
    from openaip_yaixm_to_geojson_spark.operators.knn import knn_edge_bruteforce

    polygons = [
        {
            "poly_id": 1,
            "name": "DEGEN",
            "type": "CTA",
            "class": "D",
            # consecutive duplicate vertex => zero-length segment
            "ring": [[1.0, 1.0], [1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 1.0]],
        }
    ]
    pages = spark.createDataFrame(
        [("on_seg", 1.0, 1.5), ("off", 0.0, 1.0)], "url string, lat double, lon double"
    )
    out = {r["url"]: r["dist_sq"] for r in knn_edge_bruteforce(pages, polygons).collect()}
    assert out["on_seg"] == 0.0
    assert abs(out["off"] - 1.0) < 1e-12  # nearest point is vertex (1,1)


def test_polygon_overlap_pairs(spark):
    """Overlap join: vertex-containment overlaps, crossing-only overlaps
    (the plus/cross case — NO vertex of either inside the other), and
    disjoint pairs; a driver list and a polygons TABLE give the same rows."""
    from openaip_yaixm_to_geojson_spark.operators.spatial import (
        polygon_overlap_pairs,
        polygons_to_df,
    )

    def box(pid, x0, y0, x1, y1):
        return {
            "poly_id": pid,
            "name": f"B{pid}",
            "type": "CTA",
            "class": "D",
            "ring": [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
        }

    polys = [
        box(1, 0.0, 0.0, 2.0, 2.0),      # overlaps 2 (vertex-in)
        box(2, 1.0, 1.0, 3.0, 3.0),
        # cross pair: tall thin box x wide flat box — every vertex of each
        # is OUTSIDE the other; only proper edge crossings connect them
        box(3, 10.0, 8.0, 11.0, 13.0),
        box(4, 8.0, 10.0, 13.0, 11.0),
        box(5, 20.0, 20.0, 21.0, 21.0),  # disjoint from everything
    ]
    for side in (polys, polygons_to_df(spark, polys)):
        got = sorted((r["poly_a"], r["poly_b"]) for r in polygon_overlap_pairs(spark, side).collect())
        assert got == [(1, 2), (3, 4)]


def test_polygon_area_orientation(spark, tmp_path):
    """Exact planar shoelace on hand-made squares: CCW positive winding,
    CW detected, area exact; the fold evaluates once (staged projection).
    The polygons are read back from parquet, as a stored polygons table is:
    over a literal table the optimizer folds the whole projection into a
    LocalTableScan, and the plan shows no fold to count."""
    from openaip_yaixm_to_geojson_spark.operators.spatial import (
        polygon_area_orientation,
        polygons_to_df,
    )

    ccw = [[0.0, 0.0], [2.0, 0.0], [2.0, 3.0], [0.0, 3.0], [0.0, 0.0]]
    cw = list(reversed(ccw))
    polys = [
        {"poly_id": 1, "name": "CCW", "type": "CTA", "class": "D", "ring": ccw},
        {"poly_id": 2, "name": "CW", "type": "CTA", "class": "D", "ring": cw},
    ]
    polygons_to_df(spark, polys).write.parquet(str(tmp_path / "polygons"))
    df = polygon_area_orientation(spark.read.parquet(str(tmp_path / "polygons")))
    got = {r["poly_id"]: (r["area_deg2"], r["is_ccw"]) for r in df.collect()}
    assert got == {1: (6.0, True), 2: (6.0, False)}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("aggregate(zip_with") == 1  # staged: fold not re-inlined


def test_ring_decimate_keeps_corners_drops_collinear(spark):
    """A square with near-collinear midpoints planted on its edges: the
    midpoints (tiny neighbour-triangle area) drop, the 4 corners and both
    endpoints survive; a fixture arc ring shrinks but stays closed."""
    from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygons_to_df, ring_decimate

    sq = [
        [0.0, 0.0], [1.0, 1e-9], [2.0, 0.0],  # planted near-collinear midpoint
        [2.0, 3.0], [0.0, 3.0], [0.0, 0.0],
    ]
    polys = [{"poly_id": 1, "name": "SQ", "type": "CTA", "class": "D", "ring": sq}]
    kept = ring_decimate(polygons_to_df(spark, polys)).collect()
    idx = sorted(r["vertex_idx"] for r in kept)
    assert idx == [1, 3, 4, 5, 6]  # vertex 2 (the midpoint) decimated

    fp = [p for p in fixture_polygons() if len(p["ring"]) > 50][:1]
    assert fp, "fixture regression: no densified ring to decimate"
    rows = ring_decimate(polygons_to_df(spark, fp)).collect()
    n_orig = len(fp[0]["ring"])
    idx = sorted(r["vertex_idx"] for r in rows)
    assert idx[0] == 1 and idx[-1] == n_orig  # endpoints -> closure preserved
    assert len(idx) < n_orig  # densified chain actually decimated


def test_geohash_floor_form_matches_canonical_and_spark(spark):
    """The closed floor form equals the classic successive-halving geohash
    on the u4pruyd test vector and a 20k-point random sweep, and the Spark
    expression chain reproduces the driver-side twin on real page rows."""
    import random

    from openaip_yaixm_to_geojson_spark.functions.geohash import GEOHASH_ALPHABET, geohash_py
    from openaip_yaixm_to_geojson_spark.operators.tiles import geohash_counts
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    def canonical(lat, lon, p):
        lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
        even, bit, ch, out = True, 0, 0, []
        while len(out) < p:
            r, v = (lon_r, lon) if even else (lat_r, lat)
            mid = (r[0] + r[1]) / 2
            ch <<= 1
            if v >= mid:
                ch |= 1
                r[0] = mid
            else:
                r[1] = mid
            even = not even
            bit += 1
            if bit == 5:
                out.append(GEOHASH_ALPHABET[ch])
                bit, ch = 0, 0
        return "".join(out)

    assert geohash_py(57.64911, 10.40744, 7) == "u4pruyd" == canonical(57.64911, 10.40744, 7)
    rng = random.Random(20260817)
    for _ in range(20000):
        lat, lon = rng.uniform(-90, 90), rng.uniform(-180, 180)
        assert geohash_py(lat, lon, 5) == canonical(lat, lon, 5)

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    got = {r["geohash"]: r["n_pages"] for r in geohash_counts(pages).collect()}
    import collections

    expect = collections.Counter(
        geohash_py(r["lat"], r["lon"], 5) for r in pages.select("lat", "lon").collect()
    )
    assert got == dict(expect)


def test_ring_decimate_degenerate_rings(spark):
    """Empty ring -> zero rows (no ANSI element_at(ring, 0) crash from the
    sequence(1, 0)-counts-down trap); 1- and 2-vertex rings pass through."""
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygons_to_df, ring_decimate

    polys = [
        {"poly_id": 1, "name": "E", "type": "CTA", "class": "D", "ring": []},
        {"poly_id": 2, "name": "P", "type": "CTA", "class": "D", "ring": [[1.0, 2.0]]},
        {"poly_id": 3, "name": "S", "type": "CTA", "class": "D", "ring": [[0.0, 0.0], [1.0, 1.0]]},
    ]
    rows = ring_decimate(polygons_to_df(spark, polys)).collect()
    by_poly = {}
    for r in rows:
        by_poly.setdefault(r["poly_id"], []).append(r["vertex_idx"])
    assert 1 not in by_poly
    assert sorted(by_poly[2]) == [1]
    assert sorted(by_poly[3]) == [1, 2]


def test_knn_points_matches_bruteforce(spark, monkeypatch):
    """Point-point kNN: the cell-annulus expansion (both finalize rounds
    and the fallback) must reproduce the exact brute-force top-k with the
    (d2, neighbor) tie-break, and ranks must be 1..k dense per query —
    with the exploded query side broadcast (default cap) and
    shuffle-joined (cap 0)."""
    from openaip_yaixm_to_geojson_spark.operators import knn as knn_mod
    from openaip_yaixm_to_geojson_spark.operators.knn import knn_points
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    k = 5
    monkeypatch.setattr(knn_mod, "KNN_POINTS_K", k)
    monkeypatch.setattr(knn_mod, "KNN_POINTS_QUERY_MOD", 3)
    pts = [(r["url"], r["lon"], r["lat"]) for r in pages.select("url", "lon", "lat").collect()]
    by_url = {u: (lon, lat) for u, lon, lat in pts}
    for cap in (knn_mod.BROADCAST_INDEX_MAX_ROWS, 0):
        monkeypatch.setattr(knn_mod, "BROADCAST_INDEX_MAX_ROWS", cap)
        got = {}
        for r in knn_points(pages).collect():
            got.setdefault(r["url"], []).append((r["rnk"], r["neighbor"], r["dist_sq"]))
        assert got, "no sampled queries"
        for url, rows in got.items():
            qlon, qlat = by_url[url]
            exact = sorted(
                ((plon - qlon) * (plon - qlon) + (plat - qlat) * (plat - qlat), nid)
                for nid, plon, plat in pts
                if nid != url
            )[:k]
            rows.sort()
            assert [rn for rn, _, _ in rows] == list(range(1, len(rows) + 1))
            assert [(nid, d2) for d2, nid in exact] == [(n, d) for _, n, d in rows]


def test_knn_points_single_window_forces_fallback(spark, monkeypatch):
    """With one tiny window no query can hold a sub-bound kth distance at
    fixture density — every query must take the exact-scan fallback and
    still match brute force (same assertion as above on a narrower run)."""
    from openaip_yaixm_to_geojson_spark.operators import knn as knn_mod
    from openaip_yaixm_to_geojson_spark.operators.knn import knn_points
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    monkeypatch.setattr(knn_mod, "KNN_POINTS_K", 3)
    monkeypatch.setattr(knn_mod, "KNN_POINTS_QUERY_MOD", 5)
    wide = knn_points(pages).collect()
    monkeypatch.setattr(knn_mod, "WINDOWS", ((0, 0),))
    narrow = knn_points(pages).collect()
    assert sorted(map(tuple, wide)) == sorted(map(tuple, narrow))


def test_geo_cluster_cells_components(spark):
    """Two diagonal-touching dense cells form one cluster (8-neighbor),
    a distant dense cell stays its own cluster, sparse cells are absent,
    and cluster_id is the minimum member cell id."""
    from openaip_yaixm_to_geojson_spark.functions.cellgrid import encode
    from openaip_yaixm_to_geojson_spark.operators.spatial import GEO_CLUSTER_RES, geo_cluster_cells

    res = GEO_CLUSTER_RES
    size = 360.0 / (1 << res)

    def pt(i, lon, lat):
        return (f"u{i}", lon, lat)

    # cell centers: (cx, cy) in cell units -> lon/lat
    def center(cx, cy):
        return (-180.0 + (cx + 0.5) * size, -90.0 + (cy + 0.5) * size)

    pts = []
    # dense cell A (10, 10) and diagonal neighbor B (11, 11): 2 points each
    for i, (cx, cy) in enumerate([(10, 10), (10, 10), (11, 11), (11, 11)]):
        lon, lat = center(cx, cy)
        pts.append(pt(i, lon, lat))
    # far dense cell C (40, 20)
    lon, lat = center(40, 20)
    pts += [pt(10, lon, lat), pt(11, lon, lat)]
    # sparse cell D (50, 30): a single point
    lon, lat = center(50, 30)
    pts.append(pt(20, lon, lat))
    pages = spark.createDataFrame(pts, "url string, lon double, lat double")

    got = {r["cell"]: (r["cluster_id"], r["n_points"]) for r in geo_cluster_cells(pages).collect()}
    ca = encode(*center(10, 10), res)
    cb = encode(*center(11, 11), res)
    cc = encode(*center(40, 20), res)
    cd = encode(*center(50, 30), res)
    assert cd not in got
    assert got == {
        ca: (min(ca, cb), 2),
        cb: (min(ca, cb), 2),
        cc: (cc, 2),
    }


def test_polygon_centroid_properties(spark):
    """Shoelace-moment centroid: exact on a hand square, inside each convex
    fixture ring, orientation-independent, NULL on a degenerate ring."""
    import numpy as np

    from openaip_yaixm_to_geojson_spark.operators.spatial import polygon_centroid, polygons_to_df

    sq = [[0.0, 0.0], [4.0, 0.0], [4.0, 2.0], [0.0, 2.0], [0.0, 0.0]]
    polys = [
        {"poly_id": 1, "name": "sq", "type": "T", "class": "C", "ring": sq},
        {"poly_id": 2, "name": "sq_cw", "type": "T", "class": "C", "ring": sq[::-1]},
        {"poly_id": 3, "name": "degen", "type": "T", "class": "C",
         "ring": [[1.0, 1.0], [2.0, 2.0], [1.0, 1.0]]},
    ]
    got = {r["poly_id"]: r for r in polygon_centroid(polygons_to_df(spark, polys)).collect()}
    assert got[1]["centroid_lon"] == 2.0 and got[1]["centroid_lat"] == 1.0
    assert got[1]["area_deg2"] == 8.0
    # reversing the ring flips the signed area but not the centroid
    assert got[2]["centroid_lon"] == 2.0 and got[2]["centroid_lat"] == 1.0
    assert got[3]["centroid_lon"] is None and got[3]["centroid_lat"] is None and got[3]["area_deg2"] == 0.0


def test_tile_mode_class_tie_break(spark):
    """Mode per tile with a forced tie: equal counts resolve to the
    LARGEST class name in the struct argmax, matching the oracle's
    ROW_NUMBER tie order."""
    from openaip_yaixm_to_geojson_spark.operators.tiles import tile_mode_class

    rows = [
        ("u1", 10.0, 50.0, "C"),
        ("u2", 10.0, 50.0, "C"),
        ("u3", 10.0, 50.0, "D"),   # tile A: C=2 > D=1
        ("u4", 120.0, -30.0, "A"),
        ("u5", 120.0, -30.0, "E"),  # tile B: tie 1-1 -> E (largest name)
    ]
    df = spark.createDataFrame(rows, "url string, lon double, lat double, airspace_class string")
    got = {r["tile_id"]: (r["airspace_class"], r["doc_count"]) for r in tile_mode_class(df).collect()}
    assert sorted(got.values()) == [("C", 2), ("E", 1)]


def test_airspace_density_hand_case(spark):
    """Density = count / shoelace area with zero-hit polygons kept at
    density 0 and degenerate rings NULL."""
    from openaip_yaixm_to_geojson_spark.operators.spatial import airspace_density, polygons_to_df

    sq = [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]
    polys = [
        {"poly_id": 1, "name": "sq", "type": "T", "class": "C", "ring": sq},
        {"poly_id": 2, "name": "empty", "type": "T", "class": "C",
         "ring": [[50.0, 50.0], [51.0, 50.0], [51.0, 51.0], [50.0, 51.0], [50.0, 50.0]]},
        {"poly_id": 3, "name": "degen", "type": "T", "class": "C",
         "ring": [[9.0, 9.0], [9.5, 9.5], [9.0, 9.0]]},
    ]
    join_out = spark.createDataFrame(
        [("u1", 1), ("u2", 1), ("u3", 1)], "url string, poly_id int"
    )
    got = {r["poly_id"]: r for r in airspace_density(join_out, polygons_to_df(spark, polys)).collect()}
    assert got[1]["doc_count"] == 3 and got[1]["area_deg2"] == 4.0 and got[1]["docs_per_deg2"] == 0.75
    assert got[2]["doc_count"] == 0 and got[2]["docs_per_deg2"] == 0.0
    assert got[3]["docs_per_deg2"] is None


def test_tile_unmatched_counts_complement(spark):
    """Unmatched counts complement the join exactly: per tile,
    matched-distinct-urls + unmatched == total pages in that tile."""
    from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons
    from openaip_yaixm_to_geojson_spark.operators.spatial import spatial_join
    from openaip_yaixm_to_geojson_spark.operators.tiles import tile_unmatched_counts, with_tile
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    from pyspark.sql import functions as F

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    join_out = spatial_join(pages, fixture_polygons())
    unmatched = {r["tile_id"]: r["n_unmatched"] for r in tile_unmatched_counts(pages, join_out).collect()}
    total = {r["tile_id"]: r["n"] for r in with_tile(pages).groupBy("tile_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    matched_urls = {r["url"] for r in join_out.select("url").distinct().collect()}
    matched_tiles = {}
    for r in with_tile(pages).select("url", "tile_id").collect():
        if r["url"] in matched_urls:
            matched_tiles[r["tile_id"]] = matched_tiles.get(r["tile_id"], 0) + 1
    for t, n in total.items():
        assert unmatched.get(t, 0) + matched_tiles.get(t, 0) == n


def test_knn_k_crosses_ring_boundary(spark):
    """k=3 where the 2nd and 3rd nearest polygons live BEYOND the first
    window's rings: round 1 (rings 0-1) finds only polygon A, so the page
    cannot finalize (k unmet); round 2 (rings 2-15) surfaces B (ring 3)
    and C (ring 5) and the k-th-distance guarantee closes. B also has a
    second, farther vertex (ring 6) — the distinct-poly_id merge must
    give B ONE slot at its MIN distance. Verified against an independent
    NumPy brute force (min per pid over vertices, rank by (d2, pid)), with
    the polygon side as a driver list and as a polygons table."""
    import numpy as np

    from openaip_yaixm_to_geojson_spark.operators.knn import (
        _seg_d2_np,
        _segment_arrays,
        _vertex_arrays,
        knn_edge_k,
        knn_k,
    )
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygons_to_df

    def tri(pid, cx, cy, extra=None):
        ring = [[cx, cy], [cx + 0.01, cy], [cx, cy + 0.01]]
        if extra is not None:
            ring.append(extra)
        ring.append([cx, cy])
        return {"poly_id": pid, "name": f"P{pid}", "type": "CTA", "class": "D", "ring": ring}

    polys = [
        tri(1, 0.15, 0.05),                          # ring 0 from the page
        tri(2, 2.30, 0.05, extra=[4.50, 0.05]),      # rings 3 and 6 (dedup)
        tri(3, 3.60, 0.05),                          # ring 5
    ]
    pages = spark.createDataFrame([("u1", 0.05, 0.05)], "url string, lat double, lon double")

    pids, vx, vy = _vertex_arrays(polys)
    d2 = (vx - 0.05) ** 2 + (vy - 0.05) ** 2
    per_pid = sorted((min(d2[pids == p]), int(p)) for p in np.unique(pids))
    want = sorted((i + 1, p, d) for i, (d, p) in enumerate(per_pid[:3]))

    # edge variant crosses the same boundary; segment distances via the
    # shared exact kernel (the nearest point of A's hypotenuse beats its
    # vertices, so the edge distance differs from the vertex distance)
    spids, ax, ay, bx, by = _segment_arrays(polys)
    ed2 = _seg_d2_np(
        np.full(len(ax), 0.05), np.full(len(ax), 0.05), ax, ay, bx, by
    )
    eper = sorted((min(ed2[spids == p]), int(p)) for p in np.unique(spids))
    ewant = sorted((i + 1, p, d) for i, (d, p) in enumerate(eper[:3]))

    for polygons in (polys, polygons_to_df(spark, polys)):
        got = sorted(
            (r["rnk"], r["poly_id"], r["dist_sq"]) for r in knn_k(pages, polygons).collect()
        )
        assert got == want
        # the three slots are distinct polygons and B's slot is its MIN vertex
        assert [p for _, p, _ in got] == [1, 2, 3]
        assert got[1][2] == (2.30 - 0.05) ** 2
        egot = sorted(
            (r["rnk"], r["poly_id"], r["dist_sq"])
            for r in knn_edge_k(pages, polygons).collect()
        )
        assert egot == ewant


def test_polygon_contains_pairs_synthetic(spark):
    """Nested squares: outer 1 contains inner 2; 3 properly crosses 1 (not
    contained); 4 is disjoint. Directed output, candidate step included;
    a driver list and a polygons TABLE give the same rows."""
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygon_contains_pairs, polygons_to_df

    def sq(pid, x0, y0, s, name="P"):
        ring = [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]]
        return {"poly_id": pid, "ring": ring, "name": name, "type": "CTA", "class": "D"}

    polys = [
        sq(1, 0.0, 0.0, 4.0),      # outer
        sq(2, 1.0, 1.0, 1.0),      # nested inside 1
        sq(3, 3.0, 3.0, 4.0),      # crosses 1's boundary
        sq(4, 10.0, 10.0, 1.0),    # disjoint
    ]
    for side in (polys, polygons_to_df(spark, polys)):
        got = sorted((r["outer_poly"], r["inner_poly"]) for r in polygon_contains_pairs(spark, side).collect())
        assert got == [(1, 2)]


def test_morton_key_quadrant_recursion_and_locality():
    """morton(x, y, res) div 4 == morton(x div 2, y div 2, res-1) — the
    quadtree recursion that makes a z-sorted table prune on both axes —
    plus NumPy-vs-formula spot equality."""
    import numpy as np

    from openaip_yaixm_to_geojson_spark.functions.cellgrid import morton_np

    rng = np.random.default_rng(7)
    x = rng.integers(0, 1 << 12, 500)
    y = rng.integers(0, 1 << 12, 500)
    z = morton_np(x, y, 12)
    zp = morton_np(x >> 1, y >> 1, 11)
    assert (z >> 2 == zp).all()
    # hand case: x=0b101, y=0b011 -> interleave y2x2 y1x1 y0x0 = 0b011011... :
    # bits: x=5 (101), y=3 (011) -> z = 1*1 + 1*2 + 0*4 + 1*8 + 1*16 + 0*32 = 27
    assert morton_np(np.array([5]), np.array([3]), 3)[0] == 27


def test_knn_k_arrow_disabled_default_dtypes(spark, polygons, monkeypatch):
    """Round-5 driver red regression: with spark.sql.execution.arrow.pyspark
    .enabled=false (Spark's DEFAULT, hence the driver's vanilla harness) the
    non-arrow createDataFrame fallback used to widen the pandas int32
    poly_id to bigint, mismatching the top-k fold's hard-coded int zero
    and raising DATATYPE_MISMATCH.ARRAY_FUNCTION_DIFF_TYPES (the fold's
    zero now takes the index key's type). Explicit schemas at the
    index createDataFrame sites fix it; this pins both k>1 variants to a
    full .collect() with arrow OFF, and value-checks knn_k's rnk=1 row
    against the k=1 path."""
    from openaip_yaixm_to_geojson_spark.operators import knn as knn_mod
    from openaip_yaixm_to_geojson_spark.operators.knn import (
        knn_bruteforce,
        knn_edge_k,
        knn_k,
    )
    from openaip_yaixm_to_geojson_spark.sources.pages import pages_from_documents

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        pages = pages_from_documents(spark, SF_DIR)
        rows = knn_k(pages, polygons).collect()
        assert rows and {r["rnk"] for r in rows} == {1, 2, 3}
        top1 = {r["url"]: (r["poly_id"], r["dist_sq"]) for r in rows if r["rnk"] == 1}
        brute = {
            r["url"]: (r["poly_id"], r["dist_sq"])
            for r in knn_bruteforce(pages, polygons).collect()
        }
        assert top1 == brute
        monkeypatch.setattr(knn_mod, "KNN_K", 2)
        edge_rows = knn_edge_k(pages, polygons).collect()
        assert edge_rows and {r["rnk"] for r in edge_rows} == {1, 2}
    finally:
        spark.conf.set(key, prev)
