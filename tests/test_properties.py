"""Property-based tests (hypothesis) for the pure-numpy geo kernels —
invariants that must hold for EVERY input, not just fixtures.

Independent-oracle discipline: the PIP property checks ray-casting
against a winding-number implementation written here (a genuinely
different algorithm), not against the kernel's own formula.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from htrc_ingester_spark.functions import tile_id_np
from htrc_ingester_spark.geo import geometry as G
from htrc_ingester_spark.geo import h3lite as H

lons = st.floats(min_value=-180.0, max_value=179.999999, allow_nan=False)
lats = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
results = st.integers(min_value=0, max_value=12)


@settings(max_examples=200, deadline=None)
@given(lons, lats, results)
def test_encode_in_range_and_stable(lon, lat, res):
    c = int(H.latlng_to_cell(lat, lon, res))
    assert int(H.cell_res(np.int64(c))) == res
    x, y = H.cell_xy(np.int64(c))
    assert 0 <= int(x) < H.nx(res)
    assert 0 <= int(y) < H.ny(res)
    # the cell's own rectangle contains the point — up to one float
    # rounding at the quantization boundary ((lat+90)/180*ny can round
    # across the edge); the assignment is still deterministic and
    # identical across the numpy / Spark SQL / DuckDB implementations
    lon0, lat0, lon1, lat1 = H.cell_to_boundary(np.array([c]))
    lon_n = float(H.normalize_lon(lon))
    eps = 1e-7
    assert lon0[0] - eps <= lon_n <= lon1[0] + eps
    assert lat0[0] - eps <= lat <= lat1[0] + eps


@settings(max_examples=200, deadline=None)
@given(lons, lats, st.integers(min_value=1, max_value=12))
def test_parent_containment(lon, lat, res):
    child = np.int64(H.latlng_to_cell(lat, lon, res))
    parent = np.int64(H.latlng_to_cell(lat, lon, res - 1))
    assert int(H.cell_to_parent(child, res - 1)) == int(parent)


@settings(max_examples=100, deadline=None)
@given(lons)
def test_normalize_lon_idempotent_and_wrapped(lon):
    n1 = float(H.normalize_lon(lon))
    assert -180.0 <= n1 < 180.0
    assert np.isclose(float(H.normalize_lon(n1)), n1)
    assert np.isclose(float(H.normalize_lon(lon + 360.0)), n1)


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=2**62), st.integers(min_value=2, max_value=4096))
def test_tile_hash_deterministic_in_range(cell, n_tiles):
    t1 = int(tile_id_np(np.array([cell]), n_tiles)[0])
    t2 = int(tile_id_np(np.array([cell]), n_tiles)[0])
    assert t1 == t2
    assert 0 <= t1 < n_tiles


def _winding_number_inside(px, py, r_lon, r_lat):
    """Independent PIP oracle: nonzero winding number, computed on the
    unwrapped ring with the same ±360 candidate shifts the kernel's
    contract documents (points on edges excluded by the caller)."""
    u = G.unwrap_ring(r_lon)
    best = None
    for shift in (-360.0, 0.0, 360.0):
        x = px + shift
        if u.min() - 1e-9 <= x <= u.max() + 1e-9:
            wn = 0
            for i in range(len(u) - 1):
                x1, y1, x2, y2 = u[i], r_lat[i], u[i + 1], r_lat[i + 1]
                if y1 <= py:
                    if y2 > py and (x2 - x1) * (py - y1) - (x - x1) * (y2 - y1) > 0:
                        wn += 1
                elif y2 <= py and (x2 - x1) * (py - y1) - (x - x1) * (y2 - y1) < 0:
                    wn -= 1
            best = best or (wn != 0)
    return bool(best)


@settings(max_examples=150, deadline=None)
@given(
    st.floats(min_value=-0.5, max_value=0.5),
    st.floats(min_value=-0.5, max_value=0.5),
    st.integers(min_value=3, max_value=9),
    st.randoms(use_true_random=False),
)
def test_ray_cast_matches_winding_number_on_convex_polygons(px, py, n, rnd):
    # random convex polygon around origin (sorted angles, CCW)
    angles = sorted(rnd.uniform(0, 2 * np.pi) for _ in range(n))
    radii = [0.2 + 0.6 * rnd.random() for _ in range(n)]
    r_lon = np.array([r * np.cos(a) for r, a in zip(radii, angles)] + [radii[0] * np.cos(angles[0])])
    r_lat = np.array([r * np.sin(a) for r, a in zip(radii, angles)] + [radii[0] * np.sin(angles[0])])
    # skip points within epsilon of any edge (boundary convention differs
    # legitimately between the two algorithms)
    for i in range(len(r_lon) - 1):
        x1, y1, x2, y2 = r_lon[i], r_lat[i], r_lon[i + 1], r_lat[i + 1]
        d = abs((x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)) / max(
            np.hypot(x2 - x1, y2 - y1), 1e-12
        )
        if d < 1e-6:
            return
    got = bool(G.points_in_ring(np.array([px]), np.array([py]), r_lon, r_lat)[0])
    want = _winding_number_inside(px, py, r_lon, r_lat)
    assert got == want


@settings(max_examples=100, deadline=None)
@given(lats, st.integers(min_value=1, max_value=50), st.integers(min_value=3, max_value=8))
def test_knn_required_kx_covers_bound(lat_q, r, res):
    """The anisotropic width must cover every point nearer than the
    bound within the row band: verify via direct haversine at the
    worst-covered longitude edge."""
    from htrc_ingester_spark.operators.knn_join import EARTH_RADIUS_M, _required_kx_batch

    ch = H.cell_h_deg(res)
    bound = r * ch * H.M_PER_DEG_LAT
    kx = int(_required_kx_batch(np.array([bound]), np.array([lat_q]), np.array([r]), res)[0])
    if kx >= H.nx(res):  # full wrap always covers
        return
    # worst case geometry: query at the right edge of its cell, point
    # at the left edge of the first UNcovered column → Δlon = kx·w.
    # That point must be ≥ bound away for EVERY latitude in the band
    # (the band's max cosine is the adversarial latitude).
    dlon = kx * H.cell_w_deg(res)
    band_lo = max(-90.0, lat_q - (r + 1) * ch)
    band_hi = min(90.0, lat_q + (r + 1) * ch)
    # cos is maximized at the band latitude closest to the equator
    lat_adv = 0.0 if band_lo <= 0.0 <= band_hi else min(abs(band_lo), abs(band_hi))
    lam = np.deg2rad(dlon)
    phi_q = np.deg2rad(np.clip(lat_q, -90, 90))
    phi_p = np.deg2rad(lat_adv)
    d = 2 * EARTH_RADIUS_M * np.arcsin(
        np.sqrt(np.cos(phi_q) * np.cos(phi_p)) * abs(np.sin(lam / 2))
    )
    assert d >= bound * (1 - 1e-9)


@settings(max_examples=150, deadline=None)
@given(lons, lats, st.integers(min_value=1, max_value=20))
def test_s2_parent_containment(lon, lat, level):
    """S2-lite hierarchy: masking a child id to a coarser level equals
    encoding directly at that level (floor quantization is
    hierarchical; Morton prefixes nest)."""
    from htrc_ingester_spark.geo import s2lite

    child = int(s2lite.latlng_to_cell(lat, lon, level))
    direct = int(s2lite.latlng_to_cell(lat, lon, level - 1))
    assert int(s2lite.cell_to_parent(np.int64(child), level - 1)) == direct
    assert int(s2lite.cell_level(np.int64(child))) == level


@settings(max_examples=200, deadline=None)
@given(lons, lats, st.integers(min_value=1, max_value=12))
def test_geohash_prefix_hierarchy_and_range(lon, lat, precision):
    """Geohash invariants for every input: encoding at precision p is a
    PREFIX of the precision-(p+1) encoding (hierarchical containment),
    chars come from the base-32 alphabet, and the encode is stable."""
    from htrc_ingester_spark.geo import geohash as GH

    g = GH.encode(np.array([lat]), np.array([lon]), precision)[0]
    g2 = GH.encode(np.array([lat]), np.array([lon]), precision + 1)[0]
    assert len(g) == precision
    assert g2.startswith(g)
    assert all(ch in GH._B32 for ch in g)
    assert GH.encode(np.array([lat]), np.array([lon]), precision)[0] == g


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.tuples(lons, lats), min_size=3, max_size=12),
    lons,
    lats,
)
def test_pip_oracle_generator_matches_kernel_pointwise(ring_pts, plon, plat):
    """For ANY ring hypothesis invents (self-intersecting, collinear,
    tiny), the SQL crossing-count oracle generator must agree with the
    numpy kernel on any query point."""
    import duckdb
    import pandas as pd

    from htrc_ingester_spark.plans.catalog import pip_crossing_oracle_sql

    ring = [(float(a), float(b)) for a, b in ring_pts]
    ring.append(ring[0])
    rl = np.array([p[0] for p in ring])
    rt = np.array([p[1] for p in ring])
    want = bool(G.points_in_ring(np.array([plon]), np.array([plat]), rl, rt)[0])
    con = duckdb.connect()
    con.register("pts_tbl", pd.DataFrame({"image_id": [0], "lon": [plon], "lat": [plat]}))
    sql = pip_crossing_oracle_sql(
        [{"poly_id": "h", "ring": ring}], "select * from pts_tbl"
    )
    got = len(con.sql(sql).df()) == 1
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(st.tuples(lons, lats), min_size=3, max_size=8),
        min_size=2,
        max_size=3,
    ),
    lons,
    lats,
)
def test_pip_oracle_generator_matches_kernel_multi_ring(rings_pts, plon, plat):
    """Multi-ring (holes / MultiPolygon) even-odd: the SQL oracle's
    parity-sum over ALL rings of a poly must equal the XOR of the
    per-ring kernel verdicts for ANY ring set hypothesis invents."""
    import duckdb
    import pandas as pd

    from htrc_ingester_spark.plans.catalog import pip_crossing_oracle_sql

    rings = []
    want = False
    for ring_pts in rings_pts:
        ring = [(float(a), float(b)) for a, b in ring_pts]
        ring.append(ring[0])
        rl = np.array([p[0] for p in ring])
        rt = np.array([p[1] for p in ring])
        want ^= bool(G.points_in_ring(np.array([plon]), np.array([plat]), rl, rt)[0])
        rings.append(ring)
    assert want == bool(
        G.points_in_rings(np.array([plon]), np.array([plat]), rings)[0]
    )
    con = duckdb.connect()
    con.register("pts_tbl", pd.DataFrame({"image_id": [0], "lon": [plon], "lat": [plat]}))
    sql = pip_crossing_oracle_sql(
        [{"poly_id": "h", "rings": rings}], "select * from pts_tbl"
    )
    got = len(con.sql(sql).df()) == 1
    assert got == want


@settings(max_examples=200, deadline=None)
@given(lons, lats, st.integers(min_value=1, max_value=10))
def test_geohash_roundtrip_bbox_contains_point(lon, lat, precision):
    """decode_bbox(encode(p)) must contain p (up to the same one-ULP
    quantization-boundary tolerance as the h3 boundary property)."""
    from htrc_ingester_spark.geo import geohash as GH

    g = GH.encode(np.array([lat]), np.array([lon]), precision)
    lat0, lat1, lon0, lon1 = GH.decode_bbox(g)
    eps = 1e-9
    assert lat0[0] - eps <= lat <= lat1[0] + eps
    assert lon0[0] - eps <= lon <= lon1[0] + eps
