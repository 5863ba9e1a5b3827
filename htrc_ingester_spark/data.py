"""Deterministic synthetic fixtures (FIXTURES.md group A). Seed-stable:
same seed ⇒ bit-identical tables, so phash/digest test vectors are fixed
(the reference pins known checksum vectors the same way,
TestUtil.java:64-112).

No external data: everything derives from ``numpy.random.Generator``
seeded with ``seed`` (default 42).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .codec import encode_image, phash64

# hot-cluster centers (lon, lat) — include an antimeridian-adjacent and a
# high-latitude cluster to exercise wrap + polar handling and hot-cell skew
HOT_CENTERS = [
    (-122.42, 37.77),   # SF
    (2.35, 48.86),      # Paris
    (139.69, 35.68),    # Tokyo
    (179.9, -16.5),     # Fiji (antimeridian)
    (25.0, 78.2),       # Svalbard (high lat)
]


def images_meta_pdf(n: int, seed: int = 42) -> pd.DataFrame:
    """Metadata-only images table (no bytes) — cheap at bench scale.

    80% of points cluster tightly around HOT_CENTERS (power-law-ish
    hot-cell skew per north_star), 20% uniform; plus pinned edge-case
    rows: lon exactly ±180, lat ±89.9, (0, 0).
    """
    rng = np.random.default_rng(seed)
    n_hot = int(n * 0.8)
    centers = np.array(HOT_CENTERS)
    idx = rng.integers(0, len(centers), n_hot)
    # skew within hot: first center gets quadratically more mass
    idx = np.minimum(idx, rng.integers(0, len(centers), n_hot))
    lon = np.empty(n, dtype=np.float64)
    lat = np.empty(n, dtype=np.float64)
    lon[:n_hot] = centers[idx, 0] + rng.normal(0, 0.05, n_hot)
    lat[:n_hot] = centers[idx, 1] + rng.normal(0, 0.05, n_hot)
    n_uni = n - n_hot
    lon[n_hot:] = rng.uniform(-180.0, 180.0, n_uni)
    lat[n_hot:] = rng.uniform(-90.0, 90.0, n_uni)
    # pinned edge cases (overwrite the first uniform rows if present)
    pins = [(-180.0, 0.0), (180.0, 0.0), (179.999, -16.6), (0.0, 89.9), (0.0, -89.9), (0.0, 0.0)]
    for j, (plon, plat) in enumerate(pins):
        if n_hot + j < n:
            lon[n_hot + j], lat[n_hot + j] = plon, plat
    lon = (lon + 180.0) % 360.0 - 180.0
    lat = np.clip(lat, -90.0, 90.0)
    ids = np.array([f"img{i:012d}" for i in range(n)])
    w = (16 + (rng.integers(0, 49, n))).astype(np.int32)
    h = (16 + (rng.integers(0, 49, n))).astype(np.int32)
    fmt = np.where(rng.random(n) < 0.5, "png", "jpeg")
    caption = np.array(
        [f"caption for {ids[i]} at {lat[i]:.4f},{lon[i]:.4f}" for i in range(n)]
    )
    # metadata-only phash: deterministic surrogate derived from id (real
    # phash needs pixels; images_pdf computes it)
    ph = np.array([np.int64(hash_surrogate(s)) for s in ids])
    return pd.DataFrame(
        {
            "image_id": ids,
            "w": w,
            "h": h,
            "fmt": fmt,
            "caption": caption,
            "phash": ph,
            "lon": lon,
            "lat": lat,
        }
    )


def hash_surrogate(s: str) -> int:
    """Deterministic 63-bit FNV-1a (codec.hash_surrogate_ns alias)."""
    from .codec import hash_surrogate_ns

    return hash_surrogate_ns(s)


def images_pdf(n: int, seed: int = 42) -> pd.DataFrame:
    """Full images table with real encoded bytes + real DCT phash.
    Use small n (tests) — encoding is driver-side and O(n·w·h)."""
    meta = images_meta_pdf(n, seed)
    rng = np.random.default_rng(seed + 1)
    all_bytes, phs = [], []
    for i in range(n):
        w, h = int(meta.w[i]), int(meta.h[i])
        pix = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        data = encode_image(pix, str(meta.fmt[i]))
        all_bytes.append(data)
        phs.append(phash64(pix))
    meta.insert(1, "bytes", pd.Series(all_bytes, dtype=object))
    meta["phash"] = np.array(phs, dtype=np.int64)
    return meta


def polygons(seed: int = 42) -> list[dict]:
    """Polygon fixtures covering every mandatory kind (FIXTURES.md A2):
    simple, concave, antimeridian, polar_cap, degenerate, boundary."""
    polys: list[dict] = []

    def add(pid, ring, kind):
        polys.append({"poly_id": pid, "ring": [(float(a), float(b)) for a, b in ring], "kind": kind})

    # simple convex quads over the first three hot clusters
    for j, (clon, clat) in enumerate(HOT_CENTERS[:3]):
        d = 0.15 + 0.05 * j
        add(
            f"poly_simple_{j}",
            [(clon - d, clat - d), (clon + d, clat - d), (clon + d, clat + d), (clon - d, clat + d), (clon - d, clat - d)],
            "simple",
        )
    # concave star over Paris
    clon, clat = HOT_CENTERS[1]
    star = []
    for k in range(10):
        ang = 2 * np.pi * k / 10
        r = 0.25 if k % 2 == 0 else 0.08
        star.append((clon + r * np.cos(ang), clat + r * np.sin(ang)))
    star.append(star[0])
    add("poly_concave_0", star, "concave")
    # antimeridian-crossing quad around Fiji cluster
    add(
        "poly_anti_0",
        [(179.5, -17.2), (-179.3, -17.2), (-179.3, -15.9), (179.5, -15.9), (179.5, -17.2)],
        "antimeridian",
    )
    # north polar cap: ring at lat 85 winding fully around
    cap = [(lon, 85.0) for lon in range(-180, 181, 30)]
    add("poly_polar_0", cap, "polar_cap")
    # south polar cap
    caps = [(lon, -85.0) for lon in range(-180, 181, 30)]
    add("poly_polar_1", caps, "polar_cap")
    # degenerate: collinear (zero area), repeated vertex, bowtie
    add("poly_degen_line", [(10.0, 10.0), (11.0, 10.0), (12.0, 10.0), (10.0, 10.0)], "degenerate")
    add("poly_degen_pt", [(20.0, 20.0), (20.0, 20.0), (20.0, 20.0), (20.0, 20.0)], "degenerate")
    add(
        "poly_degen_bowtie",
        [(30.0, 30.0), (31.0, 31.0), (31.0, 30.0), (30.0, 31.0), (30.0, 30.0)],
        "degenerate",
    )
    # boundary: axis-aligned square whose edges pass exactly through pinned points
    add(
        "poly_boundary_0",
        [(-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0), (-1.0, -1.0)],
        "boundary",
    )
    return polys


def polygons_holes(seed: int = 42) -> list[dict]:
    """Multi-ring polygon fixtures (even-odd over the ring list,
    FIXTURES.md A2 extension): shell+hole, MultiPolygon, nested
    island-in-a-lake (3 rings), and an antimeridian multipart whose
    HOLE also crosses the antimeridian."""

    def sq(clon: float, clat: float, d: float):
        return [
            (clon - d, clat - d), (clon + d, clat - d), (clon + d, clat + d),
            (clon - d, clat + d), (clon - d, clat - d),
        ]

    sf, paris, tokyo = HOT_CENTERS[0], HOT_CENTERS[1], HOT_CENTERS[2]
    return [
        # classic polygon-with-hole over the dense SF cluster: points
        # land in the annulus AND in the hole
        {"poly_id": "holey_sf", "rings": [sq(*sf, 0.15), sq(*sf, 0.05)],
         "kind": "shell_hole"},
        # MultiPolygon: two disjoint shells, one poly_id
        {"poly_id": "multi_paris_tokyo",
         "rings": [sq(*paris, 0.12), sq(*tokyo, 0.12)], "kind": "multipolygon"},
        # nested even-odd: shell ⊃ hole ⊃ island — in, out, in again
        {"poly_id": "island_paris",
         "rings": [sq(*paris, 0.2), sq(*paris, 0.1), sq(*paris, 0.03)],
         "kind": "nested"},
        # antimeridian shell (wide enough that the uniform 20% of the
        # bench point distribution lands inside at gate scale) with a
        # hole that itself crosses ±180
        {"poly_id": "anti_hole",
         "rings": [
             [(150.0, -40.0), (-150.0, -40.0), (-150.0, 0.0),
              (150.0, 0.0), (150.0, -40.0)],
             [(175.0, -25.0), (-175.0, -25.0), (-175.0, -15.0),
              (175.0, -15.0), (175.0, -25.0)],
         ],
         "kind": "anti_hole"},
    ]


def polygons_holes_wkt(seed: int = 42) -> list[tuple[str, str]]:
    """The polygons_holes fixtures serialized to OGC-structured WKT:
    shell+hole → POLYGON with two rings, disjoint parts → MULTIPOLYGON,
    the nested island-in-lake → MULTIPOLYGON of (shell, hole) + island
    (the OGC-valid grouping). Parsing these back through geo.wkt must
    reproduce the ring lists bit-for-bit (tests) and the pip_join_holes
    result exactly (pip_join_wkt_input catalog entry)."""
    from .geo.wkt import rings_to_wkt

    groups = {
        "shell_hole": [[0, 1]],
        "multipolygon": [[0], [1]],
        "nested": [[0, 1], [2]],
        "anti_hole": [[0, 1]],
    }
    return [
        (p["poly_id"], rings_to_wkt(p["rings"], groups[p["kind"]]))
        for p in polygons_holes(seed)
    ]


def polygons_holes_wkb(seed: int = 42) -> list[tuple[str, bytes]]:
    """The polygons_holes fixtures serialized to OGC WKB with the same
    structured grouping as polygons_holes_wkt, alternating little/big
    endianness across fixtures so both wire orders are exercised.
    Float64 on the wire → parsing back through geo.wkb must reproduce
    the ring lists bit-for-bit and the pip_join_holes result exactly
    (pip_join_wkb_input catalog entry)."""
    from .geo.wkb import rings_to_wkb

    groups = {
        "shell_hole": [[0, 1]],
        "multipolygon": [[0], [1]],
        "nested": [[0, 1], [2]],
        "anti_hole": [[0, 1]],
    }
    return [
        (p["poly_id"], rings_to_wkb(p["rings"], groups[p["kind"]], big_endian=bool(i % 2)))
        for i, p in enumerate(polygons_holes(seed))
    ]


def polygons_holes_geojson(seed: int = 42) -> dict:
    """The polygons_holes fixtures as a GeoJSON FeatureCollection with
    the same OGC-structured grouping as polygons_holes_wkt (Polygon
    with holes / MultiPolygon parts). Coordinates are emitted as plain
    floats, so parsing back through geo.wkt.polys_from_geojson must be
    float64-exact."""
    groups = {
        "shell_hole": [[0, 1]],
        "multipolygon": [[0], [1]],
        "nested": [[0, 1], [2]],
        "anti_hole": [[0, 1]],
    }
    feats = []
    for p in polygons_holes(seed):
        g = groups[p["kind"]]
        rings = [[[float(a), float(b)] for a, b in r] for r in p["rings"]]
        if len(g) == 1:
            geom = {"type": "Polygon", "coordinates": [rings[i] for i in g[0]]}
        else:
            geom = {
                "type": "MultiPolygon",
                "coordinates": [[rings[i] for i in part] for part in g],
            }
        feats.append(
            {
                "type": "Feature",
                "properties": {"poly_id": p["poly_id"]},
                "geometry": geom,
            }
        )
    return {"type": "FeatureCollection", "features": feats}


def polygons_grid(n: int = 10000) -> list[dict]:
    """Deterministic many-polygon fixture (VERDICT r4 #1): ``n`` small
    diamond quads gridded over the first three hot clusters — enough
    polygons to trip pip_join's cover-as-table dispatch
    (_TABLE_POLYS_BUDGET) and dense enough over the image clusters to
    produce real hits. Every 10th polygon is a ~6×-larger AXIS-ALIGNED
    square so the distributed cover build emits BOTH full and partial
    cells (a diamond's diagonal edges have quadrant-sized bboxes, so
    the conservative classifier never proves a cell full inside one —
    the squares exercise the full-cell path). Pure arithmetic, no RNG —
    the DuckDB crossing oracle embeds the same float64 vertices."""
    step = 0.8 / 57.0
    h_small = 0.45 * step
    h_big = 2.5 * step
    polys: list[dict] = []
    per = [n // 3 + (1 if c < n % 3 else 0) for c in range(3)]
    for c, (clon, clat) in enumerate(HOT_CENTERS[:3]):
        side = int(np.ceil(np.sqrt(per[c])))
        made = 0
        for i in range(side):
            for j in range(side):
                if made >= per[c]:
                    break
                cx = clon + (i - (side - 1) / 2.0) * step
                cy = clat + (j - (side - 1) / 2.0) * step
                if (i * side + j) % 10 == 0:
                    h = h_big
                    ring = [
                        (cx - h, cy - h),
                        (cx + h, cy - h),
                        (cx + h, cy + h),
                        (cx - h, cy + h),
                        (cx - h, cy - h),
                    ]
                else:
                    h = h_small
                    ring = [
                        (cx, cy - h),
                        (cx + h, cy),
                        (cx, cy + h),
                        (cx - h, cy),
                        (cx, cy - h),
                    ]
                polys.append({"poly_id": f"grid_{c}_{i}_{j}", "ring": ring})
                made += 1
    return polys


def polygons_grid_wkb(n: int = 10000) -> list[tuple[str, bytes]]:
    """The many-polygon grid fixture serialized to OGC WKB — the
    GeoParquet arrival shape at the scale the cover-as-table regime
    exists for (pip_join_wkb_table catalog entry: 10^4 binary polygons
    decode DISTRIBUTED, never on the driver). Endianness alternates so
    both wire orders ride through the batch decoder; float64 on the
    wire keeps the crossing-count oracle's vertices bit-identical."""
    from .geo.wkb import rings_to_wkb

    return [
        (p["poly_id"], rings_to_wkb([p["ring"]], big_endian=bool(i % 2)))
        for i, p in enumerate(polygons_grid(n))
    ]


def polygons_grid_wkt(n: int = 10000) -> list[tuple[str, str]]:
    """The many-polygon grid fixture as WKT text — the PostGIS-dump /
    CSV-export arrival shape for the cover-as-table regime
    (pip_join_wkt_table catalog entry: 10^4 text polygons parse
    DISTRIBUTED, never on the driver). rings_to_wkt prints shortest
    round-trip floats, so the crossing-count oracle's vertices stay
    bit-identical through the text wire."""
    from .geo.wkt import rings_to_wkt

    return [
        (p["poly_id"], rings_to_wkt([p["ring"]]))
        for p in polygons_grid(n)
    ]


def knn_queries_pdf(seed: int = 42) -> pd.DataFrame:
    """kNN query fixtures (FIXTURES.md A3): hot-cluster hits, a remote
    point (forces ≥2 k-ring expansions), and an exact-tie point."""
    rows = [
        ("q_sf", -122.42, 37.77, 5),
        ("q_paris", 2.35, 48.86, 1),
        ("q_remote", -45.0, -60.0, 5),       # sparse ocean — multiple ring expansions
        ("q_tie", 0.0, 0.0, 2),              # equidistant pair pinned in tests
        ("q_anti", 179.95, -16.5, 3),        # antimeridian neighborhood
        ("q_pole", 10.0, 89.5, 3),           # near-polar: lon shrink → anisotropic disk
    ]
    return pd.DataFrame(rows, columns=["query_id", "lon", "lat", "k"])
