"""Seeded input generators and independent expected results.

Every input the benchmark feeds the engine is made here from a numpy
``Generator`` seeded by ``--seed``, and every expected output is
computed here with plain numpy / hashlib, without calling the engine's
join, kNN, or ingest code. The only engine import is
``geo.h3lite.latlng_to_cell``, the cell encode the tile hash is
defined over.
"""

from __future__ import annotations

import hashlib
import io
import struct
import zipfile

import numpy as np

EARTH_RADIUS_M = 6_371_008.8

# Five hot clusters: (lon, lat, sigma_deg). One straddles the
# antimeridian, one sits at high latitude under the polar cap polygon.
HOT_CENTRES = np.array(
    [
        [179.6, -17.0, 0.9],   # antimeridian (Fiji)
        [16.0, 78.2, 0.7],     # high latitude (Svalbard)
        [-74.0, 40.7, 0.8],
        [2.3, 48.9, 0.6],
        [139.7, 35.7, 0.8],
    ]
)
HOT_SHARE = 0.8


def wrap_lon(lon):
    return (np.asarray(lon, dtype=np.float64) + 180.0) % 360.0 - 180.0


def hot_points(rng: np.random.Generator, n: int, hot_share: float = HOT_SHARE):
    """(lon, lat) of ``n`` points: ``hot_share`` of them gaussian around
    the five hot centres (cluster sizes 35/25/20/12/8 %), the rest
    area-uniform on the sphere, in random order."""
    n_hot = int(round(n * hot_share))
    weights = np.array([0.35, 0.25, 0.20, 0.12, 0.08])
    which = rng.choice(len(HOT_CENTRES), size=n_hot, p=weights)
    c = HOT_CENTRES[which]
    lon_h = c[:, 0] + rng.normal(0.0, 1.0, n_hot) * c[:, 2] / np.cos(np.radians(c[:, 1]))
    lat_h = np.clip(c[:, 1] + rng.normal(0.0, 1.0, n_hot) * c[:, 2], -89.9, 89.9)
    n_uni = n - n_hot
    lon_u = rng.uniform(-180.0, 180.0, n_uni)
    lat_u = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n_uni)))
    lon = wrap_lon(np.concatenate([lon_h, lon_u]))
    lat = np.concatenate([lat_h, lat_u])
    order = rng.permutation(n)
    return lon[order], lat[order]


def images(rng: np.random.Generator, n: int) -> dict:
    """The image skeleton table: (image_id, lon, lat, phash), rows in
    random order, ids a random permutation."""
    lon, lat = hot_points(rng, n)
    return {
        "image_id": rng.permutation(n).astype(np.int64),
        "lon": lon,
        "lat": lat,
        "phash": rng.integers(-(2**62), 2**62, n, dtype=np.int64),
    }


# ---------------------------------------------------------------------------
# polygons
# ---------------------------------------------------------------------------


def _star(rng, lon0, lat0, r_deg, n_vert, concave=True):
    """Closed star-shaped ring around (lon0, lat0); concave when the
    radii alternate. Longitudes are left continuous (may exceed 180)."""
    t = np.sort(rng.uniform(0.0, 2 * np.pi, n_vert))
    rad = r_deg * rng.uniform(0.55, 1.0, n_vert)
    if concave:
        rad[::2] *= 0.45
    lon = lon0 + rad * np.cos(t) / max(np.cos(np.radians(lat0)), 0.05)
    lat = np.clip(lat0 + rad * np.sin(t), -89.0, 89.0)
    ring = np.column_stack([lon, lat])
    return np.vstack([ring, ring[:1]])


def _wrap_ring(ring):
    out = ring.copy()
    out[:, 0] = wrap_lon(out[:, 0])
    return out


def flagship_polygons(rng: np.random.Generator, n_polys: int = 16) -> list[dict]:
    """~16 polygons: concave stars on every hot cluster (two of them
    with a hole), one crossing the antimeridian, a north polar cap,
    and the rest scattered. Returns engine polygon specs
    ``{"poly_id", "rings"}`` with longitudes wrapped to [-180, 180)."""
    polys: list[dict] = []

    def add(rings):
        polys.append({"poly_id": f"p{len(polys):02d}", "rings": [_wrap_ring(r) for r in rings]})

    for i, (lon0, lat0, sig) in enumerate(HOT_CENTRES):
        outer = _star(rng, lon0 + rng.normal(0, 0.3), lat0 + rng.normal(0, 0.3), 2.2 * sig, 64)
        if i in (2, 3):  # concave shell with a hole
            hole = _star(rng, lon0, lat0, 0.35 * sig, 24, concave=False)
            add([outer, hole])
        else:
            add([outer])
    # antimeridian crosser, centred exactly on the dateline
    add([_star(rng, 180.0, -14.5, 2.0, 64)])
    # north polar cap: a ring winding once around the pole, lat 77.5..78.5
    lon_c = np.linspace(-180.0, 180.0, 145)[:-1]
    lat_c = 78.0 + 0.5 * np.sin(np.radians(3 * lon_c) + rng.uniform(0, 2 * np.pi))
    cap = np.column_stack([lon_c, lat_c])
    polys.append({"poly_id": f"p{len(polys):02d}", "rings": [np.vstack([cap, cap[:1]])], "cap": True})
    while len(polys) < n_polys:
        lon0 = rng.uniform(-170, 170)
        lat0 = rng.uniform(-50.0, 50.0)
        add([_star(rng, lon0, lat0, 2.0, 48)])
    return polys


def parcel_polygons(rng: np.random.Generator, n_polys: int) -> list[dict]:
    """``n_polys`` parcel-sized (0.01-0.06 deg) convex-ish rings placed
    with the same hot-cluster skew as the images."""
    lon, lat = hot_points(rng, n_polys, hot_share=0.9)
    lat = np.clip(lat, -80.0, 80.0)
    polys = []
    for i in range(n_polys):
        ring = _star(rng, lon[i], lat[i], rng.uniform(0.01, 0.06), int(rng.integers(4, 9)), concave=False)
        polys.append({"poly_id": f"q{i:05d}", "rings": [_wrap_ring(ring)]})
    return polys


def ring_wkb(rings) -> bytes:
    """OGC WKB Polygon (little endian) from a list of (N, 2) rings."""
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for r in rings:
        r = np.ascontiguousarray(r, dtype="<f8")
        out.append(struct.pack("<I", len(r)))
        out.append(r.tobytes())
    return b"".join(out)


# ---------------------------------------------------------------------------
# expected PIP result (even-odd ray cast, independent of the engine)
# ---------------------------------------------------------------------------


def _unwrap(lon):
    """Continuous longitudes along a ring (shortest step each time)."""
    step = (np.diff(lon) + 180.0) % 360.0 - 180.0
    return np.concatenate([[lon[0]], lon[0] + np.cumsum(step)])


def _ray_cast(px, py, ring):
    """Even-odd crossings of a rightward ray, planar, ring closed."""
    inside = np.zeros(len(px), dtype=bool)
    x, y = ring[:, 0], ring[:, 1]
    for j in range(len(ring) - 1):
        x1, y1, x2, y2 = x[j], y[j], x[j + 1], y[j + 1]
        if y1 == y2:
            continue
        straddle = (y1 > py) != (y2 > py)
        xcross = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= straddle & (px < xcross)
    return inside


def _in_cap(px, py, ring):
    """North cap: inside iff above the boundary latitude at the point's
    meridian (the boundary is a function of longitude)."""
    lon = _unwrap(ring[:, 0])
    lo = lon.min()
    order = np.argsort(lon[:-1])
    xs, ys = lon[:-1][order], ring[:-1, 1][order]
    xs = np.concatenate([xs, [xs[0] + 360.0]])
    ys = np.concatenate([ys, [ys[0]]])
    q = lo + (px - lo) % 360.0
    return py > np.interp(q, xs, ys)


def _in_ring(px, py, ring):
    """Containment in one ring with the antimeridian handled by moving
    the ring into a continuous frame and the points next to it."""
    u = np.column_stack([_unwrap(ring[:, 0]), ring[:, 1]])
    centre = 0.5 * (u[:, 0].min() + u[:, 0].max())
    qx = centre + (px - centre + 180.0) % 360.0 - 180.0
    return _ray_cast(qx, py, u)


def expected_pip(lon, lat, polys, zoom_res=5, n_tiles=4096) -> dict:
    """{(poly_id, tile_id): count} over every (point, containing poly)."""
    tiles = tile_ids(lon, lat, zoom_res, n_tiles)
    order = np.argsort(lon, kind="stable")
    slon = lon[order]
    out: dict = {}
    for p in polys:
        rings = p["rings"]
        if p.get("cap"):
            lat_min = min(float(r[:, 1].min()) for r in rings)
            idx = np.nonzero(lat > lat_min)[0]
            hit = _in_cap(lon[idx], lat[idx], rings[0])
        else:
            u = _unwrap(rings[0][:, 0])
            lo, hi = u.min(), u.max()
            lat_lo = min(float(r[:, 1].min()) for r in rings)
            lat_hi = max(float(r[:, 1].max()) for r in rings)
            parts = []
            for a, b in ((lo, hi), (lo - 360.0, hi - 360.0), (lo + 360.0, hi + 360.0)):
                i0, i1 = np.searchsorted(slon, [a, b])
                parts.append(order[i0:i1])
            idx = np.unique(np.concatenate(parts))
            idx = idx[(lat[idx] >= lat_lo) & (lat[idx] <= lat_hi)]
            hit = np.zeros(len(idx), dtype=bool)
            for r in rings:
                hit ^= _in_ring(lon[idx], lat[idx], r)
        t, c = np.unique(tiles[idx[hit]], return_counts=True)
        for tt, cc in zip(t.tolist(), c.tolist()):
            out[(p["poly_id"], tt)] = cc
    return out


def tile_ids(lon, lat, zoom_res, n_tiles):
    """assign_tiles' cell→tile mix, recomputed over the h3lite encode."""
    from htrc_ingester_spark.geo.h3lite import latlng_to_cell

    c = np.asarray(latlng_to_cell(lat, lon, zoom_res), dtype=np.int64)
    m1 = c % 1048573
    m2 = (c // 1048573) % 1048573
    return ((m1 * 2654435761 + m2 * 40503) % 2147483647 % n_tiles).astype(np.int64)


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------


def knn_queries(rng: np.random.Generator, n: int, k: int) -> dict:
    """70% of queries near the hot centres, 30% area-uniform."""
    n_hot = int(round(n * 0.7))
    which = np.arange(n_hot) % len(HOT_CENTRES)  # equal share per centre
    c = HOT_CENTRES[which]
    lon_h = c[:, 0] + rng.normal(0, 1, n_hot) * c[:, 2] / np.cos(np.radians(c[:, 1]))
    lat_h = c[:, 1] + rng.normal(0, 1, n_hot) * c[:, 2]
    lon_u = rng.uniform(-180, 180, n - n_hot)
    lat_u = np.degrees(np.arcsin(rng.uniform(-0.95, 0.95, n - n_hot)))
    order = rng.permutation(n)
    return {
        "query_id": np.arange(n, dtype=np.int64),
        "lon": wrap_lon(np.concatenate([lon_h, lon_u]))[order],
        "lat": np.clip(np.concatenate([lat_h, lat_u]), -89.0, 89.0)[order],
        "k": np.full(n, k, dtype=np.int32),
    }


def haversine_m(lat1, lon1, lat2, lon2):
    la1, lo1, la2, lo2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lat1, lon1, lat2, lon2))
    a = np.sin((la2 - la1) / 2) ** 2 + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def expected_knn(points: dict, queries: dict, chunk: int = 64) -> list[np.ndarray]:
    """Brute-force top-k distances per query, ascending."""
    out = []
    plat, plon = points["lat"][None, :], points["lon"][None, :]
    for s in range(0, len(queries["lon"]), chunk):
        qlat = queries["lat"][s:s + chunk, None]
        qlon = queries["lon"][s:s + chunk, None]
        d = haversine_m(qlat, qlon, plat, plon)
        for row, k in zip(d, queries["k"][s:s + chunk]):
            part = np.partition(row, k - 1)[:k]
            out.append(np.sort(part))
    return out


# ---------------------------------------------------------------------------
# ingest volumes
# ---------------------------------------------------------------------------

_METS = "http://www.loc.gov/METS/"
_XLINK = "http://www.w3.org/1999/xlink"
_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz      .,\n", dtype=np.uint8)


def volumes(rng: np.random.Generator, n_vol: int, tamper_share: float = 0.02) -> dict:
    """``n_vol`` volumes of 5-60 pages: (volume_id, content = zip of the
    page texts, mets_xml declaring each page's SIZE and MD5). A
    ``tamper_share`` of volumes (at least one) get one page whose bytes
    change after its checksum was declared."""
    ids, zips, mets = [], [], []
    # the same multiset of page counts for every seed, in seeded order,
    # so the total work does not vary with the seed
    n_pages = rng.permutation(np.linspace(5, 60, n_vol).round().astype(np.int64))
    tampered = np.zeros(n_vol, dtype=bool)
    tampered[rng.choice(n_vol, max(1, round(n_vol * tamper_share)), replace=False)] = True
    for v in range(n_vol):
        vid = f"v{v:05d}"
        buf = io.BytesIO()
        files = []
        divs = []
        bad = int(rng.integers(1, n_pages[v] + 1)) if tampered[v] else -1
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            for i in range(1, n_pages[v] + 1):
                data = _ALPHABET[rng.integers(0, len(_ALPHABET), int(rng.integers(800, 2400)))].tobytes()
                md5 = hashlib.md5(data).hexdigest()
                if i == bad:
                    data = data[:-1] + (b"X" if data[-1:] != b"X" else b"Y")
                name = f"{vid}_{i:08d}.txt"
                # a fixed timestamp: the same seed gives the same bytes
                member = zipfile.ZipInfo(f"{vid}/{name}", date_time=(1980, 1, 1, 0, 0, 0))
                z.writestr(member, data, compress_type=zipfile.ZIP_DEFLATED)
                files.append(
                    f'<METS:file SIZE="{len(data)}" ID="F{i:08d}" SEQ="{i:08d}" '
                    f'CHECKSUM="{md5}" CHECKSUMTYPE="MD5">'
                    f'<METS:FLocat LOCTYPE="OTHER" xlink:href="{name}"/></METS:file>'
                )
                divs.append(
                    f'<METS:div ORDER="{i}" ORDERLABEL="{i}" LABEL="PAGE" TYPE="page">'
                    f'<METS:fptr FILEID="F{i:08d}"/></METS:div>'
                )
        ids.append(vid)
        zips.append(buf.getvalue())
        mets.append(
            f'<METS:mets xmlns:METS="{_METS}" xmlns:xlink="{_XLINK}"><METS:fileSec>'
            f'<METS:fileGrp USE="ocr">{"".join(files)}</METS:fileGrp></METS:fileSec>'
            f'<METS:structMap TYPE="physical"><METS:div TYPE="volume">{"".join(divs)}'
            f"</METS:div></METS:structMap></METS:mets>"
        )
    return {
        "volume_id": ids,
        "content": zips,
        "mets_xml": mets,
        "n_pages": n_pages,
        "tampered": tampered,
    }


def md5_shard_py(key: str, n: int) -> int:
    """The reference's MD5-mod-N shard of a key, with Python ints."""
    return int(hashlib.md5(key.encode()).hexdigest(), 16) % n


def expected_ingest(vol: dict, n_shards: int) -> dict:
    pages = int(vol["n_pages"].sum())
    bad = int(vol["tampered"].sum())
    return {
        "pages": pages,
        "bad_pages": bad,
        "ok_pages": pages - bad,
        "volumes": len(vol["volume_id"]),
        "shards": len({md5_shard_py(v, n_shards) for v in vol["volume_id"]}),
    }


def digest(arrays) -> str:
    """sha256 over a sequence of arrays / bytes / strings, for the
    same-seed ⇒ same-input test."""
    h = hashlib.sha256()
    for a in arrays:
        if isinstance(a, (bytes, str)):
            h.update(a.encode() if isinstance(a, str) else a)
        else:
            h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()
