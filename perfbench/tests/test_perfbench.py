"""The benchmark's own tests. Run from the checkout root:

    python3 -m pytest perfbench/tests -q

The smoke tests start one Spark session per case (about half a
minute each on four cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _digests(name, seed, tmp_path):
    work = tmp_path / f"{name}-{seed}"
    work.mkdir()
    wl = WORKLOADS[name](None, seed, 0.01, str(work))
    wl.make_inputs()
    return wl.digests()


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_seed_fixes_inputs(name, tmp_path):
    a = _digests(name, 7, tmp_path)
    b = _digests(name, 8, tmp_path)
    again = tmp_path / "again"
    again.mkdir()
    assert _digests(name, 7, again) == a
    assert all(x != y for x, y in zip(a, b))


def test_pip_oracle_agrees_with_engine_kernel():
    """The benchmark's ray cast and the engine's kernel are written
    independently; on random points they must agree for every
    flagship polygon (antimeridian, holes, polar cap included)."""
    from htrc_ingester_spark.geo.geometry import points_in_rings

    rng = np.random.default_rng(3)
    lon, lat = gen.hot_points(rng, 50_000)
    for p in gen.flagship_polygons(rng):
        mine = gen.expected_pip(lon, lat, [p])
        engine = points_in_rings(lon, lat, p["rings"])
        tiles = gen.tile_ids(lon[engine], lat[engine], 5, 4096)
        t, c = np.unique(tiles, return_counts=True)
        assert mine == {(p["poly_id"], int(a)): int(b) for a, b in zip(t, c)}, p["poly_id"]


def test_knn_oracle_is_exact_brute_force():
    rng = np.random.default_rng(4)
    pts = {"lon": rng.uniform(-180, 180, 3000), "lat": rng.uniform(-80, 80, 3000)}
    q = gen.knn_queries(rng, 10, 5)
    got = gen.expected_knn(pts, q, chunk=3)
    for i in range(10):
        d = gen.haversine_m(q["lat"][i], q["lon"][i], pts["lat"], pts["lon"])
        assert np.array_equal(got[i], np.sort(d)[:5])


def test_volumes_declare_their_tampering():
    import hashlib
    import io
    import re
    import zipfile

    vol = gen.volumes(np.random.default_rng(5), 30)
    bad = 0
    for content, mets in zip(vol["content"], vol["mets_xml"]):
        declared = dict(re.findall(r'CHECKSUM="(\w+)".*?href="([^"]+)"', mets))
        declared = {v: k for k, v in declared.items()}
        with zipfile.ZipFile(io.BytesIO(content)) as z:
            for name in z.namelist():
                data = z.read(name)
                bad += hashlib.md5(data).hexdigest() != declared[name.rsplit("/", 1)[-1]]
    assert bad == gen.expected_ingest(vol, 16)["bad_pages"] == 1


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_smoke_emits_every_metric(name, trace):
    p = _run(ROOT, "--workload", name, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--scale", "0.02")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
        info = json.loads(lines[-2])
        assert info["ops_failed_frac"] == 0 and info["cpus"] >= 1 and info["host.probe_s"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
