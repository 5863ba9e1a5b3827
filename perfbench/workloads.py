"""The workloads. Each one writes its seeded inputs to parquet once,
then each call reads them back and drives the engine's public
functions to a complete, checked result.

A workload exposes ``make_inputs()`` (generate, write, compute the
expected result), ``call(tr)`` (one timed call; returns whether the
output matched and the frame whose Catalyst tracker is read), and
``layer_metrics(nodes, root, reader)`` (its layer counters from the
SQL plan nodes and spans of a traced call).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd

import gen
from spans import rows


class NullTracer:
    def span(self, name):
        return nullcontext()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _span_ms(root, name) -> float:
    return sum(s.dur for s in root.walk() if s.name == name)


def _in_span(root, name, nodes):
    """Nodes of the SQL executions that started inside span ``name``."""
    spans = [s for s in root.walk() if s.name == name]
    return [n for n in nodes if any(s.start <= n["start"] <= s.end for s in spans)]


class Workload:
    name = ""
    item = ""
    stream = 0

    def __init__(self, spark, seed: int, scale: float, workdir: str):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.workdir = workdir
        self.input_bytes = 0
        self.extra: dict[str, float] = {}

    def n(self, base: int, floor: int = 1) -> int:
        return max(floor, int(base * self.scale))

    def rng(self):
        # one independent stream per workload class, so a workload that
        # composes others gets unrelated inputs for each part
        return np.random.default_rng([self.seed, self.stream])

    def write(self, name: str, frame: dict | pd.DataFrame) -> str:
        path = os.path.join(self.workdir, f"{name}.parquet")
        pd.DataFrame(frame).to_parquet(path, index=False)
        self.input_bytes += os.path.getsize(path)
        return path

    def digests(self) -> list[str]:
        raise NotImplementedError

    def info(self) -> dict:
        """Workload-specific figures for the run's info line."""
        return {}


class FlagshipPip(Workload):
    """H3-encode → PIP join (broadcast cover) → tile assign → counts."""

    name = "flagship_pip"
    item = "images"
    RES, RES_MAX = 7, 9

    def make_inputs(self):
        rng = self.rng()
        self.input_bytes = 0
        self.images = gen.images(rng, self.n(1_000_000, 1000))
        self.polys = gen.flagship_polygons(rng)
        self.specs = [{"poly_id": p["poly_id"], "rings": p["rings"]} for p in self.polys]
        self.path = self.write("images", self.images)
        self.items = len(self.images["lon"])
        self.expected = gen.expected_pip(self.images["lon"], self.images["lat"], self.polys)

    def digests(self):
        return [gen.digest(self.images.values()), gen.digest(r for p in self.polys for r in p["rings"])]

    def call(self, tr):
        from htrc_ingester_spark.operators.pip_join import pip_join
        from htrc_ingester_spark.operators.tiles import assign_tiles

        with tr.span("bench.read"):
            pts = self.spark.read.parquet(self.path)
        with tr.span("pip_join.pip_join"):
            joined = pip_join(self.spark, pts, self.specs, res=self.RES, res_max=self.RES_MAX)
        with tr.span("tiles.assign_tiles"):
            tiled = assign_tiles(joined)
        out = tiled.groupBy("poly_id", "tile_id").count()
        with tr.span("bench.execute"):
            got = out.collect()
        with tr.span("bench.check"):
            ok = {(r[0], int(r[1])): int(r[2]) for r in got} == self.expected
        return ok, out

    def layer_metrics(self, nodes, root, reader):
        return pip_metrics(nodes, root, "pip_join.pip_join", "images.parquet")


class PipManyPolys(FlagshipPip):
    """10⁴ parcels as a WKB table → pip_join_table (distributed cover,
    cell-keyed shuffle probe) → tile assign → counts."""

    name = "pip_many_polys"
    stream = 3
    RES, RES_MAX = 9, 14

    def make_inputs(self):
        rng = self.rng()
        self.input_bytes = 0
        self.images = gen.images(rng, self.n(1_000_000, 1000))
        self.polys = gen.parcel_polygons(rng, self.n(10_000, 50))
        self.path = self.write("images", self.images)
        self.poly_path = self.write(
            "parcels",
            {"poly_id": [p["poly_id"] for p in self.polys],
             "wkb": [gen.ring_wkb(p["rings"]) for p in self.polys]},
        )
        self.items = len(self.images["lon"])
        self.expected = gen.expected_pip(self.images["lon"], self.images["lat"], self.polys)

    def call(self, tr):
        from htrc_ingester_spark.operators.pip_join import pip_join_table
        from htrc_ingester_spark.operators.tiles import assign_tiles

        with tr.span("bench.read"):
            pts = self.spark.read.parquet(self.path).select("image_id", "lon", "lat")
            polys = self.spark.read.parquet(self.poly_path)
        with tr.span("pip_join.pip_join_table"):
            joined = pip_join_table(self.spark, pts, polys, res=self.RES, res_max=self.RES_MAX)
        with tr.span("tiles.assign_tiles"):
            tiled = assign_tiles(joined)
        out = tiled.groupBy("poly_id", "tile_id").count()
        with tr.span("bench.execute"):
            got = out.collect()
        with tr.span("bench.check"):
            ok = {(r[0], int(r[1])): int(r[2]) for r in got} == self.expected
        return ok, out

    def layer_metrics(self, nodes, root, reader):
        return pip_metrics(nodes, root, "pip_join.pip_join_table", "images.parquet")


def pip_metrics(nodes, root, call_span, points_file):
    scan = rows(nodes, "Scan parquet", points_file)
    gen_rows = rows(nodes, "Generate")
    refine_in = rows(nodes, "ArrowEvalPython")
    refine_hit = rows(nodes, "Filter", "pythonUDF")
    # broadcast regime: the cover is a LocalTableScan (split into its
    # full and partial halves by the optimizer); table regime: the
    # cover is the distributed build's MapInPandas output
    cover = rows(nodes, "LocalTableScan", "cell")
    if not cover:
        cover = max(
            (n["m"].get("number of output rows", 0.0) for n in nodes
             if n["name"].startswith("MapInPandas") and "cell" in n["desc"].split("]")[-1]),
            default=0.0,
        )
    return {
        "pip_join.call_ms": _span_ms(root, call_span),
        "pip_join.scan_rows": scan,
        "pip_join.probe_rows": gen_rows or scan,
        "pip_join.cover_cells": cover,
        "pip_join.candidate_rows": rows(nodes, "BroadcastHashJoin", "__cell")
        + rows(nodes, "SortMergeJoin", "__cell") + rows(nodes, "ShuffledHashJoin", "__cell"),
        "pip_join.refine_rows": refine_in,
        "pip_join.refine_hit_ratio": refine_hit / refine_in if refine_in else 0.0,
        "tiles.call_ms": _span_ms(root, "tiles.assign_tiles"),
    }


class KnnHot(Workload):
    """knn_join_many over hot-cluster points, k=8."""

    name = "knn_hot"
    item = "queries"
    stream = 1
    K = 8

    def make_inputs(self):
        rng = self.rng()
        self.input_bytes = 0
        im = gen.images(rng, self.n(40_000, 2000))
        self.points = {k: im[k] for k in ("image_id", "lon", "lat")}
        self.queries = gen.knn_queries(rng, self.n(200, 20), self.K)
        self.path = self.write("points", self.points)
        self.q_path = self.write("queries", self.queries)
        self.items = len(self.queries["query_id"])
        self.expected = gen.expected_knn(self.points, self.queries)

    def digests(self):
        return [gen.digest(self.points.values()), gen.digest(self.queries.values())]

    def call(self, tr):
        from htrc_ingester_spark.operators.knn_join import knn_auto_res_points, knn_join_many

        with tr.span("bench.read"):
            pts = self.spark.read.parquet(self.path)
            q = self.spark.read.parquet(self.q_path)
        with tr.span("knn_join.knn_auto_res_points"):
            res = knn_auto_res_points(pts, k=self.K)
        with tr.span("knn_join.knn_join_many"):
            out = knn_join_many(self.spark, pts, q, res=res)
        with tr.span("bench.execute"):
            got = out.toPandas()
        with tr.span("bench.check"):
            ok = self.check(got)
        return ok, out

    def check(self, got: pd.DataFrame) -> bool:
        """Each query's returned ids are distinct, and their true
        distances, sorted, equal the brute-force top-k distances (ties
        may pick either id)."""
        lat = dict(zip(self.points["image_id"].tolist(), self.points["lat"]))
        lon = dict(zip(self.points["image_id"].tolist(), self.points["lon"]))
        by_q = {qid: g for qid, g in got.groupby(got["query_id"].astype(np.int64))}
        for i, qid in enumerate(self.queries["query_id"].tolist()):
            exp = self.expected[i]
            g = by_q.get(qid)
            if g is None or len(g) != len(exp) or g["image_id"].nunique() != len(g):
                return False
            ids = g.sort_values("rank")["image_id"].astype(np.int64).to_numpy()
            d = gen.haversine_m(
                self.queries["lat"][i], self.queries["lon"][i],
                np.array([lat[x] for x in ids]), np.array([lon[x] for x in ids]),
            )
            if not np.allclose(np.sort(d), exp, rtol=1e-9, atol=1e-6):
                return False
            if not np.allclose(g.sort_values("rank")["dist_m"].to_numpy(), d, rtol=1e-9, atol=1e-6):
                return False
        return True

    def layer_metrics(self, nodes, root, reader):
        kn = _in_span(root, "knn_join.knn_join_many", nodes)
        execs = {n["exec"] for n in kn}
        rounds = {n["exec"] for n in kn if "collect_list" in n["desc"]}
        return {
            "knn_join.call_ms": _span_ms(root, "knn_join.knn_join_many"),
            "knn_join.rounds": len(rounds),
            "knn_join.jobs": sum(
                1 for s in root.walk() if s.name == "spark.job"
                and s.parent is not None and s.parent.name == "knn_join.knn_join_many"
            ),
            "knn_join.actions": len(execs),
            "knn_join.candidate_rows": rows(kn, "BroadcastHashJoin", "cell")
            + rows(kn, "SortMergeJoin", "cell") + rows(kn, "ShuffledHashJoin", "cell"),
            "knn_join.broadcast_rows": rows(kn, "BroadcastExchange"),
        }


class IngestCommit(Workload):
    """zip decode + METS parse → validate → manifested write → verify
    → error count → table commit → resume."""

    name = "ingest_commit"
    item = "pages"
    stream = 2
    SHARDS = 16

    def make_inputs(self):
        rng = self.rng()
        self.input_bytes = 0
        self.vol = gen.volumes(rng, self.n(40, 8))
        self.path = self.write(
            "volumes", {k: self.vol[k] for k in ("volume_id", "content", "mets_xml")}
        )
        self.expected = gen.expected_ingest(self.vol, self.SHARDS)
        self.items = self.expected["pages"]
        self.calls = 0
        self.resume_walls: list[float] = []

    def digests(self):
        return [gen.digest(self.vol["content"]), gen.digest(self.vol["mets_xml"])]

    def info(self):
        return {
            "resume_s": round(statistics.median(self.resume_walls), 4),
            "stored_bytes_per_input_byte": round(
                self.extra["manifest.stored_bytes_per_input_byte"], 4
            ),
        }

    def call(self, tr):
        from pyspark.sql import functions as F

        from htrc_ingester_spark import manifest as MF
        from htrc_ingester_spark import tables
        from htrc_ingester_spark.functions import md5_shard
        from htrc_ingester_spark.sources import mets as M
        from htrc_ingester_spark.sources import zipsource as Z

        self.calls += 1
        store = os.path.join(self.workdir, f"store-{self.calls}")
        table = os.path.join(self.workdir, f"table-{self.calls}")
        kw = dict(phash_col=None, tile_col=None, id_col="filename")
        with tr.span("bench.read"):
            vols = self.spark.read.parquet(self.path)
        with tr.span("sources.explode_zip_pages"):
            zip_pages = Z.explode_zip_pages(vols)
        with tr.span("sources.parse_mets"):
            parsed = M.parse_mets(vols)
        with tr.span("sources.pages_table"):
            mets_pages, _ = M.pages_table(parsed)
        with tr.span("sources.join_mets_pages"):
            joined, _ = Z.join_mets_pages(zip_pages, mets_pages)
        with tr.span("sources.validate_pages"):
            ok, bad = Z.validate_pages(joined)
        pages = ok.select(
            "volume_id", "filename", "sequence", "byte_count", "md5",
            md5_shard("volume_id", self.SHARDS).alias("bucket"),
        )
        with tr.span("manifest.write_resumable"):
            first = MF.write_resumable(self.spark, pages, store, "bucket", commit_seq=1, **kw)
        with tr.span("manifest.verify_manifests"):
            n_fail = MF.verify_manifests(self.spark, store, "bucket", **kw).count()
        with tr.span("bench.error_count"):
            n_zip_err = zip_pages.where("error is not null").count()
            n_bad = bad.count()
        summary = ok.groupBy("volume_id").agg(
            F.count(F.lit(1)).alias("pages"), F.sum("byte_count").alias("bytes")
        )
        with tr.span("tables.commit"):
            version = tables.commit(summary, table, note="perfbench")
        t = time.perf_counter()
        with tr.span("manifest.resume"):
            again = MF.write_resumable(self.spark, pages, store, "bucket", commit_seq=2, **kw)
        self.resume_walls.append(time.perf_counter() - t)
        with tr.span("bench.check"):
            e = self.expected
            manifests = MF.read_manifests(self.spark, store).agg(
                F.count(F.lit(1)), F.sum("row_count")
            ).first()
            committed = tables.read(self.spark, table, version).agg(
                F.count(F.lit(1)), F.sum("pages")
            ).first()
            ok_all = (
                n_fail == 0 and n_zip_err == 0 and n_bad == e["bad_pages"]
                and first == {"written": e["shards"], "skipped": 0}
                and again == {"written": 0, "skipped": e["shards"]}
                and tuple(manifests) == (e["shards"], e["ok_pages"])
                and tuple(committed) == (e["volumes"], e["ok_pages"])
            )
        self.extra = {
            "sources.bad_pages": n_bad,
            "manifest.partitions_written": first["written"],
            "manifest.partitions_skipped": again["skipped"],
            "manifest.bytes_written": dir_bytes(store),
            "tables.bytes_written": dir_bytes(os.path.join(table, f"v{version}")),
        }
        self.extra["manifest.stored_bytes_per_input_byte"] = (
            self.extra["manifest.bytes_written"] + self.extra["tables.bytes_written"]
        ) / self.input_bytes
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(table, ignore_errors=True)
        return ok_all, None

    def layer_metrics(self, nodes, root, reader):
        decode = [
            n for n in nodes
            if n["name"].startswith("MapInPandas") and "content" in n["desc"]
            and n["m"].get("number of output rows", 0) > 0
        ]
        return {
            "sources.call_ms": sum(
                s.dur for s in root.walk() if s.name.startswith("sources.")
            ),
            "sources.decode_passes": len(decode),
            # a metric shown without a distribution came from one task
            "sources.tasks": max(
                (reader.stage_tasks(n["stages"]) if n["stages"] else 1 for n in decode), default=0
            ),
            "sources.pages_rows": sum(n["m"].get("number of output rows", 0) for n in decode),
            "sources.resume_decode_passes": len(_in_span(root, "manifest.resume", decode)),
            "manifest.write_ms": _span_ms(root, "manifest.write_resumable"),
            "manifest.verify_ms": _span_ms(root, "manifest.verify_manifests"),
            "manifest.resume_ms": _span_ms(root, "manifest.resume"),
            "tables.commit_ms": _span_ms(root, "tables.commit"),
            **self.extra,
        }


class SpatialMix(Workload):
    """The two spatial query kinds a serving session answers, one after
    the other in each call: a flagship_pip call, then a knn_hot call,
    each on its own seeded inputs."""

    name = "spatial_mix"
    item = "images"

    def __init__(self, spark, seed, scale, workdir):
        super().__init__(spark, seed, scale, workdir)
        self.pip = FlagshipPip(spark, seed, scale, workdir)
        self.knn = KnnHot(spark, seed, scale, workdir)

    def make_inputs(self):
        self.pip.make_inputs()
        self.knn.make_inputs()
        self.items = self.pip.items
        self.input_bytes = self.pip.input_bytes + self.knn.input_bytes

    def digests(self):
        return self.pip.digests() + self.knn.digests()

    def call(self, tr):
        with tr.span("phase.flagship_pip"):
            ok_pip, out = self.pip.call(tr)
        with tr.span("phase.knn_hot"):
            ok_knn, _ = self.knn.call(tr)
        return ok_pip and ok_knn, out

    def layer_metrics(self, nodes, root, reader):
        return {
            **self.pip.layer_metrics(_in_span(root, "phase.flagship_pip", nodes), root, reader),
            **self.knn.layer_metrics(_in_span(root, "phase.knn_hot", nodes), root, reader),
        }


WORKLOADS = {
    w.name: w for w in (SpatialMix, IngestCommit, FlagshipPip, KnnHot, PipManyPolys)
}
