#!/usr/bin/env python3
"""Layered benchmark of the spatial-join + tiling engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload flagship_pip --seed 1 --seconds 10 --trace 0

One process drives one workload on one ``get_spark()`` session at
local[<cpus>]: set-up (session start, seeded inputs written to parquet,
expected result, one untimed warm-up call), then a closed loop of
calls for ``--seconds`` (one caller; the next call starts when the
previous result is complete and checked; ``spark.catalog.clearCache()``
before each). The last stdout line is one JSON object:

- ``--trace 0``: the end-to-end metrics (setup_s, wall_s, items_per_s,
  peak_rss_mb);
- ``--trace 1``: untraced and traced calls alternate; the traced ones
  give the per-layer metrics (medians over calls) and the span trees,
  written to ``.perfbench/trace-<workload>-seed<seed>.json``.

See perfbench/README.md for the workloads and metric sources.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
INPUT_REPEATS = 3
# untimed calls before the loop: after only one, the first timed call
# still ran 10-15 % slower than the rest (JIT compiling hot paths)
WARMUP_CALLS = 2


def host_probe() -> float:
    """Seconds for a fixed single-threaded numpy loop: a host-speed
    reading taken beside every run, so runs on a loaded host show."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.random(200_000)
    t = time.perf_counter()
    for _ in range(60):
        a = np.sort(np.sin(a) * 1.0001 + 0.5)
    return time.perf_counter() - t


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process and all its
    descendants (the JVM and the Python workers), sampled from /proc.
    Each process counts its proportional share (Pss) of every resident
    page, so pages the forked Python workers share with their parent
    daemon are counted once, not once per worker."""

    def __init__(self, interval_s: float = 0.25):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def descendants() -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], list(kids.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def sample(self) -> int:
        total = 0
        for pid in [os.getpid(), *self.descendants()]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop_evt.wait(self.interval_s)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def wait_for_children(timeout_s: float = 30.0) -> None:
    """Wait until no descendant of this process is left (the Python
    worker daemon exits after the JVM that started it)."""
    deadline = time.time() + timeout_s
    while time.time() < deadline and RssSampler.descendants():
        time.sleep(0.1)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size multiplier (the benchmark's own tests use a tiny one)")
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "htrc_ingester_spark", "__init__.py")):
        print("perfbench: no htrc_ingester_spark package beside perfbench/; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if importlib.util.find_spec("pyspark") is None:
        print("perfbench: pyspark is not importable", file=sys.stderr)
        return 2

    from workloads import WORKLOADS, NullTracer

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine from the checkout; every
    # temporary file (shuffle, broadcast, Python tempfile) stays in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    cpus = len(os.sched_getaffinity(0))
    probe_s = host_probe()
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        from htrc_ingester_spark.session import get_spark

        spark = get_spark(
            f"perfbench-{args.workload}",
            cores=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": tmp,
                # a pre-touched fixed heap: peak RSS then moves with
                # the engine's off-heap and Python memory, not with
                # when the collector last chose to grow the heap
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
                ),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter() - t0

        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, os.path.join(work, "in"))
        t_inputs = []
        for _ in range(INPUT_REPEATS):
            shutil.rmtree(wl.workdir, ignore_errors=True)
            os.makedirs(wl.workdir)
            t = time.perf_counter()
            wl.make_inputs()
            t_inputs.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm_ok = all(wl.call(NullTracer())[0] for _ in range(WARMUP_CALLS))
        t_warm = time.perf_counter() - t
        setup_s = t_session + median(t_inputs) + t_warm

        result = measure(spark, wl, args, warm_ok)
    finally:
        if spark is not None:
            stop_spark(spark)
        peak = sampler.stop()
        wait_for_children()
        shutil.rmtree(work, ignore_errors=True)

    walls, attempted, failed, layer_calls, tracer = result
    wall_s = median(walls)
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "items_per_s": (wl.items / wall_s if wall_s else 0.0, "1/s"),
        "peak_rss_mb": (peak / 2**20, "MB"),
    }
    info = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "host.probe_s": round(probe_s, 4), "items": wl.items, "item": wl.item,
        "calls": len(walls), "walls_s": [round(w, 3) for w in walls],
        "ops_failed_frac": failed / attempted,
        "setup_parts_s": {"session": round(t_session, 3),
                          "inputs_median": round(median(t_inputs), 3),
                          "warmup": round(t_warm, 3)},
    }
    info.update(wl.info())
    for k, (v, unit) in e2e.items():
        n = len(walls) if k in ("wall_s", "items_per_s") else 1
        print(f"{k:>14} = {v:.4f} {unit}  (n={n})")
    print(json.dumps(info))

    if args.trace:
        units = layer_units()
        metrics = per_layer(units, layer_calls, walls, probe_s, cpus)
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"info": info, "calls": layer_calls, "spans": tracer.dump()}, f)
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": failed == 0 and warm_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }))
    return 0


def measure(spark, wl, args, warm_ok):
    """Closed loop for ``--seconds``. Under --trace 1, odd calls are
    traced and even ones are not, so both walls are measured under the
    same host conditions; end-to-end walls come from untraced calls."""
    from spans import StoreReader, Tracer, python_metrics, self_ms
    from workloads import NullTracer

    tracer = Tracer(spark, args.workload)
    reader = StoreReader(spark) if args.trace else None
    walls, layer_calls = [], []
    attempted = failed = 0
    deadline = time.perf_counter() + args.seconds
    i = 0
    min_calls = 2 if args.trace else 1
    while i < min_calls or time.perf_counter() < deadline:
        traced = bool(args.trace) and i % 2 == 1
        spark.catalog.clearCache()
        ok, df = False, None
        try:
            if traced:
                with tracer.call(i) as root:
                    ok, df = wl.call(tracer)
            else:
                t = time.perf_counter()
                ok, df = wl.call(NullTracer())
                walls.append(time.perf_counter() - t)
        except Exception:
            traceback.print_exc()
        attempted += 1
        failed += not ok
        if traced:
            m, nodes = reader.collect(root, df)
            m.update(python_metrics(nodes))
            m.update(wl.layer_metrics(nodes, root, reader))
            m["bench.execute_ms"] = sum(s.dur for s in root.walk() if s.name == "bench.execute")
            m["bench.check_ms"] = sum(s.dur for s in root.walk() if s.name == "bench.check")
            m["self_ms"] = self_ms(root)
            m["trace.remainder_ms"] = m["self_ms"].get("remainder", 0.0)
            m["trace.wall_ms"] = root.dur
            m["trace.spans"] = sum(1 for _ in root.walk())
            layer_calls.append(m)
        i += 1
    return walls, attempted, failed, layer_calls, tracer


def layer_units() -> dict:
    """{per-layer metric name: unit}, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def per_layer(units, layer_calls, walls, probe_s, cpus) -> dict:
    """Median of each counter over the traced calls, plus tracing
    overhead (traced minus untraced median wall) and the host probe."""
    out = {}
    for k in units:
        vals = [c[k] for c in layer_calls if k in c]
        out[k] = float(median(vals)) if vals else 0.0
    traced = median([c["trace.wall_ms"] for c in layer_calls])
    out["trace.overhead_ms"] = traced - median(walls) * 1e3
    out["host.probe_s"] = probe_s
    out["host.cpus"] = float(cpus)
    return out


if __name__ == "__main__":
    sys.exit(main())
