"""Spans and per-layer counters, read from Spark's own stores.

Nothing here touches the engine. A traced call tags its Spark jobs
with ``SparkContext.addJobTag`` (never ``setJobGroup``, which the
engine's job-count tests own) and afterwards reads:

- the core status store (``sc._jsc.sc().statusStore()``): jobs, stages,
  task-time distributions — the ``spark.*`` counters and one span per
  Spark job;
- the SQL status store (``sharedState().statusStore()``): per-node SQL
  metrics of every execution the call's jobs belong to — the
  ``pip_join.*``, ``python.*``, ``knn_join.*`` and ``sources.*`` row
  counts;
- the Catalyst tracker of the call's result frame
  (``queryExecution().tracker()``): ``catalyst.*`` phase times, also
  recorded as spans.

Both stores work with the Spark UI disabled. They are filled by the
listener bus asynchronously, so the reader first waits until the bus
has delivered every event the call posted.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"^-?[\d,]+(\.\d+)?$")
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric value (``'50,455'``, ``'2.5 MiB'``,
    ``'736 ms'``, or ``'total (min, med, max ...)\\n4.2 s (...)'``) as a
    number of rows, bytes or milliseconds."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].strip()
    head = line.split(" (")[0].strip()
    if _NUM.match(head):
        return float(head.replace(",", ""))
    parts = head.split()
    if len(parts) == 2:
        val, unit = parts
        val = float(val.replace(",", ""))
        if unit in _SIZE:
            return val * _SIZE[unit]
        if unit in _TIME:
            return val * _TIME[unit]
    return 0.0


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Span:
    __slots__ = ("name", "start", "end", "parent", "children", "attrs")

    def __init__(self, name, start, end=None, parent=None, attrs=None):
        self.name = name
        self.start = start
        self.end = end
        self.parent = parent
        self.children: list[Span] = []
        self.attrs = attrs or {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def to_json(self, ids) -> dict:
        return {
            "id": ids[id(self)],
            "parent": ids[id(self.parent)] if self.parent is not None else None,
            "name": self.name,
            "start_ms": round(self.start, 3),
            "end_ms": round(self.end, 3),
            **self.attrs,
        }


class Tracer:
    """Records one span tree per traced call. Times are epoch
    milliseconds, the clock Spark's stores use, so Spark job and
    Catalyst phase spans slot into the driver-side tree."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.roots: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time() * 1e3, parent=parent)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time() * 1e3
            self._stack.pop()

    @contextmanager
    def call(self, index: int):
        tag = f"perfbench-{self.workload}-{index}"
        sc = self.spark.sparkContext
        sc.addJobTag(tag)
        try:
            with self.span("call") as root:
                root.attrs.update(workload=self.workload, call=index, tag=tag)
                yield root
        finally:
            sc.removeJobTag(tag)
        self.roots.append(root)

    def dump(self) -> list[dict]:
        out = []
        n = 0
        for root in self.roots:
            ids = {}
            for s in root.walk():
                ids[id(s)] = n
                n += 1
            out.extend(s.to_json(ids) for s in root.walk())
        return out


def self_ms(root: Span) -> dict[str, float]:
    """Self time per span name over one call. Each instant of the call
    goes to the deepest span active then (the latest started among
    equals), so concurrent Spark jobs are not counted twice and the
    values sum to the call's wall. Time no child covers is
    ``remainder``: the benchmark's own glue."""
    spans = list(root.walk())
    depth = {id(root): 0}
    for s in spans[1:]:  # pre-order: every parent comes first
        depth[id(s)] = depth[id(s.parent)] + 1
    cuts = sorted({min(max(t, root.start), root.end) for s in spans for t in (s.start, s.end)})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = 0.5 * (a + b)
        top = max(
            (s for s in spans if s.start <= mid < s.end),
            key=lambda s: (depth[id(s)], s.start),
        )
        name = "remainder" if top is root else top.name
        out[name] = out.get(name, 0.0) + (b - a)
    return out


def _attach(root: Span, name: str, start: float, end: float, attrs: dict) -> Span:
    """Insert a store-derived span under the deepest driver span whose
    interval contains its start."""
    node = root
    while True:
        inner = [
            c for c in node.children
            if not c.name.startswith(("spark.job", "catalyst."))
            and c.start <= start <= c.end
        ]
        if not inner:
            break
        node = inner[0]
    s = Span(name, start, max(end, start), parent=node, attrs=attrs)
    node.children.append(s)
    return s


class StoreReader:
    """Reads the counters of one tagged call out of Spark's stores."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self.bus = jsc.listenerBus()
        self.status = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def jobs(self, tag: str) -> list:
        """JobData of the tag's jobs."""
        return [j for j in _iter(self.status.jobsList(None)) if tag in list(_iter(j.jobTags()))]

    def executions(self, job_ids: set) -> list:
        """SQL executions that ran any of ``job_ids``."""
        return [
            e for e in _iter(self.sql.executionsList())
            if any(int(k) in job_ids for k in _iter(e.jobs().keys()))
        ]

    def nodes(self, execution) -> list[dict]:
        """Plan nodes of one execution with parsed metric values."""
        eid = execution.executionId()
        vals = self.sql.executionMetrics(eid)
        out = []
        for n in _iter(self.sql.planGraph(eid).allNodes()):
            metrics, stages = {}, set()
            for m in _iter(n.metrics()):
                text = _opt(vals.get(m.accumulatorId()))
                metrics[m.name()] = parse_metric(text)
                # distribution-valued metrics name the stage they ran in
                stages.update(int(x) for x in _STAGE.findall(text or ""))
            out.append({
                "exec": eid, "start": float(execution.submissionTime()),
                "name": n.name().strip(), "desc": n.desc(), "m": metrics,
                "stages": stages,
            })
        return out

    def stage_tasks(self, stage_ids) -> int:
        """Most tasks any one of ``stage_ids`` ran."""
        sts = [self.stage(int(s)) for s in stage_ids]
        return max((s.numTasks() for s in sts if s is not None), default=0)

    def stage(self, sid: int):
        """Last attempt of a stage; None for a stage that never ran
        (skipped because its shuffle output was reused)."""
        from py4j.protocol import Py4JJavaError

        try:
            return self.status.lastStageAttempt(sid)
        except Py4JJavaError:
            return None

    def task_skew(self, stage) -> float:
        """max ÷ median task run time of one stage."""
        summ = self.status.taskSummary(
            stage.stageId(), stage.attemptId(), self._quantiles()
        )
        if not summ.isDefined():
            return 1.0
        q = list(_iter(summ.get().executorRunTime()))
        med, mx = float(q[0]), float(q[1])
        return mx / med if med > 0 else 1.0

    def _quantiles(self):
        gw = self.spark.sparkContext._gateway
        arr = gw.new_array(gw.jvm.double, 2)
        arr[0], arr[1] = 0.5, 1.0
        return arr

    def collect(self, root: Span, result_df=None) -> tuple[dict, list[dict]]:
        """Counters for one traced call; adds job and Catalyst spans
        to ``root``. Returns ({metric name: value}, SQL plan nodes)."""
        # every event the call posted (job and execution ends included)
        # has reached the stores
        self.bus.waitUntilEmpty(10_000)
        jobs = self.jobs(root.attrs["tag"])
        job_ids = {j.jobId() for j in jobs}
        m: dict[str, float] = {}
        stages = []
        for j in jobs:
            sub = _opt(j.submissionTime())
            end = _opt(j.completionTime())
            if sub is None or end is None:
                continue
            _attach(root, "spark.job", float(sub.getTime()), float(end.getTime()),
                    {"job_id": j.jobId()})
            for sid in _iter(j.stageIds()):
                st = self.stage(int(sid))
                if st is not None and st.numCompleteTasks() > 0:
                    stages.append(st)
        uniq = {s.stageId(): s for s in stages}.values()
        m["spark.jobs"] = len(jobs)
        m["spark.stages"] = len(uniq)
        m["spark.tasks"] = sum(s.numCompleteTasks() for s in uniq)
        m["spark.executor_run_ms"] = sum(s.executorRunTime() for s in uniq)
        m["spark.executor_cpu_ms"] = sum(s.executorCpuTime() for s in uniq) / 1e6
        m["spark.input_bytes"] = sum(s.inputBytes() for s in uniq)
        m["spark.shuffle_read_bytes"] = sum(s.shuffleReadBytes() for s in uniq)
        m["spark.shuffle_write_bytes"] = sum(s.shuffleWriteBytes() for s in uniq)
        m["spark.spill_bytes"] = sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in uniq)
        m["spark.gc_ms"] = sum(s.jvmGcTime() for s in uniq)
        slowest = max(uniq, key=lambda s: s.executorRunTime(), default=None)
        m["spark.task_skew"] = self.task_skew(slowest) if slowest is not None else 1.0
        cores = self.spark.sparkContext.defaultParallelism
        m["spark.cpu_util"] = m["spark.executor_cpu_ms"] / max(root.dur * cores, 1e-9)
        job_spans = [s for s in root.walk() if s.name == "spark.job"]
        m["spark.job_wall_ms"] = union_ms((s.start, s.end) for s in job_spans)

        for k in ("analysis", "optimization", "planning"):
            m[f"catalyst.{k}_ms"] = 0.0
        if result_df is not None:
            for name, ph in _iter_map(result_df._jdf.queryExecution().tracker().phases()):
                m[f"catalyst.{name}_ms"] = float(ph.durationMs())
                _attach(root, f"catalyst.{name}", float(ph.startTimeMs()),
                        float(ph.endTimeMs()), {})

        ex = self.executions(job_ids)
        nodes = [n for e in ex for n in self.nodes(e)]
        m["sql.executions"] = len(ex)
        return m, nodes


def _iter_map(jmap):
    for kv in _iter(jmap):
        yield kv._1(), kv._2()


def union_ms(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    tot, cs, ce = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if ce is None or s > ce:
            if ce is not None:
                tot += ce - cs
            cs, ce = s, e
        else:
            ce = max(ce, e)
    if ce is not None:
        tot += ce - cs
    return tot


def rows(nodes, name_prefix: str, desc_has: str | None = None, metric="number of output rows") -> float:
    return sum(
        n["m"].get(metric, 0.0)
        for n in nodes
        if n["name"].startswith(name_prefix) and (desc_has is None or desc_has in n["desc"])
    )


PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")


def python_metrics(nodes) -> dict:
    py = [n for n in nodes if n["name"].startswith(PYTHON_NODES)]

    def s(metric):
        return sum(n["m"].get(metric, 0.0) for n in py)

    return {
        "python.total_ms": s("time to run Python workers"),
        "python.init_ms": s("time to initialize Python workers"),
        "python.boot_ms": s("time to start Python workers"),
        "python.bytes_sent": s("data sent to Python workers"),
        "python.bytes_received": s("data returned from Python workers"),
        "python.rows_received": s("number of output rows"),
    }
