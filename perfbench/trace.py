"""Spans and engine counts for the traced run.

Spans are recorded from the benchmark's own files, around the calls into
each engine layer: run -> pass -> query -> {build, execute}. Each build and
execute span sets a Spark job group; after a pass the Spark jobs, stages and
SQL executions carrying that group are read from Spark's status stores (the
SQL store of ``sharedState().statusStore()`` and the core ``statusStore()``,
both populated with the UI off) and attached as child spans. The stores'
records are serialised in bulk through Spark's bundled Jackson, so a harvest
costs a handful of py4j calls rather than one per metric.

Planner probes made inside the engine are counted by wrapping
``planner.cached_count``, ``cached_minmax``, ``max_cell_rows`` and
``choose_strategy`` while a traced pass runs. A call counts as a miss when
``planner.probe_seconds()`` advances during it; nested calls (the counts
inside ``choose_strategy``) count once, at the outermost call.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from opengxt_spark import planner

PROBE_FUNCTIONS = ("cached_count", "cached_minmax", "max_cell_rows", "choose_strategy")

_JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")
_PYTHON_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "AggregateInPandas", "WindowInPandas")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


# ---------------------------------------------------------------------------
# Planner probe counter
# ---------------------------------------------------------------------------

@dataclass
class ProbeCounts:
    calls: int = 0
    misses: int = 0
    seconds: float = 0.0


class ProbeCounter:
    """Wraps the planner's probe functions; counts go to ``current``."""

    def __init__(self) -> None:
        self.current = ProbeCounts()
        self._orig: dict[str, object] = {}
        self._depth = 0

    def install(self) -> None:
        for name in PROBE_FUNCTIONS:
            self._orig[name] = getattr(planner, name)
            setattr(planner, name, self._wrap(self._orig[name]))

    def uninstall(self) -> None:
        for name, fn in self._orig.items():
            setattr(planner, name, fn)
        self._orig.clear()

    def _wrap(self, fn):
        def wrapped(*args, **kw):
            if self._depth:
                return fn(*args, **kw)
            self._depth += 1
            p0 = planner.probe_seconds()
            try:
                return fn(*args, **kw)
            finally:
                self._depth -= 1
                dp = planner.probe_seconds() - p0
                c = self.current
                c.calls += 1
                c.seconds += dp
                c.misses += dp > 0

        wrapped.__wrapped__ = fn
        return wrapped


# ---------------------------------------------------------------------------
# Status-store reader
# ---------------------------------------------------------------------------

def parse_metric(text: str | None, kind: str) -> float:
    """A formatted SQL metric value as a number: rows for ``sum``, bytes for
    ``size``, seconds for ``timing``/``nsTiming``. Aggregated task metrics
    read ``total (min, med, max ...)\\n<total> (...)``; the total is used."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if "\n" in text else text
    head = line.split(" (")[0].strip()
    if kind == "sum":
        try:
            return float(head.replace(",", ""))
        except ValueError:
            return 0.0
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]+)", head)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return val * _SIZE_UNITS.get(unit, 1)
    if kind in ("timing", "nsTiming"):
        return val * _TIME_UNITS.get(unit, 1e-3)
    return val


class StoreReader:
    """Bulk reads of Spark's status stores as Python dicts."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = spark._jvm
        self._sc = sc._jsc.sc()
        self._gw = sc._gateway
        self._jvm = jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._core = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def jobs(self) -> list[dict]:
        return self._json(self._core.jobsList(None))

    def stages(self) -> dict[int, dict]:
        raw = self._json(self._core.stageList(
            None, False, False, self._gw.new_array(self._jvm.double, 0), None))
        out: dict[int, dict] = {}
        for s in raw:
            prev = out.get(s["stageId"])
            if prev is None or s["attemptId"] > prev["attemptId"]:
                out[s["stageId"]] = s
        return out

    def executions(self) -> list[dict]:
        out = []
        for e in self._json(self._sql.executionsList()):
            out.append({"id": e["executionId"], "jobs": [int(j) for j in e["jobs"]],
                        "start": e["submissionTime"], "end": e.get("completionTime")})
        return out

    def plan(self, execution_id: int) -> tuple[list[dict], dict[int, list[int]], dict]:
        """Flattened plan nodes, the child ids of each node, and the
        formatted metric values by accumulator id."""
        graph = self._json(self._sql.planGraph(execution_id))
        values = self._json(self._sql.executionMetrics(execution_id))
        nodes: list[dict] = []

        def walk(ns):
            for n in ns:
                nodes.append(n)
                walk(n.get("nodes") or [])

        walk(graph["nodes"])
        children: dict[int, list[int]] = {}
        for e in graph.get("edges", []):
            children.setdefault(e["toId"], []).append(e["fromId"])
        return nodes, children, values

    def cached_bytes(self) -> int:
        infos = self._json(self._sc.getRDDStorageInfo())
        return int(sum(i.get("memSize", 0) + i.get("diskSize", 0) for i in infos))


# ---------------------------------------------------------------------------
# Plan metrics
# ---------------------------------------------------------------------------

def _node_metric(node: dict, values: dict, name: str) -> float:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return parse_metric(values.get(str(m["accumulatorId"])), m["metricType"])
    return 0.0


def _has_metric(node: dict, name: str) -> bool:
    return any(m["name"] == name for m in node.get("metrics", []))


def _input_rows(node_id: int, by_id: dict, children: dict, values: dict) -> float:
    """Rows a node consumed from one child: the first node down the chain
    that reports output rows (or shuffle records read)."""
    cur = node_id
    for _ in range(64):
        node = by_id.get(cur)
        if node is None:
            return 0.0
        for name in ("number of output rows", "records read"):
            if _has_metric(node, name):
                return _node_metric(node, values, name)
        kids = children.get(cur, [])
        if not kids:
            return 0.0
        cur = min(kids)
    return 0.0


def plan_counts(nodes: list[dict], children: dict, values: dict) -> dict[str, float]:
    """Per-operator counts of one SQL execution.

    Spark fuses the exact refine predicate of a cell join into the join
    condition, so pairs it rejects are counted nowhere. ``candidate_pairs``
    is therefore the rows entering each join's probe (stream) side, and
    ``refine_rows`` the rows the join emits."""
    by_id = {n["id"]: n for n in nodes}
    c = dict.fromkeys((
        "scan_rows", "explode_rows", "candidate_pairs", "refine_rows",
        "codegen_s", "broadcast_bytes", "broadcast_build_s", "python_rows_sent",
        "python_bytes_sent", "python_bytes_received", "files_read"), 0.0)
    for n in nodes:
        name = n["name"]
        rows = _node_metric(n, values, "number of output rows")
        if name.startswith(("Scan", "InMemoryTableScan", "LocalTableScan", "Range")):
            c["scan_rows"] += rows
            if name.startswith("Scan binaryFile"):
                c["files_read"] += _node_metric(n, values, "number of files read")
        elif name == "Generate":
            c["explode_rows"] += rows
        elif name.startswith("WholeStageCodegen"):
            c["codegen_s"] += _node_metric(n, values, "duration")
        elif name == "BroadcastExchange":
            c["broadcast_bytes"] += _node_metric(n, values, "data size")
            c["broadcast_build_s"] += sum(
                _node_metric(n, values, k)
                for k in ("time to collect", "time to build", "time to broadcast"))
        elif name in _JOIN_NODES:
            kids = sorted(children.get(n["id"], []))
            if kids:
                # Child ids follow plan order: the left child has the lower id.
                probe = kids[-1] if "BuildLeft" in n.get("desc", "") else kids[0]
                c["candidate_pairs"] += _input_rows(probe, by_id, children, values)
            c["refine_rows"] += rows
        elif name in _PYTHON_NODES:
            kids = children.get(n["id"], [])
            if kids:
                c["python_rows_sent"] += _input_rows(min(kids), by_id, children, values)
            c["python_bytes_sent"] += _node_metric(n, values, "data sent to Python workers")
            c["python_bytes_received"] += _node_metric(
                n, values, "data returned from Python workers")
    return c


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    kind: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return max(self.end - self.start, 0.0)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans in memory; attaches Spark jobs, stages and SQL
    executions to the build/execute span whose job group they carry."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.store = StoreReader(spark)
        self.probes = ProbeCounter()
        self.spans: list[Span] = []
        self._kids: dict[int, list[Span]] = {}
        self._stack: list[int] = []
        self._groups: dict[str, int] = {}
        self._seen_jobs: set[int] = set()
        self._seen_execs: set[int] = set()

    def _add(self, parent: int | None, name: str, kind: str, start: float,
             end: float = 0.0, attrs: dict | None = None) -> Span:
        sp = Span(len(self.spans), parent, name, kind, start, end, attrs or {})
        self.spans.append(sp)
        if parent is not None:
            self._kids.setdefault(parent, []).append(sp)
        return sp

    @contextmanager
    def span(self, name: str, kind: str, group: bool = False, **attrs):
        sp = self._add(self._stack[-1] if self._stack else None, name, kind,
                       time.time(), attrs=dict(attrs))
        self._stack.append(sp.id)
        sc = self.spark.sparkContext
        if group:
            tag = f"perfbench-{sp.id}"
            self._groups[tag] = sp.id
            sc.setJobGroup(tag, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._stack.pop()

    def harvest(self) -> None:
        """Attach every new job, stage and SQL execution to its span."""
        self.store.drain()
        stages = self.store.stages()
        job_span: dict[int, int] = {}
        for j in self.store.jobs():
            jid = j["jobId"]
            if jid in self._seen_jobs:
                continue
            self._seen_jobs.add(jid)
            parent = self._groups.get(j.get("jobGroup") or "")
            if parent is None:
                continue
            job_span[jid] = parent
            js = self._add(parent, f"job {jid}", "job",
                           (j.get("submissionTime") or 0) / 1e3,
                           (j.get("completionTime") or 0) / 1e3,
                           {"status": j.get("status"),
                            "failed_tasks": j.get("numFailedTasks", 0)})
            for sid in j.get("stageIds", []):
                s = stages.get(sid)
                if s is None or s.get("status") == "SKIPPED":
                    continue
                self._add(
                    js.id, f"stage {sid}", "stage",
                    (s.get("submissionTime") or 0) / 1e3,
                    (s.get("completionTime") or 0) / 1e3,
                    {k: s.get(k, 0) for k in (
                        "numTasks", "numCompleteTasks", "numFailedTasks",
                        "executorRunTime", "jvmGcTime", "memoryBytesSpilled",
                        "diskBytesSpilled", "shuffleWriteBytes", "shuffleReadBytes")})
        for e in self.store.executions():
            if e["id"] in self._seen_execs or not e["jobs"]:
                continue
            parents = {job_span[j] for j in e["jobs"] if j in job_span}
            self._seen_execs.add(e["id"])
            if not parents:
                continue
            nodes, children, values = self.store.plan(e["id"])
            self._add(min(parents), f"sql {e['id']}", "sql",
                      (e["start"] or 0) / 1e3, (e["end"] or 0) / 1e3,
                      plan_counts(nodes, children, values))

    # -- reductions --------------------------------------------------------

    def children(self, span_id: int) -> list[Span]:
        return self._kids.get(span_id, [])

    def self_time(self, sp: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(sp.id)]
        return sp.duration - covered(kids, sp.start, sp.end)

    def query_counts(self, query_span: Span) -> dict[str, float]:
        """Engine counts of one query span, summed over its build and
        execute spans."""
        c: dict[str, float] = {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "gc_s": 0.0, "spill_bytes": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "build_jobs": 0, "driver_self_s": 0.0}
        for leaf in self.children(query_span.id):
            jobs = [s for s in self.children(leaf.id) if s.kind == "job"]
            c["jobs"] += len(jobs)
            if leaf.kind == "build":
                c["build_jobs"] += len(jobs)
                c["driver_self_s"] += leaf.duration - covered(
                    [(j.start, j.end) for j in jobs], leaf.start, leaf.end)
            for j in jobs:
                for st in self.children(j.id):
                    a = st.attrs
                    c["stages"] += 1
                    c["tasks"] += a["numCompleteTasks"]
                    c["failed_tasks"] += a["numFailedTasks"]
                    c["executor_run_s"] += a["executorRunTime"] / 1e3
                    c["gc_s"] += a["jvmGcTime"] / 1e3
                    c["spill_bytes"] += a["memoryBytesSpilled"] + a["diskBytesSpilled"]
                    c["shuffle_write_bytes"] += a["shuffleWriteBytes"]
                    c["shuffle_read_bytes"] += a["shuffleReadBytes"]
            for sq in (s for s in self.children(leaf.id) if s.kind == "sql"):
                for k, v in sq.attrs.items():
                    c[k] = c.get(k, 0.0) + v
        return c

    def dump(self) -> list[dict]:
        return [{"id": s.id, "parent": s.parent, "name": s.name, "kind": s.kind,
                 "start": s.start, "end": s.end, "duration_s": s.duration,
                 "self_s": self.self_time(s), "attrs": s.attrs}
                for s in self.spans]
