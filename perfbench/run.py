"""opengxt-spark benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload ring_join --seed 1 --seconds 10 --trace 0

One client (this driver) runs the workload's queries one at a time on
``local[nproc]`` into the ``noop`` sink: a pass builds and executes each
query once, releasing join scratch in between. The run

1. starts a session sized to the host (heap from /proc/meminfo, all cores,
   a fixed shuffle partition count), with every temp path, the planner's
   probe cache and Spark's local dirs under a per-run directory that is
   removed at exit;
2. sets up ``SETUP_REPS`` times: writes the seeded tables, builds and
   persists the replicated inputs; then runs one first pass in the fresh
   session with an empty probe cache, which also collects, untimed, what
   the output checks need and the heap occupancy after a full GC as each
   checked query finishes;
3. runs steady passes, each after a full GC, for about ``--seconds``
   seconds (no pass starts that would end well past them), at least two,
   timing the host-speed reference (``HostSpeed``) right before each
   query;
4. checks every query's output against DuckDB or its own input (see
   ``check.py``);
5. prints a report and, as the last line, one JSON object with the
   end-to-end metrics (``--trace 0``, times scaled to the reference host
   speed) or the per-layer metrics of a traced run (``--trace 1``).

The traced run alternates untraced and traced steady passes, so it also
reports the tracing overhead; its spans and per-query counts are written to
``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import inputs  # noqa: E402
import trace  # noqa: E402
import workloads  # noqa: E402
from opengxt_spark import imageops, joins, session, wds  # noqa: E402

SHUFFLE_PARTITIONS = 8
SETUP_REPS = 3
#: Heap = this share of MemTotal, clamped to [HEAP_MIN_MB, HEAP_MAX_MB]. The
#: whole heap is committed and touched at JVM start (in ``setup_s``), so no
#: timed query pays a first-touch page fault for heap growth.
HEAP_SHARE = 0.125
HEAP_MIN_MB, HEAP_MAX_MB = 2048, 8192

#: The timed end-to-end metrics are scaled to the host speed at which the
#: reference takes REF_NOMINAL_S (see ``HostSpeed``).
E2E_UNITS = {
    "setup_s": "s", "pass_p50_s": "s", "rows_per_s": "rows/s", "live_heap_mb": "MiB",
}
#: Printed with the end-to-end metrics but not in the JSON result: the
#: unscaled wall-clock times, the host-speed reference's median time, and
#: ``first_pass_s`` and ``failed_ops_ratio``. ``first_pass_s`` is one cold
#: pass, a single sample that host speed moves by a third between runs; it is
#: part of ``setup_s``, which bounds it. ``failed_ops_ratio`` is 0 on a
#: correct run, and the result's ``attempted``/``failed`` carry it.
REPORT_ONLY = {
    "setup_wall_s": "s", "pass_p50_wall_s": "s", "rows_per_wall_s": "rows/s",
    "ref_s": "s", "first_pass_s": "s", "failed_ops_ratio": "ratio",
}

#: Host-speed reference (see ``HostSpeed``): a parallel sort of REF_INTS
#: seeded ints in the driver JVM, and a grouped hash sum over REF_ROWS
#: generated rows in a Spark session of fixed settings.
REF_INTS = 2_000_000
REF_ROWS = 1_000_000
REF_SEED = 7
REF_WARMUP = 5
REF_SQL_CONF = {"spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
                "spark.sql.adaptive.enabled": "false"}
#: Timed metrics are scaled to a host on which the reference takes this long.
REF_NOMINAL_S = 0.05

LAYER_UNITS = {
    "session.start_s": "s", "world.materialize_s": "s", "world.input_rows": "rows",
    "planner.probe_calls": "count", "planner.probe_misses": "count",
    "planner.probe_s": "s", "planner.probe_hit_ratio": "ratio",
    "planner.steady_probe_misses": "count",
    "joins.build_s": "s", "joins.build_jobs": "count", "joins.driver_self_s": "s",
    "joins.exec_s": "s", "autocorr.exec_s": "s", "binning.exec_s": "s",
    "raster.exec_s": "s", "imageops.exec_s": "s", "wds.write_s": "s",
    "wds.read_s": "s", "wds.lookup_s": "s", "wds.bytes_written": "B",
    "wds.write_amp": "ratio", "wds.lookup_shards_opened": "count",
    "sql.scan_rows": "rows", "sql.explode_rows": "rows", "sql.candidate_pairs": "rows",
    "sql.refine_rows": "rows", "sql.refine_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.executor_run_s": "s", "spark.gc_s": "s",
    "spark.spill_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.codegen_s": "s",
    "spark.broadcast_bytes": "B", "spark.broadcast_build_s": "s",
    "storage.cached_bytes": "B", "python.rows_sent": "rows",
    "python.bytes_sent": "B", "python.bytes_received": "B",
    "trace.pass_p50_s": "s", "trace.untraced_pass_p50_s": "s", "trace.overhead_s": "s",
}

# Per-query engine counts summed into the workload-level per-layer metrics.
_SUMMED = {
    "sql.scan_rows": "scan_rows", "sql.explode_rows": "explode_rows",
    "sql.candidate_pairs": "candidate_pairs", "sql.refine_rows": "refine_rows",
    "spark.jobs": "jobs", "spark.stages": "stages", "spark.tasks": "tasks",
    "spark.failed_tasks": "failed_tasks", "spark.executor_run_s": "executor_run_s",
    "spark.gc_s": "gc_s", "spark.spill_bytes": "spill_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes", "spark.codegen_s": "codegen_s",
    "spark.broadcast_bytes": "broadcast_bytes",
    "spark.broadcast_build_s": "broadcast_build_s",
    "python.rows_sent": "python_rows_sent", "python.bytes_sent": "python_bytes_sent",
    "python.bytes_received": "python_bytes_received",
}


# ---------------------------------------------------------------------------
# Host
# ---------------------------------------------------------------------------

def host_shape() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem_mb = mem_kb // 1024
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_mb,
        "heap_mb": int(min(max(mem_mb * HEAP_SHARE, HEAP_MIN_MB), HEAP_MAX_MB)),
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "python": platform.python_version(),
    }


def configure_env(work: str, host: dict) -> None:
    """Point every path the run writes under ``work``, size the session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_PRETOUCH", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host["nproc"]),
        SPARK_DRIVER_MEM=f"{host['heap_mb']}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        OPENGXT_PROBE_CACHE=os.path.join(work, "probes.json"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{host['heap_mb']}m -XX:+AlwaysPreTouch' pyspark-shell"),
    )
    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end, also when a
    signal broke the py4j connection in the middle of a call."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------------------
# Passes
# ---------------------------------------------------------------------------

@dataclass
class QueryRun:
    name: str
    layer: str
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    counts: dict = field(default_factory=dict)
    ref_s: float = 0.0  # the host-speed reference timed right before the query

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s

    @property
    def scaled_s(self) -> float:
        return self.total_s * REF_NOMINAL_S / self.ref_s


@dataclass
class PassRun:
    kind: str  # first | steady | traced
    queries: list[QueryRun] = field(default_factory=list)
    wds_bytes: int = 0

    @property
    def total_s(self) -> float:
        return sum(q.total_s for q in self.queries)


def median_pass_s(passes: list[PassRun], scaled: bool = True) -> float:
    """The median pass time, taken query by query: the sum over the queries
    of each one's median time across ``passes``, scaled to the reference host
    speed by the reference timed right before it, or unscaled. A slow spell
    of the host during one query of one pass moves it less than it moves the
    median of the pass totals."""
    def t(q: QueryRun) -> float:
        return q.scaled_s if scaled else q.total_s

    return sum(statistics.median(t(p.queries[i]) for p in passes)
               for i in range(len(passes[0].queries)))


class HostSpeed:
    """The host-speed reference. The host's speed drifts, from load outside
    the virtual machine, by a quarter within minutes and by more over an
    hour, and every query slows with it; no statistic taken inside one run
    removes that. So the benchmark times a fixed reference right before each
    steady query and scales the query's time by ``REF_NOMINAL_S`` over it.

    The reference is the geometric mean of two fixed jobs that run none of
    the engine's code, so a change to the engine does not move it: a
    parallel sort of a seeded int array in the driver JVM (every core, no
    Spark), and a grouped hash sum over generated rows in a separate Spark
    session whose SQL settings are fixed here (driver planning, tasks on
    every core and a shuffle, like the queries). Alone, the sort tracked the
    ``spatial`` queries' slowdowns less closely, and the Spark job the
    ``image_etl`` ones."""

    def __init__(self, spark) -> None:
        self.arrays = spark._jvm.java.util.Arrays
        self.data = spark._jvm.java.util.Random(REF_SEED).ints(REF_INTS).toArray()
        self.session = spark.newSession()
        for k, v in REF_SQL_CONF.items():
            self.session.conf.set(k, v)
        self.parts = spark.sparkContext.defaultParallelism
        self.samples: list[float] = []
        for _ in range(REF_WARMUP):
            self.sample()
        self.samples.clear()

    def sample(self) -> float:
        copy = self.arrays.copyOf(self.data, REF_INTS)
        t0 = time.perf_counter()
        self.arrays.parallelSort(copy)
        t1 = time.perf_counter()
        (self.session.range(0, REF_ROWS, 1, self.parts)
         .selectExpr("id % 1024 AS k", "hash(id) AS h")
         .groupBy("k").sum("h")
         .write.format("noop").mode("overwrite").save())
        t2 = time.perf_counter()
        dt = math.sqrt((t1 - t0) * (t2 - t1))
        self.samples.append(dt)
        return dt


class Bench:
    def __init__(self, wl: workloads.Workload, seed: int, seconds: float,
                 traced: bool, work: str, host: dict) -> None:
        self.wl, self.seed, self.seconds, self.traced = wl, seed, seconds, traced
        self.work, self.host = work, host
        self.spark = None
        self.tracer: trace.Tracer | None = None
        self.ctx: workloads.Context | None = None
        self.table_rows: dict[str, int] = {}
        self.heap_mb: list[float] = []
        self.fingerprints: dict = {}
        self.speed: HostSpeed | None = None

    # -- set-up ------------------------------------------------------------

    def start(self) -> float:
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            f"perfbench-{self.wl.name}", shuffle_partitions=SHUFFLE_PARTITIONS)
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        jvm = self.spark._jvm
        self.host["java"] = jvm.java.lang.System.getProperty("java.version")
        self.host["spark"] = self.spark.version
        self.ctx = workloads.Context(self.spark, "", self.work, self.seed)
        if self.traced:
            self.tracer = trace.Tracer(self.spark)
        return start_s

    def setup(self) -> list[float]:
        """Write the seeded tables and materialize the inputs, SETUP_REPS
        times; the last set stays live."""
        times = []
        for r in range(SETUP_REPS):
            old = self.ctx.sf_dir
            t0 = time.perf_counter()
            self.ctx.sf_dir = os.path.join(self.work, f"sf{r}")
            self.table_rows = inputs.write_tables(self.ctx.sf_dir, self.wl.shape, self.seed)
            workloads.materialize(self.ctx, self.wl)
            times.append(time.perf_counter() - t0)
            if old:
                shutil.rmtree(old, ignore_errors=True)
        workloads.describe_images(self.ctx)
        return times

    # -- passes ------------------------------------------------------------

    def _span(self, name: str, kind: str, traced: bool, group: bool = False, **attrs):
        if traced:
            return self.tracer.span(name, kind, group=group, **attrs)
        return nullcontext()

    def run_pass(self, kind: str, verify: bool = False) -> PassRun:
        traced = kind == "traced" or (kind == "first" and self.traced)
        rec = PassRun(kind)
        ctx = self.ctx
        if "imgs" in ctx.frames:
            ctx.next_wds_dir()
        if traced:
            self.tracer.probes.install()
        query_spans = []
        try:
            with self._span(f"pass {kind}", "pass", traced):
                for q in self.wl.queries:
                    qr = QueryRun(q.name, q.layer)
                    rec.queries.append(qr)
                    if kind != "first":
                        qr.ref_s = self.speed.sample()
                    with self._span(q.name, "query", traced, layer=q.layer) as qs:
                        query_spans.append(qs)
                        if traced:
                            self.tracer.probes.current = trace.ProbeCounts()
                        self._run_query(q, qr, traced, verify)
                        if traced:
                            p = self.tracer.probes.current
                            qr.counts.update(probe_calls=p.calls, probe_misses=p.misses,
                                             probe_s=p.seconds)
        finally:
            if traced:
                self.tracer.probes.uninstall()
        if ctx.wds_dir and os.path.isdir(ctx.wds_dir):
            rec.wds_bytes = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(ctx.wds_dir) for f in files)
        if verify and "imgs" in ctx.frames:
            self._image_facts()
        if traced:
            self.tracer.harvest()
            for qr, qs in zip(rec.queries, query_spans):
                qr.counts.update(self.tracer.query_counts(qs))
        return rec

    def _run_query(self, q: workloads.Query, qr: QueryRun, traced: bool,
                   verify: bool) -> None:
        df = None
        t0 = time.perf_counter()
        try:
            with self._span("build", "build", traced, group=True):
                df = q.build(self.ctx)
            qr.build_s = time.perf_counter() - t0
            if traced:
                qr.counts["cached_bytes"] = self.tracer.store.cached_bytes()
            t1 = time.perf_counter()
            with self._span("execute", "execute", traced, group=True):
                if df is not None:
                    df.write.format("noop").mode("overwrite").save()
            qr.exec_s = time.perf_counter() - t1
            if traced:
                qr.counts["cached_bytes"] = max(
                    qr.counts["cached_bytes"], self.tracer.store.cached_bytes())
            if verify and q.oracle:
                self._full_gc()
                self.fingerprints[q.name] = check.spark_fingerprint(q.check(df))
                self._sample_heap()
        except Exception:
            qr.error = traceback.format_exc()
            qr.build_s = qr.build_s or time.perf_counter() - t0
            print(f"# query {q.name} failed:\n{qr.error}", file=sys.stderr)
        finally:
            del df
            joins.release_scratch()
            gc.collect()

    def steady_passes(self) -> list[PassRun]:
        """Closed loop for about ``seconds``, at least two passes; a pass
        starts only if a pass as long as the median so far would end within
        half a pass of ``seconds``. Every pass starts after a full GC, from
        the same heap. A traced run alternates untraced and traced passes,
        at least one of each beside the first, which is still warming up
        and so no fair baseline for the tracing overhead."""
        passes: list[PassRun] = []
        walls: list[float] = []
        least = 3 if self.traced else 2
        self.speed = HostSpeed(self.spark)
        t0 = time.perf_counter()
        while len(passes) < least or (
                time.perf_counter() - t0 + statistics.median(walls) / 2 < self.seconds):
            kind = "traced" if self.traced and len(passes) % 2 else "steady"
            self._full_gc()
            w0 = time.perf_counter()
            passes.append(self.run_pass(kind))
            walls.append(time.perf_counter() - w0)
        return passes

    # -- output checks -------------------------------------------------------

    def _full_gc(self) -> None:
        self.spark._jvm.java.lang.System.gc()

    def _sample_heap(self) -> None:
        """Heap occupancy right after a full GC, while the query that just
        ran still holds its plan, broadcasts and scratch. Callers run one
        full GC before the work they sample, so that Spark's cleaner has
        dropped the broadcasts of earlier executions by now."""
        self._full_gc()
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.heap_mb.append(mx.getHeapMemoryUsage().getUsed() / float(1 << 20))

    def _image_facts(self) -> None:
        """Spark's side of the image checks, on the WDS output of the pass
        that just ran."""
        from pyspark.sql import functions as F

        ctx, spark = self.ctx, self.spark
        imgs = ctx.frames["imgs"]
        cols = ["image_id", "okey", "w", "h", "fmt", "caption",
                F.md5("bytes").alias("bytes_md5")]
        lo, hi = ctx.lookup
        in_range = (F.col("okey") >= lo) & (F.col("okey") <= hi)
        f = self.fingerprints
        self._full_gc()
        f["written"] = check.spark_fingerprint(imgs.select(*cols))
        f["read_back"] = check.spark_fingerprint(
            wds.read_wds_shards(spark, ctx.wds_dir).select(*cols))
        self._sample_heap()
        f["in_range"] = check.spark_fingerprint(imgs.where(in_range).select(*cols))
        f["lookup"] = check.spark_fingerprint(
            wds.read_wds_shards(spark, ctx.wds_dir, okey_range=ctx.lookup).select(*cols))
        f["manifest_rows"] = spark.read.parquet(
            os.path.join(ctx.wds_dir, "_manifest")).agg(F.sum("rows")).first()[0]
        self._full_gc()
        f["patchify"] = check.spark_fingerprint(
            imageops.patchify_images(imgs.where(imageops.PERM_GATE_FILTER)))
        self._sample_heap()

    def check_outputs(self) -> dict[str, bool]:
        """Untimed: compare what the first pass collected with DuckDB."""
        ctx, f = self.ctx, self.fingerprints
        if "imgs" in ctx.frames:
            expected = check.duck_fingerprints(
                ctx.sf_dir, {}, {"patchify": "image_patchify"}, self.host["nproc"])
            return {
                "patchify": f.get("patchify") == expected["patchify"],
                "wds_write": f.get("read_back") == f.get("written")
                and f.get("manifest_rows") == ctx.rows["imgs"],
                "wds_read": f.get("read_back") == f.get("written"),
                "wds_lookup": f.get("lookup") == f.get("in_range")
                and f["in_range"][1][0] > 0,
            }
        paths = check.write_layers(ctx.frames, inputs.LAYER_FRAMES,
                                   os.path.join(self.work, "check"))
        jobs = {q.name: q.oracle for q in self.wl.queries}
        expected = check.duck_fingerprints(ctx.sf_dir, paths, jobs, self.host["nproc"])
        ok = {}
        for q in self.wl.queries:
            ok[q.name] = f.get(q.name) is not None and f[q.name] == expected[q.name]
            if not ok[q.name]:
                print(f"# {q.name}: got {f.get(q.name)} expected {expected[q.name]}",
                      file=sys.stderr)
        return ok

    # -- the run -------------------------------------------------------------

    def run(self) -> dict:
        t = [time.perf_counter()]
        start_s = self.start()
        setup = self.setup()
        t.append(time.perf_counter())
        first = self.run_pass("first", verify=True)
        t.append(time.perf_counter())
        passes = self.steady_passes()
        t.append(time.perf_counter())
        checks = self.check_outputs()
        t.append(time.perf_counter())
        res = self.result(start_s, setup, first, passes, checks)
        res["phase_wall_s"] = dict(zip(
            ("setup", "first_pass", "steady", "check"), (b - a for a, b in zip(t, t[1:]))))
        return res

    def result(self, start_s, setup, first, passes, checks) -> dict:
        wl, ctx = self.wl, self.ctx
        runs = [first, *passes]
        attempted = sum(len(p.queries) for p in runs)
        failed = 0
        for p in runs:
            for q in p.queries:
                failed += bool(q.error) or not checks.get(q.name, False)
        untraced = [p for p in passes if p.kind == "steady"]
        pass_p50 = median_pass_s(untraced)
        wall_p50 = median_pass_s(untraced, scaled=False)
        materialize_s = statistics.median(setup)
        setup_wall = start_s + materialize_s + first.total_s
        # Set-up ran before any reference sample: scaled by the run's median.
        ref_s = statistics.median(self.speed.samples)
        rows = ctx.rows[wl.primary] * len(wl.queries)
        e2e = {
            "setup_s": setup_wall * REF_NOMINAL_S / ref_s,
            "pass_p50_s": pass_p50,
            "rows_per_s": rows / pass_p50,
            # Median, not peak: a sample sometimes still holds an earlier
            # execution's broadcasts, which moves the peak between runs four
            # times as much as the median. Every sample is in the result file.
            "live_heap_mb": statistics.median(self.heap_mb),
        }
        out = {
            "workload": wl.name, "seed": self.seed, "trace": int(self.traced),
            "host": self.host,
            "inputs": {"table_rows": self.table_rows, "layer_rows": ctx.rows,
                       "payload_bytes": ctx.payload_bytes,
                       "replicas": wl.shape.replicas},
            "passes": len(untraced), "setup_reps_s": setup, "session_start_s": start_s,
            "checks": checks, "heap_after_gc_mb": self.heap_mb,
            "attempted": attempted, "failed": failed,
            "e2e": e2e,
            "report_only": {
                "setup_wall_s": setup_wall, "pass_p50_wall_s": wall_p50,
                "rows_per_wall_s": rows / wall_p50, "ref_s": ref_s,
                "first_pass_s": first.total_s, "failed_ops_ratio": failed / attempted},
            "per_query": [{"pass": p.kind, **{k: v for k, v in vars(q).items()
                                              if k != "error"},
                           "failed": bool(q.error)}
                          for p in runs for q in p.queries],
        }
        if self.traced:
            out["layers"] = self.layer_metrics(start_s, materialize_s, first, passes)
            out["spans"] = self.tracer.dump()
        return out

    def layer_metrics(self, start_s, materialize_s, first, passes) -> dict:
        traced = [p for p in passes if p.kind == "traced"]
        untraced = [p for p in passes[1:] if p.kind == "steady"]
        per_pass = [self._pass_layers(p) for p in traced]
        m = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
        probes = [q.counts for q in first.queries]
        calls = sum(c["probe_calls"] for c in probes)
        misses = sum(c["probe_misses"] for c in probes)
        m.update({
            "session.start_s": start_s,
            "world.materialize_s": materialize_s,
            "world.input_rows": sum(self.ctx.rows.values()),
            "planner.probe_calls": calls,
            "planner.probe_misses": misses,
            "planner.probe_s": sum(c["probe_s"] for c in probes),
            "planner.probe_hit_ratio": (calls - misses) / calls if calls else 1.0,
            "trace.pass_p50_s": median_pass_s(traced),
            "trace.untraced_pass_p50_s": median_pass_s(untraced),
        })
        m["trace.overhead_s"] = m["trace.pass_p50_s"] - m["trace.untraced_pass_p50_s"]
        return {k: m[k] for k in LAYER_UNITS}

    def _pass_layers(self, p: PassRun) -> dict:
        qs = p.queries

        def total(layer, attr="total_s"):
            return sum(getattr(q, attr) for q in qs if q.layer == layer)

        def by_name(name):
            return sum(q.total_s for q in qs if q.name == name)

        joins_q = [q for q in qs if q.layer == "joins"]
        m = {k: float(sum(q.counts.get(c, 0) for q in qs)) for k, c in _SUMMED.items()}
        m.update({
            "planner.steady_probe_misses": sum(q.counts["probe_misses"] for q in qs),
            "joins.build_s": total("joins", "build_s"),
            "joins.build_jobs": sum(q.counts["build_jobs"] for q in joins_q),
            "joins.driver_self_s": sum(q.counts["driver_self_s"] for q in joins_q),
            "joins.exec_s": total("joins", "exec_s"),
            "autocorr.exec_s": total("autocorr"),
            "binning.exec_s": total("binning"),
            "raster.exec_s": total("raster"),
            "imageops.exec_s": total("imageops"),
            "wds.write_s": by_name("wds_write"),
            "wds.read_s": by_name("wds_read"),
            "wds.lookup_s": by_name("wds_lookup"),
            "wds.bytes_written": p.wds_bytes,
            "wds.write_amp": p.wds_bytes / self.ctx.payload_bytes
            if self.ctx.payload_bytes else 0.0,
            "wds.lookup_shards_opened": sum(
                q.counts.get("files_read", 0) for q in qs if q.name == "wds_lookup"),
            "storage.cached_bytes": max(q.counts.get("cached_bytes", 0) for q in qs),
        })
        cand = m["sql.candidate_pairs"]
        m["sql.refine_ratio"] = m["sql.refine_rows"] / cand if cand else 0.0
        return m


# ---------------------------------------------------------------------------
# Report
# ---------------------------------------------------------------------------

def report(res: dict) -> dict:
    """Print the human-readable report; return the JSON result line."""
    h, i = res["host"], res["inputs"]
    print(f"# perfbench {res['workload']} seed={res['seed']} trace={res['trace']} "
          f"passes={res['passes']} host: nproc={h['nproc']} heap={h['heap_mb']}MiB "
          f"mem_total={h['mem_total_mb']}MiB spark={h.get('spark')} "
          f"java={h.get('java')} python={h['python']}")
    print(f"# inputs: layer_rows={i['layer_rows']} payload_bytes={i['payload_bytes']} "
          f"replicas={i['replicas']} checks={res['checks']}")
    print(f"# phase wall seconds: "
          f"{ {k: round(v, 2) for k, v in res['phase_wall_s'].items()} }")
    if res["trace"]:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in res["layers"].items()}
        for q in res["per_query"]:
            c = q["counts"]
            print(f"# {q['pass']:>7} {q['name']:<24} build={q['build_s']:.3f}s "
                  f"exec={q['exec_s']:.3f}s jobs={c.get('jobs', 0):.0f} "
                  f"probe_misses={c.get('probe_misses', 0)} "
                  f"candidates={c.get('candidate_pairs', 0):.0f} "
                  f"refined={c.get('refine_rows', 0):.0f}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in res["e2e"].items()}
    for k, v in metrics.items():
        print(f"{k:<30} {v['value']:.6g} {v['unit']}")
    if not res["trace"]:
        for k, unit in REPORT_ONLY.items():
            print(f"{k:<30} {res['report_only'][k]:.6g} {unit}")
    correct = res["failed"] == 0 and all(res["checks"].values())
    return {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = workloads.WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", f"{wl.name}-{os.getpid()}")
    host = host_shape()
    configure_env(work, host)
    bench = Bench(wl, args.seed, args.seconds, bool(args.trace), work, host)
    try:
        res = bench.run()
    finally:
        try:
            if bench.spark is not None:
                stop_spark(bench.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(res, f)
    line = report(res)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
