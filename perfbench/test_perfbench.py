"""Self-tests of the benchmark (run: ``python3 -m pytest perfbench -q``).

- The helpers are exact: fingerprints ignore row order and signed zeros,
  metric strings parse, interval unions are measured right.
- At sf0.01 with two replicas, every spatial query's fingerprint equals
  DuckDB running its registry oracle over the same replicated inputs.
- A run of every workload in ``BENCHMARK.json`` prints exactly the metrics
  the file names, for ``--trace 0`` and ``--trace 1``, and passes its checks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import inputs  # noqa: E402
import trace  # noqa: E402

#: The registry oracles the spatial queries are checked against.
ORACLE_QUERIES = {
    "pip_count_rect", "pip_count_skew_salted", "neighbor_count_r15",
    "nearest_join_r25", "knn_join_k4_r50", "local_g_star", "local_morans_i",
    "local_gearys_c", "hex_binning_events", "kernel_density_quartic",
    "zonal_stats_rects", "image_tile_assign",
}


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_fingerprint_ignores_order_and_signed_zero():
    rows = [(1, "a", 0.5), (2, "b", -0.0), (3, None, 1.0000004)]
    cols = ["id", "s", "v"]
    same = [(r[0], r[1], 0.0 if r[2] == 0 else round(r[2], 6)) for r in reversed(rows)]
    assert check.fingerprint(cols, rows) == check.fingerprint(cols, same)
    assert check.fingerprint(cols, rows) != check.fingerprint(cols, rows[:2])
    # Column order does not matter; names do.
    swapped = [(r[2], r[0], r[1]) for r in rows]
    assert check.fingerprint(["v", "id", "s"], swapped) == check.fingerprint(cols, rows)


def test_parse_metric_and_covered():
    agg = "total (min, med, max (stageId: taskId))\n2.7 s (658 ms, 671 ms, 673 ms)"
    assert trace.parse_metric(agg, "timing") == pytest.approx(2.7)
    assert trace.parse_metric("475 ms", "timing") == pytest.approx(0.475)
    assert trace.parse_metric("16.1 MiB", "size") == pytest.approx(16.1 * 2**20)
    assert trace.parse_metric("12,345", "sum") == 12345
    assert trace.parse_metric(None, "sum") == 0
    assert trace.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace.covered([(0, 2), (1, 3)], 1.5, 2.5) == 1


def test_displacement_is_seeded():
    d = inputs.Displacement.from_seed(7)
    assert d == inputs.Displacement.from_seed(7)
    assert d != inputs.Displacement.from_seed(8)


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    import run
    import workloads

    work = str(tmp_path_factory.mktemp("perfbench"))
    host = run.host_shape()
    run.configure_env(work, host)
    wl = workloads.WORKLOADS["cell_stats"]
    small = workloads.Workload(
        "all_spatial", wl.why, inputs.Shape(events=0.1, part=0.1, customer=0.1,
                                            orders=0.1, replicas=2),
        wl.layers, workloads.RING_QUERIES + workloads.CELL_QUERIES, wl.primary)
    b = run.Bench(small, seed=5, seconds=0, traced=False, work=work, host=host)
    b.start()
    try:
        yield b
    finally:
        run.stop_spark(b.spark)


def test_spatial_fingerprints_match_duckdb_oracles(bench):
    assert {q.oracle for q in bench.wl.queries} == ORACLE_QUERIES
    ctx = bench.ctx
    ctx.sf_dir = os.path.join(bench.work, "sf")
    inputs.write_tables(ctx.sf_dir, bench.wl.shape, bench.seed)
    import workloads

    workloads.materialize(ctx, bench.wl)
    assert ctx.rows["ev"] == 2 * inputs.SF01_ROWS["events"] // 10
    rec = bench.run_pass("first", verify=True)
    assert not [q.error for q in rec.queries if q.error]
    assert bench.check_outputs() == dict.fromkeys(ORACLE_QUERIES, True)


@pytest.mark.parametrize("traced", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _benchmark()["workloads"]])
def test_run_prints_every_metric(workload, traced):
    spec = _benchmark()
    cmd = spec["command"] + ["--workload", workload, "--seed", "3",
                             "--seconds", "1", "--trace", str(traced)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    listed = spec["per_layer" if traced else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    printed = "\n".join(lines[:-1])
    if not traced:
        assert "failed_ops_ratio" in printed
    assert not os.path.exists(os.path.join(HERE, ".work")) or not os.listdir(
        os.path.join(HERE, ".work"))
