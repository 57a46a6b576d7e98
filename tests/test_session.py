"""Session defaults: host-sized driver heap, compile-free repeated queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from opengxt_spark import autocorr, binning, joins, raster, session, world


def _batch(spark, sf_dir) -> None:
    """One query per builder of the benchmark's ``spatial`` workload, each
    executed into the ``noop`` sink."""
    ev = world.points_events(spark, sf_dir)
    pt = world.points_part(spark, sf_dir)
    rc = world.rects_customer(spark, sf_dir)
    queries = (
        lambda: joins.nearest_join(ev, pt, radius=25.0),
        lambda: joins.knn_join(ev, pt, k=4, radius=50.0, exclude_self=False,
                               mm_exact=True),
        lambda: joins.pip_count_join(ev, rc),
        lambda: autocorr.local_g(ev.withColumn("v", F.expr("w % 97")), 10.0),
        lambda: binning.hex_binning(ev, binning.WORLD_BBOX, 12.0),
        lambda: raster.kernel_density(ev),
        lambda: raster.zonal_stats(spark, rc),
        lambda: raster.footprint_tiles(raster.images_meta(spark, sf_dir)),
    )
    for q in queries:
        q().write.format("noop").mode("overwrite").save()
        joins.release_scratch()


def test_repeat_batch_compiles_nothing(spark, sf_dir):
    """A repeated batch reuses every generated class. The first run of this
    batch compiles 147 classes at sf0.001 under Spark's defaults, more than
    the default 100-entry codegen cache holds, so the second run used to
    recompile 99 of them; pipelines numbered differently by adaptive
    execution added a few more even with a larger cache."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metric.METRIC_COMPILATION_TIME()
    _batch(spark, sf_dir)
    n = compiled.getCount()
    _batch(spark, sf_dir)
    assert compiled.getCount() - n == 0


def test_call_site_capture_off(spark):
    """PySpark's per-call call-site capture (extra py4j round trips on
    every F.* and Column call) is off in the engine's session; PySpark
    reads this key, default "true", to decide."""
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key, "true") == "false"


def test_driver_mem_from_host(monkeypatch):
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    mem = session.driver_mem()
    assert mem.endswith("m")
    assert int(mem[:-1]) <= min(kb / 1024 * 0.55, 48 * 1024)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.driver_mem() == "3g"
