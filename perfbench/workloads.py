"""The benchmark workloads: their inputs and their timed queries.

Every query drives the engine only through the public functions of
``world``, ``planner``, ``joins``, ``autocorr``, ``binning``, ``raster``,
``imageops`` and ``wds``. A query's ``oracle`` names the registry query
(``opengxt_spark.driver_queries``) whose DuckDB SQL computes the same rows;
``check`` projects the timed output onto that query's output columns.
"""

from __future__ import annotations

import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opengxt_spark import autocorr, binning, imageops, joins, raster, wds, world

import inputs

#: One query: ``build(ctx)`` runs the query's eager plan-time work and
#: returns the DataFrame the timed pass executes into the ``noop`` sink, or
#: None when the call itself is the action (the WDS writer).
Build = Callable[["Context"], "DataFrame | None"]


@dataclass
class Query:
    name: str
    layer: str
    build: Build
    oracle: str | None = None
    check: Callable[[DataFrame], DataFrame] = lambda df: df


@dataclass
class Context:
    """Live inputs of one run plus per-pass scratch (the WDS directory)."""

    spark: SparkSession
    sf_dir: str
    work_dir: str
    seed: int
    frames: dict[str, DataFrame] = field(default_factory=dict)
    rows: dict[str, int] = field(default_factory=dict)
    payload_bytes: int = 0
    wds_dir: str = ""
    lookup: tuple[int, int] = (0, 0)

    def next_wds_dir(self) -> None:
        """A fresh WDS output directory for the next pass; the previous
        pass's shards are deleted here, outside the timed queries."""
        if self.wds_dir:
            shutil.rmtree(self.wds_dir, ignore_errors=True)
        self.wds_dir = os.path.join(self.work_dir, f"wds-{os.urandom(4).hex()}")

    def unpersist(self) -> None:
        for df in self.frames.values():
            df.unpersist(True)
        self.frames.clear()


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    shape: inputs.Shape
    layers: tuple[str, ...]
    queries: tuple[Query, ...]
    primary: str  # the input whose rows define rows_per_s


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------

_LAYER_ID = {"points_events": "pid", "points_part": "pid", "rects_customer": "rid"}


def materialize(ctx: Context, wl: Workload) -> None:
    """Build and persist the workload's inputs from the written tables: the
    replicated point/rect layers, and the image metadata (cell_stats) or
    the image table with its pixel payload (image_etl)."""
    spark = ctx.spark
    ctx.unpersist()
    world.register_layers(spark, ctx.sf_dir)
    disp = inputs.Displacement.from_seed(ctx.seed)
    for layer in wl.layers:
        if layer in _LAYER_ID:
            df = inputs.replicate(spark.table(layer), _LAYER_ID[layer],
                                  wl.shape.replicas, disp)
            ctx.frames[inputs.LAYER_FRAMES[layer]] = inputs.spread(df).persist()
        elif layer == "images_meta":
            ctx.frames["meta"] = raster.images_meta(spark, ctx.sf_dir).persist()
        elif layer == "images":
            ctx.frames["imgs"] = raster.with_bytes(
                raster.images_meta(spark, ctx.sf_dir)).persist()
    for key, df in ctx.frames.items():
        ctx.rows[key] = df.count()


def describe_images(ctx: Context) -> None:
    """Untimed facts about the image table: payload bytes and the seeded
    okey range of the pruned lookup."""
    if "imgs" in ctx.frames:
        ctx.payload_bytes = int(ctx.frames["imgs"].agg(
            F.sum(F.length("bytes"))).first()[0])
        okeys = sorted(r.okey for r in ctx.frames["imgs"].select("okey").collect())
        rng = random.Random(ctx.seed)
        i = rng.randrange(len(okeys))
        ctx.lookup = (okeys[i], okeys[min(i + 40, len(okeys) - 1)])


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------

def _f(ctx: Context, key: str) -> DataFrame:
    return ctx.frames[key]


def _evv(ctx: Context) -> DataFrame:
    return _f(ctx, "ev").withColumn("v", F.expr("w % 97"))


def _wds_write(ctx: Context) -> None:
    wds.write_wds_shards(_f(ctx, "imgs"), ctx.wds_dir)


RING_QUERIES = (
    Query(
        "nearest_join_r25", "joins",
        lambda c: joins.nearest_join(_f(c, "ev"), _f(c, "pt"), radius=25.0),
        "nearest_join_r25", lambda df: df.select("pid_l", "pid_r", "dist"),
    ),
    Query(
        "knn_join_k4_r50", "joins",
        lambda c: joins.knn_join(_f(c, "ev"), _f(c, "pt"), k=4, radius=50.0,
                                 exclude_self=False, mm_exact=True),
        "knn_join_k4_r50",
        lambda df: df.select("pid_l", "pid_r", "dist",
                             F.col("rank").alias("knn_rank")),
    ),
)

CELL_QUERIES = (
    Query("pip_count_rect", "joins",
          lambda c: joins.pip_count_join(_f(c, "ev"), _f(c, "rc")),
          "pip_count_rect"),
    Query("pip_count_skew_salted", "joins",
          lambda c: joins.pip_count_join(inputs.skewed(_f(c, "ev")), _f(c, "rc"),
                                         broadcast_limit=0, hot_min=1000),
          "pip_count_skew_salted"),
    Query("neighbor_count_r15", "joins",
          lambda c: joins.neighbor_count_join(_f(c, "ev"), _f(c, "pt"), 15.0),
          "neighbor_count_r15"),
    Query("local_g_star", "autocorr",
          lambda c: autocorr.local_g(_evv(c), 10.0), "local_g_star"),
    Query("local_morans_i", "autocorr",
          lambda c: autocorr.local_morans_i(_evv(c), 10.0), "local_morans_i"),
    Query("local_gearys_c", "autocorr",
          lambda c: autocorr.local_gearys_c(_evv(c), 10.0), "local_gearys_c"),
    Query("hex_binning_events", "binning",
          lambda c: binning.hex_binning(_f(c, "ev"), binning.WORLD_BBOX, 12.0),
          "hex_binning_events"),
    Query("kernel_density_quartic", "raster",
          lambda c: raster.kernel_density(_f(c, "ev")), "kernel_density_quartic"),
    Query("zonal_stats_rects", "raster",
          lambda c: raster.zonal_stats(c.spark, _f(c, "rc")), "zonal_stats_rects"),
    Query("image_tile_assign", "raster",
          lambda c: raster.footprint_tiles(_f(c, "meta")), "image_tile_assign"),
)

IMAGE_QUERIES = (
    Query("patchify", "imageops",
          lambda c: imageops.patchify_images(_f(c, "imgs"))),
    Query("wds_write", "wds", _wds_write),
    Query("wds_read", "wds",
          lambda c: wds.read_wds_shards(c.spark, c.wds_dir)),
    Query("wds_lookup", "wds",
          lambda c: wds.read_wds_shards(c.spark, c.wds_dir, okey_range=c.lookup)),
)

#: The cell_stats queries ``spatial`` keeps: one or more per layer (salted
#: cell join, band statistics, binning, raster) at about half the pass time
#: of all ten.
SPATIAL_CELL = ("pip_count_skew_salted", "local_g_star", "hex_binning_events",
                "kernel_density_quartic", "zonal_stats_rects", "image_tile_assign")

#: Inputs of every spatial workload: sf0.1 tables cut to these fractions,
#: replicated twice. Sized so that DuckDB checks the autocorrelation
#: self-joins in seconds.
SPATIAL_SHAPE = inputs.Shape(events=0.04, part=0.1, customer=0.05, orders=0.05, replicas=2)
SPATIAL_LAYERS = ("points_events", "points_part", "rects_customer", "images_meta")

WORKLOADS = {
    wl.name: wl
    for wl in (
        Workload(
            "ring_join",
            "nearest_join and knn_join: the ring schedule (eager phase-1 "
            "persists, serial pending-count jobs, planner probes) dominates",
            SPATIAL_SHAPE, SPATIAL_LAYERS[:2], RING_QUERIES, "ev",
        ),
        Workload(
            "cell_stats",
            "one-shot cell equi-joins and map-side aggregation with key skew; "
            "bypasses the ring loop and the Python workers",
            SPATIAL_SHAPE, SPATIAL_LAYERS, CELL_QUERIES, "ev",
        ),
        Workload(
            "spatial",
            "ring_join, then the cell_stats queries named in SPATIAL_CELL, in one "
            "closed loop over one set of inputs; no Python workers",
            SPATIAL_SHAPE, SPATIAL_LAYERS,
            RING_QUERIES + tuple(q for q in CELL_QUERIES if q.name in SPATIAL_CELL),
            "ev",
        ),
        Workload(
            "image_etl",
            "patchify, WDS write, full read and pruned lookup: the Arrow/Python "
            "worker boundary and the file sink; never touches planner or joins",
            inputs.Shape(events=0.001, part=0.001, customer=0.001, orders=0.06, replicas=1),
            ("images",), IMAGE_QUERIES, "imgs",
        ),
    )
}
