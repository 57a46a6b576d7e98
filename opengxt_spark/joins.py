"""Spatial joins: point-in-polygon aggregate, distance-band, nearest, kNN.

Every join here replaces an OpenGXT per-row STRtree probe loop with the
cell-bucketed plan: cell equi-join (Catalyst picks broadcast/shuffle, AQE
handles skew) then an exact closed-form refine predicate, entirely JVM-side.

Reference parity map:
- ``pip_count_join``     <- PointsInPolygonOperation.java:59-123 (count/sum)
- ``pip_stats_join``     <- PointStatisticsOperation.java:61 (multi stats)
- ``distance_band_join`` <- NearestNeighborCountOperation.java:71-82
- ``nearest_join``       <- SpatialJoinOperation.java:125-183 (nearest, 1:1)
                            and NearOperation.java:77-185 (near id + dist)
- ``knn_join``           <- KNearestNeighborMapOperation.java:52-141
- ``attribute_join``     <- AttributeJoinProcess.java:42 (plain equi-join)
- ``hub_lines_by_distance`` <- HubLinesByDistanceOperation.java:63
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.storagelevel import StorageLevel
from pyspark.sql import functions as F

from . import cells, planner, units, world


# Intermediates persisted by two-phase joins (phase-1 results feed the
# output union, the anti-join, AND the planner's strategy probes). The
# persist is EAGER (count() at build time): a lazily-cached DataFrame with
# multiple consumers inside one action makes concurrent tasks race on
# absent blocks — each computes the partition itself, duplicating phase-1
# work proportionally to parallelism (measured: knn_join 1.4s at local[4]
# vs 4.9s at local[16] with 3x run-to-run swings; dropping the persist is
# worse still, since the eager strategy probes then re-execute the whole
# phase-1 subtree several times). Materializing once at plan-build time
# makes every consumer a pure cache scan — deterministic and linear.
# Spark's CacheManager holds the blocks until explicitly unpersisted, so
# long sessions should call release_scratch() between queries (the query
# registry does this automatically).
_SCRATCH: list[DataFrame] = []


def _persist_scratch(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    # materialize now — see the race note above; the count rides along so
    # ring loops can size budgets without a second (cache-scan) job
    df._scratch_rows = df.count()
    _SCRATCH.append(df)
    return df


def _persist_lazy(df: DataFrame) -> DataFrame:
    """Persist WITHOUT an eager count. Safe only when the very next eager
    job has this frame as a single-consumer dependency (the ring loops'
    pending-count materializes the step cache as its anti-join build side),
    so later consumers read fully-built blocks — the multi-consumer race
    the eager variant guards against cannot occur. Saves one serial driver
    job per ring."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _SCRATCH.append(df)
    return df


def release_scratch() -> None:
    """Unpersist all ring-expansion intermediates (BLOCKING).

    Async unpersist leaves the old blocks competing with the next query's
    execution memory for seconds — measured as a 3x slowdown of an
    identical repeat run (24s -> 76s at local[4]); the blocking drop costs
    milliseconds and makes timings reproducible.
    """
    for df in _SCRATCH:
        df.unpersist(True)
    _SCRATCH.clear()


def _prep_rects(polygons: DataFrame, cell_size: float) -> DataFrame:
    return cells.explode_extent_cells(
        world.rect_corners(planner.ensure_parallelism(polygons)),
        cell_size=cell_size,
    )


# Plan-time probe results keyed by the build DataFrame's CANONICAL plan
# (planner.plan_key — analyzed plan stripped of expression ids), so a
# rebuilt identical plan (every gate query sharing a layer, every bench
# repeat) re-uses the measurement instead of re-running the eager probe job.
_CELL_SIZE_CACHE: dict[str, float] = {}


def adaptive_cell_size(rects: DataFrame) -> float:
    """Cell size matched to the polygon layer's typical extent — the
    reference's adaptive-default pattern (SURVEY §4.1: cell = extent/250,
    band = max-NN-distance; here cell ~ mean rect dimension). Candidate
    count per probe point scales with (w + cs)(h + cs)/area, minimized
    near cs ~ the geometry size; one cheap agg at plan time decides it
    (memoized per canonical plan — see _CELL_SIZE_CACHE).
    """
    key = planner.plan_key(rects)
    if key in _CELL_SIZE_CACHE:
        return _CELL_SIZE_CACHE[key]
    stored = planner._store_get("cell_size", key)
    if stored is not None:
        _CELL_SIZE_CACHE[key] = float(stored)
        return float(stored)
    with planner._probe_timer():
        row = rects.agg(
            F.avg(F.expr("GREATEST(hw, hh)")).alias("m")
        ).collect()[0]
    m = float(row["m"] or cells.DEFAULT_CELL_SIZE / 2)
    cs = min(max(2.0 * m, 4.0), 200.0)
    planner._store_put("cell_size", key, cs)
    if len(_CELL_SIZE_CACHE) > 256:
        _CELL_SIZE_CACHE.clear()
    _CELL_SIZE_CACHE[key] = cs
    return cs


_DENSITY_CACHE: dict[str, float] = {}


def point_density(points: DataFrame) -> float:
    """Points per unit area over the layer's bbox — the plan-time probe
    that sizes adaptive first-phase radii (memoized per canonical plan,
    persisted across sessions for file-backed plans)."""
    key = planner.plan_key(points)
    if key in _DENSITY_CACHE:
        return _DENSITY_CACHE[key]
    stored = planner._store_get("density", key)
    if stored is not None:
        _DENSITY_CACHE[key] = float(stored)
        return float(stored)
    with planner._probe_timer():
        row = points.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("x0"), F.max("x").alias("x1"),
            F.min("y").alias("y0"), F.max("y").alias("y1"),
        ).collect()[0]
    area = max(
        (float(row["x1"]) - float(row["x0"]))
        * (float(row["y1"]) - float(row["y0"])),
        1e-9,
    )
    rho = float(row["n"]) / area
    planner._store_put("density", key, rho)
    if len(_DENSITY_CACHE) > 256:
        _DENSITY_CACHE.clear()
    _DENSITY_CACHE[key] = rho
    return rho


def _adaptive_first_radius(right: DataFrame, expected: float, radius: float) -> float:
    """Phase-1 radius sized so a point expects ``expected`` in-band
    neighbors: r1 = sqrt(expected / (pi * density)). A fixed fraction of
    the search radius over-fetches quadratically in dense layers — at the
    bench density a radius/4 rule pulled ~54 candidates per point for a
    k=4 query (the true need is ~k): candidate volume IS the cost of the
    phase-1 window, so this probe is the difference between a linear and
    an accidentally-quadratic plan."""
    import math

    rho = point_density(right)
    if rho <= 0:
        return radius / 4.0
    r1 = math.sqrt(expected / (math.pi * rho))
    return min(max(r1, 1e-3), radius)


def _ring_cells_per(radius: float, cell_size: float) -> float:
    # bbox cover (2r/cs + 1)^2 with the ~18% circle-corner prune: the
    # asymptotic 3.3(r/cs)^2 under-counts by the +1 discretization term,
    # badly when cs >~ r (estimated 1.4 cells vs an actual 5.3 at
    # r/cs = 0.65 — which silently flipped ring 1 to a near-megarow
    # driver-serial broadcast)
    return 0.82 * (2.0 * radius / cell_size + 1.0) ** 2


def _ring_strategy(right: DataFrame, radius: float, cell_size: float) -> str:
    """Explicit build strategy for a ring join, decided from one memoized
    count instead of planner.choose_strategy's per-call limit-count job —
    the ring loop issues several joins per query and each probe job adds
    serial driver latency that caps scaling at bench sizes."""
    return _ring_strategy_n(
        planner.cached_count(right), radius, cell_size
    )


def _ring_strategy_n(n_build: int, radius: float, cell_size: float) -> str:
    return (
        "broadcast"
        if n_build * _ring_cells_per(radius, cell_size) <= RING_BROADCAST_LIMIT
        else "shuffle"
    )


#: Ring joins broadcast only truly small builds: broadcast construction is
#: a DRIVER-SERIAL fixed cost that caps N-vs-4N scaling efficiency
#: (Amdahl), and the measured crossover sits far below the general
#: BROADCAST_ROW_LIMIT — a 1.8M-row ring build ran 15-20% slower
#: broadcast than shuffled even at local[16], with the gap widening at
#: lower parallelism.
RING_BROADCAST_LIMIT = 400_000


def _ring_cell_size(r: float, rho: float) -> float:
    """Ring-join cell size balancing the two linear costs of the cell join:
    build explode+shuffle rows (~(2r/cs + 1)^2 per build row — the +1
    discretization term DOMINATES when cs ~ r, which the 3.3(r/cs)^2
    asymptotic hides) against candidate evaluations (~rho * (2r + cs)^2 per
    probe row). Shuffled rows cost ~100x a codegen'd distance test, so when
    the expected per-cell occupancy rho*cs^2 is below ~2 the fine r/2 grid
    moves more build rows than it saves in candidates. Measured at the
    bench density (rho=0.48, r=1.41): cs=r/2 10.7s, cs=2r 2.5s at
    local[16]. cs = 1.5/sqrt(rho) targets occupancy 2.25, clamped to
    [r/2, 3r] so dense layers keep the fine grid (r/2 minimizes candidate
    volume when explode is amortized) and the cover never collapses to a
    single giant cell."""
    if rho <= 0:
        return max(r / 2.0, 1e-6)
    return min(max(r / 2.0, 1.5 / rho**0.5), max(3.0 * r, 1e-6))


def _next_ring_radius(
    r: float, radius: float, npend: int, rho: float, pairs_budget: float
) -> float:
    """Work-equalized ring growth: size the next radius so the expected
    pair volume npend * pi * rho * r^2 matches ``pairs_budget`` (~ring 1's
    volume). Survivors of ring r are Poisson-empty points, so npend has
    collapsed ~e^-lambda and the equal-work radius jumps far (lambda
    multiplies by n/npend each ring) — survivor probability falls
    DOUBLY-exponentially and the loop ends in 2-3 rings without ever
    over-fetching (a fixed geometric growth either jumps to the cap and
    pulls lambda(cap) ~ 10^3 candidates per pending point, or crawls and
    pays two serial driver jobs per ring; both measured as the
    scaling-efficiency cap on this query)."""
    import math

    if rho <= 0 or npend <= 0:
        return radius
    r2 = math.sqrt(pairs_budget / (math.pi * rho * npend))
    return min(radius, max(r2, 2.0 * r))


def pip_pairs_join(
    points: DataFrame,
    rects: DataFrame,
    cell_size: float | None = None,
    strategy: str | None = None,
    **planner_kw,
) -> DataFrame:
    """Raw point-in-rect containment PAIRS (point columns x rect columns)
    — the building block under `pip_count_join` and any custom per-group
    aggregation over a PIP join (e.g. per-zone-per-split counts). A point
    has exactly one cell so no pair dedup is needed (SURVEY.md §2.4 dedup
    rule is only for multi-cell probe sides)."""
    cs = adaptive_cell_size(rects) if cell_size is None else float(cell_size)
    p = cells.with_point_cells(planner.ensure_parallelism(points), cell_size=cs)
    r = _prep_rects(rects, cs)
    return planner.cell_join(
        p, r, world.rect_contains_sql("x", "y"), strategy, **planner_kw
    )


def pip_count_join(
    points: DataFrame,
    rects: DataFrame,
    weight_col: str | None = "w",
    cell_size: float | None = None,
    strategy: str | None = None,
    **planner_kw,
) -> DataFrame:
    """Per rectangle-polygon: count and weight-sum of contained points.

    Returns (rid, cnt, sum_w). cell_size defaults to the adaptive
    estimate from the rect layer's dimensions. ``planner_kw``
    (broadcast_limit, hot_min, n_salt) tune the auto strategy — see
    planner.cell_join.
    """
    joined = pip_pairs_join(points, rects, cell_size, strategy, **planner_kw)
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if weight_col:
        aggs.append(F.sum(weight_col).cast("long").alias("sum_w"))
    return joined.groupBy("rid").agg(*aggs)


def pip_hex_count_join(
    points: DataFrame,
    hexes: DataFrame,
    cell_size: float = cells.DEFAULT_CELL_SIZE,
    strategy: str | None = None,
) -> DataFrame:
    """Count of points inside each flat-top hexagon polygon -> (hid, cnt)."""
    p = cells.with_point_cells(planner.ensure_parallelism(points), cell_size=cell_size)
    h = cells.explode_extent_cells(world.hex_extent(hexes), cell_size=cell_size)
    joined = planner.cell_join(p, h, world.hex_contains_sql("x", "y"), strategy)
    return joined.groupBy("hid").agg(F.count(F.lit(1)).alias("cnt"))


def pip_stats_join(
    points: DataFrame,
    rects: DataFrame,
    value_col: str = "val",
    cell_size: float = cells.DEFAULT_CELL_SIZE,
) -> DataFrame:
    """PointStatistics: per polygon count/sum/mean/min/max/std of a point field.

    Mirrors the statistics set of GT/core/StatisticsVisitor.java:43-158 (the
    First/Last entries are iteration-order-dependent in the reference and
    meaningless under parallelism; exposed stats are the deterministic ones).
    """
    p = cells.with_point_cells(points, cell_size=cell_size)
    r = _prep_rects(rects, cell_size)
    joined = planner.cell_join(p, r, world.rect_contains_sql("x", "y"))
    v = F.col(value_col)
    return joined.groupBy("rid").agg(
        F.count(v).alias("cnt"),
        F.round(F.sum(v), 4).alias("sum_val"),
        F.round(F.avg(v), 6).alias("avg_val"),
        F.round(F.min(v), 6).alias("min_val"),
        F.round(F.max(v), 6).alias("max_val"),
    )


def distance_band_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    cell_size: float | None = None,
    left_cols=("pid", "x", "y"),
    right_cols=("pid", "x", "y"),
    left_extra: dict[str, str] | None = None,
    right_extra: dict[str, str] | None = None,
    build: str = "right",
    strategy: str | None = None,
    tile_size: float | None = None,
    emit_d2m: bool = False,
    unit: str | None = None,
) -> DataFrame:
    """All (left, right) point pairs within ``radius`` (Euclidean).

    Plan: the *right* side (conventionally the smaller layer — the build
    side) is ring-expanded: each right point's radius-circle explodes to the
    cells it overlaps (corner cells of the bbox cover pruned closed-form —
    cells.explode_circle_cells). The *left* side stays one-row-one-cell and
    is the probe, so the big layer is never duplicated and per-left
    aggregations (counts, nearest, kNN) combine map-side. Cell size defaults
    to radius/2: the finer grid cuts candidate over-fetch from 9r^2 to
    ~3.3r^2 of the true pi*r^2 at the price of ~3.3x build duplication —
    the join-output scan, not the build shuffle, dominates at scale.
    Output: (pid_l, pid_r, d2 exact, dist rounded 1e-6).

    ``strategy="tiled"`` switches to ghost-halo co-partitioning (see
    band_stats_join): probe repartitioned by spatial tile once, build side
    halo-duplicated across tile borders, SHUFFLE_HASH join on (tile, cell)
    with zero further exchange — the both-sides-huge path where neither
    fits a broadcast and a cell shuffle of the exploded build would
    dominate. Pair output and downstream semantics are identical.

    ``unit``: the DistanceUnit the radius is given in (Meters, Feet,
    Miles, ... — GT/enumeration/DistanceUnit.java:26-58). Converted to
    world units at plan time and the output ``dist`` converted back — the
    NearOperation.java:96-155 contract; Default/None = world units.
    """
    ufac = units.factor(unit)
    radius = float(radius) * ufac
    cs = float(cell_size or max(radius / 2.0, 1e-6))
    lid, lx, ly = left_cols
    rid_, rx, ry = right_cols
    lex = {k: F.col(v).alias(k) for k, v in (left_extra or {}).items()}
    rex = {k: F.col(v).alias(k) for k, v in (right_extra or {}).items()}
    l = left.select(
        F.col(lid).alias("pid_l"), F.col(lx).alias("lx"), F.col(ly).alias("ly"),
        *lex.values(),
    )
    r = right.select(
        F.col(rid_).alias("pid_r"), F.col(rx).alias("rx"), F.col(ry).alias("ry"),
        *rex.values(),
    )

    if strategy == "tiled":
        rad = float(radius)
        T = float(tile_size or cs * max(1, round(8.0 * rad / cs)))
        nparts = int(l.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        probe_pt, bld_pt = (r, l) if build == "left" else (l, r)
        pxc, pyc = ("rx", "ry") if build == "left" else ("lx", "ly")
        bxc, byc = ("lx", "ly") if build == "left" else ("rx", "ry")
        probe = cells.with_point_cells(probe_pt, x=pxc, y=pyc, cell_size=cs)
        probe = probe.withColumn(
            "tile_x", F.floor(F.col(pxc) / F.lit(T)).cast("long")
        ).withColumn("tile_y", F.floor(F.col(pyc) / F.lit(T)).cast("long"))
        probe = probe.repartition(nparts, "tile_x", "tile_y")
        bld = cells.explode_circle_cells(
            bld_pt, x=bxc, y=byc, radius=rad, cell_size=cs
        )
        bld = bld.withColumn(
            "tile_x",
            F.explode(F.sequence(
                F.floor((F.col(bxc) - rad) / F.lit(T)).cast("long"),
                F.floor((F.col(bxc) + rad) / F.lit(T)).cast("long"),
            )),
        ).withColumn(
            "tile_y",
            F.explode(F.sequence(
                F.floor((F.col(byc) - rad) / F.lit(T)).cast("long"),
                F.floor((F.col(byc) + rad) / F.lit(T)).cast("long"),
            )),
        )
        bld = bld.repartition(nparts, "tile_x", "tile_y").hint("SHUFFLE_HASH")
        dx = F.col("lx") - F.col("rx")
        dy = F.col("ly") - F.col("ry")
        d2 = dx * dx + dy * dy
        joined = probe.join(
            bld, on=["tile_x", "tile_y", "cell_x", "cell_y"], how="inner"
        ).where(d2 <= F.lit(rad * rad))
        return joined.select(
            "pid_l", "pid_r", d2.alias("d2"),
            F.round(
                F.sqrt(d2) / F.lit(ufac) if ufac != 1.0 else F.sqrt(d2), 6
            ).alias("dist"),
            *([_d2m_expr().alias("d2m")] if emit_d2m else []),
            *[F.col(k) for k in (*lex, *rex)],
        )
    # ``build`` picks which side is ring-exploded and broadcast/shuffled as
    # the join's build relation; the other side stays one-row-one-cell and
    # probes. Default "right" (the conventional small layer); pass "left"
    # when the left side is the tiny one (e.g. the phase-2 remainder of an
    # adaptive search), otherwise a 44-row probe ends up scanning a
    # million-row broadcast. Parallelism guards on both: computing a ring
    # explode of a single-file layer in one task serializes the whole query.
    if build == "left":
        probe = cells.with_point_cells(
            planner.ensure_parallelism(r), x="rx", y="ry", cell_size=cs
        )
        bld = cells.explode_circle_cells(
            planner.ensure_parallelism(l), x="lx", y="ly", radius=radius,
            cell_size=cs,
        )
    else:
        probe = cells.with_point_cells(
            planner.ensure_parallelism(l), x="lx", y="ly", cell_size=cs
        )
        bld = cells.explode_circle_cells(
            planner.ensure_parallelism(r), x="rx", y="ry", radius=radius,
            cell_size=cs,
        )
    dx = F.col("lx") - F.col("rx")
    dy = F.col("ly") - F.col("ry")
    # Compare squared distances built from *multiplication* (not pow): IEEE
    # mul/add are deterministic across engines, so the DuckDB oracle's
    # boundary decisions match bit-for-bit. sqrt is IEEE correctly-rounded
    # too, so the output distance matches exactly as well.
    d2 = dx * dx + dy * dy
    joined = planner.cell_join(
        probe, bld, d2 <= F.lit(float(radius) * float(radius)), strategy
    )
    # Keep the exact squared distance for downstream ordering (nearest/kNN
    # tie-breaks must match the oracle's exact comparisons); the rounded
    # metric column is the presentation value.
    return joined.select(
        "pid_l",
        "pid_r",
        d2.alias("d2"),
        F.round(
            F.sqrt(d2) / F.lit(ufac) if ufac != 1.0 else F.sqrt(d2), 6
        ).alias("dist"),
        *([_d2m_expr().alias("d2m")] if emit_d2m else []),
        *[F.col(k) for k in (*lex, *rex)],
    )


def neighbor_count_join(
    left: DataFrame, right: DataFrame, radius: float, **kw
) -> DataFrame:
    """NearestNeighborCount: per left point, count of right points within
    radius (GT/operations/NearestNeighborCountOperation.java:71-82)."""
    stats = band_stats_join(left, right, radius, **kw)
    return stats.select("pid_l", "cnt")


def band_stats_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    value_col: str | None = None,
    cell_ratio: float = 3.0,
    left_cols=("pid", "x", "y"),
    right_cols=("pid", "x", "y"),
    left_keep: dict[str, str] | None = None,
    strategy: str | None = None,
    tile_size: float | None = None,
    with_sq: bool = False,
    value_col2: str | None = None,
    unit: str | None = None,
) -> DataFrame:
    """Per left point: (cnt, sum_v) of right points within ``radius``.

    The scale architecture for every *aggregating* band query (neighbor
    counts, Gi*, local/global Moran partials): instead of materializing the
    O(n * pi r^2 * density) candidate-pair table, decompose each point's
    disc into **interior cells** — cells wholly inside the radius, whose
    pre-aggregated (count, sum) rows carry the mass of all their points in
    one row — and **boundary cells**, the only ones joined point-level and
    distance-refined. Per-point joined rows drop from ~pi r^2 rho to
    ~(#cells + perimeter-band rho): the interior term scales with r^2 but
    carries whole cells, the exact work scales with the r^1 boundary. All
    sums are integers, so the decomposed totals are bit-identical to the
    pair-table formulation in any partitioning/order.

    Output: (pid_l, cnt, sum_v[ if value_col]) — only left points with at
    least one in-band right point appear (pair-table semantics).

    Physical strategies (``strategy``):
    - ``"broadcast"`` — right points + right cell-aggregates broadcast; the
      cover stays narrow and per-i partials combine map-side. Best when the
      right layer fits an executor (the driver build is a serial constant).
    - ``"tiled"`` — **ghost-halo co-partitioning**, the 1000-executor path:
      repartition left once by spatial tile; halo-duplicate right points to
      every tile whose r-expansion contains them (~(1+2r/T)^2 copies); both
      sides are then hash-partitioned on (tile_x, tile_y) with the same
      partition count, so the per-(tile, cell) joins and the per-i partial
      aggregation run with ZERO further exchange — total network cost is
      |L| + ~1.5|R| rows regardless of radius or density, and scaling is
      linear in partitions. Correctness of halo truncation: an interior
      cell lies wholly inside a left disc ⊆ tile±r, so its per-tile
      aggregate is complete; a cell straddling the halo edge can never be
      interior, and boundary matches beyond the halo are > r away and
      would be refined out anyway.
    - ``None`` — broadcast when the right side row-probe says it fits,
      else tiled.

    ``unit``: DistanceUnit of the radius (DistanceUnit.java:26-58),
    converted to world units at plan time; output carries no distances.
    """
    radius = float(radius) * units.factor(unit)
    cs = float(max(radius / cell_ratio, 1e-6))
    r2 = float(radius) * float(radius)
    lid, lx, ly = left_cols
    rid_, rx, ry = right_cols

    rsel = [F.col(rx).alias("rx"), F.col(ry).alias("ry")]
    if value_col:
        rsel.append(F.col(value_col).alias("rv"))
    if value_col2:
        rsel.append(F.col(value_col2).alias("rv2"))
    r = planner.ensure_parallelism(right.select(*rsel))
    r = cells.with_point_cells(r, x="rx", y="ry", cell_size=cs)
    cell_aggs = [F.count(F.lit(1)).alias("c_cnt")]
    point_aggs = [F.count(F.lit(1)).alias("cnt")]
    if value_col:
        cell_aggs.append(F.sum("rv").cast("long").alias("c_sum"))
        point_aggs.append(F.sum("rv").cast("long").alias("sum_v"))
    if with_sq:
        # neighbor sum of squares (exact integers) — Geary's C needs
        # sum_j (vi - vj)^2 which expands to per-i cnt, sum, and sum-sq.
        cell_aggs.append(F.sum(F.expr("rv * rv")).cast("long").alias("c_sq"))
        point_aggs.append(F.sum(F.expr("rv * rv")).cast("long").alias("sum_sq"))
    if value_col2:
        cell_aggs.append(F.sum("rv2").cast("long").alias("c_sum2"))
        point_aggs.append(F.sum("rv2").cast("long").alias("sum_v2"))
    rcells = r.groupBy("cell_x", "cell_y").agg(*cell_aggs)

    keeps = {k: F.col(src).alias(k) for k, src in (left_keep or {}).items()}
    l = planner.ensure_parallelism(
        left.select(F.col(lid).alias("pid_l"), F.col(lx).alias("lx"),
                    F.col(ly).alias("ly"), *keeps.values())
    )
    gkeys = ["pid_l", *keeps]

    if strategy is None:
        strategy = (
            "broadcast"
            if planner.choose_strategy(r).strategy == "broadcast"
            else "tiled"
        )

    join_keys = ["cell_x", "cell_y"]
    if strategy == "tiled":
        rad = float(radius)
        T = float(tile_size or cs * max(1, round(8.0 * rad / cs)))
        nparts = int(l.sparkSession.conf.get("spark.sql.shuffle.partitions"))

        def tile(c, coord):
            return F.floor(F.col(coord) / F.lit(T)).cast("long").alias(c)

        # The tile repartitions below already provide full parallelism, so
        # the ensure_parallelism round-robin above is the only redundant
        # exchange; acceptable (cheap, removed by reuse at scale).
        l = l.select("*", tile("tile_x", "lx"), tile("tile_y", "ly"))
        l = l.repartition(nparts, "tile_x", "tile_y")
        r = r.withColumn(
            "tile_x",
            F.explode(F.sequence(
                F.floor((F.col("rx") - rad) / F.lit(T)).cast("long"),
                F.floor((F.col("rx") + rad) / F.lit(T)).cast("long"),
            )),
        ).withColumn(
            "tile_y",
            F.explode(F.sequence(
                F.floor((F.col("ry") - rad) / F.lit(T)).cast("long"),
                F.floor((F.col("ry") + rad) / F.lit(T)).cast("long"),
            )),
        )
        r = r.repartition(nparts, "tile_x", "tile_y")
        # Per-tile cell aggregates: r is already hash(tile), which satisfies
        # the grouping's ClusteredDistribution(tile, cell) — no exchange.
        rcells = r.groupBy("tile_x", "tile_y", "cell_x", "cell_y").agg(*cell_aggs)
        join_keys = ["tile_x", "tile_y", "cell_x", "cell_y"]

    cover = l.withColumn(
        "cell_x",
        F.explode(F.sequence(cells.cell_of(F.col("lx") - radius, cs),
                             cells.cell_of(F.col("lx") + radius, cs))),
    ).withColumn(
        "cell_y",
        F.explode(F.sequence(cells.cell_of(F.col("ly") - radius, cs),
                             cells.cell_of(F.col("ly") + radius, cs))),
    )
    px, py = F.col("lx"), F.col("ly")
    ndx = F.greatest(F.col("cell_x") * cs - px, px - (F.col("cell_x") + 1) * cs,
                     F.lit(0.0))
    ndy = F.greatest(F.col("cell_y") * cs - py, py - (F.col("cell_y") + 1) * cs,
                     F.lit(0.0))
    fdx = F.greatest(px - F.col("cell_x") * cs, (F.col("cell_x") + 1) * cs - px)
    fdy = F.greatest(py - F.col("cell_y") * cs, (F.col("cell_y") + 1) * cs - py)
    cover = (
        cover.withColumn("_dmin2", ndx * ndx + ndy * ndy)
        .withColumn("_dmax2", fdx * fdx + fdy * fdy)
        .where(F.col("_dmin2") <= F.lit(r2))
    )

    # The cover explode (O(cells-per-disc) per left row) is NARROW — its
    # rows live in the left partition that produced them, so the per-i
    # partial aggregation combines map-side to ~one row per (pid, partition)
    # and only tiny partials shuffle. That holds because the right-side
    # tables come to the cover either as broadcasts or (tiled) already
    # co-partitioned on tile — the cover itself is never shuffled.
    bc = strategy == "broadcast"
    # Tiled: force shuffled-hash — the planner's size estimate for the
    # cover ignores the explode multiplier and would otherwise broadcast a
    # multi-10^7-row Generate output. Both sides are already hash(tile), so
    # with subset co-partitioning accepted (session config) the SHJ adds no
    # exchange: it builds a per-partition table from the halo'd right side.
    rc_b = F.broadcast(rcells) if bc else rcells.hint("SHUFFLE_HASH")
    r_b = F.broadcast(r) if bc else r.hint("SHUFFLE_HASH")
    interior = (
        cover.where(F.col("_dmax2") <= F.lit(r2))
        .join(rc_b, on=join_keys, how="inner")
        .groupBy(*gkeys)
        .agg(F.sum("c_cnt").alias("cnt"),
             *([F.sum("c_sum").alias("sum_v")] if value_col else []),
             *([F.sum("c_sq").alias("sum_sq")] if with_sq else []),
             *([F.sum("c_sum2").alias("sum_v2")] if value_col2 else []))
    )
    dx = F.col("lx") - F.col("rx")
    dy = F.col("ly") - F.col("ry")
    d2 = dx * dx + dy * dy
    boundary = (
        cover.where(F.col("_dmax2") > F.lit(r2))
        .join(r_b, on=join_keys, how="inner")
        .where(d2 <= F.lit(r2))
        .groupBy(*gkeys)
        .agg(*point_aggs)
    )
    return (
        interior.unionByName(boundary)
        .groupBy(*gkeys)
        .agg(F.sum("cnt").cast("long").alias("cnt"),
             *([F.sum("sum_v").cast("long").alias("sum_v")] if value_col else []),
             *([F.sum("sum_sq").cast("long").alias("sum_sq")] if with_sq else []),
             *([F.sum("sum_v2").cast("long").alias("sum_v2")] if value_col2 else []))
    )


def _d2m_expr():
    """Exact integer-mm squared distance between the pair columns.

    Every engine layer's coordinates are exact n/1000 doubles (world.py's
    integer-millicoordinate contract), so ROUND(x*1000) recovers the
    integer n exactly and (dxm^2 + dym^2) is exact BIGINT arithmetic —
    the TRUE squared-distance order, free of the double-rounding noise of
    fl(dx^2 + dy^2) on near-ties. Shared semantics with the DuckDB
    oracles: both engines compute the identical integer.

    FLOOR(v + 0.5), not ROUND(v): identical on values within 1e-10 of an
    integer (all mm-contract coordinates), but Spark codegens Round(double)
    through a per-call BigDecimal allocation while floor is a bare
    Math.floor — measured 34% wall-time difference on the knn pair stage,
    where this runs four times per candidate pair."""
    half = F.lit(0.5)
    lxm = F.floor(F.col("lx") * 1000 + half)
    lym = F.floor(F.col("ly") * 1000 + half)
    rxm = F.floor(F.col("rx") * 1000 + half)
    rym = F.floor(F.col("ry") * 1000 + half)
    dxm = lxm - rxm
    dym = lym - rym
    return dxm * dxm + dym * dym


def _band_pairs_outer(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    cell_size: float,
    strategy: str,
    left_cols=("pid", "x", "y"),
    right_cols=("pid", "x", "y"),
    exclude_self: bool = False,
) -> DataFrame:
    """Left-OUTER cell-band pair join, built for in-stage ring reductions.

    Differences from ``distance_band_join`` that together remove the two
    dominant scale costs of the iterative ring loops (measured at bench
    scale: the groupBy(pid_l) agg re-shuffled ~19M pair structs per ring
    and scaled 2->8 cores at only 0.63):

    - **outer**: the exact-distance refine (and exclude-self) predicate is
      part of the join condition, so every left point emits at least one
      row — pid_r NULL when nothing is in radius. The ring reduction's
      aggregate output therefore covers the whole pending set, and both
      the resolved rows and the next ring's pending set are plain filters
      over one persisted frame (no anti-join, no sentinel union).
    - **in-stage agg**: the probe keeps its (single) cell key and is
      explicitly hash-partitioned by it, so a following
      groupBy(cell_x, cell_y, pid_l) — equivalent to groupBy(pid_l), since
      a probe point has exactly one cell — satisfies the join output's
      partitioning and aggregates with ZERO further exchange: the pair
      stream (with its collect_list buffers) never crosses the network.

    Output: (cell_x, cell_y, pid_l, lx, ly, pid_r, d2, dist); build side is
    always the right layer.
    """
    lid, lx, ly = left_cols
    rid_, rx, ry = right_cols
    l = left.select(
        F.col(lid).alias("pid_l"), F.col(lx).alias("lx"), F.col(ly).alias("ly")
    )
    r = right.select(
        F.col(rid_).alias("pid_r"), F.col(rx).alias("rx"), F.col(ry).alias("ry")
    )
    nparts = int(left.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    probe = cells.with_point_cells(
        planner.ensure_parallelism(l), x="lx", y="ly", cell_size=cell_size
    ).repartition(nparts, "cell_x", "cell_y")
    bld = (
        cells.explode_circle_cells(
            planner.ensure_parallelism(r), x="rx", y="ry", radius=radius,
            cell_size=cell_size,
        )
        .withColumnRenamed("cell_x", "_bcx")
        .withColumnRenamed("cell_y", "_bcy")
    )
    dx = F.col("lx") - F.col("rx")
    dy = F.col("ly") - F.col("ry")
    d2 = dx * dx + dy * dy
    cond = (
        (F.col("cell_x") == F.col("_bcx"))
        & (F.col("cell_y") == F.col("_bcy"))
        & (d2 <= F.lit(float(radius) * float(radius)))
    )
    if exclude_self:
        cond = cond & (F.col("pid_l") != F.col("pid_r"))
    if strategy == "broadcast":
        bld = F.broadcast(bld)
    else:
        # hash join instead of sort-merge: the build partitions are small
        # (cells spread ~uniformly) and the probe side then joins without
        # a sort, keeping the stage a pure pipeline into the aggregate.
        bld = bld.hint("SHUFFLE_HASH")
    joined = probe.join(bld, on=cond, how="left_outer")
    return joined.select(
        "cell_x", "cell_y", "pid_l", "lx", "ly", "pid_r",
        d2.alias("d2"),
        F.round(F.sqrt(d2), 6).alias("dist"),
        _d2m_expr().alias("d2m"),  # pruned unless the packed top-k reads it
    )


def _band_pairs_flip(
    pending: DataFrame,
    right: DataFrame,
    radius: float,
    cell_size: float,
    strategy: str,
    left_cols=("pid", "x", "y"),
    right_cols=("pid", "x", "y"),
    exclude_self: bool = False,
) -> DataFrame:
    """Left-OUTER cell-band pair join for LATE rings: the (small) pending
    side is ring-exploded, the right layer stays one-row-one-cell.

    ``_band_pairs_outer`` explodes the full right layer — correct for ring
    1 where the probe is the whole left layer, but ruinous for later rings:
    at ring 2 the pending remainder is a few % of the layer while the ring
    radius has grown, so exploding right shuffles millions of rows to serve
    thousands of probes (measured as the round-3 regression of both ring
    joins). Here the explode factor lands on the pending side instead; the
    right layer is either broadcast once (≤ RING_BROADCAST_LIMIT rows —
    no shuffle at all) or cell-shuffled WITHOUT duplication.

    A (left, right) pair meets in exactly ONE cell (the right point's), so
    no dedup is needed. Outer semantics preserve pending rows with no
    in-radius neighbor — once per exploded cell; callers reduce with
    NULL-skipping aggregates grouped to (pid_l), two-level: per
    (pid_l, cell) first (in-stage on the shuffled path — the pair stream
    never crosses the network; only ≤k-element pre-reduced lists do,
    top-k being decomposable), then per pid_l.

    Output: (cell_x, cell_y, pid_l, lx, ly, pid_r, d2).
    """
    lid, lx, ly = left_cols
    rid_, rx, ry = right_cols
    l = pending.select(
        F.col(lid).alias("pid_l"), F.col(lx).alias("lx"), F.col(ly).alias("ly")
    )
    r = right.select(
        F.col(rid_).alias("pid_r"), F.col(rx).alias("rx"), F.col(ry).alias("ry")
    )
    probe = cells.explode_circle_cells(
        planner.ensure_parallelism(l), x="lx", y="ly", radius=radius,
        cell_size=cell_size,
    )
    bld = (
        cells.with_point_cells(
            planner.ensure_parallelism(r), x="rx", y="ry", cell_size=cell_size
        )
        .withColumnRenamed("cell_x", "_bcx")
        .withColumnRenamed("cell_y", "_bcy")
    )
    dx = F.col("lx") - F.col("rx")
    dy = F.col("ly") - F.col("ry")
    d2 = dx * dx + dy * dy
    cond = (
        (F.col("cell_x") == F.col("_bcx"))
        & (F.col("cell_y") == F.col("_bcy"))
        & (d2 <= F.lit(float(radius) * float(radius)))
    )
    if exclude_self:
        cond = cond & (F.col("pid_l") != F.col("pid_r"))
    if strategy == "broadcast":
        bld = F.broadcast(bld)
    else:
        nparts = int(pending.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        probe = probe.repartition(nparts, "cell_x", "cell_y")
        bld = bld.hint("SHUFFLE_HASH")
    joined = probe.join(bld, on=cond, how="left_outer")
    return joined.select(
        "cell_x", "cell_y", "pid_l", "lx", "ly", "pid_r", d2.alias("d2"),
        _d2m_expr().alias("d2m"),  # pruned unless the packed top-k reads it
    )


def _flip_strategy(n_right: int) -> str:
    # one-cell build rows — no explode multiplier in the broadcast test
    return "broadcast" if n_right <= RING_BROADCAST_LIMIT else "shuffle"


def _late_ring_radius(
    r: float, radius: float, rho: float, k: int, mult: float = 1.0
) -> float:
    """Late rings target a RESOLUTION lambda, not work equalization: a
    survivor resolves once its in-radius neighbor count reaches k, so
    pulling lambda ~ 12k per survivor already makes P(still short of k)
    < 1e-3 even for the locally-sparse points that survive ring 1 —
    while the work-equalized _next_ring_radius re-spends ring 1's ENTIRE
    pair budget on the collapsed remainder, overshooting lambda 10-40x
    (measured at bench scale: ring-2 lambda 129 for k=4 where ~48
    resolves; 4x the pairs for zero extra resolutions). ``mult`` widens
    the target for a second late ring (its survivors sit in even sparser
    pockets)."""
    if rho <= 0:
        return radius
    lam_t = 12.0 * max(k, 1) * mult
    r2 = math.sqrt(lam_t / (math.pi * rho))
    return min(radius, max(r2, 1.5 * r))


def _poisson_lt(lam: float, k: int) -> float:
    """P(Poisson(lam) < k) — the analytic survivor probability that sizes
    LATE ring radii without a per-ring driver count job (the static
    schedule: only ring 1's count is measured; later rings are small and
    an estimate off by 2x merely unbalances a cheap stage)."""
    import math

    if lam <= 0:
        return 1.0
    if lam > 700:  # exp underflow; survivors ~ 0
        return 0.0
    term = math.exp(-lam)
    s = 0.0
    for i in range(int(k)):
        s += term
        term *= lam / (i + 1)
    return min(max(s, 0.0), 1.0)


def _nearest_reduce(pairs: DataFrame) -> DataFrame:
    # min(struct(d2, pid_r, ...)) orders lexicographically — exact distance
    # first, id tie-break second — and combines map-side.
    return (
        pairs.groupBy("pid_l")
        .agg(F.min(F.struct("d2", "pid_r", "dist")).alias("_b"))
        .select(
            "pid_l",
            F.col("_b.pid_r").alias("pid_r"),
            F.col("_b.d2").alias("d2"),
            F.col("_b.dist").alias("dist"),
        )
    )


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    keep_all: bool = False,
    exclude_self: bool = False,
    first_radius: float | None = None,
    unit: str | None = None,
    **kw,
) -> DataFrame:
    """Nearest-feature join (1:1) within a search radius.

    Reference semantics (SpatialJoinOperation.java:132-164): for each left
    row, the single nearest right row by distance; ``keep_all`` maps
    KeepAllRecord (left outer, null join attrs beyond radius) vs
    OnlyMatchingRecord (inner). Ties broken by smallest right id — the
    deterministic stand-in for STRtree insertion order (SURVEY.md §7.4).

    The bounded radius is the scalable contract: an unbounded nearest join
    needs iterative ring expansion; at 100 TB a radius cap (the reference's
    ``searchRadius``) keeps the candidate set O(points-per-cell).

    ``unit``: DistanceUnit the radius (and first_radius) is given in;
    converted to world units at plan time, and the output ``dist``
    reported back in that unit — NearOperation.java:96-117 (radius in)
    and 145-155 (distance out). Default/None = world units.
    """
    ufac = units.factor(unit)
    radius = float(radius) * ufac
    if first_radius is not None:
        first_radius = float(first_radius) * ufac
    # Iterative ring expansion (SURVEY §2.4): a wide search radius over a
    # dense layer yields O(n * pi r^2 * density) candidate pairs; most left
    # rows find their nearest within a much smaller ring. Start at the
    # density-probed radius expecting ~3 neighbors and grow geometrically,
    # re-joining only the shrinking unresolved remainder — each step's
    # survivor fraction is P(Poisson(λ_step) = 0), so the tail work decays
    # super-exponentially and total candidate volume stays within ~1.5x of
    # the first ring. A nearest within ring r is the global nearest within
    # ``radius`` (anything outside the ring is farther) — semantics
    # identical to the single-phase join.
    rho = point_density(right)
    r1 = (
        first_radius
        if first_radius is not None
        else _adaptive_first_radius(right, 3.0, radius)
    )
    lid = kw.get("left_cols", ("pid", "x", "y"))[0]
    explicit_strategy = kw.pop("strategy", None)
    explicit_cell = kw.pop("cell_size", None)

    def _pairs(lf: DataFrame, rad: float, n_lf: int | None = None) -> DataFrame:
        # Ring-explode the SMALLER side: a late ring's pending remainder is
        # a few % of the layer, and exploding the full right side at the
        # final radius was the dominant cost of the whole query (measured
        # 3 s of a 5 s build at local[32]) — n_lf is the already-known
        # remainder count, so the flip costs no extra job.
        cs = explicit_cell or _ring_cell_size(rad, rho)
        n_r = planner.cached_count(right)
        side = "left" if (n_lf is not None and n_lf < n_r) else "right"
        strat = explicit_strategy or _ring_strategy_n(
            n_lf if side == "left" else n_r, rad, cs
        )
        p = distance_band_join(
            lf, right, rad, cell_size=cs, strategy=strat, build=side, **kw
        )
        if exclude_self:
            p = p.where(F.col("pid_l") != F.col("pid_r"))
        return p

    lx, ly = kw.get("left_cols", ("pid", "x", "y"))[1:3]

    lcols = kw.get("left_cols", ("pid", "x", "y"))
    rcols = kw.get("right_cols", ("pid", "x", "y"))

    if r1 <= 0 or r1 >= radius:
        best = _nearest_reduce(_pairs(left, radius))
    else:
        # Ring 1 — outer join with in-stage reduction (_band_pairs_outer):
        # every left point appears in the ring aggregate (pid_r NULL when
        # nothing is in radius), the min-reduction runs inside the join
        # stage (zero extra exchange), and the single persisted frame
        # yields BOTH the resolved output (min is a real pair) and the
        # pending set (min is NULL — coordinates ride along). ONE serial
        # driver job total: the pending count materializes the persist and
        # anchors the late-ring schedule.
        #
        # Rings 2+ — FLIPPED outer joins (_band_pairs_flip): the collapsed
        # pending side is the one ring-exploded; the right layer stays
        # one-row-one-cell (broadcast when small — zero shuffle). Radii are
        # work-equalized from ring 1's measured remainder and then the
        # ANALYTIC Poisson survivor estimate (_poisson_lt) — a static lazy
        # schedule, no further driver jobs: ring-1's budget re-spent over
        # the collapsing remainder makes survival fall doubly-
        # exponentially, so ≤2 late rings before the radius cap. The cap
        # ring flips to the inner path (every output row has a real pair).
        parts: list[DataFrame] = []
        cs = explicit_cell or _ring_cell_size(r1, rho)
        strat = explicit_strategy or _ring_strategy_n(
            planner.cached_count(right), r1, cs
        )
        pairs = _band_pairs_outer(
            left, right, r1, cs, strat,
            left_cols=lcols, right_cols=rcols,
            exclude_self=exclude_self,
        )
        # min(struct) skips the NULLs the outer join emits; all-NULL
        # groups (no in-ring neighbor) reduce to a NULL struct.
        agg = _persist_lazy(
            pairs.groupBy("cell_x", "cell_y", "pid_l").agg(
                F.min(
                    F.when(
                        F.col("pid_r").isNotNull(),
                        F.struct("d2", "pid_r", "dist"),
                    )
                ).alias("_b"),
                F.min("lx").alias("_sx"),
                F.min("ly").alias("_sy"),
            )
        )
        parts.append(
            agg.where(F.col("_b").isNotNull()).select(
                "pid_l",
                F.col("_b.pid_r").alias("pid_r"),
                F.col("_b.d2").alias("d2"),
                F.col("_b.dist").alias("dist"),
            )
        )
        pending = agg.where(F.col("_b").isNull()).select(
            F.col("pid_l").alias(lid),
            F.col("_sx").alias(lx),
            F.col("_sy").alias(ly),
        )
        pcols = (lid, lx, ly)
        npend = pending.count()  # materializes the ring-1 persist
        if npend > 0:
            n_est = float(npend)
            r = _late_ring_radius(r1, radius, rho, 1)
            for _i in range(2):
                if r >= radius:
                    break
                cs = explicit_cell or _ring_cell_size(r, rho)
                strat = explicit_strategy or _flip_strategy(
                    planner.cached_count(right)
                )
                fpairs = _band_pairs_flip(
                    pending, right, r, cs, strat,
                    left_cols=pcols, right_cols=rcols,
                    exclude_self=exclude_self,
                )
                # two-level min: per (pid_l, cell) in-stage, then per
                # pid_l — only one tiny struct per exploded cell crosses
                # the agg exchange, never the pair stream.
                lvl1 = fpairs.groupBy("pid_l", "cell_x", "cell_y").agg(
                    F.min(
                        F.when(
                            F.col("pid_r").isNotNull(),
                            F.struct("d2", "pid_r"),
                        )
                    ).alias("_c"),
                    F.min("lx").alias("_cx"),
                    F.min("ly").alias("_cy"),
                )
                fagg = _persist_lazy(
                    lvl1.groupBy("pid_l").agg(
                        F.min("_c").alias("_b"),
                        F.min("_cx").alias("_sx"),
                        F.min("_cy").alias("_sy"),
                    )
                )
                parts.append(
                    fagg.where(F.col("_b").isNotNull()).select(
                        "pid_l",
                        F.col("_b.pid_r").alias("pid_r"),
                        F.col("_b.d2").alias("d2"),
                        F.round(F.sqrt(F.col("_b.d2")), 6).alias("dist"),
                    )
                )
                pending = fagg.where(F.col("_b").isNull()).select(
                    F.col("pid_l").alias(lid),
                    F.col("_sx").alias(lx),
                    F.col("_sy").alias(ly),
                )
                n_est = max(n_est * _poisson_lt(math.pi * rho * r * r, 1), 1.0)
                if n_est < 16.0:
                    # The analytic survivor estimate says the remainder is
                    # a handful of rows: building another flipped ring
                    # costs a plan branch + two stages to resolve ~nothing.
                    # Jump straight to the cap ring — its explode factor on
                    # <16 pending rows is trivial even at the full radius.
                    break
                r = _late_ring_radius(r, radius, rho, 1, 6.0 ** (_i + 1))
            parts.append(
                _nearest_reduce(_pairs(pending, radius, max(int(n_est), 1)))
            )
        best = parts[0]
        for p in parts[1:]:
            best = best.unionByName(p)
    if ufac != 1.0:
        # Output distance in the requested unit (NearOperation.java:145-155)
        # — recomputed from the exact d2 so there is a single rounding.
        best = best.withColumn(
            "dist", F.round(F.sqrt(F.col("d2")) / F.lit(ufac), 6)
        )
    if keep_all:
        base = left.select(F.col(lid).alias("pid_l"))
        return base.join(best, on="pid_l", how="left")
    return best


def _mm_dist(d2m):
    """Presentation distance from an exact integer-mm squared distance —
    identical text in the DuckDB oracles, so values match bit-for-bit."""
    return F.round(F.sqrt(d2m.cast("double") / F.lit(1000000.0)), 6)


def _knn_rank(pairs: DataFrame, k: int, by: str = "d2") -> DataFrame:
    w = Window.partitionBy("pid_l").orderBy(F.col(by).asc(), F.col("pid_r").asc())
    out = pairs.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
    if by == "d2m":
        out = out.withColumn("dist", _mm_dist(F.col("d2m")))
    return out


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    radius: float,
    exclude_self: bool = True,
    first_radius: float | None = None,
    mm_exact: bool = False,
    unit: str | None = None,
    **kw,
) -> DataFrame:
    """k-nearest-neighbors within radius -> (pid_l, pid_r, dist, rank).

    Reference: KNearestNeighborMapOperation.java:90-101 probes an STRtree for
    k nearest; here Window.partitionBy(pid_l).orderBy(d2) + row_number()<=k
    over cell-banded candidate pairs. Deterministic tie-break on pid_r.

    ``mm_exact=True`` (callers on the engine's integer-millicoordinate
    world contract) switches neighbor ordering to the exact BIGINT
    mm-squared distance and — when id/radius bounds allow — PACKS each
    candidate into one bigint ``d2m * P + pid_r`` (P = next pow2 over the
    probed max right id) so every ring's top-k aggregate buffers primitive
    longs instead of per-pair row objects. Measured at 4x bench volume
    (local[8]): the struct aggregate runs 22-44 s with GC-coupled
    run-to-run swing, the packed one 16-17 s stable. Order semantics are
    identical where the double order is well-defined; on double-rounding
    near-ties the exact-mm order is the TRUE distance order (coords are
    exact n/1000), and the gate oracle orders by the same integer. Falls
    back to the struct path when ids can exceed the pack budget
    ((d2m_max+1)*P must stay under 2^63) or ids are negative.

    Scale plan — **two-phase adaptive radius** (the iterative k-ring
    expansion of SURVEY.md §2.4): a fixed search radius wide enough for
    sparse regions over-fetches quadratically in dense ones. Phase 1 joins
    at ``first_radius`` (default: the density-probed radius expecting
    ~k+4 neighbors); every left point that already found >= k neighbors
    there is final (its kth neighbor is closer than first_radius < radius,
    so nothing outside phase 1 can displace it). Only the unresolved
    remainder re-joins at the full radius. Semantics are identical to the
    single-phase join.

    ``unit``: DistanceUnit of the radius; converted to world units at
    plan time, output ``dist`` reported in that unit (DistanceUnit.java:
    26-58, NearOperation.java:96-155 contract).
    """
    ufac = units.factor(unit)
    radius = float(radius) * ufac
    if first_radius is not None:
        first_radius = float(first_radius) * ufac
    rho = point_density(right)
    r1 = (
        first_radius
        if first_radius is not None
        else _adaptive_first_radius(right, float(k) + 4.0, radius)
    )
    lid = kw.get("left_cols", ("pid", "x", "y"))[0]
    rid_r = kw.get("right_cols", ("pid", "x", "y"))[0]
    explicit_strategy = kw.pop("strategy", None)
    explicit_cell = kw.pop("cell_size", None)

    packed = False
    pack_p = 0
    if mm_exact:
        mn_id, mx_id = planner.cached_minmax(right, rid_r)
        if mn_id is not None and int(mn_id) >= 0:
            pack_p = 1 << max(int(mx_id).bit_length(), 1)
            d2m_cap = (int(radius * 1000.0) + 2) ** 2
            packed = (d2m_cap + 1) * pack_p + (pack_p - 1) < (1 << 63)
    # The pack base comes from a (possibly persisted) probe; a right id
    # outside [0, P) would bleed into the d2m bits and reorder neighbours
    # silently, so every right row checks its id in-plan before the cell
    # explode. Probes keep keying on the unguarded layer, so their cached
    # results still hit.
    right_pairs = right
    if packed:
        rid = F.col(rid_r)
        right_pairs = right.withColumn(rid_r, F.when(
            (rid < 0) | (rid >= F.lit(pack_p)),
            F.raise_error(F.concat(
                F.lit(f"knn_join: right id outside the pack range [0, {pack_p}): "),
                rid.cast("string"),
            )),
        ).otherwise(rid))

    def _pairs(lf: DataFrame, rad: float, n_lf: int | None = None) -> DataFrame:
        # Ring-explode the smaller side — see nearest_join._pairs.
        cs = explicit_cell or _ring_cell_size(rad, rho)
        n_r = planner.cached_count(right)
        side = "left" if (n_lf is not None and n_lf < n_r) else "right"
        strat = explicit_strategy or _ring_strategy_n(
            n_lf if side == "left" else n_r, rad, cs
        )
        p = distance_band_join(
            lf, right_pairs, rad, cell_size=cs, strategy=strat, build=side,
            emit_d2m=packed, **kw
        )
        if exclude_self:
            p = p.where(F.col("pid_l") != F.col("pid_r"))
        return p

    def _unitize(df: DataFrame) -> DataFrame:
        # dist in the requested unit, recomputed from the exact d2 so the
        # conversion is a single rounding (NearOperation.java:145-155).
        if ufac == 1.0:
            return df
        return df.withColumn(
            "dist", F.round(F.sqrt(F.col("d2")) / F.lit(ufac), 6)
        )

    if r1 <= 0 or r1 >= radius:
        return _unitize(
            _knn_rank(_pairs(left, radius), k, by="d2m" if packed else "d2")
        )

    # Iterative ring expansion. Per step the top-k reduction is a HASH
    # aggregate — sort_array(collect_list(struct(d2, pid_r))) sliced to k —
    # not a window: the per-group sort touches ~λ elements, so no step ever
    # sorts the full pair table. A point whose ring already holds >= k
    # neighbors is final (its kth neighbor is closer than the ring radius,
    # so nothing outside can displace it); survivors continue to the next,
    # work-equalized wider ring.
    # Aggregate ELEMENT + unpack, selected once per query: struct(d2, pid_r)
    # vs packed bigint d2m*P + pid_r (see mm_exact in the docstring). The
    # collect_list payload is the dominant allocation of the whole query;
    # a primitive long per pair instead of a row object is the difference
    # between a GC-coupled and a flat local[8] leg at bench volume.
    if packed:
        _shift = pack_p.bit_length() - 1

        def _elem():
            return F.when(
                F.col("pid_r").isNotNull(),
                F.col("d2m") * F.lit(pack_p) + F.col("pid_r"),
            )

        def _explode_topk(agg: DataFrame) -> DataFrame:
            ex = agg.select(
                "pid_l",
                F.posexplode(F.col("_lst")).alias("_pos", "_e"),
            )
            d2m = F.shiftright("_e", _shift)
            return ex.select(
                "pid_l",
                F.col("_e").bitwiseAND(F.lit(pack_p - 1)).alias("pid_r"),
                (d2m.cast("double") / F.lit(1000000.0)).alias("d2"),
                _mm_dist(d2m).alias("dist"),
                (F.col("_pos") + 1).cast("int").alias("rank"),
            )
    else:

        def _elem():
            return F.when(
                F.col("pid_r").isNotNull(), F.struct("d2", "pid_r")
            )

        def _explode_topk(agg: DataFrame) -> DataFrame:
            ex = agg.select(
                "pid_l",
                F.posexplode(F.col("_lst")).alias("_pos", "_e"),
            )
            return ex.select(
                "pid_l",
                F.col("_e.pid_r").alias("pid_r"),
                F.col("_e.d2").alias("d2"),
                # identical expression to the pair-level dist (joins.py:360)
                F.round(F.sqrt(F.col("_e.d2")), 6).alias("dist"),
                (F.col("_pos") + 1).cast("int").alias("rank"),
            )

    def _topk_agg(pairs: DataFrame) -> DataFrame:
        # Cap-ring reduction: inner pair join, so _elem()'s NULL guard is
        # vacuous; the element/order encoding must match the rings'.
        return pairs.groupBy("pid_l").agg(
            F.slice(
                F.sort_array(F.collect_list(_elem())),
                1, k,
            ).alias("_lst"),
            F.count(F.lit(1)).alias("_n"),
        )

    # Ring schedule (see nearest_join): ring 1 is the in-stage outer join
    # over the full left layer — one serial driver job (the pending count)
    # total; rings 2+ are FLIPPED outer joins over the collapsed remainder
    # with a static, analytically-sized lazy schedule; the cap ring flips
    # to the inner path. Top-k is decomposable, so the flipped rings
    # reduce per (pid_l, cell) in-stage first — ≤k-element pre-sliced
    # lists cross the agg exchange, never the pair stream.
    lx, ly = kw.get("left_cols", ("pid", "x", "y"))[1:3]
    lcols = kw.get("left_cols", ("pid", "x", "y"))
    rcols = kw.get("right_cols", ("pid", "x", "y"))
    parts: list[DataFrame] = []
    cs = explicit_cell or _ring_cell_size(r1, rho)
    strat = explicit_strategy or _ring_strategy_n(
        planner.cached_count(right), r1, cs
    )
    pairs = _band_pairs_outer(
        left, right_pairs, r1, cs, strat,
        left_cols=lcols, right_cols=rcols, exclude_self=exclude_self,
    )
    agg = _persist_lazy(
        pairs.groupBy("cell_x", "cell_y", "pid_l").agg(
            F.slice(
                # collect_list drops NULL elements — outer rows (no
                # in-ring neighbor) contribute nothing.
                F.sort_array(F.collect_list(_elem())),
                1, k,
            ).alias("_lst"),
            F.count("pid_r").alias("_n"),  # non-null = real pairs
            F.min("lx").alias("_sx"),
            F.min("ly").alias("_sy"),
        )
    )
    parts.append(_explode_topk(agg.where(F.col("_n") >= k)))
    pending = agg.where(F.col("_n") < k).select(
        F.col("pid_l").alias(lid),
        F.col("_sx").alias(lx),
        F.col("_sy").alias(ly),
    )
    pcols = (lid, lx, ly)
    npend = pending.count()  # materializes the ring-1 persist
    if npend > 0:
        n_est = float(npend)
        r = _late_ring_radius(r1, radius, rho, k)
        for _i in range(2):
            if r >= radius:
                break
            cs = explicit_cell or _ring_cell_size(r, rho)
            strat = explicit_strategy or _flip_strategy(
                planner.cached_count(right)
            )
            fpairs = _band_pairs_flip(
                pending, right_pairs, r, cs, strat,
                left_cols=pcols, right_cols=rcols, exclude_self=exclude_self,
            )
            lvl1 = fpairs.groupBy("pid_l", "cell_x", "cell_y").agg(
                F.slice(
                    F.sort_array(F.collect_list(_elem())),
                    1, k,
                ).alias("_c"),
                F.count("pid_r").alias("_cn"),
                F.min("lx").alias("_cx"),
                F.min("ly").alias("_cy"),
            )
            fagg = _persist_lazy(
                lvl1.groupBy("pid_l").agg(
                    # top-k of per-cell top-k lists == global top-k; the
                    # UNsliced per-cell counts sum to the true in-radius
                    # neighbor count that decides resolution.
                    F.slice(
                        F.sort_array(F.flatten(F.collect_list("_c"))), 1, k
                    ).alias("_lst"),
                    F.sum("_cn").alias("_n"),
                    F.min("_cx").alias("_sx"),
                    F.min("_cy").alias("_sy"),
                )
            )
            parts.append(_explode_topk(fagg.where(F.col("_n") >= k)))
            pending = fagg.where(F.col("_n") < k).select(
                F.col("pid_l").alias(lid),
                F.col("_sx").alias(lx),
                F.col("_sy").alias(ly),
            )
            n_est = max(n_est * _poisson_lt(math.pi * rho * r * r, k), 1.0)
            if n_est < 16.0:
                # see nearest_join: skip further rings once the analytic
                # schedule says the remainder is a handful of rows.
                break
            r = _late_ring_radius(r, radius, rho, k, 6.0 ** (_i + 1))
        # Stragglers at the radius cap: inner path, ring-exploding the
        # (tiny) pending side rather than the whole right layer.
        parts.append(
            _explode_topk(_topk_agg(_pairs(pending, radius, max(int(n_est), 1))))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _unitize(out)


def attribute_join(
    left: DataFrame, right: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Plain equi-join — AttributeJoinProcess.java:42. Catalyst-native."""
    return left.join(right, on=on, how=how)


def hub_lines_by_distance(
    spokes: DataFrame, hubs: DataFrame, radius: float, **kw
) -> DataFrame:
    """Spoke -> nearest hub with connecting segment endpoints + hub_dist.

    Reference emits LineString rows (HubLinesByDistanceOperation.java:63);
    columnar equivalent: (pid_l, pid_r, x1, y1, x2, y2, hub_dist).
    """
    lid, lx, ly = kw.get("left_cols", ("pid", "x", "y"))
    nearest = nearest_join(spokes, hubs, radius, **kw)
    s = spokes.select(
        F.col(lid).alias("pid_l"), F.col(lx).alias("x1"), F.col(ly).alias("y1")
    )
    rid_, rx, ry = kw.get("right_cols", ("pid", "x", "y"))
    h = hubs.select(
        F.col(rid_).alias("pid_r"), F.col(rx).alias("x2"), F.col(ry).alias("y2")
    )
    return (
        nearest.join(s, "pid_l")
        .join(h, "pid_r")
        .select("pid_l", "pid_r", "x1", "y1", "x2", "y2",
                F.col("dist").alias("hub_dist"))
    )
