"""Seeded, self-contained benchmark inputs.

The engine's spatial world (``opengxt_spark.world``) is a pure function of
the driver's TPC-H-like tables. This module writes those tables itself, so a
run never reads data from outside its checkout:

- ``events``, ``part``, ``customer`` and ``orders`` carry the columns the
  world layers read, with the sf0.1 row counts and value ranges; the id
  range starts at a seeded offset, so every seed places a different point
  set on the plane;
- the other driver tables are written as one-row stubs, because
  ``world.register_tables`` registers all of them.

The point and rectangle layers are then replicated ``k`` times with a seeded
toroidal displacement of their integer millicoordinates (``replicate``) and
spread to full parallelism (``spread``). Both are copies of the helpers in
``bench.py`` with one change: the shift is applied to the integer
millicoordinate and the double recomputed as ``m / 1000.0``, so a replica
keeps the world's exact ``n / 1000`` coordinate contract that
``knn_join(mm_exact=True)`` and the oracles rely on.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Replica id offset: above every generated id, and small enough that
#: replicated ids stay inside knn_join's packed top-k budget.
REP_OFF = 1 << 24
#: Largest seeded start of a generated id range (ids stay below REP_OFF).
ID_BASE_MAX = 1 << 22

#: sf0.1 row counts of the tables the world layers read.
SF01_ROWS = {"events": 100_000, "part": 20_000, "customer": 15_000, "orders": 150_000}

_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

#: Replicated layer -> the key of its persisted frame.
LAYER_FRAMES = {"points_events": "ev", "points_part": "pt", "rects_customer": "rc"}

# Hot-cell skew of the registry's ``pip_count_skew_salted`` query: a third
# of the events squashed into [0, 10)^2.
SKEW_X = "CASE WHEN pid % 3 = 0 THEN x * 0.01 ELSE x END"
SKEW_Y = "CASE WHEN pid % 3 = 0 THEN y * 0.01 ELSE y END"


@dataclass(frozen=True)
class Shape:
    """Input size: base-table fractions of sf0.1 and the replica count."""

    events: float
    part: float
    customer: float
    orders: float
    replicas: int

    def rows(self, table: str) -> int:
        return max(1, int(SF01_ROWS[table] * getattr(self, table)))


@dataclass(frozen=True)
class Displacement:
    """Seeded replica shift in integer millicoordinates: a global offset
    plus a per-replica stride, shared by every layer so replicas keep the
    layers' relative geometry."""

    ox: int
    oy: int
    sx: int
    sy: int

    @classmethod
    def from_seed(cls, seed: int) -> "Displacement":
        rng = random.Random(seed * 7919 + 17)
        return cls(
            rng.randrange(1_000_000), rng.randrange(1_000_000),
            rng.randrange(100_000, 900_000), rng.randrange(100_000, 900_000),
        )


def write_tables(out_dir: str, shape: Shape, seed: int) -> dict[str, int]:
    """Write the driver tables for ``shape`` and ``seed``; return row counts."""
    rng = np.random.default_rng(seed % (1 << 63))  # numpy takes no negative seed
    os.makedirs(out_dir, exist_ok=True)

    def ids(table: str) -> np.ndarray:
        base = int(rng.integers(0, ID_BASE_MAX))
        return np.arange(base, base + shape.rows(table), dtype=np.int64)

    def pick(choices: list[str], n: int) -> np.ndarray:
        return np.array(choices, dtype=object)[rng.integers(0, len(choices), n)]

    ev = ids("events")
    n = len(ev)
    events = pd.DataFrame({
        "event_id": ev,
        "ts": (np.datetime64("2024-01-01", "us")
               + rng.integers(0, 86_400 * 365, n).astype("timedelta64[s]")),
        "user_id": rng.integers(0, 1500, n, dtype=np.int64),
        "event_type": pick(_EVENT_TYPES, n),
        "value": np.minimum(np.round(rng.gamma(2.0, 40.0, n), 2), 560.21),
        "props": "{}",
    })
    pk = ids("part")
    part = pd.DataFrame({
        "p_partkey": pk,
        "p_name": "part",
        "p_brand": "Brand#1",
        "p_type": "STANDARD",
        "p_size": np.int32(1),
        "p_retailprice": 900.0 + rng.integers(0, 1000, len(pk)) / 10.0,
    })
    ck = ids("customer")
    customer = pd.DataFrame({
        "c_custkey": ck,
        "c_name": "customer",
        "c_nationkey": np.int32(0),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(ck)), 2),
        "c_mktsegment": pick(_SEGMENTS, len(ck)),
    })
    ok = ids("orders")
    orders = pd.DataFrame({
        "o_orderkey": ok,
        "o_custkey": ok % max(len(ck), 1),
        "o_orderstatus": "O",
        "o_totalprice": 1000.0,
        "o_orderdate": np.datetime64("2024-01-01", "us"),
        "o_orderpriority": pick(_PRIORITIES, len(ok)),
    })
    stubs = {
        "region": pd.DataFrame({"r_regionkey": np.int32([0]), "r_name": ["R"]}),
        "nation": pd.DataFrame({"n_nationkey": np.int32([0]), "n_name": ["N"],
                                "n_regionkey": np.int32([0])}),
        "supplier": pd.DataFrame({"s_suppkey": np.int64([0]), "s_name": ["S"],
                                  "s_nationkey": np.int32([0]), "s_acctbal": [0.0]}),
        "lineitem": pd.DataFrame({"l_orderkey": np.int64([0]), "l_partkey": np.int64([0])}),
        "documents": pd.DataFrame({"doc_id": np.int64([0]), "text": ["t"]}),
        "embeddings": pd.DataFrame({"vec_id": np.int64([0]), "label": np.int32([0])}),
    }
    tables = {"events": events, "part": part, "customer": customer,
              "orders": orders, **stubs}
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}


_COORD_PAIRS = (("x", "ix"), ("y", "iy"), ("cx", None), ("cy", None))


def replicate(df: DataFrame, id_col: str, k: int, disp: Displacement) -> DataFrame:
    """``k`` displaced copies of a layer (replica 0 is shifted too, by the
    global offset): ids offset by ``rep * REP_OFF``, millicoordinates
    shifted toroidally on the [0, 1000) plane."""
    out = df.withColumn(
        "_rep", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(k - 1).cast("long")))
    )
    out = out.withColumn(id_col, F.col(id_col) + F.col("_rep") * F.lit(REP_OFF))
    for c, ic in _COORD_PAIRS:
        if c not in df.columns:
            continue
        off, stride = (disp.ox, disp.sx) if c.endswith("x") else (disp.oy, disp.sy)
        milli = F.pmod(
            F.floor(F.col(c) * 1000.0 + 0.5).cast("long")
            + F.lit(off) + F.col("_rep") * F.lit(stride),
            F.lit(1_000_000),
        )
        out = out.withColumn("_m", milli).withColumn(
            c, F.col("_m").cast("double") / F.lit(1000.0)
        )
        if ic is not None and ic in df.columns:
            out = out.withColumn(ic, F.col("_m"))
        out = out.drop("_m")
    return out.drop("_rep")


def spread(df: DataFrame) -> DataFrame:
    """Repartition a replicated layer to full parallelism after the explode
    (see ``bench.spread``: the single-file scan would otherwise run every
    narrow stage in one task)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def skewed(events: DataFrame) -> DataFrame:
    """The hot-cell-skewed copy of the events (registry skew shape)."""
    return events.selectExpr("pid", f"{SKEW_X} AS x", f"{SKEW_Y} AS y", "w")
