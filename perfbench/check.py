"""Output checks: exact order-insensitive fingerprints, DuckDB oracles.

A fingerprint is the row count plus the sum (mod 2^64) of a 64-bit hash of
each row, where a row is its values in column-name order with doubles
rounded to 6 decimals and -0.0 folded into 0.0. The same Python code
fingerprints the rows of both engines, so no engine-specific hash or number
formatting enters the comparison.

The expected value of a spatial query is its registry oracle
(``driver_queries.ORACLES``) run by DuckDB over the same inputs the timed
query read: the oracle's layer SQL is replaced by a scan of the replicated
layer that Spark persisted and wrote out, and the base tables are the
generated parquet files.
"""

from __future__ import annotations

import hashlib
import os
from decimal import Decimal

from opengxt_spark import driver_queries, world

_MASK = (1 << 64) - 1

BASE_TABLES = ("events", "part", "customer", "orders")


def _norm(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(round(v, 6) + 0.0)
    if isinstance(v, Decimal):
        return repr(round(float(v), 6) + 0.0)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return hashlib.md5(bytes(v)).hexdigest()
    return str(v)


def fingerprint(columns: list[str], rows) -> tuple[int, int]:
    """(row count, hash sum) of ``rows`` whose fields are named ``columns``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    n, total = 0, 0
    for row in rows:
        s = "\x1f".join(_norm(row[i]) for i in order)
        total += int.from_bytes(
            hashlib.blake2b(s.encode(), digest_size=8).digest(), "little")
        n += 1
    return n, total & _MASK


def spark_fingerprint(df) -> tuple[tuple[str, ...], tuple[int, int]]:
    cols = df.columns
    return tuple(sorted(cols)), fingerprint(cols, df.collect())


def duck_fingerprint(con, sql: str) -> tuple[tuple[str, ...], tuple[int, int]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return tuple(sorted(cols)), fingerprint(cols, cur.fetchall())


def oracle_sql(name: str, layer_paths: dict[str, str]) -> str:
    """The registry oracle of ``name`` reading the replicated layers."""
    sql = driver_queries.ORACLES[name]
    for layer, path in layer_paths.items():
        sql = sql.replace(world.LAYER_SQL[layer], f"SELECT * FROM read_parquet('{path}')")
    return sql


def duck_fingerprints(sf_dir: str, layer_paths: dict[str, str],
                      jobs: dict[str, str], threads: int) -> dict[str, tuple]:
    """Fingerprint of each ``{query: registry oracle}`` run by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"PRAGMA threads={threads}")
        for t in BASE_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {query: duck_fingerprint(con, oracle_sql(oracle, layer_paths))
                for query, oracle in jobs.items()}
    finally:
        con.close()


def write_layers(frames: dict, layer_frames: dict[str, str],
                 out_dir: str) -> dict[str, str]:
    """Write the persisted replicated layers for DuckDB; return their paths."""
    paths = {}
    for layer, key in layer_frames.items():
        if key in frames:
            path = os.path.join(out_dir, f"{layer}.parquet")
            frames[key].write.mode("overwrite").parquet(path)
            paths[layer] = os.path.join(path, "*.parquet")
    return paths
