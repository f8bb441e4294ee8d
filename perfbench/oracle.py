"""Correctness checks that do not go through the engine.

``latest_per_key`` is the DuckDB reference for the CDC apply: per key the
event with the highest LSN wins and a delete removes the row.
``row_differences`` counts rows present on one side only (multiset
difference both ways), so one perturbed row counts twice: its expected
version is missing and its wrong version is extra. ``same_rows`` compares
a query result with its oracle result the way the engine's oracle drive
does: same column names, same row count, same rows after sorting, floats
compared exactly.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa

TARGET_COLUMNS = "order_id, customer_id, amount, ts, batch_id"


def latest_per_key(events: pa.Table) -> pa.Table:
    con = duckdb.connect()
    try:
        con.register("ev", events)
        return con.execute(
            f"""SELECT {TARGET_COLUMNS} FROM (
                  SELECT *, row_number() OVER (PARTITION BY order_id ORDER BY lsn DESC) AS rn
                  FROM ev) WHERE rn = 1 AND op <> 'd'"""
        ).arrow()
    finally:
        con.close()


def row_differences(expected: pa.Table, actual: pa.Table) -> int:
    con = duckdb.connect()
    try:
        con.register("e", expected.select(TARGET_COLUMNS.split(", ")))
        con.register("a", actual.select(TARGET_COLUMNS.split(", ")))
        return con.execute(
            """SELECT (SELECT count(*) FROM (SELECT * FROM e EXCEPT ALL SELECT * FROM a))
                    + (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM e))"""
        ).fetchone()[0]
    finally:
        con.close()


def _norm(v):
    if hasattr(v, "asDict"):  # a Spark Row is a tuple; compare it as DuckDB's struct dict
        v = v.asDict()
    if isinstance(v, float) and math.isnan(v):
        return ("nan",)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _sort_key(row):
    return tuple((x is None, repr(type(x)), x if x is not None else 0) for x in row)


def same_rows(spark_cols: list[str], spark_rows: list[tuple], oracle_cols: list[str], oracle_rows: list[tuple]) -> bool:
    if sorted(spark_cols) != sorted(oracle_cols) or len(spark_rows) != len(oracle_rows):
        return False
    order = [oracle_cols.index(c) for c in spark_cols]
    a = sorted((tuple(_norm(v) for v in r) for r in spark_rows), key=_sort_key)
    b = sorted((tuple(_norm(r[i]) for i in order) for r in oracle_rows), key=_sort_key)
    return a == b


TABLES = ("orders", "lineitem", "events", "documents", "embeddings")


def oracle_rows(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    """Run a registered oracle query over the generated parquet tables."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()
    finally:
        con.close()
