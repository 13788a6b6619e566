"""Answers computed without the engine, and the comparison of results.

Governed reads and registry rows are answered by DuckDB over the generated
parquet inputs (reads of a table the benchmark writes to, over a DuckDB copy
that the same write batches are applied to); GET and LIST decisions come
from the benchmark's own grant table and the table's files on disk.
"""

from __future__ import annotations

import math
import os

import duckdb

Q1_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       SUM(l_quantity) AS sum_qty, SUM(l_extendedprice) AS sum_price,
       SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price
FROM {rel} {where}
GROUP BY 1, 2
"""


def connect(in_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in os.listdir(in_dir):
        if name.endswith(".parquet"):
            path = os.path.join(in_dir, name).replace("'", "''")
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def grant_where(grants: list[tuple[int, int]] | None) -> str:
    if grants is None:
        return ""
    pairs = ", ".join(f"({y}, {m})" for y, m in grants)
    return f"WHERE (year(l_shipdate), month(l_shipdate)) IN ({pairs})"


def q1_answer(con, rel: str, grants: list[tuple[int, int]] | None) -> list[tuple]:
    """Q1 over the relation ``rel``, restricted to ``grants``."""
    rows = con.execute(Q1_SQL.format(rel=rel, where=grant_where(grants))).fetchall()
    return normalize(rows, ["l_returnflag", "l_linestatus", "n", "sum_qty", "sum_price", "sum_disc_price"])


def normalize(rows, cols: list[str]) -> list[tuple]:
    """Columns in name order, rows sorted — order-free comparison."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def val(v):
        if isinstance(v, dict):
            return tuple(sorted(v.items()))
        if isinstance(v, list):
            return tuple(v)
        return v

    out = [tuple(val(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: repr(tuple(round(x, 4) if isinstance(x, float) else x for x in t)))


def same(a: list[tuple], b: list[tuple], rel: float = 1e-9) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not math.isclose(float(x), float(y), rel_tol=rel, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def spark_rows(df) -> list[tuple]:
    return normalize([tuple(r) for r in df.collect()], df.columns)


def registry_answers(con, names: list[str], oracles: dict[str, str]) -> dict[str, list[tuple]]:
    out = {}
    for name in names:
        res = con.sql(oracles[name])
        out[name] = normalize(res.fetchall(), res.columns)
    return out
