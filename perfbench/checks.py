"""Output checks run outside the timed region.

Query outputs are compared with the DuckDB oracle SQL the plans
declare, by row count, sorted column names and an order-insensitive
value hash (floats at 6 significant digits, NaN and None both "NULL").
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from datagen import TABLES


def _norm(v):
    """numpy scalar -> python, ndarray -> list, NaN/NaT -> None."""
    if isinstance(v, np.ndarray):
        return [_norm(x) for x in v.tolist()]
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if v is None:
        return None
    if not isinstance(v, (str, bytes, bool, int, float)):
        try:
            if pd.isna(v):
                return None
        except (TypeError, ValueError):
            pass
        return str(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v == 0:
            return "0"
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def frame_hash(pdf: pd.DataFrame) -> tuple[int, str, str]:
    """``(rows, sorted column names, value hash)`` of a result frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon(_norm(v)) for v in tup)
        for tup in pdf[cols].itertuples(index=False, name=None)
    )
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(rows), ",".join(cols), digest


def duckdb_over(data_dir: str):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def check_outputs(outputs: dict, oracles: dict, data_dir: str) -> dict[str, str]:
    """Map op name -> failure reason for each output that disagrees with
    its oracle (or is empty, for ops without one)."""
    failures: dict[str, str] = {}
    con = None
    for name, got in outputs.items():
        if isinstance(got, Exception):
            failures[name] = f"raised {type(got).__name__}: {got}"[:500]
            continue
        sql = oracles.get(name)
        if sql is None:
            if got[0] == 0:
                failures[name] = "no rows"
            continue
        if con is None:
            con = duckdb_over(data_dir)
        want = frame_hash(con.execute(sql).df())
        if got != want:
            failures[name] = f"spark {got} != oracle {want}"
    if con is not None:
        con.close()
    return failures


def lakehouse_model(data_dir: str, dml: dict) -> tuple[int, float]:
    """Replay the seeded maintenance cycle's DML on DuckDB and return the
    final ``(count, sum(o_totalprice))`` the snapshot table must hold."""
    con = duckdb_over(data_dir)
    try:
        con.execute(
            "CREATE TABLE t AS SELECT o_orderkey, o_custkey, o_orderstatus,"
            " o_totalprice, o_orderdate, o_orderpriority FROM orders"
        )
        con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{dml['append']}')")
        src = f"read_parquet('{dml['merge']}')"
        con.execute(
            f"UPDATE t SET o_totalprice = s.o_totalprice FROM {src} s"
            " WHERE t.o_orderkey = s.o_orderkey"
        )
        con.execute(
            f"INSERT INTO t SELECT * FROM {src} s"
            " WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM t)"
        )
        src = f"read_parquet('{dml['sql_merge']}')"
        con.execute(
            f"UPDATE t SET o_totalprice = t.o_totalprice + s.bump FROM {src} s"
            " WHERE t.o_orderkey = s.k"
        )
        con.execute(f"DELETE FROM t WHERE {dml['delete']}")
        con.execute(
            f"UPDATE t SET o_totalprice = o_totalprice + {dml['update_bump']}"
            f" WHERE {dml['update']}"
        )
        n, total = con.execute(
            "SELECT count(*), sum(o_totalprice) FROM t"
        ).fetchone()
        return int(n), float(total)
    finally:
        con.close()
