"""Driver-mirror oracle gate: value-hash every query vs DuckDB at sf0.01.

Mirrors the driver's CORRECTNESS comparison: run each ``queries()``
entry on Spark and its ``oracle_sql()`` on DuckDB, compare row count,
sorted column names, and an order-insensitive value hash (floats at 6
significant figures, NaN/None both -> "NULL"). Queries without an
oracle get a rows-only check. Each per-query line carries the Spark
and DuckDB wall times (``spark_s``, ``oracle_s``); a final summary
ranks the 15 most expensive queries, the driver's per-pass budget.

Usage:
  python scripts/oracle_gate.py [--only q24,z32] [--sf-dir DIR]

Exit 0 iff every checked query matches.
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == 0:
            return "0"
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _norm(v):
    """numpy scalar -> python, ndarray -> list, NaN/NaT -> None."""
    import numpy as np
    import pandas as pd

    if isinstance(v, np.ndarray):
        return [_norm(x) for x in v.tolist()]
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if v is None:
        return None
    if not isinstance(v, (str, bytes, bool, int, float)):
        # timestamps/dates/decimals: None if NaT else canonical str
        try:
            if pd.isna(v):
                return None
        except (TypeError, ValueError):
            pass
        return str(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _hash_df(pdf) -> tuple[int, str, str]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for tup in pdf.itertuples(index=False, name=None):
        rows.append("\x1f".join(_canon(_norm(v)) for v in tup))
    rows.sort()
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(rows), ",".join(cols), h


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from pandas_analysis_with_postgres_spark.session import get_spark

    spark = get_spark("oracle_gate")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = sorted(qs)
    if args.only:
        only = set(args.only.split(","))
        names = [n for n in names if n in only or n.split("_")[0] in only]

    failed = []
    cost = {}
    t_all = time.monotonic()
    for name in names:
        t0 = time.monotonic()
        try:
            sdf = qs[name](spark, args.sf_dir).toPandas()
            s_n, s_cols, s_h = _hash_df(sdf)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(exc).__name__}: {exc}"[:300], flush=True)
            failed.append(name)
            continue
        spark_s = time.monotonic() - t0
        cost[name] = spark_s
        if name not in oracles:
            print(f"ok(rows-only) {name}: rows={s_n} spark_s={spark_s:.2f}", flush=True)
            continue
        t1 = time.monotonic()
        try:
            odf = con.execute(oracles[name]).df()
            o_n, o_cols, o_h = _hash_df(odf)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {type(exc).__name__}: {exc}"[:300], flush=True)
            failed.append(name)
            continue
        oracle_s = time.monotonic() - t1
        cost[name] += oracle_s
        times = f"spark_s={spark_s:.2f} oracle_s={oracle_s:.2f}"
        if (s_n, s_cols, s_h) == (o_n, o_cols, o_h):
            print(f"ok {name}: rows={s_n} hash={s_h} {times}", flush=True)
        else:
            print(
                f"FAIL {name}: spark(rows={s_n}, cols={s_cols}, h={s_h}) "
                f"vs oracle(rows={o_n}, cols={o_cols}, h={o_h}) {times}",
                flush=True,
            )
            failed.append(name)

    print(f"total_s={time.monotonic() - t_all:.1f} queries={len(names)}")
    print("TOP 15 BY COST (spark_s + oracle_s):")
    for name, s in sorted(cost.items(), key=lambda kv: -kv[1])[:15]:
        print(f"  {name:36s} {s:7.2f}s")
    print(f"FAILED: {len(failed)}" + (f" -> {failed}" if failed else ""))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
