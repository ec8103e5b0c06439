"""Output checks and seeded inputs (DuckDB only, no Spark)."""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest

import checks
import datagen


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    return datagen.generate(str(tmp_path_factory.mktemp("sf")), seed=3, sf=0.001)


def _digest(d: str) -> dict[str, str]:
    out = {}
    for fn in sorted(os.listdir(d)):
        with open(os.path.join(d, fn), "rb") as fh:
            out[fn] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_bytes(tiny, tmp_path):
    again = datagen.generate(str(tmp_path / "again"), seed=3, sf=0.001)
    other = datagen.generate(str(tmp_path / "other"), seed=4, sf=0.001)
    assert _digest(tiny) == _digest(again)
    assert _digest(tiny) != _digest(other)
    assert sorted(_digest(tiny)) == sorted(f"{t}.parquet" for t in datagen.TABLES)


def test_frame_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": [0.1 + 0.2, None]})
    b = pd.DataFrame({"y": [float("nan"), 0.3], "x": [2, 1]})
    assert checks.frame_hash(a) == checks.frame_hash(b)
    assert checks.frame_hash(a) != checks.frame_hash(a.assign(x=[1, 3]))


def test_wrong_oracle_is_reported(tiny):
    con = checks.duckdb_over(tiny)
    got = checks.frame_hash(con.execute(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1").df())
    con.close()
    oracles = {
        "right": "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1",
        "wrong": "SELECT o_orderstatus, count(*) + 1 AS n FROM orders GROUP BY 1",
    }
    failures = checks.check_outputs(
        {"right": got, "wrong": got, "no_oracle": (0, "x", "h")}, oracles, tiny)
    assert set(failures) == {"wrong", "no_oracle"}


def test_lakehouse_model_replays_dml(tiny, tmp_path):
    orders = pd.read_parquet(os.path.join(tiny, "orders.parquet"))
    app = orders.head(3).assign(o_orderkey=[10_000, 10_001, 10_002])
    merge = orders.head(2).assign(o_totalprice=[1.0, 2.0])
    bump = pd.DataFrame({"k": orders.o_orderkey.head(1), "bump": [5.0]})
    paths = {}
    for name, df in (("append", app), ("merge", merge), ("sql_merge", bump)):
        paths[name] = str(tmp_path / f"{name}.parquet")
        df.to_parquet(paths[name], index=False)
    dml = {**paths, "delete": "o_orderkey = 10000", "update": "o_orderkey = 10001",
           "update_bump": 100.0}
    n, total = checks.lakehouse_model(tiny, dml)
    first = orders.o_totalprice.head(2).tolist()
    want = orders.o_totalprice.sum() + app.o_totalprice.sum() - sum(first) + 3.0 + 5.0
    want -= app.o_totalprice.iloc[0]
    want += 100.0
    assert n == len(orders) + 2
    assert total == pytest.approx(want)
