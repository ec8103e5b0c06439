"""Property-based SCD2/upsert invariants (SURVEY §5.4) under
hypothesis-generated histories and staged deltas.

Each example builds a random-but-seeded world: keys with a current
(and possibly closed) history version, staged rows that randomly
change values, carry NULLs, or introduce new keys. Invariants:

I1  at most one current row per key — and exactly one for staged keys;
I2  a row closed by this round chains: effective_to_date equals its
    successor's effective_from_date;
I3  re-applying the same staged frame is a no-op (idempotence);
I4  upsert preserves key uniqueness and never loses a dimension row.

Examples are deliberately few (Spark jobs per example); hypothesis
still explores NULL patterns and change combinations far beyond the
hand-written golden test.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pandas_analysis_with_postgres_spark.operators.scd2 import scd2_apply
from pandas_analysis_with_postgres_spark.operators.upsert import upsert

T2020 = datetime.datetime(2020, 1, 1)
T2024 = datetime.datetime(2024, 6, 1)
NOW = datetime.datetime(2024, 7, 1)

_spark = None


@pytest.fixture(autouse=True)
def _capture_spark(spark):
    global _spark
    _spark = spark
    yield


key_entry = st.fixed_dictionaries(
    {
        "in_history": st.booleans(),
        "has_closed_version": st.booleans(),
        "staged": st.booleans(),
        "changed": st.booleans(),
        "udate_null": st.booleans(),
        "value_null": st.booleans(),
        # A second, strictly older change event for the same staged key —
        # the CDC duplicate-key shape that must NOT fan out joins or open
        # two current versions (pre-dedup inside the operators).
        "dup_staged": st.booleans(),
    }
)

T2019 = datetime.datetime(2019, 1, 1)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(world=st.lists(key_entry, min_size=1, max_size=6))
def test_scd2_invariants(world):
    spark = _spark
    hist_rows, staged_rows = [], []
    for k, e in enumerate(world):
        val = None if e["value_null"] else f"v{k}"
        if e["in_history"]:
            hist_rows.append((k, val, T2020, None, 1, T2020, None))
            if e["has_closed_version"]:
                hist_rows.append((k, f"old{k}", T2020, T2020, 0, T2020, T2020))
        if e["staged"]:
            sval = (f"v{k}_new" if e["changed"] else val)
            staged_rows.append((k, sval, None if e["udate_null"] else T2024, T2020))
            if e["dup_staged"]:
                # Older event that keep_first_dedup must discard: its
                # COALESCE(udate, cdate)=2019 predates every primary row.
                staged_rows.append((k, f"v{k}_stale", T2019, T2019))
    if not staged_rows:
        return

    schema_h = (
        "k long, val string, effective_from_date timestamp, "
        "effective_to_date timestamp, is_current_record int, "
        "sys_effective_from_date timestamp, sys_effective_to_date timestamp"
    )
    hist = spark.createDataFrame(hist_rows, schema_h) if hist_rows else spark.createDataFrame([], schema_h)
    staged = spark.createDataFrame(
        staged_rows, "k long, val string, udate timestamp, cdate timestamp"
    )

    out = scd2_apply(
        hist,
        staged,
        "k",
        change_ts_col="udate",
        create_ts_col="cdate",
        now=F.lit(NOW),
        compare_cols=["val"],
    ).localCheckpoint()
    rows = out.collect()  # I1, the stale guard and I2 read this one result

    # I1 — current-row uniqueness, existence for staged keys.
    current = [r for r in rows if r["is_current_record"] == 1]
    current_keys = [r["k"] for r in current]
    assert len(current_keys) == len(set(current_keys))
    staged_keys = {r[0] for r in staged_rows}
    assert staged_keys <= set(current_keys)

    # Duplicate staged keys: the older event must never survive.
    assert not [
        r for r in current if r["val"] is not None and r["val"].endswith("_stale")
    ]

    # I2 — close/open chaining for rows closed by this round.
    succ = {
        r["k"]: r["effective_from_date"]
        for r in current
        if r["sys_effective_from_date"] == NOW
    }
    for r in rows:
        if r["is_current_record"] == 0 and r["sys_effective_to_date"] == NOW:
            assert r["effective_to_date"] == succ[r["k"]], r

    # I3 — idempotence.
    out2 = scd2_apply(
        out,
        staged,
        "k",
        change_ts_col="udate",
        create_ts_col="cdate",
        now=F.lit(NOW + datetime.timedelta(days=1)),
        compare_cols=["val"],
    )
    assert out2.count() == len(rows)
    assert out2.exceptAll(out.select(*out2.columns)).count() == 0


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(world=st.lists(key_entry, min_size=1, max_size=6))
def test_upsert_invariants(world):
    spark = _spark
    dim_rows = [
        (k, f"d{k}") for k, e in enumerate(world) if e["in_history"]
    ]
    staged_rows = [
        (k, None if e["value_null"] else f"s{k}")
        for k, e in enumerate(world)
        if e["staged"]
    ]
    # Duplicate staged keys: a lower-priority row the default dedup
    # (all non-key columns DESC NULLS LAST; 's…' > 'dup…') must discard.
    dup_rows = [
        (k, f"dup{k}")
        for k, e in enumerate(world)
        if e["staged"] and e["dup_staged"] and not e["value_null"]
    ]
    if not staged_rows:
        return
    dim = spark.createDataFrame(dim_rows, "k long, val string") if dim_rows else spark.createDataFrame([], "k long, val string")
    staged = spark.createDataFrame(staged_rows + dup_rows, "k long, val string")
    out = upsert(dim, staged, "k")

    # I4 — one row per key; union of both key sets; NULL staged values
    # never clobber dim values.
    rows = {r["k"]: r["val"] for r in out.collect()}
    assert set(rows) == {r[0] for r in dim_rows} | {r[0] for r in staged_rows}
    for k, sval in staged_rows:
        if sval is None and any(dk == k for dk, _ in dim_rows):
            assert rows[k] == f"d{k}"  # pandas-update semantics: keep old
        elif sval is not None:
            assert rows[k] == sval
