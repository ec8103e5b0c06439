"""The range family agrees with a plain scan on every partition class.

One table, built once, holds a partition of each kind the manifest
range classifier must tell apart: fully inside / fully outside / on the
boundary of a drawn window, all-NULL in the range column, MoR-tombstoned
(``delete_where``) and MoR-updated (``update_where``). Hypothesis draws
the window, its strictness and an aggregate list; every hybrid range
prover must equal ``filter(...).agg(...)`` over ``read_snapshot``.
"""

from __future__ import annotations

import pytest
from hypothesis import assume, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pandas_analysis_with_postgres_spark.sources.snapshot import (
    _partition_rows,
    delete_where,
    manifest_range_count,
    range_count_pruned,
    range_group_counts,
    range_group_multi,
    range_minmax_pruned,
    range_multi_pruned,
    range_null_count_pruned,
    range_sum_pruned,
    read_manifest,
    read_snapshot,
    update_where,
    write_snapshot,
)


def _rows():
    out = []
    for b in range(6):
        for j in range(10):
            i = 10 * b + j
            k = None if b == 5 and j < 2 else i  # b=5: NULL range values
            x = None if b == 2 or (b == 1 and j % 3 == 0) else i % 7
            out.append((i, k, x, 3 * i, b))
    return out


@pytest.fixture(scope="module")
def tbl(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("classifier") / "t")
    df = spark.createDataFrame(
        _rows(), "id long, k long, x long, v long, b long"
    )
    write_snapshot(
        df, path, "b", stats_cols=["k", "x", "v", "v::sum", "x::sum"]
    )
    delete_where(  # b=3 tombstoned
        spark, path, F.col("id").between(32, 34), mode="merge-on-read",
        key="id",
    )
    update_where(  # b=4 updated: its value stats are cleared
        spark, path, F.col("id").isin(45, 46), {"v": "v + 1000"}, key="id"
    )
    ref = read_snapshot(spark, path).cache()
    ref.count()
    live = sum(1 for n in _partition_rows(read_manifest(path), path).values()
               if n > 0)
    yield path, ref, live
    ref.unpersist()


_COLS = ("k", "x", "v", "b")
_item = st.one_of(
    st.just(("count", None)),
    st.tuples(st.sampled_from(("sum", "avg", "min", "max")),
              st.sampled_from(("k", "x", "v"))),
)
_bound = st.one_of(st.none(), st.integers(-5, 65))


def _cond(col, lo, hi, lo_strict, hi_strict):
    c = F.col(col)
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (c > lo if lo_strict else c >= lo)
    if hi is not None:
        cond = cond & (c < hi if hi_strict else c <= hi)
    return cond


def _ref_aggs(items):
    aggs = []
    for i, (kind, c) in enumerate(items):
        if kind == "count":
            aggs.append(F.count(F.lit(1)).alias(f"a{i}"))
        elif kind in ("sum", "avg"):
            aggs += [F.sum(c).alias(f"a{i}"), F.count(c).alias(f"n{i}")]
        else:
            aggs.append(getattr(F, kind)(c).alias(f"a{i}"))
    return aggs


def _ref_values(items, row):
    return [
        (row[f"a{i}"], row[f"n{i}"]) if kind in ("sum", "avg")
        else row[f"a{i}"]
        for i, (kind, _c) in enumerate(items)
    ]


def _check_parts(out, live):
    assert out["meta_partitions"] + out["scanned_partitions"] <= live


@settings(max_examples=8, deadline=None)
@given(
    range_col=st.sampled_from(("k", "x", "b")),
    lo=_bound,
    hi=_bound,
    lo_strict=st.booleans(),
    hi_strict=st.booleans(),
    items=st.lists(_item, min_size=1, max_size=4),
    null_col=st.sampled_from(_COLS),
    is_not=st.booleans(),
)
@example(  # b=1 and b=4 boundary, b=2 inside, b=0 and b=5 outside
    range_col="k", lo=15, hi=44, lo_strict=False, hi_strict=True,
    items=[("count", None), ("sum", "v"), ("min", "x"), ("max", "v")],
    null_col="x", is_not=False,
)
@example(  # range over the column that is all-NULL in b=2
    range_col="x", lo=1, hi=5, lo_strict=True, hi_strict=False,
    items=[("count", None), ("avg", "x"), ("min", "k")],
    null_col="k", is_not=True,
)
def test_range_family_agrees_with_scan(
    spark, tbl, range_col, lo, hi, lo_strict, hi_strict, items, null_col,
    is_not,
):
    assume(lo is not None or hi is not None)  # a range has a bound
    path, ref, live = tbl
    bounds = dict(lo=lo, hi=hi, lo_strict=lo_strict, hi_strict=hi_strict)
    hit = ref.filter(_cond(range_col, lo, hi, lo_strict, hi_strict))
    nc = F.col(null_col)
    row = hit.agg(
        *_ref_aggs(items),
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(nc.isNotNull() if is_not else nc.isNull(), 1))
        .alias("nulls"),
    ).collect()[0]
    want, n = _ref_values(items, row), row["n"]
    by_b = hit.groupBy("b").agg(
        *_ref_aggs(items), F.count(F.lit(1)).alias("n")
    ).collect()
    want_groups = {r["b"]: _ref_values(items, r) for r in by_b}

    multi = range_multi_pruned(spark, path, range_col, items, **bounds)
    assert multi["values"] == want
    _check_parts(multi, live)

    grouped = range_group_multi(spark, path, range_col, items, **bounds)
    assert dict(grouped["groups"]) == want_groups
    _check_parts(grouped, live)

    count = range_count_pruned(spark, path, range_col, **bounds)
    assert count["count"] == n
    _check_parts(count, live)

    gcounts = range_group_counts(spark, path, range_col, **bounds)
    assert dict(gcounts["groups"]) == {r["b"]: r["n"] for r in by_b}
    _check_parts(gcounts, live)

    for (kind, c), value in zip(items, want):
        if kind in ("sum", "avg"):
            out = range_sum_pruned(spark, path, range_col, c, **bounds)
            assert (out["sum"], out["n_nonnull"]) == value
        elif kind in ("min", "max"):
            out = range_minmax_pruned(spark, path, range_col, c, **bounds)
            assert out[kind] == value
        else:
            continue
        _check_parts(out, live)

    nulls = range_null_count_pruned(
        spark, path, range_col, null_col, is_not=is_not, **bounds
    )
    assert nulls["count"] == row["nulls"]
    _check_parts(nulls, live)

    proven = manifest_range_count(path, range_col, **bounds)
    assert proven is None or proven == n


def test_one_return_shape_and_open_window(spark, tbl):
    # every hybrid range prover reports the same I/O keys whether or not
    # it scans; with no bound at all the window is "range_col IS NOT
    # NULL" on both the metadata and the scanned side
    path, ref, live = tbl
    keys = {"meta_partitions", "scanned_partitions", "scanned_files",
            "total_files"}
    calls = [
        lambda **kw: range_count_pruned(spark, path, "k", **kw),
        lambda **kw: range_sum_pruned(spark, path, "k", "v", **kw),
        lambda **kw: range_minmax_pruned(spark, path, "k", "v", **kw),
        lambda **kw: range_multi_pruned(spark, path, "k", [("count", None)],
                                        **kw),
        lambda **kw: range_group_multi(spark, path, "k", [("count", None)],
                                       **kw),
        lambda **kw: range_null_count_pruned(spark, path, "k", "x", **kw),
    ]
    for call in calls:
        assert keys <= set(call(lo=15, hi=44))
        assert keys <= set(call(lo=15, hi=44, explain_only=True))
    assert keys <= set(range_group_counts(spark, path, "k", lo=15, hi=44))
    out = range_count_pruned(spark, path, "k")
    assert out["count"] == ref.filter(F.col("k").isNotNull()).count()
    assert out["meta_partitions"] + out["scanned_partitions"] == live
