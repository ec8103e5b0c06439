"""Table CHECK constraints: enforced on every write path, NULL passes,
inherited as a table property, visible in table_info."""

from __future__ import annotations

import pytest

from pandas_analysis_with_postgres_spark.sources.snapshot import (
    delete_where,
    merge_snapshot,
    read_snapshot,
    replace_partitions,
    table_info,
    write_snapshot,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, amt long, p long")


def test_violating_bootstrap_write_is_rejected(spark, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="CHECK constraint"):
        write_snapshot(
            _df(spark, [(1, -5, 0)]), path, "p", constraints=["amt >= 0"]
        )
    # nothing was committed
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        current_version,
    )

    assert current_version(path) == 0


def test_merge_and_replace_inherit_and_enforce(spark, tmp_path):
    path = str(tmp_path / "t")
    write_snapshot(
        _df(spark, [(1, 10, 0)]), path, "p", constraints=["amt >= 0"]
    )
    with pytest.raises(ValueError, match="amt >= 0"):
        merge_snapshot(path, _df(spark, [(2, -1, 0)]), "k", "p")
    with pytest.raises(ValueError, match="amt >= 0"):
        replace_partitions(path, _df(spark, [(1, -7, 0)]), "p")
    # valid writes pass; property survives the merge
    merge_snapshot(path, _df(spark, [(2, 5, 0)]), "k", "p")
    assert table_info(path)["constraints"] == ["amt >= 0"]
    with pytest.raises(ValueError, match="amt >= 0"):
        merge_snapshot(path, _df(spark, [(3, -9, 0)]), "k", "p")


def test_null_passes_check_three_valued_logic(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, None, 0)], "k long, amt long, p long")
    write_snapshot(df, path, "p", constraints=["amt >= 0"])
    assert read_snapshot(spark, path).count() == 1


def test_overwrite_inherits_and_empty_list_drops(spark, tmp_path):
    path = str(tmp_path / "t")
    write_snapshot(
        _df(spark, [(1, 1, 0)]), path, "p", constraints=["amt >= 0"]
    )
    # overwrite WITHOUT restating: inherited and still enforced
    with pytest.raises(ValueError, match="CHECK constraint"):
        write_snapshot(_df(spark, [(1, -1, 0)]), path, "p")
    # explicit [] drops the property
    write_snapshot(_df(spark, [(1, 1, 0)]), path, "p", constraints=[])
    write_snapshot(_df(spark, [(1, -1, 0)]), path, "p")
    assert table_info(path)["constraints"] == []


def test_delete_where_rewrite_respects_constraints(spark, tmp_path):
    # delete rewrites partitions through replace_partitions; surviving
    # rows satisfy the constraints by construction, so deletes pass
    path = str(tmp_path / "t")
    write_snapshot(
        _df(spark, [(1, 1, 0), (2, 2, 0)]), path, "p", constraints=["amt >= 0"]
    )
    r = delete_where(spark, path, "k = 1")
    assert r["deleted_rows"] == 1
    assert {x.k for x in read_snapshot(spark, path).collect()} == {2}


def test_restating_bloom_cols_keeps_sized_bits(spark, tmp_path):
    """Code-review finding: a refresh that restates bloom_cols but not
    bloom_bits must keep the table's sized bitmaps, not shrink to the
    4096 default."""
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        read_manifest,
    )

    path = str(tmp_path / "t")
    write_snapshot(
        _df(spark, [(1, 1, 0)]), path, "p", bloom_cols=["k"], bloom_bits=65536
    )
    write_snapshot(_df(spark, [(2, 2, 0)]), path, "p", bloom_cols=["k"])
    assert read_manifest(path)["schema"]["bloom_bits"] == 65536


def test_update_is_checked_in_both_modes(spark, tmp_path):
    # A merge-on-read UPDATE writes no partition, only sidecars: its
    # new-version rows must meet the CHECK like a copy-on-write one.
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        current_version,
        update_where,
    )
    from pandas_analysis_with_postgres_spark.sources.sql_merge import (
        execute_dml,
    )

    path = str(tmp_path / "t")
    write_snapshot(
        _df(spark, [(1, 10, 0), (2, 20, 0), (3, 30, 1)]),
        path,
        "p",
        constraints=["amt >= 0"],
    )
    with pytest.raises(ValueError, match="CHECK constraint"):
        update_where(spark, path, "k = 1", {"amt": "-5"}, key="k")
    with pytest.raises(ValueError, match="CHECK constraint"):
        execute_dml(spark, "UPDATE t SET amt = -5 WHERE k = 1", tables={"t": path})
    assert current_version(path) == 1
    assert (1, 10, 0) in {tuple(r) for r in read_snapshot(spark, path).collect()}
    # a valid merge-on-read update still commits
    assert update_where(spark, path, "k = 1", {"amt": "5"}, key="k")["version"] == 2
