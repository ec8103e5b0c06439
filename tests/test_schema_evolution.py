"""evolve_snapshot_schema: metadata-only rename/drop — logical schema
spans commits written before AND after the evolution; time travel keeps
old names; retired names are unusable; guards protect index columns."""

from __future__ import annotations

import pytest

from pandas_analysis_with_postgres_spark.sources.snapshot import (
    compact_snapshot,
    evolve_snapshot_schema,
    merge_snapshot,
    read_snapshot,
    write_snapshot,
)


def _seed(spark, tmp_path, name="t"):
    path = str(tmp_path / name)
    df = spark.createDataFrame(
        [(1, "a", 10, 0), (2, "b", 20, 1)], "k long, v string, amt long, p long"
    )
    write_snapshot(df, path, "p")
    return path


def test_rename_spans_old_and_new_commits(spark, tmp_path):
    path = _seed(spark, tmp_path)
    assert evolve_snapshot_schema(path, renames={"amt": "amount"}) == 2
    # merge AFTER the rename writes the new physical name
    merge_snapshot(
        path,
        spark.createDataFrame(
            [(3, "c", 30, 0)], "k long, v string, amount long, p long"
        ),
        "k",
        "p",
    )
    out = read_snapshot(spark, path)
    assert "amount" in out.columns and "amt" not in out.columns
    got = {r.k: r.amount for r in out.collect()}
    assert got == {1: 10, 2: 20, 3: 30}  # old commit mapped, new native
    # time travel to v1: the OLD schema
    v1 = read_snapshot(spark, path, 1)
    assert "amt" in v1.columns and "amount" not in v1.columns


def test_drop_hides_column_everywhere(spark, tmp_path):
    path = _seed(spark, tmp_path)
    assert evolve_snapshot_schema(path, drops=["v"]) == 2
    out = read_snapshot(spark, path)
    assert "v" not in out.columns
    assert {r.k for r in out.collect()} == {1, 2}
    # merges no longer carry the dropped column
    merge_snapshot(
        path,
        spark.createDataFrame([(4, 40, 1)], "k long, amt long, p long"),
        "k",
        "p",
    )
    assert "v" not in read_snapshot(spark, path).columns


def test_retired_names_are_rejected(spark, tmp_path):
    path = _seed(spark, tmp_path)
    evolve_snapshot_schema(path, renames={"amt": "amount"})
    with pytest.raises(ValueError, match="retired"):
        merge_snapshot(
            path,
            spark.createDataFrame(
                [(9, "z", 9, 9, 0)], "k long, v string, amt long, amount long, p long"
            ),
            "k",
            "p",
        )
    # rename target colliding with a retired name is rejected too
    with pytest.raises(ValueError, match="collides"):
        evolve_snapshot_schema(path, renames={"v": "amt"})


def test_protected_columns_cannot_evolve(spark, tmp_path):
    path = str(tmp_path / "prot")
    df = spark.createDataFrame([(1, 5, 0)], "k long, x long, p long")
    write_snapshot(df, path, "p", stats_cols=["k"])
    with pytest.raises(ValueError, match="partition/index"):
        evolve_snapshot_schema(path, renames={"p": "q"})
    with pytest.raises(ValueError, match="partition/index"):
        evolve_snapshot_schema(path, drops=["k"])


def test_compact_and_chained_renames_preserve_logical_schema(spark, tmp_path):
    path = _seed(spark, tmp_path)
    evolve_snapshot_schema(path, renames={"amt": "amount"})
    evolve_snapshot_schema(path, renames={"amount": "amount_cents"})
    out = read_snapshot(spark, path)
    assert {r.k: r.amount_cents for r in out.collect()} == {1: 10, 2: 20}
    v = compact_snapshot(spark, path)
    out2 = read_snapshot(spark, path, v)
    assert "amount_cents" in out2.columns
    assert {r.k: r.amount_cents for r in out2.collect()} == {1: 10, 2: 20}


def test_duplicate_rename_targets_rejected(spark, tmp_path):
    path = _seed(spark, tmp_path)
    with pytest.raises(ValueError, match="duplicate rename targets"):
        evolve_snapshot_schema(path, renames={"v": "x", "amt": "x"})


def test_evolved_then_emptied_table_presents_logical_schema(spark, tmp_path):
    """Second-review finding: the empty-table read path must apply the
    rename/drop chain, not the raw physical schema."""
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        delete_where,
    )

    path = _seed(spark, tmp_path)
    delete_where(spark, path, "k >= 0")  # empties the table
    evolve_snapshot_schema(path, renames={"amt": "amount"}, drops=["v"])
    out = read_snapshot(spark, path)
    assert out.count() == 0
    assert "amount" in out.columns and "amt" not in out.columns
    assert "v" not in out.columns


def test_overwrite_cannot_resurrect_retired_names_and_carries_registry(
    spark, tmp_path
):
    """Code-review regression: a FULL overwrite after
    evolve_snapshot_schema must carry the rename/drop registry and
    reject retired names, like merge/replace do — otherwise a later
    writer can resurrect a retired name and break the read-side
    cumulative rename chain."""
    import pytest

    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        evolve_snapshot_schema,
        read_manifest,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 10, 0)], "k long, old_v long, p long")
    write_snapshot(df, path, "p")
    evolve_snapshot_schema(path, renames={"old_v": "v"})

    # overwrite with the retired name: rejected before any write
    with pytest.raises(ValueError, match="retired"):
        write_snapshot(
            spark.createDataFrame([(1, 99, 0)], "k long, old_v long, p long"),
            path,
            "p",
        )

    # a clean overwrite carries the registry forward
    v = write_snapshot(
        spark.createDataFrame([(1, 99, 0)], "k long, v long, p long"),
        path,
        "p",
    )
    meta = read_manifest(path, v).get("schema") or {}
    assert ["old_v", "v"] in [list(r) for r in meta.get("renames") or []]
    # and the registry still gates the NEXT writer after the overwrite
    with pytest.raises(ValueError, match="retired"):
        write_snapshot(
            spark.createDataFrame([(2, 5, 0)], "k long, old_v long, p long"),
            path,
            "p",
        )


def test_pruned_scan_conforms_to_logical_schema(spark, tmp_path):
    """Code-review finding: pruning that keeps only PRE-evolution
    commits must still present evolution-added columns (NULL-filled),
    exactly like the unpruned read + filter it replaces — and an
    all-pruned empty frame must carry the full logical schema."""
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        merge_snapshot,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame(
            [(1, 10, 0), (2, 20, 1)], "k long, v long, p long"
        ),
        path,
        "p",
        stats_cols=["v"],
    )
    # schema-evolving merge adds column x, touching ONLY p=2
    merge_snapshot(
        path,
        spark.createDataFrame([(3, 30, 99, 2)], "k long, v long, x long, p long"),
        "k",
        "p",
    )
    # partition_filter keeps only the pre-evolution commits
    pruned = read_snapshot(
        spark, path, partition_filter=lambda p: p in {"p=0", "p=1"}
    )
    assert "x" in pruned.columns
    rows = {(r.k, r.x) for r in pruned.collect()}
    assert rows == {(1, None), (2, None)}
    # the caller's mandatory real filter now works instead of raising
    assert pruned.filter("x = 99").count() == 0
    # stats-pruned to zero rows: empty frame still has the full schema
    empty = read_snapshot(spark, path, column_ranges={"v": (1000, 2000)})
    assert set(empty.columns) == {"k", "v", "x", "p"}
    assert empty.count() == 0


def test_column_order_does_not_depend_on_commit_ids_or_pruning(spark, tmp_path):
    # The union of commit scans used to take the order of the (random)
    # commit ids, so the evolution-added column landed before or after
    # the partition column depending on which commits the pruning kept.
    # Three fresh tables draw three sets of commit ids.
    for i in range(3):
        path = str(tmp_path / f"t{i}")
        write_snapshot(
            spark.createDataFrame(
                [(1, 10, 0), (2, 20, 1)], "k long, v long, p long"
            ),
            path,
            "p",
            stats_cols=["k"],
        )
        merge_snapshot(
            path,
            spark.createDataFrame([(3, 30, 99, 2)], "k long, v long, x long, p long"),
            "k",
            "p",
        )
        full = read_snapshot(spark, path)
        new_only = read_snapshot(spark, path, point_lookups={"k": 3})
        old_only = read_snapshot(spark, path, point_lookups={"k": 1})
        none = read_snapshot(spark, path, point_lookups={"k": 999})
        assert len(new_only.inputFiles()) == len(old_only.inputFiles()) == 1
        for df in (full, new_only, old_only, none):
            assert df.columns == ["k", "v", "x", "p"]
