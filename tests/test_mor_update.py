"""Merge-on-read UPDATE (sources.snapshot.update_where): equality
tombstones + appended new-version delta rows in one commit, sequenced
Iceberg-v2-style so tombstones only suppress strictly-older rows — no
partition rewrite, exact manifest counts, conservative metadata for
updated partitions, compaction/rewrite fold-away, txn idempotence,
and the SQL statement front-end (execute_update mode="merge-on-read")."""

from __future__ import annotations

from pathlib import Path

import pytest

from pandas_analysis_with_postgres_spark.sources.snapshot import (
    clone_snapshot,
    compact_partitions,
    compact_snapshot,
    delete_where,
    diff_snapshots,
    expire_snapshots,
    manifest_aggregate,
    manifest_partition_counts,
    merge_snapshot,
    read_manifest,
    read_snapshot,
    restore_snapshot,
    table_info,
    update_where,
    write_snapshot,
)
from pandas_analysis_with_postgres_spark.sources.sql_merge import (
    execute_dml,
    execute_update,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "a", 10.0, 0),
            (2, "b", 20.0, 0),
            (3, "c", 30.0, 0),
            (4, "d", 40.0, 1),
            (5, "e", 50.0, 1),
        ],
        "k long, name string, amt double, p long",
    )
    path = str(tmp_path / "tbl")
    assert write_snapshot(
        df, path, "p", stats_cols=["amt"], bloom_cols=["k"]
    ) == 1
    return path


def _files_of(path):
    return sorted(str(f) for f in Path(path).rglob("*.parquet"))


def _amts(spark, path, version=None):
    return {
        r["k"]: r["amt"]
        for r in read_snapshot(spark, path, version).collect()
    }


class TestMorUpdate:
    def test_no_rewrite_and_new_values(self, spark, tbl):
        before = _files_of(tbl)
        out = update_where(
            spark, tbl, "amt >= 30", {"amt": "amt + 1000.0"}, key="k"
        )
        assert out["mode"] == "merge-on-read"
        assert out["updated_rows"] == 3 and out["tombstoned_keys"] == 3
        assert out["rewritten_partitions"] == 0
        assert out["delta_partitions"] == 2
        # data files were only ADDED (tombstones + deltas), none
        # rewritten or removed — the file-set superset assertion
        after = _files_of(tbl)
        assert set(before) <= set(after)
        assert _amts(spark, tbl) == {
            1: 10.0, 2: 20.0, 3: 1030.0, 4: 1040.0, 5: 1050.0
        }

    def test_three_valued_where_and_set_from_old_row(self, spark, tbl):
        # NULL-evaluating WHERE rows stay untouched; SET reads the
        # pre-update row (standard UPDATE semantics)
        update_where(
            spark,
            tbl,
            "CASE WHEN k = 1 THEN NULL ELSE amt < 25 END",
            {"amt": "amt * 2", "name": "concat(name, '!')"},
            key="k",
        )
        live = {
            r["k"]: (r["amt"], r["name"])
            for r in read_snapshot(spark, tbl).collect()
        }
        assert live[1] == (10.0, "a")  # NULL → untouched
        assert live[2] == (40.0, "b!")
        assert live[3] == (30.0, "c")

    def test_manifest_count_exact_and_extremes_refuse(self, spark, tbl):
        update_where(spark, tbl, "k = 3", {"amt": "9999.0"}, key="k")
        agg = manifest_aggregate(tbl)
        assert agg["n_rows"] == 5
        assert manifest_partition_counts(tbl) == [(0, 3), (1, 2)]
        with pytest.raises(ValueError, match="tombstoned"):
            manifest_aggregate(tbl, columns=["amt"])

    def test_sequencing_successive_updates_and_delete(self, spark, tbl):
        update_where(spark, tbl, "k = 3", {"amt": "amt + 100"}, key="k")
        update_where(spark, tbl, "k = 3", {"amt": "amt + 100"}, key="k")
        assert _amts(spark, tbl)[3] == 230.0  # newest version wins
        # a later MoR delete removes the newest version too
        out = delete_where(spark, tbl, "k = 3", mode="merge-on-read", key="k")
        assert out["deleted_rows"] == 1
        live = _amts(spark, tbl)
        assert 3 not in live and len(live) == 4
        assert manifest_aggregate(tbl)["n_rows"] == 4

    def test_update_after_mor_delete(self, spark, tbl):
        delete_where(spark, tbl, "k = 1", mode="merge-on-read", key="k")
        update_where(spark, tbl, "k = 2", {"amt": "0.0"}, key="k")
        live = _amts(spark, tbl)
        assert 1 not in live and live[2] == 0.0 and len(live) == 4
        assert manifest_aggregate(tbl)["n_rows"] == 4

    def test_snapshot_isolation_and_cdf(self, spark, tbl):
        update_where(spark, tbl, "k = 4", {"amt": "-1.0"}, key="k")
        assert _amts(spark, tbl, 1)[4] == 40.0  # old version untouched
        feed = diff_snapshots(spark, tbl, 1, 2, "k")
        kinds = sorted(
            (r["change_type"], r["k"]) for r in feed.collect()
        )
        assert kinds == [("update_post", 4), ("update_pre", 4)]

    def test_point_lookup_and_range_prune_stay_correct(self, spark, tbl):
        # the new value lies OUTSIDE every recorded bound — pruning
        # must keep the updated partition (stats/blooms cleared)
        update_where(spark, tbl, "k = 5", {"amt": "77777.0"}, key="k")
        got = read_snapshot(
            spark, tbl, column_ranges={"amt": (70000.0, 80000.0)}
        ).filter("amt between 70000 and 80000")
        assert [r["k"] for r in got.collect()] == [5]
        hit = read_snapshot(spark, tbl, point_lookups={"k": 5})
        assert 5 in {r["k"] for r in hit.collect()}

    def test_partition_filter_takes_deltas_along(self, spark, tbl):
        update_where(spark, tbl, "k = 1", {"amt": "11.0"}, key="k")
        only_p1 = read_snapshot(
            spark, tbl, partition_filter=lambda p: p == "p=1"
        )
        assert {r["k"] for r in only_p1.collect()} == {4, 5}

    def test_compaction_folds_deltas_and_tombstones(self, spark, tbl):
        update_where(spark, tbl, "k <= 2", {"amt": "amt + 5"}, key="k")
        res = compact_partitions(spark, tbl)
        assert "p=0" in res["compacted"]
        man = read_manifest(tbl)
        assert not man.get("tombstones") and not man.get("updates")
        assert _amts(spark, tbl) == {
            1: 15.0, 2: 25.0, 3: 30.0, 4: 40.0, 5: 50.0
        }
        assert manifest_aggregate(tbl)["n_rows"] == 5
        # extremes answer again after the fold restored stats
        agg = manifest_aggregate(tbl, columns=["amt"])
        assert agg["columns"]["amt"]["max"] == 50.0

    def test_full_compact_folds_too(self, spark, tbl):
        update_where(spark, tbl, "k = 1", {"amt": "1.5"}, key="k")
        compact_snapshot(spark, tbl)
        man = read_manifest(tbl)
        assert not man.get("tombstones") and not man.get("updates")
        assert _amts(spark, tbl)[1] == 1.5

    def test_merge_rewrite_folds_touched_partition(self, spark, tbl):
        update_where(spark, tbl, "k = 1", {"amt": "1.5"}, key="k")
        src = spark.createDataFrame(
            [(6, "f", 60.0, 0)], "k long, name string, amt double, p long"
        )
        merge_snapshot(tbl, src, "k", "p")
        man = read_manifest(tbl)
        # p=0 was rewritten (deltas folded); p=1 untouched, no sidecars
        assert not (man.get("updates") or {}).get("parts")
        live = _amts(spark, tbl)
        assert live[1] == 1.5 and live[6] == 60.0 and len(live) == 6

    def test_txn_idempotence(self, spark, tbl):
        r1 = update_where(
            spark, tbl, "k = 1", {"amt": "0.0"}, key="k", txn=("app", 3)
        )
        r2 = update_where(
            spark, tbl, "k = 1", {"amt": "777.0"}, key="k", txn=("app", 3)
        )
        assert r2["updated_rows"] == 0 and r2["version"] == r1["version"]
        assert _amts(spark, tbl)[1] == 0.0

    def test_no_match_commits_nothing(self, spark, tbl):
        r = update_where(spark, tbl, "k = 99", {"amt": "0.0"}, key="k")
        assert r["version"] == 1 and r["updated_rows"] == 0
        assert read_manifest(tbl).get("updates") is None

    def test_guards(self, spark, tbl):
        with pytest.raises(ValueError, match="partition column"):
            update_where(spark, tbl, "k = 1", {"amt": "0"}, key="p")
        with pytest.raises(ValueError, match="reassign partition"):
            update_where(spark, tbl, "k = 1", {"p": "2"}, key="k")
        with pytest.raises(ValueError, match="tombstone key"):
            update_where(spark, tbl, "k = 1", {"k": "k + 10"}, key="k")
        with pytest.raises(ValueError, match="unknown columns"):
            update_where(spark, tbl, "k = 1", {"nope": "0"}, key="k")

    def test_non_unique_key_refused(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, 1.0, 0), (1, 2.0, 0), (2, 3.0, 0)],
            "k long, amt double, p long",
        )
        path = str(tmp_path / "dup")
        write_snapshot(df, path, "p")
        with pytest.raises(ValueError, match="uniquely"):
            update_where(spark, path, "amt = 1.0", {"amt": "9"}, key="k")

    def test_null_key_refused(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(None, 1.0, 0), (2, 3.0, 0)], "k long, amt double, p long"
        )
        path = str(tmp_path / "nullk")
        write_snapshot(df, path, "p")
        with pytest.raises(ValueError, match="NULL key"):
            update_where(spark, path, "amt = 1.0", {"amt": "9"}, key="k")

    def test_expiry_keeps_delta_commits(self, spark, tbl):
        update_where(spark, tbl, "k = 1", {"amt": "1.5"}, key="k")
        update_where(spark, tbl, "k = 2", {"amt": "2.5"}, key="k")
        removed = expire_snapshots(tbl, keep=1, min_age_sec=0)
        # the live version references base + both updates' sidecars:
        # nothing it needs may be GC'd
        assert _amts(spark, tbl) == {
            1: 1.5, 2: 2.5, 3: 30.0, 4: 40.0, 5: 50.0
        }
        assert removed == []

    def test_restore_and_clone_carry_updates(self, spark, tbl, tmp_path):
        update_where(spark, tbl, "k = 1", {"amt": "1.5"}, key="k")
        compact_snapshot(spark, tbl)  # v3: folded
        restore_snapshot(tbl, 2)  # back to the sidecar version
        assert _amts(spark, tbl)[1] == 1.5
        dst = str(tmp_path / "cl")
        clone_snapshot(tbl, dst)
        assert _amts(spark, dst)[1] == 1.5
        assert manifest_aggregate(dst)["n_rows"] == 5

    def test_table_info_reports_deltas(self, spark, tbl):
        update_where(spark, tbl, "k >= 4", {"amt": "0.0"}, key="k")
        info = table_info(tbl)
        assert info["update_delta_partitions"] == 1
        assert info["update_delta_rows"] == 2
        assert info["tombstoned_rows"] == 2


class TestSqlUpdateMor:
    def test_statement_front_end(self, spark, tbl):
        before = _files_of(tbl)
        res = execute_update(
            spark,
            "UPDATE t SET amt = amt + 1000.0 WHERE amt >= 30",
            tables={"t": tbl},
            mode="merge-on-read",
            key="k",
        )
        assert res["mode"] == "merge-on-read"
        assert res["updated_rows"] == 3
        assert set(before) <= set(_files_of(tbl))
        assert _amts(spark, tbl)[5] == 1050.0

    def test_alias_stripped(self, spark, tbl):
        execute_update(
            spark,
            "UPDATE t AS o SET o.amt = o.amt * 2 WHERE o.k = 1",
            tables={"t": tbl},
            mode="merge-on-read",
            key="k",
        )
        assert _amts(spark, tbl)[1] == 20.0

    def test_execute_dml_routing(self, spark, tbl):
        res = execute_dml(
            spark,
            "UPDATE t SET amt = 0.0 WHERE k = 2",
            tables={"t": tbl},
            update_mode="merge-on-read",
            update_key="k",
        )
        assert res["mode"] == "merge-on-read"
        assert _amts(spark, tbl)[2] == 0.0

    def test_mode_requires_key(self, spark, tbl):
        with pytest.raises(ValueError, match="key="):
            execute_update(
                spark,
                "UPDATE t SET amt = 0.0",
                tables={"t": tbl},
                mode="merge-on-read",
            )

    def test_unknown_mode(self, spark, tbl):
        with pytest.raises(ValueError, match="unknown update mode"):
            execute_update(
                spark,
                "UPDATE t SET amt = 0.0",
                tables={"t": tbl},
                mode="sideways",
            )


@pytest.fixture(scope="module")
def two_col_template(spark, tmp_path_factory):
    """A (d, s)-partitioned table with NULL ``s`` partitions, written
    once; each mode runs on its own byte copy."""
    df = spark.createDataFrame(
        [
            (1, 10, "a", "x"),
            (2, 20, "a", "x"),
            (3, 30, "a", None),
            (4, 40, "a", None),
            (5, 50, "b", "y"),
            (6, 60, "b", "y"),
            (7, 70, "b", None),
        ],
        "k long, v long, d string, s string",
    )
    path = str(tmp_path_factory.mktemp("modes") / "template")
    write_snapshot(df, path, ["d", "s"])
    return path


def test_copy_on_write_and_merge_on_read_agree(spark, two_col_template, tmp_path):
    # The two row-level cores must give the same live table and the
    # same counts for one DELETE (it empties b/y and b/NULL) followed
    # by one UPDATE that touches a NULL partition.
    import shutil

    delete = "DELETE FROM t WHERE v >= 50 OR k = 3"
    update = "UPDATE t SET v = v * 1.5 WHERE s IS NULL OR k = 1"
    live, counts = {}, {}
    for mode in ("copy-on-write", "merge-on-read"):
        path = str(tmp_path / mode)
        shutil.copytree(two_col_template, path)
        tables = {"t": path}
        kw = dict(delete_mode=mode, delete_key="k", update_mode=mode, update_key="k")
        deleted = execute_dml(spark, delete, tables=tables, **kw)["deleted_rows"]
        before = read_snapshot(spark, path)
        res = execute_dml(spark, update, tables=tables, **kw)
        after = read_snapshot(spark, path)
        updated = (
            res["updated_rows"]
            if isinstance(res, dict)
            else after.exceptAll(before).count()
        )
        live[mode] = sorted(map(tuple, after.select("k", "v", "d", "s").collect()))
        counts[mode] = (deleted, updated)
    assert live["copy-on-write"] == live["merge-on-read"] == [
        (1, 15, "a", "x"), (2, 20, "a", "x"), (4, 60, "a", None)
    ]
    assert counts["copy-on-write"] == counts["merge-on-read"] == (4, 2)
