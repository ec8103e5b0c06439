"""Shallow clone: a new table whose v1 manifest references the
source's partition directories absolutely — zero bytes copied; clones
read identically (incl. tombstones and metadata answers), diverge
independently (copy-on-write localization), and their GC never touches
the source."""

from __future__ import annotations

from pathlib import Path

import pytest

from pandas_analysis_with_postgres_spark.sources.snapshot import (
    clone_snapshot,
    create_branch,
    delete_where,
    expire_snapshots,
    manifest_aggregate,
    merge_snapshot,
    read_manifest,
    read_snapshot,
    stage_commit,
    tag_snapshot,
    write_snapshot,
)

SCHEMA = "k long, p long, v double"


@pytest.fixture()
def src(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], SCHEMA
    )
    path = str(tmp_path / "src")
    write_snapshot(df, path, "p", stats_cols=["v"])
    return path


def _files(root):
    return sorted(str(p) for p in Path(root).rglob("*.parquet"))


def test_clone_reads_identically_with_zero_copies(spark, tmp_path, src):
    merge_snapshot(
        src, spark.createDataFrame([(99, 0, 99.5)], SCHEMA), "k", "p"
    )
    tag_snapshot(src, "rel1", 1)
    dst = str(tmp_path / "dst")
    assert clone_snapshot(src, dst, version="rel1") == 1
    assert read_snapshot(spark, dst).count() == 30  # v1, not head
    assert not list(Path(dst).rglob("*.parquet"))  # zero data copied
    # stats/properties carried: metadata answers are the source's
    agg = manifest_aggregate(dst, columns=["v"])
    assert agg["n_rows"] == 30 and agg["columns"]["v"]["max"] == 29.0
    assert read_manifest(dst)["schema"]["stats_cols"] == ["v"]


def test_clone_diverges_copy_on_write(spark, tmp_path, src):
    dst = str(tmp_path / "dst")
    clone_snapshot(src, dst)
    before = _files(src)
    merge_snapshot(
        dst, spark.createDataFrame([(500, 1, 500.0)], SCHEMA), "k", "p"
    )
    # source untouched, clone advanced
    assert _files(src) == before
    assert read_snapshot(spark, src).count() == 30
    assert read_snapshot(spark, dst).count() == 31
    man = read_manifest(dst)
    # rewritten partition localized into the clone's own data space,
    # cold partitions still absolute references into the source
    assert not man["partitions"]["p=1"].startswith("/")
    assert man["partitions"]["p=0"].startswith("/")
    # clone GC reclaims only clone-local dirs; the source still reads
    expire_snapshots(dst, keep=1, min_age_sec=0)
    assert read_snapshot(spark, src).count() == 30
    assert read_snapshot(spark, dst).count() == 31


def test_clone_of_branch_and_staged_handles(spark, tmp_path, src):
    create_branch(src, "exp")
    merge_snapshot(
        src, spark.createDataFrame([(77, 2, 7.0)], SCHEMA), "k", "p",
        branch="exp",
    )
    d1 = str(tmp_path / "from_branch")
    clone_snapshot(src, d1, version="branch:exp")
    assert read_snapshot(spark, d1).count() == 31
    stage_commit(
        spark.createDataFrame([(1, 0, 1.0)], SCHEMA), src, "p", name="s1"
    )
    d2 = str(tmp_path / "from_staged")
    clone_snapshot(src, d2, version="staged:s1")
    assert read_snapshot(spark, d2).count() == 1


def test_clone_carries_tombstones(spark, tmp_path, src):
    delete_where(spark, src, "k = 5", mode="merge-on-read", key="k")
    dst = str(tmp_path / "dst")
    clone_snapshot(src, dst)
    got = {r.k for r in read_snapshot(spark, dst).collect()}
    assert 5 not in got and len(got) == 29
    assert manifest_aggregate(dst)["n_rows"] == 29  # tombstone-adjusted


def test_clone_txn_watermarks_start_empty(spark, tmp_path, src):
    merge_snapshot(
        src, spark.createDataFrame([(99, 0, 9.0)], SCHEMA), "k", "p",
        txn=("app", 5),
    )
    dst = str(tmp_path / "dst")
    clone_snapshot(src, dst)
    assert read_manifest(dst).get("txn") in (None, {})
    # a sink replaying (app, 5) into the CLONE must apply, not no-op
    v = merge_snapshot(
        dst, spark.createDataFrame([(100, 0, 1.0)], SCHEMA), "k", "p",
        txn=("app", 5),
    )
    assert v == 2 and read_snapshot(spark, dst).count() == 32


def test_clone_guards(spark, tmp_path, src):
    dst = str(tmp_path / "dst")
    clone_snapshot(src, dst)
    with pytest.raises(ValueError, match="already holds"):
        clone_snapshot(src, dst)
    with pytest.raises(ValueError, match="no committed snapshot"):
        clone_snapshot(str(tmp_path / "nothing"), str(tmp_path / "d2"))


def test_expire_keep_set_ignores_absolute_clone_refs(spark, tmp_path, src):
    # A shallow clone's manifests carry ABSOLUTE refs into the source
    # table; expire_snapshots' live-commit harvest must skip them —
    # the old rel.split(sep)[1] on an absolute path contributed a
    # garbage component (e.g. 'tmp') that silently polluted the GC
    # keep-set and would shield an unrelated local dir of that name.
    import os
    import time

    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        DATA_DIR,
        read_manifest,
    )

    clone = str(tmp_path / "clone")
    clone_snapshot(src, clone)
    man = read_manifest(clone)
    abs_refs = [
        r for r in man["partitions"].values() if os.path.isabs(r)
    ]
    assert abs_refs, "shallow clone should reference source absolutely"
    polluter = abs_refs[0].split(os.sep)[1]
    # an orphan local dir named after the polluting component must NOT
    # be kept alive by the absolute refs
    orphan = Path(clone) / DATA_DIR / polluter
    orphan.mkdir(parents=True)
    (orphan / "junk.parquet").write_bytes(b"x")
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    removed = expire_snapshots(clone, keep=1, min_age_sec=3600)
    assert str(orphan) in removed
    # the clone still reads fine — its real (absolute) data untouched
    assert read_snapshot(spark, clone).count() == 30


def test_deep_clone_survives_source_deletion(spark, tmp_path):
    # the shallow clone's documented caveat, closed: a deep clone
    # shares no fate with the source — delete the source entirely and
    # every answer (scans, point lookups, manifest stats, file-grain
    # pruning) still works on byte-identical copies
    import shutil

    from pyspark.sql import functions as F

    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        FILES_KEY,
        deep_clone_snapshot,
        manifest_partition_counts,
        read_manifest,
        read_snapshot,
        write_snapshot,
    )

    src = str(tmp_path / "src")
    df = spark.range(0, 2048, 1, 8).select(
        ((F.col("id") * 2654435761) % 2048).cast("long").alias("k"),
        (F.col("id") % 2).alias("bu"),
    )
    write_snapshot(df, src, "bu", stats_cols=["k"], bloom_cols=["k"])
    expected = sorted(
        map(tuple, read_snapshot(spark, src).collect())
    )
    dst = str(tmp_path / "bak")
    v = deep_clone_snapshot(src, dst)
    assert v == 1
    man = read_manifest(dst)
    assert all(
        not r.startswith("/") for r in man["partitions"].values()
    ), "deep clone entries must be RELATIVE (own data root)"
    # byte-identity keeps the file-grain metadata valid verbatim
    assert set(man["blooms"]["bu=0"][FILES_KEY]) == set(
        man["stats"]["bu=0"][FILES_KEY]
    )
    shutil.rmtree(src)
    assert sorted(map(tuple, read_snapshot(spark, dst).collect())) == expected
    assert sum(n for _v, n in manifest_partition_counts(dst)) == 2048
    probe = read_snapshot(spark, dst, point_lookups={"k": 5})
    assert probe.where(F.col("k") == 5).count() == 1
    assert len(probe.inputFiles()) <= 2  # file blooms prune on the clone


def test_deep_clone_carries_tombstones_independently(spark, tmp_path):
    import shutil

    from pyspark.sql import functions as F

    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        deep_clone_snapshot,
        delete_where,
        read_snapshot,
        write_snapshot,
    )

    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(i, i % 2) for i in range(40)], "k bigint, bu bigint"
    )
    write_snapshot(df, src, "bu")
    delete_where(spark, src, F.col("k") < 10, mode="merge-on-read", key="k")
    dst = str(tmp_path / "bak")
    deep_clone_snapshot(src, dst)
    shutil.rmtree(src)
    got = read_snapshot(spark, dst)
    assert got.count() == 30
    assert got.where(F.col("k") < 10).count() == 0


def test_deep_clone_carries_update_deltas(spark, tmp_path):
    # A merge-on-read UPDATE leaves tombstones AND delta rows; a deep
    # clone carrying only the tombstones would lose the updated rows.
    import shutil

    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        deep_clone_snapshot,
        read_snapshot,
        update_where,
        write_snapshot,
    )

    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(i, i * 10, i % 2) for i in range(6)], "k bigint, v bigint, bu bigint"
    )
    write_snapshot(df, src, "bu")
    update_where(spark, src, "k < 2", {"v": "v + 1"}, key="k")
    dst = str(tmp_path / "bak")
    deep_clone_snapshot(src, dst)
    shutil.rmtree(src)
    got = sorted(map(tuple, read_snapshot(spark, dst).select("k", "v").collect()))
    assert got == [(0, 1), (1, 11), (2, 20), (3, 30), (4, 40), (5, 50)]
