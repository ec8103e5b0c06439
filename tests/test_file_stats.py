"""Per-FILE column statistics (FILES_KEY): intra-partition data
skipping — the file grain of Iceberg/Delta scan planning. A partition
that survives manifest pruning reads only the files whose recorded
[min, max] can overlap the window; the proofs here delete the pruned
files from disk and still read correctly (zero-data-page evidence)."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pandas_analysis_with_postgres_spark.sources.snapshot import (
    FILES_KEY,
    compact_snapshot,
    merge_snapshot,
    range_count_pruned,
    read_manifest,
    read_snapshot,
    write_snapshot,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    # spark.range with explicit numPartitions gives EXACT slices: 8
    # slices of 250 rows -> 2 hive partitions (bu = k // 1000), each
    # holding 4 files with disjoint, known k ranges.
    df = spark.range(0, 2000, 1, 8).select(
        F.col("id").alias("k"), (F.col("id") / 1000).cast("long").alias("bu")
    )
    path = str(tmp_path / "t")
    write_snapshot(df, path, "bu", stats_cols=["k"])
    return path


def test_file_stats_recorded(spark, tbl):
    man = read_manifest(tbl, None)
    for pname in ("bu=0", "bu=1"):
        fstats = man["stats"][pname][FILES_KEY]
        assert len(fstats) == 4
        bounds = sorted((fs["k"][0], fs["k"][1]) for fs in fstats.values())
        base = 0 if pname == "bu=0" else 1000
        assert bounds == [
            (base + c * 250, base + c * 250 + 249) for c in range(4)
        ]
        assert all(fs["::n_rows"] == 250 for fs in fstats.values())


def test_read_prunes_files_and_stays_equivalent(spark, tbl):
    # window [300, 1600]: 3 of 4 files survive in each partition
    pruned = read_snapshot(spark, tbl, column_ranges={"k": (300, 1600)})
    assert len(pruned.inputFiles()) == 6
    assert pruned.filter("k between 300 and 1600").count() == 1301
    # superset contract: pruning removes only provably-outside rows
    full = read_snapshot(spark, tbl)
    assert len(full.inputFiles()) == 8
    assert (
        full.filter("k between 300 and 1600").count()
        == pruned.filter("k between 300 and 1600").count()
    )


def test_zero_data_pages_for_pruned_files(spark, tbl):
    # delete every file OUTSIDE the window from disk: the pruned read
    # must not try to open them
    man = read_manifest(tbl, None)
    for pname, rel in man["partitions"].items():
        fstats = man["stats"][pname][FILES_KEY]
        for fname, fs in fstats.items():
            if fs["k"][1] < 300 or fs["k"][0] > 1600:
                os.unlink(Path(tbl) / rel / fname)
    out = read_snapshot(spark, tbl, column_ranges={"k": (300, 1600)})
    assert out.filter("k between 300 and 1600").count() == 1301
    # the hybrid prover's boundary scan rides the same skipping
    res = range_count_pruned(spark, tbl, "k", lo=300, hi=1600)
    assert res["count"] == 1301
    assert res["scanned_files"] == 6 and res["total_files"] == 8


def test_partition_with_all_files_pruned_is_dropped(spark, tbl):
    # window entirely inside bu=1's slice 5: bu=0 survives partition-
    # grain pruning? No — [0,999] vs [1300,1400] is disjoint, so bu=0
    # goes at partition grain; within bu=1 only one file overlaps
    out = read_snapshot(spark, tbl, column_ranges={"k": (1300, 1400)})
    assert len(out.inputFiles()) == 1
    assert out.filter("k between 1300 and 1400").count() == 101
    # window in a gap no file covers — stats prove empty, schema kept
    empty = read_snapshot(spark, tbl, column_ranges={"k": (2400, 2500)})
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "bu"}


def test_cold_partition_carries_file_stats(spark, tbl):
    # rewrite bu=1 via merge; bu=0 is carried by reference and must
    # keep its per-file stats (the entry follows its directory)
    src = spark.range(1000, 1010).select(
        F.col("id").alias("k"), F.lit(1).alias("bu").cast("long")
    )
    merge_snapshot(tbl, src, "k", "bu")
    man = read_manifest(tbl, None)
    assert len(man["stats"]["bu=0"][FILES_KEY]) == 4
    # the rewritten partition gets FRESH per-file stats
    assert FILES_KEY in man["stats"]["bu=1"]


def test_compaction_regenerates_file_stats(spark, tbl):
    # zorder re-clustering routes through repartitionByRange(num_files)
    # — fewer, re-clustered files with FRESH per-file stats
    compact_snapshot(spark, tbl, zorder_by=["k"], num_files=2)
    man = read_manifest(tbl, None)
    for pname in ("bu=0", "bu=1"):
        fstats = man["stats"][pname][FILES_KEY]
        assert 1 <= len(fstats) <= 2  # re-clustered, not the old 4
    # post-compaction reads still correct
    out = read_snapshot(spark, tbl, column_ranges={"k": (300, 1600)})
    assert out.filter("k between 300 and 1600").count() == 1301


def test_legacy_manifest_without_file_stats_reads_whole_dirs(
    spark, tbl, tmp_path
):
    # strip FILES_KEY from the manifest (pre-upgrade commit shape):
    # reads keep every file — conservative, never wrong
    import json

    snap = Path(tbl) / "_snapshots"
    mf = sorted(snap.glob("v*.json"))[-1]
    man = json.loads(mf.read_text())
    for entry in man["stats"].values():
        entry.pop(FILES_KEY, None)
    mf.write_text(json.dumps(man))
    out = read_snapshot(spark, tbl, column_ranges={"k": (300, 1600)})
    assert len(out.inputFiles()) == 8
    assert out.filter("k between 300 and 1600").count() == 1301
    res = range_count_pruned(spark, tbl, "k", lo=300, hi=1600)
    assert res["count"] == 1301
    assert res["total_files"] == 0  # unknown grain: counted in neither


def test_point_lookup_prunes_at_file_grain(spark, tbl):
    # a key probe is the degenerate range [v, v]: stats prune bu=1
    # at partition grain and 3 of bu=0's 4 files at file grain —
    # one file opened for a clustered key lookup, no blooms needed
    out = read_snapshot(spark, tbl, point_lookups={"k": 400})
    assert len(out.inputFiles()) == 1
    assert [r.k for r in out.filter("k = 400").collect()] == [400]
    # absent key inside the keyspace gap: nothing overlaps -> empty
    missing = read_snapshot(spark, tbl, point_lookups={"k": 5000})
    assert missing.count() == 0 and set(missing.columns) == {"k", "bu"}
    # conservative: a float probe (not int/str) prunes nothing
    loose = read_snapshot(spark, tbl, point_lookups={"k": 400.5})
    assert len(loose.inputFiles()) == 8


def test_range_distribution_clusters_files(spark, tmp_path):
    # Iceberg write.distribution-mode=range + sort order: shuffled
    # input still produces files covering tight, near-disjoint slices
    # of the sort key — the layout per-file skipping pays off on
    import pytest as _pt

    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        append_snapshot,
    )

    df = (
        spark.range(0, 4000, 1, 32)
        .select(
            (F.col("id") * 2654435761 % 4000).alias("k"),  # scrambled
            F.lit(0).cast("long").alias("bu"),
        )
    )
    path = str(tmp_path / "r")
    # AQE rightly coalesces a 4000-row range shuffle to one partition;
    # hold it off so the tiny fixture still exercises the multi-file
    # layout a real table gets (AQE sizes to ~64 MB advisory bytes)
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        write_snapshot(
            df, path, "bu", stats_cols=["k"],
            distribution="range", order_by=["k"],
        )
    finally:
        spark.conf.set(coalesce_key, old)
    man = read_manifest(path, None)
    fstats = man["stats"]["bu=0"][FILES_KEY]
    assert len(fstats) > 1  # genuinely multi-file
    spans = sorted((fs["k"][0], fs["k"][1]) for fs in fstats.values())
    # clustered: consecutive files do not interleave (ranges ordered)
    for (alo, ahi), (blo, bhi) in zip(spans, spans[1:]):
        assert ahi <= blo
    # skipping pays: a narrow window opens a strict subset of files
    narrow = read_snapshot(
        spark, path, column_ranges={"k": (spans[0][0], spans[0][1])}
    )
    assert len(narrow.inputFiles()) < len(fstats)
    # guards: order_by without range / range without order_by refuse
    with _pt.raises(ValueError, match="order_by requires"):
        write_snapshot(df, path, "bu", order_by=["k"])
    with _pt.raises(ValueError, match="needs order_by"):
        write_snapshot(df, path, "bu", distribution="range")
    # append path honors the mode too
    more = spark.range(4000, 4100).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("bu")
    )
    append_snapshot(
        path, more, "bu", distribution="range", order_by=["k"]
    )
    man2 = read_manifest(path, None)
    assert "bu=1" in man2["partitions"]


def test_append_commits_carry_file_stats_and_prune_across_batches(
    spark, tbl
):
    """Appends (the streaming-ingest commit shape — stream_append_sink
    calls append_snapshot, stats properties inheriting on None) must
    record per-FILE bounds for the NEW files alongside the old ones,
    and a window targeting only the appended slice must open only
    appended files."""
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        append_snapshot,
    )

    extra = spark.range(10_000, 10_500, 1, 2).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("bu")
    )
    append_snapshot(tbl, extra, "bu")  # stats_cols inherit from table
    man = read_manifest(tbl, None)
    fs = man["stats"]["bu=1"][FILES_KEY]
    # 4 original files + 2 appended, every one with recorded k bounds
    assert len(fs) == 6 and all("k" in v for v in fs.values())
    out = range_count_pruned(spark, tbl, "k", lo=10_000, hi=10_499)
    assert out["count"] == 500
    # the appended slice lives in its own files: of bu=1's 6 files at
    # most the 2 appended ones are opened (0 when proven by metadata)
    assert out["scanned_files"] <= 2, out
    df = read_snapshot(
        spark, tbl, column_ranges={"k": (10_000, 10_499)}
    )
    opened = {os.path.basename(p) for p in df.inputFiles()}
    assert len(opened) <= 2 and df.count() == 500


# ------------------------------------------- read-path property

_PVALS = [0, 1, 2, None]  # None is the NULL (default) partition


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.integers(0, 99), min_size=8, max_size=24, unique=True),
    st.tuples(st.integers(-10, 110), st.integers(-10, 110)).map(sorted),
    st.integers(-5, 105),
    st.lists(st.integers(-5, 105), min_size=2, max_size=4),
)
def test_read_pruning_is_behavior_preserving(spark, keys, window, probe, multi):
    """Every pruner of read_snapshot — partition and file stats,
    partition and file blooms, the spec-directory match and
    partition_filter — against a Python model of the table: each read
    followed by the caller's real filter returns exactly the model's
    rows. Two exact slices of ``spark.range`` put every partition value
    (the NULL partition included) in both, so each partition holds two
    files and the file grain is exercised."""
    import shutil
    import tempfile
    from functools import reduce

    keys = keys[: len(keys) // 2 * 2]
    half = len(keys) // 2
    rows = [(k, _PVALS[i % half % 4]) for i, k in enumerate(keys)]
    root = tempfile.mkdtemp(prefix="readprop_")
    try:
        path = root + "/t"

        def pick(vals):
            arr = F.array(*[F.lit(v).cast("long") for v in vals])
            return F.element_at(arr, (F.col("id") + 1).cast("int"))

        df = spark.range(0, len(rows), 1, 2).select(
            pick([k for k, _ in rows]).alias("k"),
            pick([p for _, p in rows]).alias("p"),
        )
        write_snapshot(df, path, "p", stats_cols=["k"], bloom_cols=["k"])
        man = read_manifest(path, None)
        assert len(man["partitions"]) == 4
        assert all(len(s[FILES_KEY]) == 2 for s in man["stats"].values())

        lo, hi = window
        in_window = f"k BETWEEN {lo} AND {hi}"
        in_multi = f"k IN ({', '.join(map(str, multi))})"
        cases = [  # (read_snapshot kwargs, real filter, model)
            ({"column_ranges": {"k": (lo, hi)}}, in_window,
             lambda k, p: lo <= k <= hi),
            ({"point_lookups": {"k": probe}}, f"k = {probe}",
             lambda k, p: k == probe),
            ({"point_lookups": {"k": [probe]}}, f"k = {probe}",
             lambda k, p: k == probe),
            ({"point_lookups": {"k": multi}}, in_multi,
             lambda k, p: k in multi),
            ({"column_ranges": {"k": (lo, hi)}, "point_lookups": {"k": multi}},
             f"{in_window} AND {in_multi}",
             lambda k, p: lo <= k <= hi and k in multi),
            ({"partition_filter": lambda n: n != "p=1"}, "NOT (p <=> 1)",
             lambda k, p: p != 1),
            ({"point_lookups": {"p": None}}, "p IS NULL",
             lambda k, p: p is None),
        ]
        reads = [read_snapshot(spark, path, **kw) for kw, _f, _m in cases]
        assert reads[1].inputFiles() == reads[2].inputFiles()
        got = reduce(
            lambda a, b: a.unionByName(b),
            [
                r.filter(f).select(F.lit(i).alias("case"), "k", "p")
                for i, (r, (_kw, f, _m)) in enumerate(zip(reads, cases))
            ],
        ).collect()
        for i, (_kw, _f, model) in enumerate(cases):
            assert {(r.k, r.p) for r in got if r.case == i} == {
                (k, p) for k, p in rows if model(k, p)
            }, cases[i][0]
    finally:
        shutil.rmtree(root, ignore_errors=True)
