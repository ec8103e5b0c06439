"""Snapshot-stream rate limiting (r9 verdict ask #4): offsets extend
to ``{"version": v, "dir": k}`` — the first k SORTED streamable
directories of version v — so ``max_dirs_per_trigger`` drains one huge
append as several bounded micro-batches (Delta's maxFilesPerTrigger
analog at directory grain). partitions(start, end) stays a pure
function of the two offsets over immutable manifests, so a committed
partial window replays to exactly the same directories."""

from __future__ import annotations

import pytest

from pandas_analysis_with_postgres_spark.sources.pyds import (
    SnapshotStreamDataSource,
    _SnapshotStreamReader,
)
from pandas_analysis_with_postgres_spark.sources.snapshot import (
    append_snapshot,
    write_snapshot,
)
from pandas_analysis_with_postgres_spark.streaming.streams import (
    run_available_now,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k bigint, batch bigint")


@pytest.fixture()
def tbl(spark, tmp_path):
    # v1 = 2 dirs, v2 = 3 dirs, v3 = 1 dir → 6 streamable directories
    path = str(tmp_path / "t")
    write_snapshot(_mk(spark, [(1, 0), (2, 1)]), path, "batch")
    append_snapshot(path, _mk(spark, [(3, 2), (4, 3), (5, 4)]), "batch")
    append_snapshot(path, _mk(spark, [(6, 5)]), "batch")
    return path


def _drain_offsets(rd):
    """Simulate the micro-batch loop: initialOffset, then
    latestOffset/partitions/commit until the offset stops moving.
    Returns [(start, end, [pnames])] per batch."""
    batches = []
    start = rd.initialOffset()
    for _ in range(50):
        end = rd.latestOffset()
        if end == start:
            break
        parts = rd.partitions(start, end)
        batches.append((start, end, [p.value["pname"] for p in parts]))
        rd.commit(end)
        start = end
    else:
        raise AssertionError("offset never converged")
    return batches


def test_bounded_batches_drain_everything(tbl):
    rd = _SnapshotStreamReader(
        {"path": tbl, "max_dirs_per_trigger": "2"}, None
    )
    batches = _drain_offsets(rd)
    assert all(len(p) <= 2 for _s, _e, p in batches)
    assert len(batches) == 3  # 6 dirs / 2 per trigger
    drained = [p for _s, _e, ps in batches for p in ps]
    assert drained == [
        "batch=0", "batch=1", "batch=2", "batch=3", "batch=4", "batch=5"
    ]
    # partial offsets appear mid-version and normalize at boundaries
    assert batches[0][1] == {"version": 1}          # v1's 2 dirs exactly
    assert batches[1][1] == {"version": 2, "dir": 2}  # mid-v2 partial
    assert batches[2][1] == {"version": 3}          # rest of v2 + v3


def test_partial_window_replay_is_deterministic(tbl):
    rd = _SnapshotStreamReader({"path": tbl}, None)
    a = rd.partitions({"version": 1}, {"version": 2, "dir": 2})
    b = rd.partitions({"version": 1}, {"version": 2, "dir": 2})
    assert [p.value for p in a] == [p.value for p in b]
    assert [p.value["pname"] for p in a] == ["batch=2", "batch=3"]
    # resuming FROM a partial offset emits exactly the remainder
    tail = rd.partitions({"version": 2, "dir": 2}, {"version": 3})
    assert [p.value["pname"] for p in tail] == ["batch=4", "batch=5"]


def test_unbounded_reader_unchanged(tbl):
    rd = _SnapshotStreamReader({"path": tbl}, None)
    rd.initialOffset()
    assert rd.latestOffset() == {"version": 3}
    assert len(rd.partitions({"version": 0}, {"version": 3})) == 6


def test_bad_option_refuses(tbl):
    with pytest.raises(ValueError, match="max_dirs_per_trigger"):
        _SnapshotStreamReader(
            {"path": tbl, "max_dirs_per_trigger": "0"}, None
        )


def test_restart_resumes_bounded_from_floor_sidecar(tbl):
    # reader A drains two bounded batches, then "crashes"; reader B
    # (fresh instance — the engine's restart calls latestOffset before
    # any initialOffset) resumes BOUNDED from the persisted floor
    # instead of one unbounded catch-up (r10 verdict ask #3)
    rd_a = _SnapshotStreamReader(
        {"path": tbl, "max_dirs_per_trigger": "2"}, None
    )
    start = rd_a.initialOffset()
    for _ in range(2):
        end = rd_a.latestOffset()
        rd_a.partitions(start, end)
        rd_a.commit(end)
        start = end
    assert start == {"version": 2, "dir": 2}  # 4 of 6 dirs consumed
    rd_b = _SnapshotStreamReader(
        {"path": tbl, "max_dirs_per_trigger": "2"}, None
    )
    # no initialOffset — restart order; the sidecar bounds the batch
    end_b = rd_b.latestOffset()
    assert end_b == {"version": 3}  # 2 more dirs, not all 6
    parts = rd_b.partitions(start, end_b)
    assert [p.value["pname"] for p in parts] == ["batch=4", "batch=5"]


def test_floor_sidecar_is_monotone_and_advisory(tbl):
    import json
    import os

    rd = _SnapshotStreamReader(
        {"path": tbl, "max_dirs_per_trigger": "2"}, None
    )
    rd.initialOffset()
    end = rd.latestOffset()
    rd.commit(end)
    sidecar = os.path.join(tbl, "_snapshots", "stream_floor_default.json")
    assert json.load(open(sidecar)) == end
    # a backwards persist is ignored (monotone file)
    rd._persist_floor({"version": 0})
    assert json.load(open(sidecar)) == end
    # deleting it merely un-bounds the next restart — never an error
    os.remove(sidecar)
    rd2 = _SnapshotStreamReader(
        {"path": tbl, "max_dirs_per_trigger": "2"}, None
    )
    assert rd2.latestOffset() == {"version": 3}  # unbounded catch-up
    # a garbage sidecar is equally advisory
    with open(sidecar, "w") as f:
        f.write("not json")
    rd3 = _SnapshotStreamReader(
        {"path": tbl, "max_dirs_per_trigger": "2"}, None
    )
    assert rd3.latestOffset() == {"version": 3}


def test_floor_sidecar_ids_are_independent(tbl):
    rd_a = _SnapshotStreamReader(
        {"path": tbl, "max_dirs_per_trigger": "2", "stream_floor_id": "a"},
        None,
    )
    rd_a.initialOffset()
    rd_a.commit(rd_a.latestOffset())
    # query "b" has its own floor: restart without one is unbounded
    rd_b = _SnapshotStreamReader(
        {"path": tbl, "max_dirs_per_trigger": "2", "stream_floor_id": "b"},
        None,
    )
    assert rd_b.latestOffset() == {"version": 3}
    with pytest.raises(ValueError, match="stream_floor_id"):
        _SnapshotStreamReader(
            {"path": tbl, "max_dirs_per_trigger": "2",
             "stream_floor_id": "x/y"},
            None,
        )


def test_e2e_restart_drains_backlog_bounded(spark, tbl, tmp_path):
    # a stopped query accumulates a 4-directory backlog; restarting
    # from the same checkpoint drains it as 2-dir micro-batches
    import time
    import uuid

    spark.dataSource.register(SnapshotStreamDataSource)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    name = f"rate_restart_{uuid.uuid4().hex[:8]}"

    def _run(qname):
        # the memory sink cannot recover from a checkpoint — the file
        # sink is the restartable one
        return (
            spark.readStream.format("snapshotstream")
            .option("max_dirs_per_trigger", "2")
            .load(tbl)
            .writeStream.format("parquet")
            .queryName(qname)
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="250 milliseconds")
            .start()
        )

    def _wait_count(n, timeout=90):
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            try:
                if spark.read.parquet(out).count() == n:
                    return
            except Exception:  # noqa: BLE001 - sink dir not created yet
                pass
            time.sleep(0.25)
        raise AssertionError(f"never reached {n} rows")

    q = _run(name)
    try:
        _wait_count(6)
    finally:
        q.stop()
    # backlog lands while the query is down
    append_snapshot(
        tbl, _mk(spark, [(7, 6), (8, 7), (9, 8), (10, 9)]), "batch"
    )
    q2 = _run(name + "_r")
    try:
        _wait_count(10)
        # the sink shows a batch's rows before the engine records that
        # batch's progress; returning from processAllAvailable takes a
        # later idle trigger, so every data batch is in recentProgress
        q2.processAllAvailable()
        batches = [
            int(p["numInputRows"])
            for p in q2.recentProgress
            if int(p["numInputRows"]) > 0
        ]
        # the 4-dir backlog drains as two 2-dir batches, not one 4-dir
        assert batches == [2, 2], batches
    finally:
        q2.stop()


def test_live_appends_arrive_in_bounded_batches(spark, tbl):
    # end-to-end on a LONG-LIVED query: the first batch is the
    # documented unbounded catch-up (the engine computes latestOffset
    # before the initial offset is visible), then appends landing
    # while the query runs arrive in max_dirs_per_trigger-bounded
    # micro-batches — 4 appended directories as two 2-row batches
    import time
    import uuid

    spark.dataSource.register(SnapshotStreamDataSource)
    name = f"rate_live_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("snapshotstream")
        .option("max_dirs_per_trigger", "2")
        .load(tbl)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        def _wait_count(n, timeout=90):
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                if spark.sql(f"SELECT COUNT(*) FROM {name}").first()[0] == n:
                    return
                time.sleep(0.25)
            raise AssertionError(f"never reached {n} rows")

        _wait_count(6)
        append_snapshot(
            tbl,
            _mk(spark, [(7, 6), (8, 7), (9, 8), (10, 9)]),
            "batch",
        )
        _wait_count(10)
        q.processAllAvailable()  # every data batch's progress recorded
        batches = [
            int(p["numInputRows"])
            for p in q.recentProgress
            if int(p["numInputRows"]) > 0
        ]
        # catch-up batch (6), then the appended 4 dirs in 2-row batches
        assert batches == [6, 2, 2], batches
    finally:
        q.stop()
