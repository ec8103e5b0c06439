"""Streaming-specific pin tests.

The differential harness (test_oracle.py) already hash-verifies the
four streaming queries end-to-end; these tests pin the pieces the
oracles *assume*: the append-mode emission rule and the foreachBatch
bridge into the batch upsert operator.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandas_analysis_with_postgres_spark.operators.upsert import upsert
from pandas_analysis_with_postgres_spark.sources.parquet import load_table
from pandas_analysis_with_postgres_spark.streaming import (
    events_stream,
    events_stream_multibatch,
    foreach_batch_sink,
    run_available_now,
    tumbling_window_counts,
)
from pandas_analysis_with_postgres_spark.streaming.streams import (
    stateful_user_counts,
)

from .conftest import SF_ORACLE


def _same(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_multibatch_source_executes_three_batches(spark):
    """The time-split source really yields ≥3 non-empty micro-batches
    under availableNow + maxFilesPerTrigger=1 — without this pin the
    multi-batch tests silently degrade to the single-batch case."""
    progress: list[int] = []
    run_available_now(
        tumbling_window_counts(events_stream_multibatch(spark, SF_ORACLE)),
        progress_out=progress,
    )
    assert len(progress) >= 3, progress


def test_multibatch_append_windows_match_single_batch(spark):
    """Append-mode windows close incrementally across batches; the
    time-ordered split never produces a late event, so the final output
    must equal the single-batch drain exactly."""
    multi = run_available_now(
        tumbling_window_counts(events_stream_multibatch(spark, SF_ORACLE))
    )
    single = run_available_now(
        tumbling_window_counts(events_stream(spark, SF_ORACLE))
    )
    assert _same(multi, single)


def test_multibatch_stateful_counts_carry_state(spark):
    """applyInPandasWithState must carry per-user counts across
    micro-batches: the last update per user equals the batch GROUP BY,
    and users spanning several files emit several (increasing) updates."""
    progress: list[int] = []
    updates = run_available_now(
        stateful_user_counts(events_stream_multibatch(spark, SF_ORACLE)),
        output_mode="update",
        progress_out=progress,
    )
    assert len(progress) >= 3
    expected = (
        load_table(spark, SF_ORACLE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    final = updates.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    assert _same(final, expected)
    # State genuinely crossed batches: some user updated more than once.
    assert updates.count() > final.count()


def test_append_mode_emits_only_watermark_closed_windows(spark):
    """Pin the emission rule the oracles replay: emitted windows are
    exactly those with window_end <= ms-truncated max(ts) - delay."""
    out = run_available_now(
        tumbling_window_counts(events_stream(spark, SF_ORACLE))
    )
    batch = load_table(spark, SF_ORACLE, "events")
    wm = batch.agg(
        (
            # unix_millis == ms-truncated event time; the cast-to-
            # timestamp makes this NTZ/LTZ-agnostic (cast("double") is
            # illegal on NTZ fixtures).
            F.timestamp_millis(F.unix_millis(F.max("ts").cast("timestamp")))
            - F.expr("INTERVAL 10 MINUTES")
        ).alias("wm")
    ).first()["wm"]
    assert out.count() > 0
    assert out.filter(F.col("window_end") > F.lit(wm)).count() == 0
    # Every batch-side window below the watermark was emitted.
    batch_windows = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"))
        .count()
        .filter(F.col("w.end") <= F.lit(wm))
        .count()
    )
    assert out.select("window_start").distinct().count() == batch_windows


def test_foreach_batch_upsert_bridge(spark, tmp_path):
    """foreachBatch hands each micro-batch to the batch upsert operator
    — the streaming dimension-maintenance path (reference E2 made
    incremental). The final dimension must equal a batch-computed one."""
    dim_dir = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    batch = load_table(spark, SF_ORACLE, "events")
    expected = (
        batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    expected.filter(F.lit(False)).write.parquet(dim_dir)  # empty seed dim

    def apply_batch(bdf, batch_id):
        staged = bdf.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
        s = bdf.sparkSession
        dim = s.read.parquet(dim_dir)
        merged = upsert(dim, staged, "user_id").localCheckpoint()
        merged.write.mode("overwrite").parquet(dim_dir)

    foreach_batch_sink(
        events_stream(spark, SF_ORACLE), apply_batch, checkpoint_dir=ckpt
    )

    got = spark.read.parquet(dim_dir)
    assert got.count() == expected.count()
    diff = got.exceptAll(expected).count() + expected.exceptAll(got).count()
    # A single availableNow batch means counts equal the batch result
    # exactly; multiple batches would still upsert to the same totals
    # only if staged counts were cumulative — this fixture yields one.
    assert diff == 0


def test_foreach_batch_checkpoint_resume_exactly_once(spark, tmp_path):
    """Checkpointed foreachBatch restart semantics — the exactly-once
    resume contract a production landing-directory pipeline runs on:

    1. first run drains the files present and commits offsets;
    2. a restart with the same checkpoint re-delivers NOTHING;
    3. a new file landing later is delivered alone on the next run —
       no reprocessing of already-committed files.
    """
    import glob as globmod
    import shutil

    from pandas_analysis_with_postgres_spark.streaming.streams import (
        events_raw_schema_for,
        split_events_by_time,
    )

    files = sorted(globmod.glob(split_events_by_time(spark, SF_ORACLE, 3)))
    assert len(files) == 3
    EVENTS_RAW_SCHEMA = events_raw_schema_for(files[0])
    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(files[0], landing / "events_000.parquet")
    shutil.copy(files[1], landing / "events_001.parquet")

    total = load_table(spark, SF_ORACLE, "events").count()
    per_file = [
        spark.read.schema(EVENTS_RAW_SCHEMA).parquet(f).count() for f in files
    ]

    def stream():
        return (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(landing))
        )

    ck = str(tmp_path / "ck")

    delivered: list[int] = []
    foreach_batch_sink(
        stream(), lambda bdf, bid: delivered.append(bdf.count()), checkpoint_dir=ck
    )
    assert sum(delivered) == per_file[0] + per_file[1]
    assert len([d for d in delivered if d]) >= 2, "maxFilesPerTrigger ignored"

    redelivered: list[int] = []
    foreach_batch_sink(
        stream(), lambda bdf, bid: redelivered.append(bdf.count()), checkpoint_dir=ck
    )
    assert sum(redelivered) == 0, "restart re-delivered committed data"

    shutil.copy(files[2], landing / "events_002.parquet")
    late: list[int] = []
    foreach_batch_sink(
        stream(), lambda bdf, bid: late.append(bdf.count()), checkpoint_dir=ck
    )
    assert sum(late) == per_file[2], "late file not delivered exactly once"
    assert sum(delivered) + sum(late) == total


def test_stream_dedup_ingest_end_to_end(spark, tmp_path):
    """Streaming steady-state dedup: micro-batches dedupe against the
    persisted signature store; verdicts land in a results snapshot;
    crash-replay from the checkpoint commits nothing new."""
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        read_manifest,
        read_snapshot,
    )
    from pandas_analysis_with_postgres_spark.streaming import stream_dedup_ingest

    base = (
        "the quick brown fox jumps over the lazy dog near the river today"
    )
    other = "completely different content about query planners and joins"
    land = tmp_path / "landing"
    land.mkdir()
    b0 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(10, base + " x"), (11, "novel third document entirely new words")],
        "doc_id long, text string",
    )
    b0.coalesce(1).write.parquet(str(land / "f0.parquet"))
    b1.coalesce(1).write.parquet(str(land / "f1.parquet"))
    import os

    # deterministic oldest-first pickup
    for i, name in enumerate(sorted(os.listdir(land))):
        os.utime(land / name, (1_600_000_000 + i, 1_600_000_000 + i))

    store = str(tmp_path / "store")
    results = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land / "*.parquet"))
        )
        stream_dedup_ingest(
            stream, store, results, app_id="ingest", checkpoint_dir=ckpt
        )

    run()
    verdicts = {
        r.doc_id: (r.is_dup, r.dup_of, r.method)
        for r in read_snapshot(spark, results).collect()
    }
    assert verdicts[1] == (False, None, None)
    assert verdicts[2] == (False, None, None)
    assert verdicts[10] == (True, 1, "store")  # cross-batch near-dup
    assert verdicts[11] == (False, None, None)
    # store holds exactly the survivors
    assert {r.doc_id for r in read_snapshot(spark, store).collect()} == {1, 2, 11}
    store_v = read_manifest(store)["version"]
    results_v = read_manifest(results)["version"]
    assert store_v >= 2 and results_v >= 2  # one commit per micro-batch

    # drain again from the same checkpoint: nothing new
    run()
    assert read_manifest(store)["version"] == store_v
    assert read_manifest(results)["version"] == results_v


def test_stream_quality_gate_end_to_end(spark, tmp_path):
    """Streaming quality gate: micro-batches scored under a
    pre-trained token-LLR model; only passing docs committed, one
    version per batch; checkpoint replay commits nothing."""
    import os

    from pyspark.sql import functions as F

    from pandas_analysis_with_postgres_spark.operators.classifier import (
        class_prior,
        train_token_llr,
    )
    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        read_manifest,
        read_snapshot,
    )
    from pandas_analysis_with_postgres_spark.streaming import stream_quality_gate

    train = spark.createDataFrame(
        [
            (100, "good clean prose text here", True),
            (101, "clean text with good words", True),
            (102, "spam spam buy now spam", False),
            (103, "buy spam now now spam", False),
        ],
        "doc_id long, text string, y boolean",
    )
    weights = train_token_llr(train, F.col("y")).localCheckpoint()
    prior = class_prior(train, F.col("y")).localCheckpoint()

    land = tmp_path / "landing"
    land.mkdir()
    spark.createDataFrame(
        [(1, "clean good prose"), (2, "spam buy spam")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(land / "f0.parquet"))
    spark.createDataFrame(
        [(3, "good words here"), (4, "now buy now")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(land / "f1.parquet"))
    for i, name in enumerate(sorted(os.listdir(land))):
        os.utime(land / name, (1_600_000_000 + i, 1_600_000_000 + i))

    out = str(tmp_path / "gated")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land / "*.parquet"))
        )
        stream_quality_gate(
            stream, weights, prior, out, app_id="gate", checkpoint_dir=ckpt
        )

    run()
    got = {r.doc_id for r in read_snapshot(spark, out).collect()}
    assert got == {1, 3}  # spammy docs gated out in both batches
    v = read_manifest(out)["version"]
    assert v >= 2  # one commit per micro-batch
    # replay from the same checkpoint: nothing new to commit
    run()
    assert read_manifest(out)["version"] == v


def test_stream_quality_gate_fully_gated_batch_commits_nothing(spark, tmp_path):
    import os

    import pytest
    from pyspark.sql import functions as F

    from pandas_analysis_with_postgres_spark.operators.classifier import (
        class_prior,
        train_token_llr,
    )
    from pandas_analysis_with_postgres_spark.sources.snapshot import read_snapshot
    from pandas_analysis_with_postgres_spark.streaming import stream_quality_gate

    train = spark.createDataFrame(
        [(1, "good text", True), (2, "spam spam", False)],
        "doc_id long, text string, y boolean",
    )
    weights = train_token_llr(train, F.col("y")).localCheckpoint()
    prior = class_prior(train, F.col("y")).localCheckpoint()
    land = tmp_path / "landing"
    land.mkdir()
    spark.createDataFrame(
        [(10, "spam spam spam")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(land / "f0.parquet"))
    out = str(tmp_path / "gated")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land / "*.parquet"))
    )
    stream_quality_gate(
        stream, weights, prior, out,
        app_id="gate0", checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # nothing passed the gate: no table was created (and no crash)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, out)


def test_stream_sum_view_end_to_end(spark, tmp_path):
    """Streaming ingest + continuously-maintained aggregate view: each
    micro-batch merges into the source table and folds its CDF delta
    into the view; checkpoint replay commits nothing to either."""
    import os

    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        read_manifest,
        read_snapshot,
    )
    from pandas_analysis_with_postgres_spark.streaming.streams import (
        stream_sum_view,
    )

    land = tmp_path / "landing"
    land.mkdir()
    spark.createDataFrame(
        [(1, "a", 10, 0), (2, "b", 5, 0)], "k long, grp string, v long, p long"
    ).coalesce(1).write.parquet(str(land / "f0.parquet"))
    spark.createDataFrame(
        [(2, "b", 7, 0), (3, "a", 1, 1)], "k long, grp string, v long, p long"
    ).coalesce(1).write.parquet(str(land / "f1.parquet"))
    for i, name in enumerate(sorted(os.listdir(land))):
        os.utime(land / name, (1_600_000_000 + i, 1_600_000_000 + i))

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema("k long, grp string, v long, p long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land / "*.parquet"))
        )
        stream_sum_view(
            stream,
            src,
            view,
            key="k",
            partition_col="p",
            group_col="grp",
            sum_col="v",
            app_id="sv",
            checkpoint_dir=ckpt,
        )

    run()
    # final source state: k1 (a,10), k2 (b,7 — updated), k3 (a,1)
    got = {
        r.grp: (r.n_rows, r.total)
        for r in read_snapshot(spark, view).collect()
        if r.n_rows > 0
    }
    assert got == {"a": (2, 11), "b": (1, 7)}
    src_v = read_manifest(src)["version"]
    view_v = read_manifest(view)["version"]
    assert src_v >= 2 and view_v >= 2  # one commit per batch per table
    # checkpoint replay: both tables unchanged
    run()
    assert read_manifest(src)["version"] == src_v
    assert read_manifest(view)["version"] == view_v


def test_stream_semantic_dedup_ingest_end_to_end(spark, tmp_path):
    """Streaming steady-state SEMANTIC dedup (r05 ask #9): micro-
    batches of embeddings dedupe against the persisted vector store
    under a persisted frozen codebook; verdicts land in a results
    snapshot; crash-replay from the checkpoint commits nothing new."""
    import os

    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        read_manifest,
        read_snapshot,
        write_snapshot,
    )
    from pandas_analysis_with_postgres_spark.streaming import (
        stream_semantic_dedup_ingest,
    )

    # persisted codebook: two frozen cells on the first two axes
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0], 0), (1, [0.0, 1.0, 0.0, 0.0], 0)],
        "cell_id long, centv array<double>, p long",
    )
    cents_path = str(tmp_path / "centroids")
    write_snapshot(cents.select("cell_id", "centv", "p"), cents_path, "p")

    land = tmp_path / "landing"
    land.mkdir()
    schema = "vec_id long, embedding array<float>"
    b0 = spark.createDataFrame(
        [(1, [1.0, 0.05, 0.0, 0.0]), (2, [0.0, 1.0, 0.05, 0.0])], schema
    )
    b1 = spark.createDataFrame(
        [
            (10, [1.0, 0.06, 0.0, 0.0]),   # near-dup of stored vec 1
            (11, [0.0, 0.9, 0.5, 0.0]),    # same cell as 2, below threshold
        ],
        schema,
    )
    b0.coalesce(1).write.parquet(str(land / "f0.parquet"))
    b1.coalesce(1).write.parquet(str(land / "f1.parquet"))
    for i, name in enumerate(sorted(os.listdir(land))):
        os.utime(land / name, (1_600_000_000 + i, 1_600_000_000 + i))

    store = str(tmp_path / "vec_store")
    results = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land / "*.parquet"))
        )
        stream_semantic_dedup_ingest(
            stream,
            store,
            results,
            cents_path,
            app_id="semingest",
            checkpoint_dir=ckpt,
            threshold=0.95,
        )

    run()
    verdicts = {
        r.vec_id: (r.is_dup, r.dup_of, r.method)
        for r in read_snapshot(spark, results).collect()
    }
    assert verdicts[1] == (False, None, None)
    assert verdicts[2] == (False, None, None)
    assert verdicts[10] == (True, 1, "store")  # cross-batch semantic dup
    assert verdicts[11] == (False, None, None)
    assert {r.vec_id for r in read_snapshot(spark, store).collect()} == {1, 2, 11}
    store_v = read_manifest(store)["version"]
    results_v = read_manifest(results)["version"]
    assert store_v >= 2 and results_v >= 2

    # drain again from the same checkpoint: nothing new
    run()
    assert read_manifest(store)["version"] == store_v
    assert read_manifest(results)["version"] == results_v


def test_timed_out_drains_stop_and_raise(spark, tmp_path):
    """A stream that cannot finish inside its timeout raises instead of
    returning a partial table, and leaves no query running — for both
    the memory-sink drain and the foreachBatch sink."""
    import time

    import pytest

    slow = F.udf(lambda v: time.sleep(3) or v, "long")
    stream = events_stream(spark, SF_ORACLE).select(slow("event_id").alias("v"))
    with pytest.raises(TimeoutError):
        run_available_now(stream, timeout_sec=0.2)
    assert spark.streams.active == []

    with pytest.raises(TimeoutError):
        foreach_batch_sink(
            events_stream(spark, SF_ORACLE),
            lambda df, batch_id: time.sleep(3),
            checkpoint_dir=str(tmp_path / "ckpt"),
            timeout_sec=0.2,
        )
    assert spark.streams.active == []


def test_sink_commit_retry_rule():
    """The sinks' one retry rule, pure Python: a commit that loses four
    optimistic races lands on the fifth attempt; five losses re-raise
    the last error."""
    import pytest

    from pandas_analysis_with_postgres_spark.sources.snapshot import (
        ConcurrentCommitError,
    )
    from pandas_analysis_with_postgres_spark.streaming.streams import (
        _retry_commit,
    )

    def flaky(losses, calls, *, value):
        calls.append(value)
        if len(calls) <= losses:
            raise ConcurrentCommitError(f"lost race {len(calls)}")
        return value

    calls: list = []
    assert _retry_commit(flaky, 4, calls, value="v5") == "v5"
    assert len(calls) == 5
    calls = []
    with pytest.raises(ConcurrentCommitError, match="lost race 5"):
        _retry_commit(flaky, 5, calls, value="never")
    assert len(calls) == 5
