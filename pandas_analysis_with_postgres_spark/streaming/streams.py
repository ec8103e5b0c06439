"""Structured Streaming operators over the ``events`` stream table.

The reference has no streaming at all (SURVEY §2.11 — verified: its
only source file is a batch pandas script, reference
``dmCustomerProc.py`` whole-file); everything here is the engine's
extension surface, built purely on public Structured Streaming.

Scale design (100 TB / unbounded):
- All aggregations are event-time windowed with a watermark, so state
  is bounded: window state is evicted once the watermark passes the
  window end. Without the watermark, groupBy state grows forever.
- The shuffle is keyed by (window, group keys) — the same partitioning
  story as batch; skewed keys hit AQE-less streaming harder, so keep
  group keys high-cardinality (user_id, event_type) rather than
  constants.
- ``foreachBatch`` bridges to the batch operators (upsert/SCD2) for
  streaming dimension maintenance — each micro-batch is a normal
  DataFrame, so one code path serves both modes.

Determinism for the differential harness: with the file source +
``availableNow`` trigger the stream drains the fixture completely and
the final watermark is ``max(event time) [ms-truncated] - delay``;
append mode emits exactly the windows with ``window_end <= watermark``
(pinned empirically, and in tests). The DuckDB oracles replay that
emission rule in SQL.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil
import tempfile
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: Explicit file-source schema for events: streaming reads don't
#: infer. The ``{ts}`` slot is filled per-fixture by `_events_ts_kind`
#: — the driver has shipped the fixture both as Parquet
#: TIMESTAMP(NANOS) (readable only as nanos-since-epoch LONG under the
#: legacy conf) and as TIMESTAMP(MICROS) without isAdjustedToUTC
#: (which Spark 4 reads as TIMESTAMP_NTZ) — so the source layer
#: introspects the footer instead of assuming either.
EVENTS_RAW_SCHEMA_TPL = (
    "event_id long, ts {ts}, user_id long, event_type string, "
    "value double, props string"
)

_memory_sink_ids = itertools.count()

#: Hard cap on distinct opt-out keys collected to the driver per
#: micro-batch in :func:`stream_optout_sink`. Opt-out streams are
#: compliance lists (thousands of ids/day); 100k short ids ≈ a few MB
#: of driver memory. A bulk GDPR backfill (millions of keys) must go
#: through batch ``delete_where`` instead — the limit(cap+1) probe
#: makes the failure itself cheap.
MAX_OPTOUT_BATCH_KEYS = 100_000


def _events_ts_kind(sample_file: str) -> str:
    """Classify the fixture's physical ``ts`` encoding from the parquet
    footer: 'nanos_long' (TIMESTAMP(NANOS) → legacy LONG read), 'ntz'
    (no isAdjustedToUTC), or 'ltz'. Footer-only driver-side peek — no
    data read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(sample_file):
        # Spark-written "file" = directory of part files (e.g. the
        # scale fixture); any part carries the table schema.
        sample_file = str(next(Path(sample_file).glob("part-*.parquet")))
    t = pq.read_schema(sample_file).field("ts").type
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return "nanos_long"
        return "ntz" if t.tz is None else "ltz"
    return "nanos_long"


def events_raw_schema_for(sample_file: str) -> str:
    """Concrete file-source schema string for an events fixture file —
    ``ts`` typed per the parquet footer (see `_events_ts_kind`)."""
    kind = _events_ts_kind(sample_file)
    ts_type = {"nanos_long": "long", "ntz": "timestamp_ntz", "ltz": "timestamp"}[kind]
    return EVENTS_RAW_SCHEMA_TPL.format(ts=ts_type)


def _read_events_stream(
    spark: SparkSession, glob: str, sample_file: str, *, max_files: int | None = None
) -> DataFrame:
    """readStream the events fixture with the footer-appropriate schema
    and normalize ``ts`` to TIMESTAMP (watermarks reject NTZ —
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The NTZ→LTZ cast interprets
    wall time in the session zone and ``toPandas`` renders it back
    through the same zone, so emitted values are wall-identical for any
    session timezone (window *alignment* assumes a whole-hour offset;
    the engine session pins UTC)."""
    kind = _events_ts_kind(sample_file)
    if kind == "nanos_long":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(events_raw_schema_for(sample_file))
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    raw = reader.parquet(glob)
    if kind == "nanos_long":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if kind == "ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded file-source read of the events table.

    A glob path (``events.*``) rather than the bare file: the file
    stream source requires a directory or pattern. In production this
    would be a Kafka source / a landing directory receiving files; the
    transformation surface downstream is identical.
    """
    return _read_events_stream(
        spark, f"{sf_dir}/events.*", f"{sf_dir}/events.parquet"
    )


def split_events_by_time(spark: SparkSession, sf_dir: str, n_files: int = 3) -> str:
    """Split the events fixture into ``n_files`` time-ordered parquet
    files under a cached temp dir — a stand-in for a landing directory
    receiving files over time.

    Range-split on event time (ties broken by event_id), so every event
    in file *i* precedes every event in file *i+1*. Replayed one file
    per trigger this means no event is ever late relative to the
    advancing watermark — append/update emission stays oracle-exact —
    while genuinely exercising cross-micro-batch state handoff
    (watermark advance, window close-out, state-store carry).

    Returns the glob readStream should consume. File moves happen on
    the driver: this is fixture preparation, not engine work; the split
    is cached per (sf_dir, n_files). Mtimes are spaced 2 s apart so the
    file source's oldest-first pickup order is deterministic.
    """
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    # Content fingerprint in the key: a regenerated fixture at the same
    # path must invalidate the cached split (same-path stale /tmp data
    # otherwise silently survives across driver rounds).
    key = hashlib.sha1(
        f"{os.path.abspath(sf_dir)}|{n_files}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:12]
    out = Path(tempfile.gettempdir()) / f"spark_graft_events_split_{key}"
    marker = out / "_SPLIT_DONE"
    glob = str(out / "events_*.parquet")
    if marker.exists():
        return glob

    if _events_ts_kind(src) == "nanos_long":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.orderBy("ts", "event_id")  # fixture-size single-task sort
    bucketed = raw.select(
        "*",
        F.least(
            F.floor(F.percent_rank().over(w) * n_files), F.lit(n_files - 1)
        ).alias("__b"),
    )
    # Build under a process-unique staging dir and publish with one
    # atomic rename: a concurrent builder (the driver may run queries
    # in parallel processes) can never observe a half-written split,
    # and a crashed builder leaves only an orphan staging dir behind.
    stage = out.with_name(out.name + f".build{os.getpid()}")
    stage.mkdir(parents=True, exist_ok=True)
    base = 1_600_000_000
    for i in range(n_files):
        build = stage / f"__build_{i}"
        bucketed.filter(F.col("__b") == i).drop("__b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(build))
        dest = stage / f"events_{i:03d}.parquet"
        shutil.move(str(next(build.glob("part-*.parquet"))), dest)
        os.utime(dest, (base + 2 * i, base + 2 * i))
        shutil.rmtree(build)
    (stage / "_SPLIT_DONE").touch()
    try:
        os.rename(stage, out)
    except OSError:
        if marker.exists():
            # Lost the publish race — another process completed the
            # same split first. Its copy is byte-identical; use it.
            shutil.rmtree(stage, ignore_errors=True)
        else:
            # Stale half-written dir from a crashed pre-atomic build:
            # clear it and publish ours.
            shutil.rmtree(out, ignore_errors=True)
            os.rename(stage, out)
    return glob


def events_stream_multibatch(
    spark: SparkSession, sf_dir: str, *, n_files: int = 3
) -> DataFrame:
    """`events_stream` variant that replays the fixture as ``n_files``
    time-ordered files, one file per micro-batch (``maxFilesPerTrigger=1``
    under ``availableNow`` ⇒ ≥ ``n_files`` batches) — the multi-batch
    harness for stateful operators, where watermark advance and
    state-store handoff actually differ from a single-batch GROUP BY.
    A failed split raises: it never degrades to a single-batch stream.

    Production guidance: batch size is the maxFilesPerTrigger /
    trigger-interval knob — fewer, larger micro-batches amortize the
    per-store commit floor measured in OPTIMIZATION_r13.md."""
    glob = split_events_by_time(spark, sf_dir, n_files)
    # Introspect a *split* file, not the source fixture: the split is
    # written by a batch round-trip, so its physical ts encoding is
    # whatever Spark wrote (NTZ stays NTZ; legacy nanos became LONG).
    sample = str(next(Path(glob).parent.glob("events_*.parquet")))
    return _read_events_stream(spark, glob, sample, max_files=1)


def tumbling_window_counts(
    stream: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling event-time window counts with bounded state."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_cols,
            "n_events",
        )
    )


def sliding_window_counts(
    stream: DataFrame,
    *,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Sliding event-time windows: each event lands in window/slide
    overlapping windows (2 for 1h/30m)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_cols,
            "n_events",
        )
    )


def session_window_agg(
    stream: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Session windows per group: a session extends while events keep
    arriving within ``gap`` of its end; state closes (and the session
    is emitted, in append mode) once the watermark passes session end
    = last event time + gap."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            *group_cols,
            "n_events",
        )
    )


def windowed_hll_registers(
    stream: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    value_col: str = "user_id",
) -> DataFrame:
    """Streaming HLL: per event-time window, build the 256-register
    distinct sketch AS the streaming state. ``max(rho)`` is the HLL
    merge, so registers accumulate correctly across micro-batches and
    state is bounded at windows × m rows — this is how you count
    distinct users per hour over an unbounded stream without keeping
    the users. Append mode emits a window's registers when the
    watermark closes it; collapse the drained frame with
    ``sketches.hll_estimate`` (a batch step — the expensive part, the
    dedup state, already happened incrementally)."""
    from ..operators.sketches import hll_reg_rho

    reg, rho = hll_reg_rho(F.col(value_col))
    return (
        stream.withWatermark("ts", watermark)
        .select(F.col("ts"), reg.alias("reg"), rho.alias("rho"))
        .groupBy(F.window("ts", window).alias("w"), "reg")
        .agg(F.max("rho").alias("rho_max"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "reg",
            "rho_max",
        )
    )


def dedup_within_watermark(stream: DataFrame, keys: list[str], *, watermark: str = "10 minutes") -> DataFrame:
    """Stateful streaming dedup: first occurrence of each key emits,
    later duplicates are suppressed while their key is within the
    watermark horizon — so state is bounded by the watermark, unlike
    ``dropDuplicates`` whose state grows forever on an unbounded
    stream."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stateful_user_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running event counter that survives across micro-batches.

    This is the escape hatch for stateful logic the built-in windowed
    aggregations can't express (CUSUM detectors, custom sessionizers,
    per-key models): state is an explicit typed tuple per group key,
    updated with Arrow-batched pandas, emitted in update mode. State
    lives in the state store keyed by user_id — sized by distinct keys,
    not events, and partitioned with the shuffle. NoTimeout here
    because the fixture is finite; unbounded deployments set a
    processing/event-time timeout to expire idle keys.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        (user_id,) = key
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [user_id], "n_events": [n]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n_events long",
        "n long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    df: DataFrame,
    *,
    output_mode: str = "append",
    timeout_sec: float = 300,
    progress_out: list[int] | None = None,
    state_partitions: int = 8,
) -> DataFrame:
    """Drain a finite stream to completion into an in-memory table and
    return it as a batch DataFrame.

    This is the differential-harness bridge ONLY: the memory sink
    collects to the driver. Production sinks are ``foreachBatch`` (see
    below), Kafka, or a table format — same plan, different sink.

    ``state_partitions`` bounds the stream's shuffle/state partition
    count for this drain (restored afterwards). Stateful operators pay
    a fixed per-state-store per-micro-batch commit cost — a
    stream-stream join keeps FOUR stores per partition, so draining the
    tiny fixture at 32 partitions is ~5× slower than at 8 for identical
    output (measured: q56 20.6 s → 4.2 s). The partition count is
    sized by live state volume, a deployment knob: an unbounded
    production stream with wide key spaces raises it (it is fixed at
    first start by the checkpoint); the finite harness fixture wants it
    small. Default 8.

    ``progress_out``, if given, receives ``numInputRows`` per non-empty
    micro-batch — how tests pin that a multi-file source really
    executed multiple batches.

    A drain that does not finish within ``timeout_sec`` is stopped and
    raises ``TimeoutError`` — never a partial table.
    """
    spark = df.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    name = f"__stream_result_{next(_memory_sink_ids)}"
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        _await_or_stop(q, timeout_sec)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if progress_out is not None:
        for p in q.recentProgress:
            rows = p["numInputRows"] if isinstance(p, dict) else p.numInputRows
            if rows:
                progress_out.append(rows)
    return df.sparkSession.table(name)


def foreach_batch_sink(
    df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    *,
    checkpoint_dir: str,
    timeout_sec: float = 300,
) -> None:
    """Run a finite stream through ``foreachBatch`` — each micro-batch
    is handed to ``batch_fn`` as a normal batch DataFrame, which is how
    the batch upsert/SCD2 operators serve streaming dimension
    maintenance (reference E2/E3 flows, made incremental). Raises
    ``TimeoutError`` (after stopping the query) if the stream does not
    finish within ``timeout_sec``."""
    q = (
        df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_stop(q, timeout_sec)


def _await_or_stop(q, timeout_sec: float) -> None:
    """Wait for an availableNow query to drain; on timeout stop it and
    raise rather than hand back a partial result."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"stream {q.name or q.id} did not finish within {timeout_sec} s"
        )


def _retry_commit(fn: Callable, *args, **kwargs):
    """Call ``fn(*args, **kwargs)``, retrying IN-RUN when it loses an
    optimistic commit race (``ConcurrentCommitError``): each attempt
    re-reads the fresh snapshot, so a retry is result-identical, and a
    txn-watermarked commit that did land turns the retry into a no-op.
    Five attempts; the last loss re-raises (under
    ``trigger(availableNow)`` that terminates the query, and restarting
    from the checkpoint is the fallback)."""
    from ..sources.snapshot import ConcurrentCommitError

    attempts = 5
    for i in range(attempts):
        try:
            return fn(*args, **kwargs)
        except ConcurrentCommitError:
            if i == attempts - 1:
                raise


def stream_merge_sink(
    df: DataFrame,
    table_path: str,
    key: str,
    partition_col: str,
    *,
    app_id: str,
    checkpoint_dir: str,
    timeout_sec: int = 300,
    branch: str | None = None,
) -> None:
    """Stream → snapshot-table MERGE with exactly-once semantics.
    ``branch`` retargets every micro-batch commit at a named branch
    (sources.snapshot.create_branch) — the streaming half of
    write-audit-publish: hours of ingest accumulate invisibly to
    main's readers, the audit reads ``version="branch:<name>"``, and
    one fast_forward_branch publishes the whole run.

    Each micro-batch is merged into the snapshot table
    (``sources.snapshot.merge_snapshot``) tagged with
    ``txn=(app_id, batch_id)``. Structured Streaming replays the last
    micro-batch after a crash between the sink call and the checkpoint
    commit; the manifest's transaction watermark makes that replay a
    no-op, so the table sees every batch exactly once even though the
    stream delivers at-least-once. A concurrent writer racing the sink
    surfaces as ``ConcurrentCommitError``; the merge is retried IN-RUN
    against the fresh snapshot (bounded attempts — optimistic retry is
    result-identical because each attempt re-reads the current
    version). Under ``trigger(availableNow)`` an exception escaping
    ``foreachBatch`` would terminate the query, so without this loop
    exactly-once would only hold after a manual restart from the
    checkpoint; if all attempts lose the race, that is still the
    fallback (the txn watermark makes the restart a no-op for any batch
    that did land).
    """
    from ..sources.snapshot import merge_snapshot

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        _retry_commit(
            merge_snapshot,
            table_path,
            batch_df,
            key,
            partition_col,
            txn=(app_id, batch_id),
            branch=branch,
        )

    foreach_batch_sink(
        df, _merge, checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec
    )


def stream_append_sink(
    df: DataFrame,
    table_path: str,
    partition_col: str,
    *,
    app_id: str,
    checkpoint_dir: str,
    timeout_sec: int = 300,
    branch: str | None = None,
) -> None:
    """Stream → snapshot-table APPEND with exactly-once semantics —
    the canonical high-volume ingest sink (Iceberg's streaming
    fast-append): each micro-batch's rows ADD to their partitions via
    :func:`sources.snapshot.append_snapshot` (nothing keyed, nothing
    removed; partition by something micro-batches never revisit —
    ingest date, batch bucket — and every commit is pure directory
    adds). Exactly-once via the same ``txn=(app_id, batch_id)``
    watermark as the merge sink; crash-replayed batches are no-ops.
    ``branch`` makes it the streaming write-audit-publish path, and —
    because append claims nothing about existing content — this sink
    also stays legal mid-migration after evolve_partition_spec."""
    from ..sources.snapshot import append_snapshot

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        _retry_commit(
            append_snapshot,
            table_path,
            batch_df,
            partition_col,
            txn=(app_id, batch_id),
            branch=branch,
        )

    foreach_batch_sink(
        df, _append, checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec
    )


def stream_optout_sink(
    df: DataFrame,
    table_path: str,
    key: str,
    *,
    app_id: str,
    checkpoint_dir: str,
    timeout_sec: int = 300,
    mode: str = "merge-on-read",
) -> None:
    """Opt-out / right-to-be-forgotten STREAM → snapshot delete with
    exactly-once semantics: ``df`` is a stream of key values (column
    ``key``), each micro-batch's keys are deleted from the table via
    :func:`sources.snapshot.delete_where` tagged ``txn=(app_id,
    batch_id)`` — a replayed batch after a crash is absorbed by the
    manifest's transaction watermark, so every opt-out lands exactly
    once.

    ``mode="merge-on-read"`` (default) is the shape a 100 TB table
    wants for a steady trickle of deletions: each batch commits small
    key-tombstone files, NO data rewrite — readers anti-join them out
    immediately, and the next compaction folds them into physical
    erasure (which still requires :func:`expire_snapshots`, as the
    delete result records). ``mode="copy-on-write"`` rewrites matching
    partitions per batch instead.

    The batch's distinct keys are collected to the driver to form the
    delete predicate — an opt-out batch is a compliance list
    (thousands of ids), not a data stream. That contract is ENFORCED:
    a batch with more than ``MAX_OPTOUT_BATCH_KEYS`` distinct keys
    fails loudly (via a ``limit(cap+1)`` probe, so the oversized
    collect itself never happens) instead of OOMing the driver — a
    bulk-erasure backlog that size belongs in a batch
    :func:`sources.snapshot.delete_where` call, or split across
    micro-batches with ``maxOffsetsPerTrigger``-style source rate
    limits. NULL keys are dropped (no row carries a NULL identity).
    Commit races with concurrent writers retry in-run, same as
    :func:`stream_merge_sink`."""
    from pyspark.sql import functions as F

    from ..sources.snapshot import delete_where

    def _delete(batch_df: DataFrame, batch_id: int) -> None:
        cap = MAX_OPTOUT_BATCH_KEYS
        rows = (
            batch_df.select(key)
            .where(F.col(key).isNotNull())
            .distinct()
            .limit(cap + 1)
            .collect()
        )
        if len(rows) > cap:
            raise ValueError(
                f"stream_optout_sink: micro-batch {batch_id} carries more "
                f"than {cap:,} distinct {key!r} values; opt-out streams are "
                "compliance lists, not bulk erasure — run a batch "
                "delete_where for backfills, or rate-limit the source so "
                "each trigger stays under the cap"
            )
        ids = [r[0] for r in rows]
        if not ids:
            return
        _retry_commit(
            delete_where,
            batch_df.sparkSession,
            table_path,
            F.col(key).isin(ids),
            txn=(app_id, batch_id),
            mode=mode,
            key=key if mode == "merge-on-read" else None,
        )

    foreach_batch_sink(
        df, _delete, checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec
    )


def stream_dedup_ingest(
    df: DataFrame,
    store_path: str,
    results_path: str,
    *,
    app_id: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    timeout_sec: int = 300,
) -> None:
    """Streaming steady-state dedup ingest — the 100 TB pipeline's
    front door, composed from the round-3/4 flagship pieces: each
    micro-batch of documents is deduped against the persisted MinHash
    signature store (``operators.dedup.incremental_minhash_dedup`` —
    store scanned once, never shuffled, size-gated batch broadcast)
    and the per-document verdicts land in a second snapshot table,
    partitioned by batch.

    Exactly once, twice over: both the store commit and the results
    commit carry ``txn=(app_id, batch_id)`` watermarks, so Structured
    Streaming's crash-replay of the last micro-batch re-commits
    nothing. (A replayed batch may *recompute* slightly different
    verdict labels — its own survivors are already in the store, so a
    within-batch dup can re-resolve as a store dup — but the
    recomputed frame is discarded by the results table's watermark;
    persisted state never diverges.) Lost optimistic races retry
    in-run like :func:`stream_merge_sink`.
    """
    from ..operators.dedup import incremental_minhash_dedup
    from ..sources.snapshot import merge_snapshot

    def _attempt(batch_df: DataFrame, batch_id: int) -> None:
        res, _ = incremental_minhash_dedup(
            batch_df,
            store_path,
            batch_id=batch_id,
            threshold=threshold,
            text_col=text_col,
            id_col=id_col,
            app_id=app_id,
        )
        merge_snapshot(
            results_path,
            res.withColumn("__batch", F.lit(batch_id)),
            "doc_id",
            "__batch",
            txn=(f"{app_id}-results", batch_id),
        )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        _retry_commit(_attempt, batch_df, batch_id)

    foreach_batch_sink(
        df, _ingest, checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec
    )


def stream_semantic_dedup_ingest(
    df: DataFrame,
    store_path: str,
    results_path: str,
    centroids_path: str,
    *,
    app_id: str,
    checkpoint_dir: str,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_sec: int = 300,
) -> None:
    """Streaming steady-state SEMANTIC dedup ingest — the embedding-
    level twin of :func:`stream_dedup_ingest` (r05 judge ask #9): each
    micro-batch of (id, embedding) rows is deduped against the
    persisted vector store
    (``operators.similarity.incremental_semantic_dedup`` — append-only
    cell-assigned survivors, store scanned once and never shuffled,
    size-gated batch broadcast) and the per-document verdicts land in
    a results snapshot, partitioned by batch.

    ``centroids_path`` is the PERSISTED codebook — a snapshot table of
    (cell_id, centv) trained offline (``kmeans_codebook`` →
    ``write_snapshot``) and read fresh each batch, so codebook
    maintenance (a rebuild committing new centroids) is picked up at
    the next micro-batch without restarting the stream. Exactly-once
    is the same double-txn-watermark argument as
    :func:`stream_dedup_ingest`: store commit and results commit each
    carry ``txn=(app_id, batch_id)``-style watermarks, so Structured
    Streaming's crash-replay of the last micro-batch re-commits
    nothing; a replayed batch may recompute method='batch' verdicts as
    method='store' (its survivors are already stored) but the
    recomputed frame is discarded by the results watermark. Lost
    optimistic races retry in-run.
    """
    from ..operators.similarity import incremental_semantic_dedup
    from ..sources.snapshot import merge_snapshot, read_snapshot

    def _attempt(batch_df: DataFrame, batch_id: int) -> None:
        cents = read_snapshot(batch_df.sparkSession, centroids_path)
        res, _ = incremental_semantic_dedup(
            batch_df,
            store_path,
            cents,
            batch_id=batch_id,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            app_id=app_id,
        )
        merge_snapshot(
            results_path,
            res.withColumn("__batch", F.lit(batch_id)),
            id_col,
            "__batch",
            txn=(f"{app_id}-results", batch_id),
        )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        _retry_commit(_attempt, batch_df, batch_id)

    foreach_batch_sink(
        df, _ingest, checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec
    )


def stream_ivfpq_ingest(
    df: DataFrame,
    index_path: str,
    *,
    app_id: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_sec: int = 300,
) -> None:
    """Streaming IVF-PQ index maintenance — the ANN-index twin of
    :func:`stream_semantic_dedup_ingest`: each micro-batch of
    (id, embedding) rows is PQ-encoded and cell-assigned against the
    index's STORED quantizers (frozen model artifacts, read fresh each
    batch so an offline rebuild is picked up at the next micro-batch)
    and appended as its own ``_b{batch_id}`` partitions
    (``operators.similarity.append_ivfpq_index``). Encoding is
    batch-independent by construction, so a live search
    (``search_ivfpq_index``) sees every committed batch immediately.

    Exactly-once: the append's ``txn=(app_id, batch_id)`` watermark
    makes Structured Streaming's crash-replay of the last micro-batch
    a no-op; lost optimistic races against a concurrent maintenance
    writer retry in-run. Micro-batch ids share the ``_b{n}`` suffix
    space with bootstrap batches — colliding ids are merged by key
    (correct, but the touched partitions are rewritten), so bootstrap
    the store at batch ids streaming will not reuse if
    carry-by-reference matters.
    """
    from ..operators.similarity import append_ivfpq_index

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        _retry_commit(
            append_ivfpq_index,
            batch_df,
            index_path,
            batch_id=batch_id,
            id_col=id_col,
            vec_col=vec_col,
            app_id=app_id,
        )

    foreach_batch_sink(
        df, _ingest, checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec
    )


def stream_quality_gate(
    df: DataFrame,
    weights: DataFrame,
    prior: DataFrame,
    out_path: str,
    *,
    app_id: str,
    checkpoint_dir: str,
    threshold: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_sec: int = 300,
) -> None:
    """Streaming quality gate: score each micro-batch of documents
    under a PRE-TRAINED token-LLR model (``operators.classifier`` —
    the model is a batch artifact, trained offline, broadcast at
    scoring time) and commit only rows with ``score > threshold`` to a
    snapshot table, partitioned by micro-batch.

    This is the ingest-side quality filter of an LLM data pipeline:
    train once on a labeled corpus, then gate the firehose. Scoring is
    a per-batch aggregation (explode → vocab join → per-doc fold), so
    it runs inside ``foreachBatch`` where batch semantics apply — no
    streaming state, no watermark. Exactly-once via the snapshot txn
    watermark; lost optimistic races retried in-run (same posture as
    :func:`stream_dedup_ingest`). Rejected rows are simply not
    committed — verdict auditing is what :func:`stream_dedup_ingest`'s
    results table shape is for, composable here the same way. A
    micro-batch that gates out ENTIRELY commits nothing (an empty
    commit would publish a zero-partition manifest), so a stream whose
    every batch fails the gate never creates the table — readers see
    the usual missing-table ``FileNotFoundError``, not an empty frame.
    """
    from ..operators.classifier import score_docs
    from ..sources.snapshot import merge_snapshot

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        scored = score_docs(
            batch_df, weights, prior, id_col=id_col, text_col=text_col
        )
        kept = (
            batch_df.join(
                scored.filter(F.col("score") > threshold).select(
                    id_col, "score"
                ),
                id_col,
            )
            .withColumn("__batch", F.lit(batch_id))
            .localCheckpoint()  # scored once: emptiness check + merge
        )
        if not kept.take(1):
            # Fully-gated batch: committing an EMPTY source would
            # bootstrap a zero-partition manifest (unreadable table).
            # Skipping is replay-safe — the model is fixed for the
            # run, so a crash-replayed batch re-gates to empty again.
            return
        _retry_commit(
            merge_snapshot,
            out_path,
            kept,
            id_col,
            "__batch",
            txn=(app_id, batch_id),
        )

    foreach_batch_sink(
        df, _gate, checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec
    )


def stream_sum_view(
    df: DataFrame,
    source_path: str,
    view_path: str,
    *,
    key: str,
    partition_col: str,
    group_col: str,
    sum_col: str,
    app_id: str,
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> None:
    """Streaming ingest with a CONTINUOUSLY-MAINTAINED aggregate view:
    each micro-batch (1) merges into the ``source_path`` snapshot table
    exactly-once (the :func:`stream_merge_sink` txn discipline), then
    (2) folds the resulting change feed into the ``view_path``
    per-group (n_rows, total) view via
    ``sources.matview.maintain_sum_view`` — whose exactly-once needs no
    extra machinery here: the view's own txn watermark is its cursor,
    so a crash between (1) and (2) just leaves the view one cycle
    behind, and the NEXT batch's maintenance (or a manual cycle)
    catches it up; a replayed batch re-runs (1) as a watermark no-op
    and (2) sees an unchanged source version.

    This closes the lakehouse loop end-to-end under streaming: ingest →
    versioned table → CDF → incremental aggregate, every hop
    idempotent.
    """
    from ..sources.matview import maintain_sum_view
    from ..sources.snapshot import merge_snapshot

    def _ingest_and_maintain(batch_df: DataFrame, batch_id: int) -> None:
        _retry_commit(
            merge_snapshot,
            source_path,
            batch_df,
            key,
            partition_col,
            txn=(app_id, batch_id),
        )
        # the view merge can lose an optimistic race against a manual
        # maintenance cycle (CLI `matview`) — retry in-run like every
        # other sink here; each attempt re-reads the fresh watermark,
        # so a racing cycle that already applied the range turns the
        # retry into a caught-up no-op.
        _retry_commit(
            maintain_sum_view,
            batch_df.sparkSession,
            source_path,
            view_path,
            key=key,
            group_col=group_col,
            sum_col=sum_col,
        )

    foreach_batch_sink(
        df,
        _ingest_and_maintain,
        checkpoint_dir=checkpoint_dir,
        timeout_sec=timeout_sec,
    )


def tws_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, value-sum) through Spark 4's
    ``transformWithState`` — the NEW arbitrary-stateful API (typed,
    composable state handles, timers, TTL) that supersedes
    ``applyInPandasWithState``'s single-blob GroupState. One
    ``ValueState`` per user holds ``(n, s)``; each micro-batch folds
    its rows in and emits the post-batch running totals (update mode —
    the upsert-sink contract, exactly :func:`stateful_user_counts`'s
    emission shape, so the same MAX/arg-MAX collapse makes the drained
    result batch-count-invariant).

    Scale notes: state lives in the per-partition state store keyed by
    user (RocksDB on a real cluster), Arrow-batched per group like the
    rest of the Python boundary; the processor never sees another
    key's rows. ``timeMode="None"``: no timers — expiry belongs to a
    TTL on the handle when ingest is unbounded.

    Environment requirements (measured): TWS needs the RocksDB state
    store provider (``spark.sql.streaming.stateStore.providerClass`` —
    the HDFS-backed default lacks multi-column-family state) AND
    google.protobuf for its Python worker protocol. This container
    ships neither protobuf nor pip access, so the operator is gated
    behind ``tests/test_tws.py`` (importorskip) rather than declared
    in the oracle surface — the same policy as live Postgres.
    """
    import pandas as pd

    from pyspark.sql.streaming import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n long, s double"
            )

        def handleInputRows(self, key, rows, timerValues):
            prev = self._totals.get() if self._totals.exists() else None
            n, s = (int(prev[0]), float(prev[1])) if prev else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [n],
                    "total_value": [s],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_RunningTotals(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="Update",
            timeMode="None",
        )
    )
