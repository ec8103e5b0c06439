"""Spark 4 Python DataSource: the WARC estate as a REGISTERED format —
``spark.read.format("warcfile").load(dir)`` — not a helper function.

This is the integration tier above the per-blob kernel
(``sources.warc.parse_warc``): the Python DataSource API
(pyspark.sql.datasource, new in Spark 4) plugs user code into Spark's
OWN source machinery, so the engine plans the scan — one
``InputPartition`` per archive file gives file-grain parallelism
across executors, the registered name composes with every reader
option, and downstream plans see an ordinary scan node. At 100 TB a
crawl estate is millions of .warc files; partitions() returns paths
only (driver memory is O(files) STRINGS, the same contract as Spark's
file index) and each executor task opens, walks, and emits its one
archive — bytes never visit the driver.

Both halves of the API are implemented: the batch source
(``WarcFileDataSource``) and the streaming landing-zone source
(``WarcStreamDataSource`` via the full partition-planned
``DataSourceStreamReader`` — checkpointable name-high-water-mark
offsets on the driver, record bytes read by EXECUTOR tasks walking
chunked file ranges, deterministic replay because ``partitions(start,
end)`` is a pure function of the two offsets). Exactly-once SINKS stay
with the ingest layer (streaming/streams.py foreachBatch).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)


class WarcFileDataSource(DataSource):
    """``format("warcfile")``: a directory of WARC archives → one row
    per parsed RECORD, ``doc_id`` recovered from the ``doc_<id>.warc``
    file name (the fixture's naming contract; real crawls would carry
    the path instead). Options: ``path`` (from ``.load()``), ``glob``
    (file filter, default ``*.warc``)."""

    @classmethod
    def name(cls) -> str:
        return "warcfile"

    # Files are CHUNKED into at most `num_partitions` tasks (option,
    # default 64): a Python DataSource pays a Python-worker round-trip
    # per InputPartition, so file-grain partitions price a crawl
    # estate at per-file task overhead (measured 84 ms/file — 395 s
    # for a 5000-file sf1 estate; chunked: one task walks many
    # archives). Spark's own file sources batch splits into tasks via
    # maxPartitionBytes for exactly this reason.

    def schema(self) -> str:
        # mirrors sources.warc.WARC_RECORD_SCHEMA so the two pipelines
        # (in-plan mapInPandas kernel vs registered source) are
        # drop-in interchangeable
        return (
            "doc_id long, record_idx int, warc_type string, "
            "target_uri string, content_length long, body string"
        )

    def reader(self, schema) -> "_WarcFileReader":
        return _WarcFileReader(self.options)


class _WarcFileReader(DataSourceReader):
    def __init__(self, options: dict):
        # Spark lower-cases option keys
        self._path = options.get("path")
        self._glob = options.get("glob", "*.warc")
        self._num_partitions = int(options.get("num_partitions", 64))
        if not self._path:
            raise ValueError("warcfile source requires a path: .load(dir)")
        if self._num_partitions < 1:
            raise ValueError("num_partitions must be >= 1")

    def partitions(self) -> list[InputPartition]:
        files = sorted(glob.glob(os.path.join(self._path, self._glob)))
        if not files:
            raise ValueError(
                f"warcfile: no {self._glob!r} files under {self._path!r}"
            )
        # contiguous chunks, at most num_partitions tasks; only the
        # path strings live on the driver
        n = min(self._num_partitions, len(files))
        size = -(-len(files) // n)
        return [
            InputPartition(files[i : i + size])
            for i in range(0, len(files), size)
        ]

    def read(self, partition: InputPartition):
        return _walk_archives(partition.value)


def _walk_archives(paths):
    """Executor-side kernel shared by the batch and streaming readers:
    open each archive, parse ISO-28500 records, emit schema-shaped
    tuples. Imported lazily inside the task (the reader object is
    pickled to workers; keep the closure minimal)."""
    from pandas_analysis_with_postgres_spark.sources.warc import (
        parse_warc,
    )

    for path in paths:
        fname = os.path.basename(path)
        doc_id = int(fname[len("doc_") : -len(".warc")])
        with open(path, "rb") as fh:
            buf = fh.read()
        for i, rec in enumerate(parse_warc(buf)):
            yield (
                doc_id,
                i,
                rec["warc_type"],
                rec["target_uri"],
                rec["content_length"],
                rec["body"].decode("utf-8"),
            )


from pyspark.sql.datasource import DataSourceStreamReader  # noqa: E402


class WarcStreamDataSource(DataSource):
    """``readStream.format("warcstream").load(dir)``: the landing-zone
    ingest shape — a directory where .warc archives ARRIVE over time,
    each micro-batch picking up exactly the files that landed since
    the last committed offset.

    Offset contract: the high-water mark is the lexicographically
    greatest file BASENAME consumed (JSON dict ``{"last": name}``, the
    checkpointable unit the API requires) — so arrivals must sort
    AFTER already-consumed names (monotone naming: sequence numbers,
    timestamps — what landing zones do anyway; Spark's own file source
    instead persists a seen-files map with O(files) checkpoint state,
    the trade this contract avoids). A file landing with a
    smaller-sorting name is NOT picked up — contract, documented, and
    cheaper than silently double-reading.

    Execution contract (the part that matters at 100 TB): this is the
    FULL partition-planned ``DataSourceStreamReader``, not the simple
    driver-reading variant. The driver only ever lists names —
    ``latestOffset`` is O(names) strings, ``partitions(start, end)``
    turns the ``(start, end]`` name window into ≤ ``num_partitions``
    chunked file ranges — and EXECUTOR tasks open and walk the
    archives via the same kernel as the batch ``warcfile`` source.
    Record bytes never visit the driver. Replay on recovery is
    deterministic because ``partitions`` is a pure function of the two
    offsets over monotone names: re-planning a committed window lists
    exactly the same files.
    """

    @classmethod
    def name(cls) -> str:
        return "warcstream"

    def schema(self) -> str:
        return (
            "doc_id long, record_idx int, warc_type string, "
            "target_uri string, content_length long, body string"
        )

    def streamReader(self, schema) -> "_WarcStreamReader":
        return _WarcStreamReader(self.options)


class _WarcStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self._path = options.get("path")
        self._glob = options.get("glob", "*.warc")
        # micro-batches are smaller than a batch scan of the whole
        # estate; 32 tasks per batch saturates local[32] and bounds
        # the per-partition Python-worker round-trip (same economics
        # as the batch source's chunking, measured at 84 ms/file)
        self._num_partitions = int(options.get("num_partitions", 32))
        if not self._path:
            raise ValueError("warcstream source requires a path: .load(dir)")
        if self._num_partitions < 1:
            raise ValueError("num_partitions must be >= 1")

    def initialOffset(self) -> dict:
        return {"last": ""}

    def _names(self) -> list[str]:
        return sorted(
            os.path.basename(f)
            for f in glob.glob(os.path.join(self._path, self._glob))
        )

    def latestOffset(self) -> dict:
        # driver-side listing only — O(names) strings, no bytes
        names = self._names()
        return {"last": names[-1]} if names else {"last": ""}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # pure function of (start, end]: recovery re-plans a committed
        # window to exactly the same chunked file ranges
        names = [
            n for n in self._names() if start["last"] < n <= end["last"]
        ]
        if not names:
            return []
        n = min(self._num_partitions, len(names))
        size = -(-len(names) // n)
        return [
            InputPartition(
                [os.path.join(self._path, x) for x in names[i : i + size]]
            )
            for i in range(0, len(names), size)
        ]

    def read(self, partition: InputPartition):
        # EXECUTOR-side: identical walk to the batch source — the
        # driver never opens an archive
        return _walk_archives(partition.value)

    def commit(self, end: dict) -> None:
        # offsets are recomputable from the filesystem listing; no
        # source-side state to release
        pass


class SnapshotStreamDataSource(DataSource):
    """``readStream.format("snapshotstream").load(table_path)``: the
    snapshot TABLE as a streaming SOURCE — Delta's "streaming from a
    table" re-expressed over the manifest layer. Each micro-batch
    emits exactly the rows APPENDED between two committed versions;
    a downstream pipeline tails the table instead of re-scanning it.

    Offset contract: ``{"version": N}`` — the manifest version high-
    water mark, the checkpointable unit Delta uses (reservoir
    version). ``partitions(start, end)`` diffs each manifest in
    ``(start, end]`` against its parent, turning the NEW partition
    directories of append commits into per-directory input
    partitions; manifests are immutable, so recovery re-plans a
    committed window to exactly the same directories. Streaming below
    the retention horizon (``expire_snapshots``) fails loudly —
    Delta's own contract (don't VACUUM under a streaming reader).

    Non-append commits: an overwrite/merge/compact/delete in the
    window RAISES by default — appended-rows semantics cannot be
    recovered from a rewrite — unless
    ``option("skip_change_commits", "true")`` (Delta's
    skipChangeCommits): the commit is skipped whole and the stream
    continues from the next append. Pure-metadata commits (alter,
    tag) stream nothing and never error. Schema evolution composes:
    each batch applies the manifest's rename chain and drop list, so
    commits written before a rename stream under the LOGICAL schema.

    Execution contract: the driver touches only manifests (O(versions)
    JSON reads per batch plan); EXECUTOR tasks read the appended
    parquet via Arrow record batches (``pyarrow`` → Arrow → JVM, no
    per-row Python), injecting the hive partition value from the
    directory name. Rows never visit the driver."""

    @classmethod
    def name(cls) -> str:
        return "snapshotstream"

    def schema(self):
        from pyspark.sql.types import StructType

        from .snapshot import _logical_fields, read_manifest

        path = self.options.get("path")
        if not path:
            raise ValueError("snapshotstream requires a path: .load(table)")
        fields = _logical_fields(read_manifest(path, None).get("schema") or {})
        if not fields:
            raise ValueError(
                f"{path} has no recorded spark_schema; snapshotstream "
                "needs a schema-recording commit (any current writer)"
            )
        return StructType(fields)

    def streamReader(self, schema) -> "_SnapshotStreamReader":
        return _SnapshotStreamReader(self.options, schema)


def _arrow_type_for(simple: str):
    """The hive partition value's Arrow type for the recorded Spark
    partition type (the injectable subset; anything else refuses at
    plan time, not silently as strings)."""
    import pyarrow as pa

    m = {
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "string": pa.string(),
        "date": pa.date32(),
        "boolean": pa.bool_(),
        "float": pa.float32(),
        "double": pa.float64(),
    }
    t = m.get(simple)
    if t is None:
        raise ValueError(
            f"snapshotstream cannot inject partition type {simple!r}"
        )
    return t


class _SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema):
        self._path = options.get("path")
        self._start = int(options.get("starting_version", 0))
        # ending_version bounds a BACKFILL: the stream never advances
        # past it (a static cap — restart-safe). Commits landing after
        # it are simply outside this stream's window.
        ev = options.get("ending_version")
        self._end = int(ev) if ev is not None else None
        self._skip_changes = str(
            options.get("skip_change_commits", "false")
        ).lower() in ("true", "1", "yes")
        # max_dirs_per_trigger: Delta's maxFilesPerTrigger analog at
        # directory grain — latestOffset advances by at most this many
        # streamable directories per micro-batch, so one huge append
        # drains as several bounded batches (the backfill-vs-latency
        # knob a 100 TB mirror needs). The Python DataSource API has
        # no admission-control hook (no SupportsAdmissionControl), so
        # the bound is tracked in-session, PLUS an ADVISORY floor
        # sidecar persisted next to the manifests (below) so a RESTART
        # resumes bounded batches instead of one unbounded catch-up.
        mdt = options.get("max_dirs_per_trigger")
        self._max_dirs = int(mdt) if mdt is not None else 0
        if mdt is not None and self._max_dirs < 1:
            raise ValueError(
                f"max_dirs_per_trigger must be >= 1, got {mdt!r}"
            )
        # Floor sidecar (rate limiting only): a tiny JSON recording the
        # highest offset this reader ever HANDED OUT or saw committed,
        # written monotonically (tmp+rename) under the table's
        # _snapshots dir. Handed-out offsets are a superset of anything
        # the engine can checkpoint, so the sidecar is always AT OR
        # AHEAD of the checkpoint — seeding the restart cursor from it
        # can only move the next latestOffset FORWARD, never backwards
        # (no duplicate emission; partitions() replays committed
        # windows from the immutable manifests regardless). It is
        # advisory: deleting it merely makes the first restart batch
        # unbounded again; it never participates in offset replay.
        # CONCURRENTLY-running queries tailing the same table MUST
        # name their floors apart via option("stream_floor_id", ...):
        # two writers on one file can race the monotone check (lost
        # update), leaving the sidecar behind the faster query's
        # checkpoint — the at-or-ahead guarantee the restart seeding
        # relies on holds per floor id, single writer.
        fid = str(options.get("stream_floor_id", "default"))
        if "/" in fid or os.sep in fid:
            raise ValueError(f"stream_floor_id must be a bare name, got {fid!r}")
        self._sidecar = (
            os.path.join(
                self._path, "_snapshots", f"stream_floor_{fid}.json"
            )
            if self._path and self._max_dirs > 0
            else None
        )
        # NOTE: the engine computes latestOffset BEFORE asking for the
        # initial offset (measured on the availableNow fallback), so a
        # fresh query's FIRST batch catches up unbounded when no floor
        # sidecar exists yet; with one, restarts resume as ≤(gap +
        # max_dirs)-wide batches — partitions() and commit() teach the
        # cursor the true position either way.
        #: last offset this reader handed out / saw committed — the
        #: rate-limit cursor. None until initialOffset (fresh query)
        #: or the first partitions/commit call (restart).
        self._floor: "dict | None" = None
        #: per-version directory-diff memo: manifests are immutable,
        #: so each version's (dirs, meta, err) is computed once per
        #: reader — latestOffset's backlog walk and partitions()'s
        #: planning would otherwise re-parse two manifest JSONs per
        #: pending version per trigger
        self._vd_cache: "dict[int, tuple]" = {}
        self._schema = schema
        if not self._path:
            raise ValueError("snapshotstream requires a path: .load(table)")
        if self._end is not None and self._end < self._start:
            raise ValueError(
                f"ending_version {self._end} < starting_version "
                f"{self._start}: an empty window is a mistake, not a "
                "stream"
            )

    @staticmethod
    def _pos(off: dict) -> "tuple[int, int]":
        """An offset's first-unconsumed position ``(version, dir)`` —
        the total order the rate-limit cursor advances in.
        ``{"version": v}`` (complete through v) sorts as ``(v+1, 0)``;
        ``{"version": v, "dir": k}`` as ``(v, k)``."""
        if "dir" in off:
            return (int(off["version"]), int(off["dir"]))
        return (int(off["version"]) + 1, 0)

    def _advance_floor(self, off: dict) -> None:
        """Move the rate-limit cursor FORWARD only: the engine calls
        initialOffset/commit out of order with latestOffset (measured:
        initialOffset lands AFTER the first latestOffset), and a
        backward assignment would re-widen a batch already planned."""
        if self._floor is None or self._pos(off) > self._pos(self._floor):
            self._floor = dict(off)

    def _persist_floor(self, off: dict) -> None:
        """Monotone, atomic, best-effort write of the floor sidecar.
        Failure to write is swallowed — the sidecar is advisory (its
        absence only widens the next restart's first batch); offsets
        and replay correctness never depend on it."""
        if self._sidecar is None:
            return
        try:
            prev = self._load_floor()
            if prev is not None and self._pos(prev) >= self._pos(off):
                return
            import json as _json

            os.makedirs(os.path.dirname(self._sidecar), exist_ok=True)
            tmp = self._sidecar + ".tmp"
            with open(tmp, "w") as f:
                _json.dump(off, f)
            os.replace(tmp, self._sidecar)
        except OSError:
            pass

    def _load_floor(self) -> "dict | None":
        if self._sidecar is None:
            return None
        try:
            import json as _json

            with open(self._sidecar) as f:
                off = _json.load(f)
            int(off["version"])  # shape check
            return off
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def initialOffset(self) -> dict:
        self._advance_floor({"version": self._start})
        return {"version": self._start}

    def _version_dirs(self, v: int) -> "tuple[list, dict, str | None]":
        """Version ``v``'s streamable NEW directories as a SORTED
        ``[(pname, rel), …]`` list (deterministic — the unit the
        partial-offset rate limit indexes into), plus the version's
        schema meta and an error string when the commit is a
        non-streamable change (empty list when the change is skipped
        under skip_change_commits, or the commit is pure metadata)."""
        from .snapshot import read_manifest

        cached = self._vd_cache.get(v)
        if cached is not None:
            return cached
        man = read_manifest(self._path, v)
        meta = man.get("schema") or {}
        parent = man.get("parent") or 0
        parent_man = read_manifest(self._path, parent) if parent else {}
        prev = parent_man.get("partitions") or {}
        cur = man.get("partitions") or {}
        new_dirs = {p: rel for p, rel in cur.items() if prev.get(p) != rel}
        op = str(man.get("operation") or "")
        if not parent:
            # the table's FIRST commit is its initial content —
            # streamable whole, whatever operation wrote it
            # (Delta's initial-snapshot semantics)
            op = "append"
        # an append that REVISITS an existing partition rewrites
        # that directory as existing ∪ new (the manifest maps one
        # dir per partition) — the appended rows are not separable
        # from it. Streamable appends are the pure-directory-add
        # discipline the appender's own contract prescribes
        # (ingest-date / batch-id partitioning); anything else is
        # a change commit.
        revisited = op == "append" and any(p in prev for p in new_dirs)
        if op != "append" or revisited:
            dropped_dirs = any(p not in cur for p in prev)
            # tombstone / update-delta additions count as changes
            prev_tomb = parent_man.get("tombstones") if v > 1 else None
            tomb_changed = (man.get("tombstones") or None) != prev_tomb
            prev_upd = parent_man.get("updates") if v > 1 else None
            upd_changed = (man.get("updates") or None) != prev_upd
            if new_dirs or dropped_dirs or tomb_changed or upd_changed:
                if self._skip_changes:
                    out = ([], meta, None)
                else:
                    out = ([], meta, (
                        "partition-revisiting append"
                        if revisited
                        else f"{op or 'non-append'} commit"
                    ))
            else:
                out = ([], meta, None)  # pure-metadata commit
        else:
            out = (sorted(new_dirs.items()), meta, None)
        self._vd_cache[v] = out
        return out

    def latestOffset(self) -> dict:
        from .snapshot import current_version

        cur = int(current_version(self._path))
        if self._end is not None:
            cur = min(cur, self._end)
        if self._max_dirs <= 0:
            return {"version": cur}
        if self._floor is None:
            # restart (or fresh query): the checkpointed position is
            # invisible here. Seed the cursor from the floor sidecar
            # when one exists — it is at-or-ahead of the checkpoint by
            # construction, so resuming from it keeps every offset
            # this method hands out monotone while bounding the
            # catch-up to (uncommitted gap + max_dirs) directories.
            # No sidecar → catch up unbounded once, bound afterwards.
            saved = self._load_floor()
            if saved is not None and self._pos(saved) <= (cur + 1, 0):
                self._advance_floor(saved)
            else:
                self._advance_floor({"version": cur})
                self._persist_floor({"version": cur})
                return {"version": cur}
        # resume position: (v, k) = first unconsumed directory
        if "dir" in self._floor:
            v, k = int(self._floor["version"]), int(self._floor["dir"])
        else:
            v, k = int(self._floor["version"]) + 1, 0
        budget = self._max_dirs
        while v <= cur:
            dirs, _meta, _err = self._version_dirs(v)
            if k >= len(dirs):
                v, k = v + 1, 0
                continue
            if budget <= 0:
                break
            take = min(budget, len(dirs) - k)
            k += take
            budget -= take
        if v > cur:
            off = {"version": cur}
        elif k == 0:
            off = {"version": v - 1}
        else:
            dirs, _meta, _err = self._version_dirs(v)
            off = (
                {"version": v}
                if k >= len(dirs)
                else {"version": v, "dir": k}
            )
        self._advance_floor(off)
        self._persist_floor(off)
        return off

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        from .snapshot import _spec_meta, read_manifest

        out: list[InputPartition] = []
        # the rename/drop registry is CUMULATIVE (old names are never
        # reused), so the window-end chain maps every older commit's
        # physical names to the logical schema — the same rule the
        # batch reader applies per commit scan
        end_meta = (
            read_manifest(self._path, int(end["version"])).get("schema") or {}
            if int(end["version"]) >= 1
            else {}
        )
        # partial offsets ({"version": v, "dir": k} = first k sorted
        # directories of v consumed/included): a pure function of the
        # two offsets over immutable manifests, so recovery re-plans a
        # committed window to exactly the same directories
        sv, ev = int(start["version"]), int(end["version"])
        sk = int(start["dir"]) if "dir" in start else None
        ek = int(end["dir"]) if "dir" in end else None
        first = sv if sk is not None else sv + 1
        # a replayed (restart) batch teaches the rate-limit cursor the
        # true position before any latestOffset advances it
        self._advance_floor(end)
        for v in range(first, ev + 1):
            dirs, meta, err = self._version_dirs(v)
            if err is not None:
                raise ValueError(
                    f"snapshotstream: version {v} is a {err}; "
                    "appended-rows semantics cannot be derived "
                    "from a rewrite — set option("
                    "'skip_change_commits', 'true') to skip such "
                    "commits (Delta skipChangeCommits)"
                )
            lo = sk if (v == sv and sk is not None) else 0
            hi = ek if (v == ev and ek is not None) else len(dirs)
            spec_t = _spec_meta(meta)
            for pname, rel in dirs[lo:hi]:
                # one (col, type, level) triple per spec component —
                # multi-column specs inject every level as a constant
                levels = pname.split("/")
                if len(levels) != len(spec_t):
                    raise ValueError(
                        f"snapshotstream: partition {pname!r} does not "
                        f"speak the commit's spec "
                        f"{[c for c, _t in spec_t]!r}"
                    )
                out.append(
                    InputPartition(
                        {
                            "dir": (
                                rel
                                if os.path.isabs(rel)
                                else os.path.join(self._path, rel)
                            ),
                            "pname": pname,
                            "pspec": [
                                [c, t, lvl]
                                for (c, t), lvl in zip(spec_t, levels)
                            ],
                            "renames": end_meta.get("renames") or [],
                            "dropped": end_meta.get("dropped") or [],
                        }
                    )
                )
        return out

    def read(self, partition: InputPartition):
        # EXECUTOR-side: Arrow record batches straight from the
        # appended parquet; every hive partition LEVEL's value is
        # injected as a constant column (one per spec component),
        # renames/drops map physical → logical names.
        import pyarrow as pa
        import pyarrow.parquet as pq

        from .snapshot import _partition_value

        spec = partition.value
        inject = []
        for pc, pt, level in spec["pspec"]:
            is_null, pval = _partition_value(level, pt)
            patype = _arrow_type_for(pt)
            if not is_null and isinstance(pval, str):
                # _partition_value types integral/boolean values but
                # hands date/float/double back as the directory STRING
                # — coerce to the Python value Arrow accepts
                if pt == "date":
                    import datetime as _dt

                    pval = _dt.date.fromisoformat(pval)
                elif pt in ("float", "double"):
                    pval = float(pval)
            inject.append((pc, is_null, pval, patype))
        renames = {old: new for old, new in spec["renames"]}
        dropped = set(spec["dropped"])
        want = [f.name for f in self._schema.fields]
        for f in sorted(glob.glob(os.path.join(spec["dir"], "*.parquet"))):
            pf = pq.ParquetFile(f)
            for rb in pf.iter_batches():
                cols = {}
                for name, col in zip(rb.schema.names, rb.columns):
                    logical = name
                    while logical in renames:
                        logical = renames[logical]
                    if logical in dropped:
                        continue
                    cols[logical] = col
                n = rb.num_rows
                for pc, is_null, pval, patype in inject:
                    cols[pc] = pa.nulls(n, patype) if is_null else (
                        pa.array([pval] * n, type=patype)
                    )
                for f2 in self._schema.fields:
                    if f2.name not in cols:
                        # a commit written before a schema-evolving
                        # merge lacks the newer column: NULL-fill, the
                        # same semantics as the batch reader's
                        # unionByName(allowMissingColumns=True). Any
                        # Spark type NULL-fills — the injectable map
                        # only constrains partition VALUES.
                        try:
                            at = _arrow_type_for(
                                f2.dataType.simpleString()
                            )
                        except ValueError:
                            from pyspark.sql.pandas.types import (
                                to_arrow_type,
                            )

                            at = to_arrow_type(f2.dataType)
                        cols[f2.name] = pa.nulls(n, at)
                yield pa.RecordBatch.from_arrays(
                    [cols[c] for c in want], names=want
                )

    def commit(self, end: dict) -> None:
        # offsets are recomputable from the immutable manifests; the
        # committed end also advances the rate-limit cursor (harmless
        # when latestOffset already did) and refreshes the advisory
        # floor sidecar so the NEXT restart resumes bounded
        self._advance_floor(end)
        self._persist_floor(end)
