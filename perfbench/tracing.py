"""Per-layer tracing for the benchmark's traced run.

Three sources, all read from outside the engine:

- spans the benchmark records around calls into the engine's public
  functions (``Tracer.wrap_package`` swaps module attributes for timing
  wrappers at run time; no engine file changes);
- Spark's event log, parsed after the session stops
  (``parse_event_log``);
- a ``StreamingQueryListener`` whose progress events are folded by
  ``StreamStats``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import statistics
import sys
import threading
import time
from collections import defaultdict

from stats import tail

#: Parameter names/annotations that mark a function as a driver-side
#: layer entry point (takes a session, a DataFrame or a table path).
#: Helpers that run inside Python workers take pandas frames or bytes
#: and are never wrapped, so no wrapper is ever pickled to a worker.
_ENTRY_PARAMS = {"spark", "df", "path", "target_path", "stream", "events",
                 "docs", "media", "source", "orders", "emb", "edges"}


class Tracer:
    """In-memory spans: name, start, end, parent and operation id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None
        self._local = threading.local()
        self._t0 = time.perf_counter()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        stack = self._stack()
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "op": self.op,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter() - self._t0, "end": None,
        })
        stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter() - self._t0
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sid)

        return traced

    def wrap_package(self, package: str) -> int:
        """Wrap every driver-side public function defined in the
        package's submodules, in the defining module and wherever
        another package module imported it by name. Every submodule is
        imported first, so lazily imported layers are wrapped too.
        Returns the count."""
        pkg = importlib.import_module(package)
        for info in pkgutil.walk_packages(pkg.__path__, package + "."):
            importlib.import_module(info.name)
        mods = {n: m for n, m in sys.modules.items()
                if m is not None and (n == package or n.startswith(package + "."))}
        originals: dict[int, tuple[str, object]] = {}
        for mname, mod in mods.items():
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mname or not _is_entry(fn)):
                    continue
                layer = mname[len(package) + 1:] or mname
                originals[id(fn)] = (f"{layer}.{attr}", fn)
        wrapped = {k: self.wrap(name, fn) for k, (name, fn) in originals.items()}
        for mod in mods.values():
            for attr, obj in list(vars(mod).items()):
                if id(obj) in wrapped:
                    setattr(mod, attr, wrapped[id(obj)])
                elif isinstance(obj, dict):  # registries such as plans.QUERIES
                    for key, val in list(obj.items()):
                        if id(val) in wrapped:
                            obj[key] = wrapped[id(val)]
        return len(originals)

    def module_totals(self, prefixes: tuple[str, ...]) -> dict[str, tuple[int, float]]:
        """``{module: (calls, inclusive ms)}`` over the outermost span of
        each module (a module's calls into itself are not counted twice)."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            if s["end"] is None or s["op"] is None or not s["name"].startswith(prefixes):
                continue
            mod = s["name"].rsplit(".", 1)[0]
            p, nested = s["parent"], False
            while p is not None:
                if self.spans[p]["name"].rsplit(".", 1)[0] == mod:
                    nested = True
                    break
                p = self.spans[p]["parent"]
            if nested:
                continue
            acc = out[mod]
            acc[0] += 1
            acc[1] += (s["end"] - s["start"]) * 1000.0
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _is_entry(fn) -> bool:
    try:
        params = list(inspect.signature(fn).parameters.values())
    except (TypeError, ValueError):
        return False
    if not params:
        return False
    first = params[0]
    ann = str(first.annotation)
    if first.name in _ENTRY_PARAMS or "SparkSession" in ann:
        return True
    return "DataFrame" in ann and "pd." not in ann


# ---------------------------------------------------------------- streams

class StreamStats:
    """Folds ``StreamingQueryProgress`` JSON objects into layer metrics."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def add(self, progress: dict) -> None:
        with self._lock:
            self.progress.append(progress)

    def count(self) -> int:
        with self._lock:
            return len(self.progress)

    def summary(self, skip: int = 0) -> dict[str, float]:
        """Metrics over the progress events after the first ``skip``."""
        with self._lock:
            ps = self.progress[skip:]
        batches = [p for p in ps if p.get("numInputRows", 0) > 0]
        dur = lambda p, k: float((p.get("durationMs") or {}).get(k, 0))  # noqa: E731
        ops = [o for p in batches for o in p.get("stateOperators") or []]
        last_ops: dict[str, list[dict]] = {}
        for p in ps:  # state size is a level: take each run's last progress
            if p.get("stateOperators"):
                last_ops[p.get("runId")] = p["stateOperators"]
        bd = list(float(p.get("batchDuration", dur(p, "triggerExecution"))) for p in batches)
        return {
            "stream.batches": float(len(batches)),
            "stream.input_rows": float(sum(p.get("numInputRows", 0) for p in batches)),
            "stream.add_batch_ms": sum(dur(p, "addBatch") for p in batches),
            "stream.wal_commit_ms": sum(dur(p, "walCommit") for p in batches),
            "stream.commit_offsets_ms": sum(dur(p, "commitOffsets") for p in batches),
            "stream.planning_ms": sum(dur(p, "queryPlanning") for p in batches),
            "stream.state_commit_ms": float(sum(o.get("commitTimeMs", 0) for o in ops)),
            "stream.state_rows_total": float(sum(
                o.get("numRowsTotal", 0) for v in last_ops.values() for o in v)),
            "stream.state_rows_updated": float(sum(o.get("numRowsUpdated", 0) for o in ops)),
            "stream.state_memory_bytes": float(sum(
                o.get("memoryUsedBytes", 0) for v in last_ops.values() for o in v)),
            "microbatch_p50_ms": statistics.median(bd) if bd else 0.0,
            "microbatch_tail_ms": tail(bd)[0] if bd else 0.0,
        }


def make_listener(stats: StreamStats):
    """A StreamingQueryListener feeding ``stats`` (built lazily: the
    pyspark import needs a live interpreter with pyspark on the path)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            stats.add(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# -------------------------------------------------------------- event log

def _node_layer(node: str, metric_names: list[str]) -> str | None:
    """Layer of a plan node: any node reporting Python-worker metrics
    (the ``*InPandas``/``*InArrow``/``ArrowEvalPython`` operators and
    Python data-source scans) is the Python boundary; file scans are the
    scan layer."""
    if any("python workers" in n.lower() for n in metric_names):
        return "python"
    if node.startswith(("Scan ", "FileScan", "BatchScan")):
        return "scan"
    return None


def _walk_plan(info: dict, acc: dict[int, tuple[str | None, str, str]]) -> None:
    metrics = info.get("metrics", [])
    layer = _node_layer(info.get("nodeName", ""), [m.get("name", "") for m in metrics])
    for m in metrics:
        acc[int(m["accumulatorId"])] = (layer, m.get("name", ""), m.get("metricType", ""))
    for child in info.get("children", []):
        _walk_plan(child, acc)


def _value_ms(v: float, mtype: str) -> float:
    return v / 1e6 if mtype == "nsTiming" else v


#: (layer, lower-case SQL metric name) -> per-layer metric
_SQL_METRICS = {
    ("scan", "number of output rows"): "scan.rows",
    ("scan", "size of files read"): "scan.bytes_read",
    ("scan", "scan time"): "scan.time_ms",
    ("python", "time to start python workers"): "python.boot_ms",
    ("python", "time to initialize python workers"): "python.init_ms",
    ("python", "time to run python workers"): "python.total_ms",
    ("python", "data sent to python workers"): "python.bytes_sent",
    ("python", "data returned from python workers"): "python.bytes_received",
    ("python", "number of output rows"): "python.rows_received",
}
_TIME_METRICS = {"scan.time_ms", "python.boot_ms", "python.init_ms", "python.total_ms"}


def parse_event_log(path: str, timed) -> dict[str, float]:
    """Sum task and SQL metrics of the jobs ``timed(properties,
    submission_ms)`` accepts. SQL metrics are assigned to a layer by the
    type of the plan node that reports them."""
    job_timed: dict[int, bool] = {}
    stage_job: dict[int, int] = {}
    exec_timed: dict[int, bool] = defaultdict(bool)
    driver_updates: list[tuple[int, list]] = []
    accums: dict[int, tuple[str | None, str, str]] = {}
    out: dict[str, float] = defaultdict(float)
    sql_vals: dict[int, float] = defaultdict(float)

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                ok = bool(timed(props, ev.get("Submission Time", 0)))
                job_timed[ev["Job ID"]] = ok
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
                eid = props.get("spark.sql.execution.id")
                if eid is not None and ok:
                    exec_timed[int(eid)] = True
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                _walk_plan(ev.get("sparkPlanInfo") or {}, accums)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates.append((int(ev.get("executionId", -1)), ev.get("accumUpdates", [])))
            elif kind == "SparkListenerTaskEnd":
                if not job_timed.get(stage_job.get(ev.get("Stage ID"), -1), False):
                    continue
                tm = ev.get("Task Metrics") or {}
                out["exec.tasks"] += 1
                out["exec.task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                out["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                out["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                out["exec.spill_bytes"] += tm.get("Disk Bytes Spilled", 0) + tm.get(
                    "Memory Bytes Spilled", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                out["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                out["shuffle.fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                out["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    upd = acc.get("Update")
                    if isinstance(upd, (int, float)) or (isinstance(upd, str) and _num(upd)):
                        sql_vals[int(acc["ID"])] += float(upd)
    # Driver-side updates (e.g. static file sizes) can precede the jobs
    # of their execution in the log, so they are resolved at the end.
    for eid, updates in driver_updates:
        if exec_timed.get(eid):
            for aid, val in updates:
                sql_vals[int(aid)] += float(val)
    for aid, val in sql_vals.items():
        layer, name, mtype = accums.get(aid, (None, "", ""))
        key = _SQL_METRICS.get((layer, name.lower()))
        if key is not None:
            out[key] += _value_ms(val, mtype) if key in _TIME_METRICS else val
    return dict(out)


def _num(s: str) -> bool:
    try:
        float(s)
    except ValueError:
        return False
    return True
