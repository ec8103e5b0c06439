"""Benchmark for the spark-graft engine: one workload per invocation.

Usage (from the repository root)::

    python3 perfbench/run.py --workload etl_reference --seed 1 --seconds 5 --trace 0

One Python process drives one ``local[nproc]`` session in a closed loop
with one client: each operation starts after the previous one ends.
The run generates its inputs from ``--seed``, sets up (session start,
fixtures, one warm pass that also collects outputs for the oracle
check), times ``passes = max(1, floor(seconds / nominal pass time))``
full passes, checks outputs, and prints one detail line and then the
result line. ``--trace 1`` adds spans, Spark's event log and a
streaming listener and reports the per-layer metrics instead.
Everything it writes lives in a per-run directory under
``.perfbench_tmp/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "pandas_analysis_with_postgres_spark"
WORKLOADS = ("etl_reference", "llm_python", "lakehouse_rw", "stream_state")
DRIVER_MEM = "1g"
REFUSED_ENV = ("SPARK_GRAFT_STREAM_SINGLE_BATCH", "SPARK_GRAFT_STREAM_STATE_PARTITIONS")
#: modules whose spans are reported (the ones the workloads call into)
OPERATOR_MODULES = (
    "operators.joins", "operators.scd2", "operators.setops", "operators.upsert",
    "operators.windows", "operators.dedup", "operators.multimodal", "operators.py_grouped",
    "operators.udtfs",
)


class Ctx:
    """Run-scoped state handed to the workload."""

    def __init__(self, seed: int, tmp: str, data_dir: str):
        self.seed, self.tmp, self.data_dir = seed, tmp, data_dir
        self.spark = None


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _commit(root: str) -> str:
    """The checkout's git commit, else a digest of the engine sources."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        pass
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(root, PACKAGE))):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:16]


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_ticks() -> tuple[int, int]:
    """``(busy, stolen)`` jiffies over all CPUs: time this machine ran,
    and time it was ready to run while the hypervisor ran another guest."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def _steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    busy, stolen = t1[0] - t0[0], t1[1] - t0[1]
    return stolen / (busy + stolen) if busy + stolen else 0.0


def _stopwatch():
    """Start an interval; the returned function ends it and gives
    ``(wall seconds, steal-adjusted seconds)``. On a shared virtual
    machine the hypervisor runs other guests on the CPUs this one is
    ready to use; the adjusted time scales the wall time by the share
    of that CPU time it actually got, so another tenant's load does not
    read as a slower engine."""
    ticks, t0 = _cpu_ticks(), time.perf_counter()

    def stop() -> tuple[float, float]:
        wall = time.perf_counter() - t0
        return wall, wall * (1.0 - _steal_share(ticks, _cpu_ticks()))

    return stop


def _configure_env(tmp: str, trace: bool, cpus: int) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # A fixed, modest heap (initial size = maximum) keeps the JVM's
    # resident size from following the collector's resizing decisions.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    args = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}'"]
    if trace:
        evdir = os.path.join(tmp, "eventlog")
        os.makedirs(evdir)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{evdir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave it running
            proc.kill()
            proc.wait(timeout=30)


def _q01_probe(ctx) -> float:
    from pandas_analysis_with_postgres_spark.plans import QUERIES

    ctx.spark.sparkContext.setJobGroup("probe:q01", "host probe")
    t = time.perf_counter()
    QUERIES["q01_pricing_summary"](ctx.spark, ctx.data_dir).write.format(
        "noop").mode("overwrite").save()
    return time.perf_counter() - t


def run(args, root: str, tmp: str) -> tuple[dict, dict]:
    import datagen
    import stats
    import workloads

    cpus = _cpus()
    wl = workloads.build(args.workload)
    t_gen = time.perf_counter()
    data_dir = datagen.generate(os.path.join(tmp, "data"), args.seed, wl.sf)
    datagen_s = time.perf_counter() - t_gen
    ctx = Ctx(args.seed, tmp, data_dir)
    _configure_env(tmp, args.trace, cpus)
    sys.path.insert(0, root)

    tracer = stream_stats = None
    setup_watch = _stopwatch()
    t_setup = time.perf_counter()
    from pandas_analysis_with_postgres_spark.session import get_spark

    ctx.spark = spark = get_spark(f"perfbench-{args.workload}")
    session_start = time.perf_counter() - t_setup
    detail: dict = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
                    "sf": wl.sf, "data_dir": os.path.relpath(data_dir, root),
                    "commit": _commit(root)}
    failures: dict[str, str] = {}
    try:
        if args.trace:
            import tracing

            tracer = tracing.Tracer()
            detail["wrapped_functions"] = tracer.wrap_package(PACKAGE)
            stream_stats = tracing.StreamStats()
            spark.streams.addListener(tracing.make_listener(stream_stats))
        wl.prepare(ctx)
        t_warm = time.perf_counter()
        outputs = wl.warm_pass(ctx, wl.order(args.seed, 0))
        warm_s = time.perf_counter() - t_warm
        setup_wall, setup_s = setup_watch()
        detail["probe_q01_before_s"] = _q01_probe(ctx)

        passes = max(1, int(args.seconds // wl.nominal_pass_s))
        samples: dict[str, list[float]] = {op: [] for op in wl.ops}
        pass_times: list[float] = []
        pass_walls: list[float] = []
        raised: list[str] = []
        n_progress_warm = stream_stats.count() if stream_stats else 0
        window_ms = [time.time() * 1000.0]
        ticks_timed = _cpu_ticks()
        for k in range(1, passes + 1):
            inputs = wl.pass_inputs(ctx, k)
            pass_watch = _stopwatch()
            for op in wl.order(args.seed, k):
                spark.sparkContext.setJobGroup(f"t{k}:{op}", op)
                if tracer is not None:
                    tracer.op = f"t{k}:{op}"
                    sid = tracer.begin(f"op.{op}")
                op_watch = _stopwatch()
                try:
                    wl.run_op(ctx, op, inputs)
                    samples[op].append(op_watch()[1])
                except Exception as exc:  # noqa: BLE001 - counted as failed, never fatal
                    raised.append(f"t{k}:{op}: {type(exc).__name__}: {exc}"[:500])
                if tracer is not None:
                    tracer.end(sid)
                    tracer.op = None
            wall, adjusted = pass_watch()
            pass_walls.append(wall)
            pass_times.append(adjusted)
        window_ms.append(time.time() * 1000.0)
        detail["steal_share_timed"] = _steal_share(ticks_timed, _cpu_ticks())
        detail["probe_q01_after_s"] = _q01_probe(ctx)

        t_check = time.perf_counter()
        failures = wl.check(ctx, outputs)
        layer = wl.layer_metrics(ctx)
        peak = _rss_mb(os.getpid()) + _rss_mb(int(spark._jvm.ProcessHandle.current().pid()))
        if stream_stats is not None:  # listener events arrive asynchronously
            deadline, last = time.time() + 5.0, -1
            while time.time() < deadline and stream_stats.count() != last:
                last = stream_stats.count()
                time.sleep(0.5)
        check_s = time.perf_counter() - t_check
    finally:
        t_stop = time.perf_counter()
        _stop_spark(spark)
        stop_s = time.perf_counter() - t_stop

    all_samples = [v for vs in samples.values() for v in vs]
    tail_v, tail_p, tail_n = stats.tail(all_samples)
    detail.update({
        "passes": passes, "ops_per_pass": len(wl.ops), "op_tail_percentile": tail_p,
        "op_samples": tail_n, "pass_s_each": pass_times, "pass_wall_s_each": pass_walls,
        "setup_wall_s": setup_wall, "steal_share_setup": 1.0 - setup_s / setup_wall,
        "session_start_s": session_start,
        "warm_s": warm_s, "datagen_s": datagen_s, "check_s": check_s, "stop_s": stop_s,
        "failures": failures, "raised": raised,
        "op_median_s": {op: stats.median(v) for op, v in samples.items() if v},
    })
    if not args.trace:
        metrics = {
            "setup_s": stats.metric(setup_s, "s"),
            "pass_s": stats.metric(stats.median(pass_times), "s"),
            "op_p50_s": stats.metric(stats.hd_median(all_samples), "s"),
            "op_tail_s": stats.metric(tail_v, "s"),
            "peak_rss_mb": stats.metric(peak, "MB"),
        }
    else:
        metrics = _layer_metrics(wl, tracer, stream_stats, n_progress_warm, samples,
                                 tmp, session_start, warm_s, layer, window_ms)
        detail["traced_pass_s"] = stats.median(pass_times)
        spans_path = os.path.join(root, ".perfbench_spans.json")
        tracer.dump(spans_path)
        detail["spans_file"] = os.path.relpath(spans_path, root)
        detail["spans"] = len(tracer.spans)
    # An op that raised, or whose output disagrees with its check, fails
    # in every pass; a check not tied to one op fails one operation.
    attempted = passes * len(wl.ops)
    failed = len(raised) + sum(len(samples.get(name, [None])) for name in failures)
    return detail, {"correct": not failures and not raised, "attempted": attempted,
                    "failed": min(failed, attempted), "metrics": metrics}


def _timed_job(window_ms):
    """Event-log job filter: jobs of timed ops carry job group
    ``t<pass>:<op>``; micro-batch jobs of a stream carry the stream's own
    group, so they count when submitted inside the timed window."""
    def timed(props: dict, submitted_ms: float) -> bool:
        group = props.get("spark.jobGroup.id") or ""
        if group.startswith("t") and ":" in group:
            return True
        return ("sql.streaming.queryId" in props
                and window_ms[0] <= submitted_ms <= window_ms[-1])
    return timed


def _layer_metrics(wl, tracer, stream_stats, n_warm, samples, tmp, session_start,
                   warm_s, layer, window_ms) -> dict:
    import stats
    import tracing

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_start, "s"),
        "session.warm_s": (warm_s, "s"),
    }
    plan_ms = sum((s["end"] - s["start"]) * 1000.0 for s in tracer.spans
                  if s["op"] and s["name"].startswith("plans.") and s["end"] is not None
                  and s["parent"] is not None
                  and tracer.spans[s["parent"]]["name"].startswith("op."))
    m["plans.build_ms"] = (plan_ms, "ms")
    totals = tracer.module_totals(tuple(p + "." for p in OPERATOR_MODULES))
    for mod in OPERATOR_MODULES:
        calls, ms = totals.get(mod, (0, 0.0))
        m[f"{mod}.calls"] = (float(calls), "count")
        m[f"{mod}.build_ms"] = (ms, "ms")

    evdir = os.path.join(tmp, "eventlog")
    logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
    ev = tracing.parse_event_log(logs[0], _timed_job(window_ms)) if logs else {}
    for name, unit in (("scan.bytes_read", "B"), ("scan.rows", "count"), ("scan.time_ms", "ms"),
                       ("shuffle.write_bytes", "B"), ("shuffle.read_bytes", "B"),
                       ("shuffle.fetch_wait_ms", "ms"), ("exec.task_s", "s"),
                       ("exec.cpu_s", "s"), ("exec.gc_s", "s"), ("exec.tasks", "count"),
                       ("exec.spill_bytes", "B"), ("python.boot_ms", "ms"),
                       ("python.init_ms", "ms"), ("python.total_ms", "ms"),
                       ("python.bytes_sent", "B"), ("python.bytes_received", "B"),
                       ("python.rows_received", "count")):
        m[name] = (float(ev.get(name, 0.0)), unit)

    med = {op: stats.median(v) for op, v in samples.items()}
    for op in ("write", "append", "merge", "delete", "update", "compact", "expire"):
        m[f"snapshot.{op}_s"] = (med.get(op, 0.0), "s")
    m["snapshot.scan_s"] = (med.get("scan", 0.0), "s")
    m["snapshot.time_travel_s"] = (med.get("time_travel", 0.0), "s")
    m["sql_merge.exec_s"] = (med.get("sql_merge", 0.0), "s")
    m["metadata.answer_ms"] = (med.get("metadata_answer", 0.0) * 1000.0, "ms")
    m["metadata.range_count_ms"] = (med.get("range_count", 0.0) * 1000.0, "ms")
    answered = [s for s in tracer.spans if s["name"] == "sources.metadata_sql.answer_from_manifest"
                and s["op"]]
    fallback = sum(1 for s in tracer.spans if s["op"] and s["name"] ==
                   "sources.snapshot.read_snapshot"
                   and tracer.spans[s["parent"]]["name"] == "op.metadata_answer")
    m["metadata.answered_ratio"] = (
        (len(answered) - fallback) / len(answered) if answered else 0.0, "ratio")
    writes = [v for op, vs in samples.items() if wl.kinds.get(op) == "write" for v in vs]
    reads = [v for op, vs in samples.items() if wl.kinds.get(op) == "read" for v in vs]
    m["commit_p50_s"] = (stats.median(writes) if writes else 0.0, "s")
    m["read_p50_s"] = (stats.median(reads) if reads else 0.0, "s")
    for name in ("bytes_per_user_byte", "snapshot.files_live", "snapshot.bytes_live",
                 "snapshot.manifest_bytes", "snapshot.rows_rewritten",
                 "snapshot.partitions_rewritten"):
        unit = {"bytes_per_user_byte": "ratio", "snapshot.bytes_live": "B",
                "snapshot.manifest_bytes": "B"}.get(name, "count")
        m[name] = (float(layer.get(name, 0.0)), unit)

    for name, val in stream_stats.summary(skip=n_warm).items():
        unit = "ms" if name.endswith("_ms") else "B" if name.endswith("_bytes") else "count"
        m[name] = (float(val), unit)
    return {k: stats.metric(v, u) for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bad = [k for k in REFUSED_ENV if k in os.environ]
    if bad:
        print(f"refusing to run with {', '.join(bad)} set: it changes what the "
              "streaming workload exercises", file=sys.stderr)
        return 2
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "session.py")):
        print(f"no {PACKAGE} package under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        detail, result = run(args, root, tmp)
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
