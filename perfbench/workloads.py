"""The benchmark's four workloads.

Each workload has an untimed set-up (``prepare``, then one warm pass
that also collects every op's output for the oracle check), untimed
per-pass preparation (``pass_inputs``) and timed operations
(``run_op``). A timed op always consumes its whole result: batch
queries write to Spark's ``noop`` sink, snapshot reads collect.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd

from checks import frame_hash

# Each op costs about a second of cold set-up plus its own time in every
# run, and a benchmark check makes 4 + 22 runs per workload, so each
# workload runs a subset of its query family (README.md, "Scope").
ETL_OPS = [
    "q01_pricing_summary", "q02_customer_profile",
    "q03_latest_order_per_customer", "q05_customer_flags", "q08_party_union",
    "q10_customers_without_orders", "q15_upsert", "q16_scd2", "q45_asof_latest_order",
]
LLM_OPS = [
    "a35_media_features", "a60_repetition_signals", "a94_user_median_py",
    "z09_chunk_udtf", "z32_duplicate_span_scrub", "z39_arrow_spread",
]
STREAM_OPS = ["a36_live_hourly_counts", "a38_live_dedup"]

LAKE_WRITES = ["write", "append", "merge", "sql_merge", "delete", "update", "compact"]
LAKE_READS = ["scan", "point_lookup", "partition_scan", "manifest_agg", "range_count",
              "metadata_answer", "time_travel"]
LAKE_OPS = LAKE_WRITES + LAKE_READS + ["expire"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _link_copy(src: str, dst: str) -> str:
    """A fresh directory path over the same parquet files (hard links),
    so no per-path memo in the engine can serve a timed op."""
    os.makedirs(dst)
    for fn in os.listdir(src):
        os.link(os.path.join(src, fn), os.path.join(dst, fn))
    return dst


class QueryWorkload:
    """Declared plan queries, each checked against its DuckDB oracle."""

    fresh_dir_per_pass = True

    def __init__(self, name: str, ops: list[str], sf: float, nominal_pass_s: float):
        self.name, self.ops, self.sf, self.nominal_pass_s = name, ops, sf, nominal_pass_s
        self.kinds: dict[str, str] = {}

    def order(self, seed: int, k: int) -> list[str]:
        """The seeded op order of pass ``k`` (0 is the warm pass)."""
        out = list(self.ops)
        random.Random(seed * 1000 + k).shuffle(out)
        return out

    def prepare(self, ctx) -> None:
        from pandas_analysis_with_postgres_spark.plans import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES

    def warm_pass(self, ctx, order: list[str]) -> dict:
        """Run every op once on the run's data, keeping output hashes."""
        out = {}
        for op in order:
            ctx.spark.sparkContext.setJobGroup(f"w:{op}", op)
            try:
                out[op] = frame_hash(self.queries[op](ctx.spark, ctx.data_dir).toPandas())
            except Exception as exc:  # noqa: BLE001 - reported by check(), never fatal
                out[op] = exc
        return out

    def pass_inputs(self, ctx, k: int) -> str:
        if not self.fresh_dir_per_pass:
            return ctx.data_dir
        return _link_copy(ctx.data_dir, os.path.join(ctx.tmp, f"pass{k}"))

    def run_op(self, ctx, op: str, inputs: str) -> None:
        _noop(self.queries[op](ctx.spark, inputs))

    def check(self, ctx, outputs: dict) -> dict[str, str]:
        from checks import check_outputs

        return check_outputs(outputs, self.oracles, ctx.data_dir)

    def layer_metrics(self, ctx) -> dict[str, float]:
        return {}


class StreamWorkload(QueryWorkload):
    """``run_available_now`` drains: the split landing directory is a
    fixture built once by the warm pass, every drain is real work."""

    fresh_dir_per_pass = False


class LakehouseWorkload:
    """One snapshot-table maintenance cycle per pass on a table the pass
    creates: seven writes, seven reads, then snapshot expiry."""

    def __init__(self, sf: float, nominal_pass_s: float):
        self.name, self.sf, self.nominal_pass_s = "lakehouse_rw", sf, nominal_pass_s
        self.ops = list(LAKE_OPS)
        self.kinds = {op: "write" for op in LAKE_WRITES}
        self.kinds.update({op: "read" for op in LAKE_READS})
        self.results: dict[str, object] = {}

    def order(self, seed: int, k: int) -> list[str]:
        """Writes keep their dependency order; the seed orders the reads."""
        reads = list(LAKE_READS)
        random.Random(seed * 1000 + k).shuffle(reads)
        return LAKE_WRITES + reads + ["expire"]

    def prepare(self, ctx) -> None:
        """Seeded DML inputs, written once per run (untimed)."""
        rng = np.random.default_rng(ctx.seed + 7919)
        orders = pd.read_parquet(os.path.join(ctx.data_dir, "orders.parquet"))
        n = len(orders)
        d = os.path.join(ctx.tmp, "dml")
        os.makedirs(d)
        app = orders.sample(n=max(n // 50, 1), random_state=int(rng.integers(1 << 30)))
        app = app.assign(o_orderkey=np.arange(n, n + len(app), dtype=np.int64))
        upd = orders.sample(n=max(n // 50, 1), random_state=int(rng.integers(1 << 30)))
        upd = upd.assign(o_totalprice=np.round(rng.uniform(1000, 500000, len(upd)), 2))
        new = orders.sample(n=max(n // 200, 1), random_state=int(rng.integers(1 << 30)))
        new = new.assign(o_orderkey=np.arange(2 * n, 2 * n + len(new), dtype=np.int64))
        bump_keys = rng.choice(n, max(n // 50, 1), replace=False)
        bump = pd.DataFrame({
            "k": bump_keys.astype(np.int64),
            "bump": np.round(rng.uniform(1, 100, len(bump_keys)), 2),
        })
        paths = {k: os.path.join(d, f"{k}.parquet") for k in ("append", "merge", "sql_merge")}
        app.to_parquet(paths["append"], index=False)
        pd.concat([upd, new]).to_parquet(paths["merge"], index=False)
        bump.to_parquet(paths["sql_merge"], index=False)
        prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        lo = float(np.round(rng.uniform(50_000, 400_000), 2))
        self.dml = {
            **paths,
            "delete": f"o_custkey % 53 = {int(rng.integers(53))}",
            "update": (f"o_orderpriority = '{prio[int(rng.integers(5))]}'"
                       f" AND o_orderkey % 10 = {int(rng.integers(10))}"),
            "update_bump": float(np.round(rng.uniform(1, 20), 2)),
            "range": (lo, lo + 50_000.0),
            "lookup_key": int(rng.integers(n)),
        }
        self.user_bytes = os.path.getsize(os.path.join(ctx.data_dir, "orders.parquet"))
        ctx.spark.read.parquet(paths["sql_merge"]).createOrReplaceTempView("bench_bump")

    def warm_pass(self, ctx, order: list[str]) -> dict:
        """One untimed cycle on its own table; outputs are checked on
        the last timed cycle instead."""
        path = os.path.join(ctx.tmp, "lake_warm", "orders_tbl")
        for op in order:
            ctx.spark.sparkContext.setJobGroup(f"w:{op}", op)
            try:
                self.run_op(ctx, op, path)
            except Exception:  # noqa: BLE001 - the timed cycles count it
                pass
        return {}

    def pass_inputs(self, ctx, k: int) -> str:
        self.last_path = os.path.join(ctx.tmp, f"lake{k}", "orders_tbl")
        return self.last_path

    def run_op(self, ctx, op: str, path: str):
        self.results[op] = self._run(ctx, op, path)
        return self.results[op]

    def _run(self, ctx, op: str, path: str):
        from pyspark.sql import functions as F

        from pandas_analysis_with_postgres_spark.sources import metadata_sql as MQ
        from pandas_analysis_with_postgres_spark.sources import snapshot as S
        from pandas_analysis_with_postgres_spark.sources import sql_merge as SM

        spark, dml = ctx.spark, self.dml
        lo, hi = dml["range"]
        agg = (F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
        if op == "write":
            src = spark.read.parquet(os.path.join(ctx.data_dir, "orders.parquet"))
            return S.write_snapshot(src, path, "o_orderstatus", stats_cols=["o_totalprice", "o_orderkey"])
        if op == "append":
            return S.append_snapshot(path, spark.read.parquet(dml["append"]), "o_orderstatus",
                                     stats_cols=["o_totalprice", "o_orderkey"])
        if op == "merge":
            return S.merge_snapshot(path, spark.read.parquet(dml["merge"]), "o_orderkey",
                                    "o_orderstatus", stats_cols=["o_totalprice", "o_orderkey"])
        if op == "sql_merge":
            return SM.execute_dml(
                spark,
                "MERGE INTO orders AS t USING (SELECT k, bump FROM bench_bump) AS s"
                " ON t.o_orderkey = s.k"
                " WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + s.bump",
                tables={"orders": path},
            )
        if op == "delete":
            return S.delete_where(spark, path, dml["delete"])
        if op == "update":
            return S.update_where(
                spark, path, dml["update"],
                {"o_totalprice": f"o_totalprice + {dml['update_bump']}"}, key="o_orderkey",
            )
        if op == "compact":
            return S.compact_snapshot(spark, path)
        if op == "scan":
            df = S.read_snapshot(spark, path, column_ranges={"o_totalprice": (lo, hi)})
            return df.filter(F.col("o_totalprice").between(lo, hi)).agg(*agg).collect()[0]
        if op == "point_lookup":
            key = dml["lookup_key"]
            df = S.read_snapshot(spark, path, point_lookups={"o_orderkey": key})
            return df.filter(F.col("o_orderkey") == key).agg(*agg).collect()[0]
        if op == "partition_scan":
            df = S.read_snapshot(spark, path, partition_filter=lambda p: p == "o_orderstatus=F")
            return df.agg(*agg).collect()[0]
        if op == "manifest_agg":
            return S.manifest_aggregate(path, columns=["o_totalprice"])
        if op == "range_count":
            return S.range_count_pruned(spark, path, "o_totalprice", lo=lo, hi=hi)
        if op == "metadata_answer":
            out = MQ.answer_from_manifest(
                spark,
                "SELECT COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi"
                " FROM orders",
                {"orders": path},
            )
            if out is None:  # refused: the caller falls back to a scan
                return S.read_snapshot(spark, path).agg(
                    F.count(F.lit(1)).alias("n"), F.min("o_totalprice"),
                    F.max("o_totalprice")).collect()[0]
            return out.collect()[0]
        if op == "time_travel":
            return S.read_snapshot(spark, path, version=1).agg(*agg).collect()[0]
        if op == "expire":
            return S.expire_snapshots(path, keep=2, min_age_sec=0.0)
        raise ValueError(f"unknown lakehouse op {op}")

    def check(self, ctx, outputs: dict) -> dict[str, str]:
        """The final table of the checked cycle against the DuckDB model."""
        from checks import lakehouse_model
        from pyspark.sql import functions as F

        from pandas_analysis_with_postgres_spark.sources import snapshot as S

        failures: dict[str, str] = {}
        want_n, want_sum = lakehouse_model(ctx.data_dir, self.dml)
        try:
            row = S.read_snapshot(ctx.spark, self.last_path).agg(
                F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s")).collect()[0]
            got = (row["n"], row["s"])
        except Exception as exc:  # noqa: BLE001 - a broken table is a failed check
            got = (None, repr(exc)[:200])
        if got[0] != want_n or abs(got[1] - want_sum) > 1e-6 * max(abs(want_sum), 1.0):
            failures["final_table"] = f"spark {got} != model ({want_n}, {want_sum})"
        tt = self.results.get("time_travel")
        n_orders = pd.read_parquet(os.path.join(ctx.data_dir, "orders.parquet"),
                                   columns=["o_orderkey"]).shape[0]
        if tt is None or tt["n"] != n_orders:
            failures["time_travel"] = f"version 1 rows {tt and tt['n']} != {n_orders}"
        return failures

    def layer_metrics(self, ctx) -> dict[str, float]:
        """Table-size figures for the last cycle's table, after expiry."""
        from pandas_analysis_with_postgres_spark.sources.snapshot import SNAPSHOT_DIR

        data_bytes = files = meta_bytes = 0
        for root, _dirs, fns in os.walk(self.last_path):
            in_meta = SNAPSHOT_DIR in os.path.relpath(root, self.last_path).split(os.sep)
            for fn in fns:
                size = os.path.getsize(os.path.join(root, fn))
                if in_meta:
                    meta_bytes += size
                elif fn.endswith(".parquet"):
                    data_bytes += size
                    files += 1
        rewritten = sum(
            int(r.get(k, 0)) for r in self.results.values() if isinstance(r, dict)
            for k in ("deleted_rows", "updated_rows"))
        parts = sum(
            int(r.get("rewritten_partitions", 0)) for r in self.results.values()
            if isinstance(r, dict))
        return {
            "bytes_per_user_byte": data_bytes / self.user_bytes,
            "snapshot.files_live": float(files),
            "snapshot.bytes_live": float(data_bytes),
            "snapshot.manifest_bytes": float(meta_bytes),
            "snapshot.rows_rewritten": float(rewritten),
            "snapshot.partitions_rewritten": float(parts),
        }


def build(name: str):
    if name == "etl_reference":
        return QueryWorkload(name, ETL_OPS, sf=0.02, nominal_pass_s=3.6)
    if name == "llm_python":
        # Six ops of uneven cost give a jumpy median from one pass; two
        # passes of about 3.6 s each give it twelve samples.
        return QueryWorkload(name, LLM_OPS, sf=0.002, nominal_pass_s=2.5)
    if name == "lakehouse_rw":
        return LakehouseWorkload(sf=0.02, nominal_pass_s=7.3)
    if name == "stream_state":
        return StreamWorkload(name, STREAM_OPS, sf=0.01, nominal_pass_s=5.0)
    raise SystemExit(f"unknown workload {name!r}")


