"""Measurement harness: isolated per-query timing + plans.

Times each named query with the noop sink (same methodology as
bench.py) in ONE warm JVM, optionally several repetitions, and can dump
``.explain("formatted")`` output to plans/<query>_<tag>.txt. Every
query re-does its work per call, so ``--reps`` times real repetitions.

Usage:
  python scripts/measure.py --names q24,q28 [--reps 3] \
      [--sf-dir /root/testdata/sf0.1] [--plans before|after] [--all]

With --all, runs the full bench.py HEADLINE+EXTRA list.
Prints one JSON line: {"timings": {name: [sec, ...]}, "sf_dir": ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pandas_analysis_with_postgres_spark.plans import QUERIES  # noqa: E402
from pandas_analysis_with_postgres_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", default="")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default="", help="tag: dump explain(formatted) to plans/<q>_<tag>.txt")
    args = ap.parse_args()

    if args.all:
        import bench

        names = list(bench.HEADLINE) + list(bench.EXTRA)
    else:
        names = [n for n in args.names.split(",") if n]

    spark = get_spark("measure")
    sf_dir = args.sf_dir
    # Warm JVM + parquet footers, as bench.py does.
    QUERIES["q01_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")
    timings: dict[str, list[float]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"measure:{name}")
        runs = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        timings[name] = runs
        if args.plans:
            os.makedirs(plans_dir, exist_ok=True)
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{args.plans}.txt"), "w") as f:
                f.write(plan)
        print(f"## {name}: {runs}", file=sys.stderr)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"timings": timings, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
