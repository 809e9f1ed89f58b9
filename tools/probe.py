"""Isolated query probe: time one or more registry queries with the
noop sink (computation only, nothing collected), fresh JVM per
invocation, optional extra Spark confs, optional final-AQE-plan capture.

Usage:
  python tools/probe.py [--runs N] [--warm W] [--conf k=v ...]
         [--plan OUT.txt] [--collect] name [name ...]

Prints one JSON line per query: {"name", "runs": [...], "median", "min"}.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_engineering_pipeline_spark.session import get_spark  # noqa: E402

# test tables: $SPARK_GRAFT_SF_DIR, else testdata/sf0.1 beside the checkout
SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR",
    os.path.join(os.path.dirname(REPO), "testdata", "sf0.1"),
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--warm", type=int, default=1)
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("--plan", default=None,
                    help="write final executed plan (formatted) here")
    ap.add_argument("--collect", action="store_true",
                    help="use .collect() like bench.py instead of noop")
    args = ap.parse_args()

    extra = dict(c.split("=", 1) for c in args.conf)
    spark = get_spark(app_name="probe", extra_conf=extra or None)
    spark.sparkContext.setLogLevel("ERROR")

    from data_engineering_pipeline_spark.queries import collect_registry

    queries, _ = collect_registry()

    def run_once(fn, name):
        df = fn(spark, SF_DIR)
        if args.collect:
            df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()
        return df

    first = True
    for name in args.names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"probe:{name}")
        n_warm = max(args.warm, 3) if first else args.warm
        first = False
        # build THIS query's frame unconditionally (with
        # --warm 0, df otherwise still holds the previous query's
        # frame and the plan written is the wrong query's)
        df = fn(spark, SF_DIR)
        for _ in range(n_warm):
            df = run_once(fn, name)
        if args.plan:
            # suffix with the query name so multi-name invocations
            # don't silently overwrite one file
            base, ext = os.path.splitext(args.plan)
            plan_path = (
                f"{base}_{name}{ext}" if len(args.names) > 1 else args.plan
            )
            with open(plan_path, "w") as fh:
                fh.write(
                    df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString("formatted")
                    )
                )
        runs = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            run_once(fn, name)
            runs.append(round(time.perf_counter() - t0, 4))
        print(json.dumps({
            "name": name,
            "runs": runs,
            "median": round(statistics.median(runs), 4),
            "min": round(min(runs), 4),
            "conf": extra,
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
