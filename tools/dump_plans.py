"""Dump .explain('formatted') for every registry query.

Usage: python tools/dump_plans.py <suffix> [name ...]
  suffix: 'before' or 'after' (file name suffix)
  name:   optional subset of query names; default = whole registry.

Writes plans/current/<query>_<suffix>.txt (git-ignored: regenerate on
demand; plans/r13 and plans/r14 are earlier rounds' committed dumps).
Plans are captured lazily (no execution) except where building a
query's frame itself runs actions (the store-building queries).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_engineering_pipeline_spark.session import get_spark  # noqa: E402

# test tables: $SPARK_GRAFT_SF_DIR, else testdata/sf0.1 beside the checkout
SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR",
    os.path.join(os.path.dirname(REPO), "testdata", "sf0.1"),
)


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    out_dir = os.path.join(REPO, "plans", "current")
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    from data_engineering_pipeline_spark.queries import collect_registry

    queries, _ = collect_registry()
    names = [n for n in sorted(queries) if not only or n in only]
    ok, fail = 0, 0
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            spark.sparkContext.setJobDescription(f"plan:{name}")
            df = queries[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(path, "w") as fh:
                fh.write(plan)
            ok += 1
        except Exception as exc:  # noqa: BLE001 - record and continue
            fail += 1
            with open(path, "w") as fh:
                fh.write(f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}\n")
            print(f"FAIL {name}: {exc}", file=sys.stderr)
    print(f"plans written: {ok} ok, {fail} failed -> {out_dir}")
    spark.stop()


if __name__ == "__main__":
    main()
