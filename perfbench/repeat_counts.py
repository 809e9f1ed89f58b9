"""Which per-layer counts repeat exactly across two traced runs of one seed.

    python3 perfbench/repeat_counts.py --workload etl-panel --seed 1

Runs `run.py --trace 1` twice with the same arguments and compares the
count metrics (jobs, stages, tasks, shuffle bytes, files, commits,
rows). Only a count that repeats exactly can later carry a claim; a
count that moves between identical runs depends on timing (AQE's
runtime choices, thread interleaving, file sizes with timestamps).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import layer_metrics  # noqa: E402

COUNT_UNITS = ("count", "bytes")


def _traced(workload: str, seed: int, seconds: float) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "1"],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()[-1]
    return json.loads(out)["metrics"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1)
    args = ap.parse_args(argv)
    a = _traced(args.workload, args.seed, args.seconds)
    b = _traced(args.workload, args.seed, args.seconds)
    rows = {}
    for name, unit in layer_metrics().items():
        if unit not in COUNT_UNITS or name == "trace.ops":
            continue
        va, vb = a[name]["value"], b[name]["value"]
        if va == vb == 0:
            continue  # a layer this workload never reaches
        rows[name] = {"first": va, "second": vb, "repeats": va == vb}
    for name, r in rows.items():
        print(f"{'repeats' if r['repeats'] else 'MOVES  '} {name} "
              f"{r['first']:g} {r['second']:g}")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "counts": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
