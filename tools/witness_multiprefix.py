"""Multi-prefix store witness: the registry's incremental-store queries
run the minimal modulus-1 layout, which skips the production pruning
collects — so this standing close-out witness probes a
PRODUCTION-SHAPED multi-prefix store (sig_pfx=32, bucket_pfx=32) and
prints the probe wall plus the file-open pruning counters, keeping
regressions in the multi-prefix path visible round-over-round.

Scenario: commit the sf0.1 src0-9 slice (the incremental-store
query's batch 1), then probe the rest of the corpus as batch 2 with
stats, timing probe construction + the pair collect.

Usage: python tools/witness_multiprefix.py   (prints one JSON line)
"""

from __future__ import annotations

import json
import os
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
    from pyspark.sql import functions as F

    from data_engineering_pipeline_spark._tmpdirs import fresh_tmpdir
    from data_engineering_pipeline_spark.operators.sig_store import (
        BandedSignatureStore,
    )
    from data_engineering_pipeline_spark.sources import load_table

    spark = get_spark(app_name="witness-multiprefix")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, SF_DIR, "documents")
    srcnum = F.substring("source", 4, 10).try_cast("int")
    b1 = docs.filter(srcnum < 10)
    b2 = docs.filter(srcnum.isNull() | (srcnum >= 10))
    root = fresh_tmpdir("sig_store_witness_")
    st = BandedSignatureStore(
        spark, os.path.join(root, "st"), bands=16,
        sig_pfx=32, bucket_pfx=32,
    )
    t0 = time.perf_counter()
    f1, _ = st.probe(b1, threshold=0.0)
    st.commit(f1, 1)
    t1 = time.perf_counter()
    stats: dict = {}
    _, p2 = st.probe(b2, threshold=0.0, stats=stats)
    n_pairs = p2.count()
    t2 = time.perf_counter()
    print(json.dumps({
        "layout": {"sig_pfx": 32, "bucket_pfx": 32, "bands": 16},
        "bootstrap_commit_sec": round(t1 - t0, 3),
        "probe2_sec": round(t2 - t1, 3),
        "n_pairs": n_pairs,
        **stats,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
