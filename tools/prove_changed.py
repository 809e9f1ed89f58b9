"""Entry-surface oracle proof for changed queries at BOTH sf0.001 and
sf0.01 (__spark_entry__'s queries() against its oracle_sql(), from a
fresh process): sorted rows + column names vs DuckDB, null-safe, 1e-12
float band.

Usage: python tools/prove_changed.py [name ...]
  name: default = the latest round's queries in
        queries._CHANGED_IN_ROUND.
Test tables are read from sf0.001/ and sf0.01/ beside
$SPARK_GRAFT_SF_DIR, default testdata/ beside the checkout. Exits 1 on
any mismatch.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
TESTDATA = os.path.dirname(os.environ.get(
    "SPARK_GRAFT_SF_DIR",
    os.path.join(os.path.dirname(REPO), "testdata", "sf0.1"),
))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> None:
    import duckdb

    import __spark_entry__ as m
    from data_engineering_pipeline_spark.queries import _CHANGED_IN_ROUND
    from data_engineering_pipeline_spark.session import get_spark

    latest = max(_CHANGED_IN_ROUND.values())
    names = sys.argv[1:] or sorted(
        q for q, r in _CHANGED_IN_ROUND.items() if r == latest
    )
    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = m.queries(), m.oracle_sql()
    bad = 0
    for sf in (os.path.join(TESTDATA, s) for s in ("sf0.001", "sf0.01")):
        con = duckdb.connect()
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf}/{t}.parquet')"
            )
        for name in names:
            df = qs[name](spark, sf)
            scols = sorted(df.columns)
            srows = sorted(
                tuple(r[c] for c in scols) for r in df.collect()
            )
            odf = con.sql(osql[name]).df()
            ocols = sorted(odf.columns)
            orows = sorted(
                tuple(r)
                for r in odf[ocols].itertuples(index=False, name=None)
            )
            ok = (
                scols == ocols
                and len(srows) == len(orows)
                and all(
                    all(
                        (a == b)
                        or (a is None and b is None)
                        or (
                            isinstance(a, float)
                            and isinstance(b, float)
                            and abs(a - b) < 1e-12
                        )
                        for a, b in zip(ra, rb)
                    )
                    for ra, rb in zip(srows, orows)
                )
            )
            tag = os.path.basename(sf)
            print(f"{tag} {name} {'OK' if ok else 'MISMATCH'}", flush=True)
            bad += 0 if ok else 1
        con.close()
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
