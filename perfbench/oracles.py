"""DuckDB oracles the output checks compare against.

Both run over the generated inputs held in Python, never over what the
program wrote, so a write-path bug cannot hide in its own read-back.
"""

from __future__ import annotations

import duckdb

# The reference transform (join, drop-null, LAG, 5-row trailing AVG
# gated on count >= 3, 4 places) over the raw records, flattened and
# validated the way the ingest stage promises: iso3 falls back to
# country.id, rows with an empty iso3 or a non-integer date are out,
# and a key keeps its last record.
_ETL_SQL = """
WITH flat AS (
  SELECT indicator, coalesce(iso3code, country_id) AS iso3,
         country_name, TRY_CAST(date AS INTEGER) AS year, value, seq
  FROM recs
),
valid AS (
  SELECT * FROM flat
  WHERE iso3 IS NOT NULL AND iso3 <> '' AND year IS NOT NULL
  QUALIFY row_number() OVER (PARTITION BY indicator, iso3, year
                             ORDER BY seq DESC) = 1
),
j AS (
  SELECT g.iso3, g.country_name, g.year,
         round(g.value, 4) AS gdp, round(u.value, 4) AS un
  FROM valid g JOIN valid u
    ON g.iso3 = u.iso3 AND g.year = u.year
  WHERE g.indicator = 'gdp_growth' AND u.indicator = 'unemployment'
    AND g.value IS NOT NULL AND u.value IS NOT NULL
)
SELECT iso3 AS country_iso3, country_name, year,
       gdp AS gdp_growth, un AS unemployment,
       round(lag(gdp) OVER w, 4) AS gdp_growth_lag1,
       round(CASE WHEN count(gdp) OVER w5 >= 3
                  THEN avg(gdp) OVER w5 END, 4) AS gdp_growth_roll5,
       round(CASE WHEN count(un) OVER w5 >= 3
                  THEN avg(un) OVER w5 END, 4) AS unemp_roll5
FROM j
WINDOW w AS (PARTITION BY iso3 ORDER BY year),
       w5 AS (PARTITION BY iso3 ORDER BY year
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""

ETL_COLS = ["country_iso3", "country_name", "year", "gdp_growth",
            "unemployment", "gdp_growth_lag1", "gdp_growth_roll5",
            "unemp_roll5"]


_COLS_SQL = ", ".join(ETL_COLS)


def etl_expected(records: dict[str, list[dict]]) -> list[tuple]:
    import pyarrow as pa

    rows = [
        (ind, r.get("countryiso3code"), (r.get("country") or {}).get("id"),
         (r.get("country") or {}).get("value"), r.get("date"),
         r.get("value"), i)
        for ind, rs in records.items()
        for i, r in enumerate(rs)
    ]
    names = ["indicator", "iso3code", "country_id", "country_name",
             "date", "value", "seq"]
    types = [pa.string()] * 5 + [pa.float64(), pa.int64()]
    recs = pa.table({
        n: pa.array([r[k] for r in rows], t)
        for k, (n, t) in enumerate(zip(names, types))
    })
    con = duckdb.connect()
    try:
        con.register("recs", recs)
        return con.sql(
            f"SELECT {_COLS_SQL} FROM ({_ETL_SQL})"
            " ORDER BY country_iso3, year"
        ).fetchall()
    finally:
        con.close()


def etl_actual(cleaned_dir: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.sql(
            f"SELECT {_COLS_SQL} FROM read_parquet('{cleaned_dir}/*.parquet')"
            " ORDER BY country_iso3, year"
        ).fetchall()
    finally:
        con.close()


def mmr_expected(docs: dict[int, str],
                 vecs: list[tuple[int, list[float]]]) -> list[tuple]:
    """The graded search-mmr-rerank oracle over generated tables:
    (rank, doc_id, mmr_obj) for QUERY_TERMS and query vector 0."""
    import pyarrow as pa

    from data_engineering_pipeline_spark.queries.search import ORACLES

    documents = pa.table({
        "doc_id": pa.array(list(docs), pa.int64()),
        "text": pa.array(list(docs.values()), pa.string()),
    })
    embeddings = pa.table({
        "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
        "embedding": pa.array([v[1] for v in vecs],
                              pa.list_(pa.float32())),
    })
    con = duckdb.connect()
    try:
        con.register("documents", documents)
        con.register("embeddings", embeddings)
        out = con.sql(ORACLES["search-mmr-rerank"]).fetchall()
    finally:
        con.close()
    return [(int(r), int(d), int(o)) for r, d, o in out]
