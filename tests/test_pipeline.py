"""End-to-end reference pipeline test: ingest two indicators from canned
records -> transform -> cleaned layer, then re-run both pipelines and
assert nothing changes (op-orch-idempotent, README1.md:128-132)."""

from __future__ import annotations

import datetime as dt

from data_engineering_pipeline_spark.plans.reference_pipelines import (
    ingest_pipeline,
    transform_pipeline,
)

TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _records(indicator_id, values):
    return [
        {
            "indicator": {"id": indicator_id, "value": indicator_id},
            "country": {"id": c[:2], "value": c},
            "countryiso3code": c,
            "date": str(year),
            "value": v,
        }
        for c, year, v in values
    ]


GDP = _records(
    "NY.GDP.MKTP.KD.ZG",
    [("ZAF", y, 1.0 + y % 5) for y in range(2000, 2010)]
    + [("KEN", y, 2.0) for y in range(2000, 2004)]
    + [("KEN", 2004, None)],  # null -> dropped by transform filter
)
UNEMP = _records(
    "SL.UEM.TOTL.ZS",
    [("ZAF", y, 20.0 + y % 3) for y in range(2000, 2010) if y != 2005]  # gap
    + [("KEN", y, 9.0) for y in range(2000, 2006)],
)


def test_ingest_transform_end_to_end_idempotent(spark, tmp_path):
    base = str(tmp_path)

    c1 = ingest_pipeline(spark, "gdp_growth", GDP, base, fetched_at=TS).run()
    c2 = ingest_pipeline(spark, "unemployment", UNEMP, base, fetched_at=TS).run()
    assert c1["counts"]["raw"] == 15  # 10 ZAF + 5 KEN (null kept in raw)
    assert c2["counts"]["raw"] == 15  # 9 ZAF (gap year missing) + 6 KEN

    t1 = transform_pipeline(spark, base).run()
    total_1 = t1["preview"]["total"]
    # ZAF: 9 joined years (2005 missing on unemp side); KEN: 4 non-null
    assert total_1 == 13
    first = t1["preview"]["first10"][0]
    assert first.country_iso3 == "KEN" and first.year == 2000
    assert first.gdp_growth_lag1 is None  # first row per country
    assert first.gdp_growth_roll5 is None  # min-periods gate

    # re-run everything: counts identical (idempotent upserts)
    c1b = ingest_pipeline(spark, "gdp_growth", GDP, base, fetched_at=TS).run()
    t2 = transform_pipeline(spark, base).run()
    assert c1b["counts"]["raw"] == 15
    assert t2["preview"]["total"] == 13

    # gap semantics: ZAF 2006 lag1 is 2004's value (row-based window)
    rows = {
        (r.country_iso3, r.year): r
        for r in spark.read.parquet(f"{base}/cleaned_data").collect()
    }
    zaf_2004 = rows[("ZAF", 2004)]
    zaf_2006 = rows[("ZAF", 2006)]
    assert zaf_2006.gdp_growth_lag1 == zaf_2004.gdp_growth
    assert ("ZAF", 2005) not in rows


def test_pipeline_job_count_pinned(spark, spark_jobs, tmp_path):
    """Pins the Spark jobs of an op over existing layers: 5 per ingest, 5
    per transform (plans/reference_pipelines.py lists them). The reported
    counts and preview match the first run's, so the observed counts and
    footer-schema reads report what the re-reads and inference did."""
    base = str(tmp_path)

    def pipelines():
        return [
            ingest_pipeline(spark, "gdp_growth", GDP, base, fetched_at=TS),
            ingest_pipeline(spark, "unemployment", UNEMP, base, fetched_at=TS),
            transform_pipeline(spark, base),
        ]

    first = {p.name: p.run() for p in pipelines()}
    second, jobs = {}, {}
    for p in pipelines():
        second[p.name], jobs[p.name] = spark_jobs(p.run)

    assert jobs == {
        "ingest-gdp_growth": 5,
        "ingest-unemployment": 5,
        "transform-cleaned": 5,
    }
    for name in ("ingest-gdp_growth", "ingest-unemployment"):
        assert first[name]["write"] == first[name]["counts"]["raw"] == 15
        # the quarantine appends every load; these records have no rejects
        assert second[name]["counts"] == first[name]["counts"]
    t1, t2 = first["transform-cleaned"], second["transform-cleaned"]
    assert t2["preview"]["total"] == t1["preview"]["total"] == 13
    # cleaned_at stamps each run's own now(); every other column repeats
    def preview(t):
        rows = t["preview"]["first10"]
        return [{**r.asDict(), "cleaned_at": None} for r in rows]

    assert preview(t2) == preview(t1)
    assert spark.read.parquet(f"{base}/cleaned_data").count() == 13


def test_pack_greedy_rejects_null_and_negative_weights(spark):
    """r9 review: a NULL token count reached int(NaN) (cryptic crash
    mid-loop) and a NEGATIVE one silently shrank the running fill,
    overfilling every later pack in the bucket — both must fail
    loudly with the offending doc ids."""
    import pytest as _pytest

    from data_engineering_pipeline_spark.operators.packing import (
        pack_greedy,
    )

    bad_null = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5)], "doc_id long, n_tokens long"
    )
    with _pytest.raises(Exception, match="null/negative"):
        pack_greedy(bad_null, budget=16).collect()
    bad_neg = spark.createDataFrame(
        [(1, 10), (2, -4), (3, 5)], "doc_id long, n_tokens long"
    )
    with _pytest.raises(Exception, match="null/negative"):
        pack_greedy(bad_neg, budget=16).collect()
