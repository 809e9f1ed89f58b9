"""Ingestion connector + flatten/validate tests on canned JSON fixtures
(FIXTURES.md 'Raw ingestion JSON fixture') — no live API. Covers the
iso3 fallback, null value retention, bad-year quarantine, retry/backoff,
and pagination."""

from __future__ import annotations

import json

import pytest

from data_engineering_pipeline_spark.sources.json_ingest import (
    flatten_wb_records,
    split_valid,
)
from data_engineering_pipeline_spark.sources.rest import (
    build_url,
    fetch_fanout,
    fetch_indicator,
    get_json,
    records_to_dataframe,
)

GOOD = {
    "indicator": {"id": "NY.GDP.MKTP.KD.ZG", "value": "GDP growth"},
    "country": {"id": "ZA", "value": "South Africa"},
    "countryiso3code": "ZAF",
    "date": "2015",
    "value": 1.2,
}
FALLBACK_ISO3 = {**GOOD, "countryiso3code": None, "country": {"id": "KEN", "value": "Kenya"}}
NULL_VALUE = {**GOOD, "date": "2016", "value": None}
BAD_YEAR = {**GOOD, "date": "not-a-year"}
MISSING_ISO3 = {**GOOD, "countryiso3code": "", "country": {"id": "", "value": "X"}}

RECORDS = [GOOD, FALLBACK_ISO3, NULL_VALUE, BAD_YEAR, MISSING_ISO3]


def test_flatten_and_validate(spark):
    flat = flatten_wb_records(records_to_dataframe(spark, RECORDS))
    valid, quarantine = split_valid(flat)
    v = {(r.country_iso3, r.year): r.value for r in valid.collect()}
    # iso3 fallback to country.id (database.py:97)
    assert ("KEN", 2015) in v
    # JSON null value kept as NULL (database.py:100)
    assert v[("ZAF", 2016)] is None
    assert v[("ZAF", 2015)] == 1.2
    q = {r.reason for r in quarantine.collect()}
    assert q == {"bad_year", "missing_iso3"}
    assert quarantine.count() == 2


def _row(rec=GOOD, **changed):
    """The row `rec` (with `changed` fields) decodes to, nested structs as
    dicts."""
    full = {**rec, **changed}
    return {k: full.get(k) for k in
            ("indicator", "country", "countryiso3code", "date", "value")}


@pytest.mark.parametrize(
    "records, want",
    [
        # a JSON integer is a number: NUMERIC in the reference (database.py)
        ([{**GOOD, "value": 3}], [_row(value=3.0)]),
        ([{**GOOD, "value": "3"}], TypeError),
        # a bool is not a number (Arrow alone would coerce it to 1.0)
        ([{**GOOD, "value": True}], TypeError),
        # a string field takes only strings
        ([{**GOOD, "date": 2015}], TypeError),
        ([{**GOOD, "country": None}], [_row(country=None)]),
        ([{k: v for k, v in GOOD.items() if k != "date"}], [_row(date=None)]),
        ([{**GOOD, "country": {"id": "ZA"}}],
         [_row(country={"id": "ZA", "value": None})]),
        ([{**GOOD, "unit": "", "obs_status": "", "decimal": 1}], [_row()]),
        ([], []),
    ],
    ids=["int-value", "str-value", "bool-value", "int-date", "none-struct",
         "missing-key", "missing-nested-key", "extra-keys", "empty"],
)
def test_records_to_dataframe_accepted_inputs(spark, records, want):
    """What `records_to_dataframe` accepts, and the rows it makes."""
    if want is TypeError:
        with pytest.raises(TypeError):
            records_to_dataframe(spark, records)
        return
    got = records_to_dataframe(spark, records).collect()
    assert [r.asDict(recursive=True) for r in got] == want


def _page(meta_pages, records):
    return json.dumps([{"pages": meta_pages, "per_page": 1000}, records])


def test_pagination_loops_until_meta_pages():
    calls = []

    def opener(url, timeout):
        calls.append(url)
        page = int(url.split("page=")[1].split("&")[0]) if "page=" in url else 1
        return _page(3, [{"date": str(2000 + page), "countryiso3code": "ZAF",
                          "country": None, "indicator": None, "value": 1.0}])

    recs = fetch_indicator("ZAF", "X", opener=opener, sleep=lambda s: None)
    assert len(recs) == 3
    assert len(calls) == 3


def test_retry_backoff_then_none():
    attempts = []
    waits = []

    def opener(url, timeout):
        attempts.append(1)
        raise OSError("boom")

    out = get_json(build_url("ZAF", "X"), opener=opener, sleep=waits.append)
    assert out is None
    assert len(attempts) == 3
    assert waits == [1.0, 2.0]  # backoff**0, backoff**1


def test_fanout_rate_limits():
    sleeps = []

    def opener(url, timeout):
        return _page(1, [{"date": "2001", "countryiso3code": "ZAF",
                          "country": None, "indicator": None, "value": 2.0}])

    recs = fetch_fanout(
        [("ZAF", "A"), ("KEN", "A")], opener=opener, sleep=sleeps.append
    )
    assert len(recs) == 2
    assert sleeps.count(0.15) == 2


def test_build_url_shape():
    url = build_url("ZAF", "NY.GDP.MKTP.KD.ZG", page=2)
    assert "country/ZAF/indicator/NY.GDP.MKTP.KD.ZG" in url
    assert "format=json" in url and "page=2" in url and "date=2000%3A2023" in url
