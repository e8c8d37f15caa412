"""Golden-payload tests for the TWSE pipeline (SURVEY.md §5: the
reference's three manual scenarios, README.md:545-550, as automated
tests), plus the property checks the blueprint commits to."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from airflow_scraping_etl_tutorial_spark.pipeline.investment import (
    SINK_COLUMNS,
    clean_long,
    pivot_to_sink_schema,
    read_sink,
    run_daily_load,
    validate,
)
from airflow_scraping_etl_tutorial_spark.sources.golden import (
    GOLDEN_CLOSED,
    GOLDEN_FAILED,
    GOLDEN_OK,
    GOLDEN_OK_EXPECTED,
    GOLDEN_WRONG_ARITY,
)
from airflow_scraping_etl_tutorial_spark.sources.twse import PAYLOAD_SCHEMA, payloads_to_df

GOLDEN_PAYLOADS = [GOLDEN_OK, GOLDEN_CLOSED, GOLDEN_WRONG_ARITY, GOLDEN_FAILED]


def test_payloads_to_df_is_a_local_relation(spark):
    """The payload frame lives in the JVM: its optimized plan is a
    LocalRelation, not an RDD that every action re-serializes through
    Python worker tasks."""
    plan = payloads_to_df(spark, GOLDEN_PAYLOADS)._jdf.queryExecution().optimizedPlan()
    assert "LocalRelation" in plan.toString()
    assert "LogicalRDD" not in plan.toString()


@pytest.mark.parametrize("payload", GOLDEN_PAYLOADS, ids=["ok", "closed", "wrong_arity", "failed"])
def test_payloads_to_df_matches_row_path(spark, payload):
    """The Arrow path yields the same rows as createDataFrame over
    Python tuples (the RDD path it replaced), including the all-null
    failed-fetch payload."""
    row_path = spark.createDataFrame(
        [tuple(payload.get(f.name) for f in PAYLOAD_SCHEMA.fields)], PAYLOAD_SCHEMA
    ).collect()
    assert payloads_to_df(spark, [payload]).collect() == row_path


def test_clean_long_golden(spark):
    rows = clean_long(payloads_to_df(spark, [GOLDEN_OK])).orderBy("unit_name").collect()
    assert len(rows) == 4  # 合計 dropped
    assert all(r.dif == r.buy - r.sell for r in rows)
    by_name = {r.unit_name: r for r in rows}
    assert int(by_name["自營商(自行買賣)"].buy) == 2279109983
    assert int(by_name["外資及陸資"].dif) == -7298108131


def test_pivot_matches_reference_golden_row(spark):
    wide = pivot_to_sink_schema(clean_long(payloads_to_df(spark, [GOLDEN_OK])))
    assert wide.columns == list(SINK_COLUMNS)
    row = wide.collect()[0].asDict()
    for col, expected in GOLDEN_OK_EXPECTED.items():
        assert str(row[col]) == str(expected), col


def test_pivot_robust_to_row_reordering(spark):
    """The reference pivots by row POSITION (Final_app.py:54-66) and
    breaks if TWSE reorders; the engine keys on category values."""
    shuffled = {**GOLDEN_OK, "data": random.Random(7).sample(GOLDEN_OK["data"], 5)}
    wide = pivot_to_sink_schema(clean_long(payloads_to_df(spark, [shuffled])))
    row = wide.collect()[0].asDict()
    for col, expected in GOLDEN_OK_EXPECTED.items():
        assert str(row[col]) == str(expected), col


def test_market_closed_routes_to_noop(spark, tmp_path):
    res = run_daily_load(
        spark, payloads_to_df(spark, [GOLDEN_CLOSED]), str(tmp_path / "sink")
    )
    assert res.route == "market_closed"
    assert res.days_loaded == 0


def test_wrong_arity_routes_to_alert(spark, tmp_path):
    msgs = []
    res = run_daily_load(
        spark,
        payloads_to_df(spark, [GOLDEN_WRONG_ARITY]),
        str(tmp_path / "sink"),
        notify=msgs.append,
    )
    assert res.route == "alert"
    assert res.alerts == ["20100106"]
    assert any("資料格式有變動" in m for m in msgs)  # reference S8 alert text


def test_idempotent_daily_load(spark, tmp_path):
    """SURVEY §7 hard-part 1: rerunning a day must not duplicate it
    (the reference's retry double-inserts; we partition-overwrite)."""
    sink = str(tmp_path / "sink")
    payloads = payloads_to_df(spark, [GOLDEN_OK])
    run_daily_load(spark, payloads, sink)
    run_daily_load(spark, payloads, sink)
    assert read_sink(spark, sink).count() == 1
    assert read_sink(spark, sink, dt="20220819").count() == 1
    assert dict(read_sink(spark, sink).dtypes)["dt"] == "string"


def test_read_sink_reads_one_partition(spark, tmp_path):
    """A single-day read touches only that day's directory, with the
    string dt and the column order of a whole-sink read; a day with no
    partition reads as an empty frame."""
    sink = str(tmp_path / "sink")
    shifted = {**GOLDEN_OK, "date": "20220818"}
    run_daily_load(spark, payloads_to_df(spark, [GOLDEN_OK, shifted]), sink)
    day = read_sink(spark, sink, dt="20220819")
    files = day.inputFiles()
    assert files and all("/dt=20220819/" in f for f in files)
    assert day.columns == read_sink(spark, sink).columns == [*SINK_COLUMNS[1:], "dt"]
    assert dict(day.dtypes)["dt"] == "string"
    row = day.collect()[0].asDict()
    assert {k: str(v) for k, v in row.items()} == {
        k: str(v) for k, v in GOLDEN_OK_EXPECTED.items()
    }
    missing = read_sink(spark, sink, dt="20220820")
    assert missing.count() == 0
    assert missing.schema == day.schema


def test_failed_fetch_routes_to_alert(spark, tmp_path):
    """A payload with a null stat is a failed fetch: it alerts with its
    date, where a closed day is a no-op; the good day of the same run
    still loads."""
    sink = str(tmp_path / "sink")
    msgs = []
    res = run_daily_load(spark, payloads_to_df(spark, [GOLDEN_FAILED]), sink, notify=msgs.append)
    assert (res.route, res.days_loaded, res.alerts) == ("alert", 0, ["20220822"])
    assert res.failed_fetches == ["20220822"]
    assert any("20220822" in m for m in msgs)

    payloads = payloads_to_df(spark, [GOLDEN_OK, GOLDEN_CLOSED, GOLDEN_FAILED])
    res = run_daily_load(spark, payloads, sink)
    assert (res.route, res.days_loaded, res.alerts) == ("alert", 1, ["20220822"])
    assert [r.dt for r in read_sink(spark, sink).collect()] == ["20220819"]


def test_validate_flags_bad_dif(spark):
    tampered = {
        **GOLDEN_OK,
        "data": [
            ["自營商(自行買賣)", "100", "40", "61"],  # dif != buy - sell
            ["自營商(避險)", "10", "4", "6"],
            ["投信", "10", "4", "6"],
            ["外資及陸資", "10", "4", "6"],
            ["合計", "130", "52", "79"],
        ],
    }
    checks = validate(clean_long(payloads_to_df(spark, [tampered]))).collect()
    assert len(checks) == 1
    assert checks[0].arity_ok
    assert not checks[0].dif_ok


# -- property-based checks (SURVEY §5 item 3) --------------------------------

money = st.integers(min_value=0, max_value=10**14)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(money, money), min_size=4, max_size=4))
def test_property_random_payload_roundtrip(spark, amounts):
    """For any well-formed payload: cleaned arity == 12, dif == buy-sell
    survives the pipeline, and de-comma(format(x)) == x."""
    cats = ["自營商(自行買賣)", "自營商(避險)", "投信", "外資及陸資"]
    data = [
        [c, f"{b:,}", f"{s:,}", f"{b - s:,}"] for c, (b, s) in zip(cats, amounts)
    ]
    tb, ts = sum(b for b, _ in amounts), sum(s for _, s in amounts)
    data.append(["合計", f"{tb:,}", f"{ts:,}", f"{tb - ts:,}"])
    payload = {**GOLDEN_OK, "data": data}
    long_df = clean_long(payloads_to_df(spark, [payload]))
    checks = validate(long_df).collect()
    assert checks[0].arity_ok and checks[0].dif_ok
    got = {r.unit_name: (int(r.buy), int(r.sell)) for r in long_df.collect()}
    assert got == {c: ab for c, ab in zip(cats, amounts)}


def test_payload_schema_gate_malformed(spark):
    """from_json-style schema enforcement: a payload with null data
    yields no rows (quietly filtered), not a crash — P7 semantics."""
    broken = {**GOLDEN_OK, "data": None}
    assert clean_long(payloads_to_df(spark, [broken])).count() == 0
