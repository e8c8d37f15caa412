"""The spark-submit job entry point, driven through main() with an
injected fetcher (the network seam), covering every exit route and
multi-day backfills."""

from __future__ import annotations

import pytest

from airflow_scraping_etl_tutorial_spark.jobs.daily_load import (
    EXIT_ALERT,
    EXIT_FETCH_FAILED,
    date_range,
    main,
)
from airflow_scraping_etl_tutorial_spark.pipeline.investment import read_sink
from airflow_scraping_etl_tutorial_spark.sources.golden import (
    GOLDEN_CLOSED,
    GOLDEN_FAILED,
    GOLDEN_OK,
    GOLDEN_WRONG_ARITY,
)
from airflow_scraping_etl_tutorial_spark.sources.twse import payloads_to_df


def fetcher_for(payloads):
    def fetch(spark, dates):
        by_date = {p["date"]: p for p in payloads}
        return payloads_to_df(spark, [by_date[d] for d in dates if d in by_date])

    return fetch


def test_date_range():
    assert date_range("20220830", "20220902") == [
        "20220830",
        "20220831",
        "20220901",
        "20220902",
    ]


def test_job_loads_and_exits_zero(spark, tmp_path):
    sink = str(tmp_path / "sink")
    rc = main(
        ["--date", "20220819", "--sink", sink], fetcher=fetcher_for([GOLDEN_OK])
    )
    assert rc == 0
    assert read_sink(spark, sink, dt="20220819").count() == 1


def test_job_alert_exit_code(spark, tmp_path):
    rc = main(
        ["--date", "20100106", "--sink", str(tmp_path / "sink")],
        fetcher=fetcher_for([GOLDEN_WRONG_ARITY]),
    )
    assert rc == 3  # the Airflow-visible alert contract


def test_job_backfill_range(spark, tmp_path):
    sink = str(tmp_path / "sink")
    rc = main(
        ["--date", "20220819", "--backfill-to", "20220820", "--sink", sink],
        fetcher=fetcher_for([GOLDEN_OK, GOLDEN_CLOSED]),
    )
    assert rc == 0  # closed day inside a backfill is a no-op, not an alert
    assert read_sink(spark, sink).count() == 1


# The Airflow-visible route/exit-code table (jobs/daily_load.py docstring):
# (dates, payloads served, printed route, exit code, days in the sink).
ROUTE_TABLE = {
    "loaded": (["20220819"], [GOLDEN_OK], "loaded", 0, ["20220819"]),
    "closed": (["20220820"], [GOLDEN_CLOSED], "market_closed", 0, []),
    "drift": (["20100106"], [GOLDEN_WRONG_ARITY], "alert", EXIT_ALERT, []),
    "failed_fetch": (["20220822"], [GOLDEN_FAILED], "alert", EXIT_FETCH_FAILED, []),
    "partial_backfill": (
        ["20220819", "20220822"],
        [GOLDEN_OK, GOLDEN_CLOSED, GOLDEN_FAILED],
        "alert",
        EXIT_FETCH_FAILED,
        ["20220819"],
    ),
}


@pytest.mark.parametrize("case", ROUTE_TABLE)
def test_route_and_exit_code_table(spark, tmp_path, capsys, case):
    dates, payloads, route, exit_code, loaded = ROUTE_TABLE[case]
    sink = tmp_path / "sink"
    argv = ["--date", dates[0], "--sink", str(sink)]
    if len(dates) > 1:
        argv += ["--backfill-to", dates[1]]
    assert main(argv, fetcher=fetcher_for(payloads)) == exit_code
    out = capsys.readouterr().out
    assert f"route={route} " in out
    if "failed" in case:
        assert "alerts=20220822" in out
    got = sorted(r.dt for r in read_sink(spark, str(sink)).collect()) if sink.exists() else []
    assert got == loaded


def test_dag_module_import_gated():
    from airflow_scraping_etl_tutorial_spark.orchestration import daily_dag

    assert daily_dag.HAVE_AIRFLOW is False
    assert daily_dag.dag is None
    assert "--date" in daily_dag.SPARK_SUBMIT
