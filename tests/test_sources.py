"""Source-path tests: the distributed (mapInPandas) TWSE backfill
fetcher with the HTTP call stubbed at the module seam (local mode runs
executors in-process, so the monkeypatch reaches the UDF), and the
table catalog's events ns->µs conversion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import airflow_scraping_etl_tutorial_spark.sources.twse as twse
from airflow_scraping_etl_tutorial_spark.pipeline.investment import (
    clean_long,
    pivot_to_sink_schema,
)
from airflow_scraping_etl_tutorial_spark.sources.golden import GOLDEN_CLOSED, GOLDEN_OK
from airflow_scraping_etl_tutorial_spark.sources.tables import load

SF_DIR = "/root/testdata/sf0.001"


def test_distributed_backfill_fetch(spark, monkeypatch):
    """A 3-day backfill through the executor-side fan-out: each date is
    fetched in a mapInPandas batch; a failing day degrades to a
    null-stat row (alert route), not a job failure."""
    payloads = {"20220819": GOLDEN_OK, "20220820": GOLDEN_CLOSED}

    def fake_fetch(url: str, timeout: float = 30.0) -> dict:
        date = url.rsplit("=", 1)[-1]
        if date == "20990101":
            raise OSError("unreachable")
        return payloads[date]

    monkeypatch.setattr(twse, "_http_get_json", fake_fetch)
    df = twse.fetch_payloads_distributed(
        spark, ["20220819", "20220820", "20990101"]
    )
    rows = {r.date: r for r in df.collect()}
    assert rows["20220819"].stat == "OK"
    assert rows["20220820"].stat != "OK"
    assert rows["20990101"].stat is None  # failed fetch -> null-stat row

    # and the good day flows through the normal transform unchanged
    wide = pivot_to_sink_schema(clean_long(df))
    assert wide.count() == 1
    assert wide.first().dt == "20220819"


def test_distributed_backfill_load_fetches_each_day_once(spark, monkeypatch, tmp_path):
    """run_daily_load over the executor-side fetch: one action, so each
    date is fetched exactly once; the good day loads and the failed one
    alerts."""
    from airflow_scraping_etl_tutorial_spark.pipeline.investment import (
        read_sink,
        run_daily_load,
    )

    payloads = {"20220819": GOLDEN_OK, "20220820": GOLDEN_CLOSED}
    log = tmp_path / "fetches.log"

    def fake_fetch(url: str, timeout: float = 30.0) -> dict:
        date = url.rsplit("=", 1)[-1]
        with open(log, "a") as f:  # the UDF runs in a Python worker process
            f.write(date + "\n")
        if date not in payloads:
            raise OSError("unreachable")
        return payloads[date]

    monkeypatch.setattr(twse, "_http_get_json", fake_fetch)
    dates = ["20220819", "20220820", "20990101"]
    sink = str(tmp_path / "sink")
    res = run_daily_load(spark, twse.fetch_payloads_distributed(spark, dates), sink)
    assert sorted(log.read_text().split()) == dates
    assert (res.route, res.days_loaded, res.alerts) == ("alert", 1, ["20990101"])
    assert [r.dt for r in read_sink(spark, sink).collect()] == ["20220819"]


def test_events_ts_microsecond_conversion(spark):
    """tables.load converts TIMESTAMP(NANOS) -> TimestampType exactly
    (integer ns->µs division, cross-checked against DuckDB's reading
    of the same file)."""
    import duckdb

    e = load(spark, SF_DIR, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    got = {
        r.event_id: r.us
        for r in e.select("event_id", F.unix_micros("ts").alias("us"))
        .orderBy("event_id")
        .limit(5)
        .collect()
    }
    duck = dict(
        duckdb.sql(
            f"SELECT event_id, CAST(EPOCH_US(ts) AS BIGINT) FROM "
            f"read_parquet('{SF_DIR}/events.parquet') ORDER BY event_id LIMIT 5"
        ).fetchall()
    )
    assert got == duck


def test_events_ts_normalized_for_all_on_disk_formats(spark, tmp_path):
    """tables.load's ts contract: TimestampType with identical instants
    no matter how a fixture drop landed on disk — TIMESTAMP(NANOS)
    (read as raw long under nanosAsLong), timestamp[us] WITHOUT
    timezone (TIMESTAMP_NTZ under Spark 4), or tz-aware timestamp[us].
    Guards against the Spark-4 fixture drift that broke unix_micros
    call sites (sessionization q82, as-of join q84)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from airflow_scraping_etl_tutorial_spark.sources import tables

    micros = [1660867200000000, 1660867260500000, 1660870800123456]
    base = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 10, 11], pa.int64()),
        "event_type": pa.array(["view", "click", "purchase"]),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(['{"k": 1}'] * 3),
    }
    variants = {
        "ns": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
        "ntz": pa.array(micros, pa.timestamp("us")),
        "tz": pa.array(micros, pa.timestamp("us", tz="UTC")),
    }
    for name, ts_arr in variants.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table({**base, "ts": ts_arr}), str(d / "events.parquet")
        )
        df = tables.load(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", name
        got = [
            r.us
            for r in df.select(F.unix_micros("ts").alias("us"))
            .orderBy("event_id")
            .collect()
        ]
        assert got == micros, name


def test_real_http_client_against_recorded_cassette(spark, monkeypatch):
    """S1 cassette test: the REAL client (_http_get_json -> urlopen,
    nothing stubbed) fetches the recorded golden TWSE payload from a
    local HTTP server and the result flows through the full transform
    to the exact 13-column sink row. This closes the gap between the
    module-seam stubs above and the reference's live fetch
    (dags/Final_app.py:26-28): the bytes on the wire, the HTTP status
    handling, and the JSON decode path are all the production ones —
    only the host differs."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from airflow_scraping_etl_tutorial_spark.sources.golden import (
        GOLDEN_OK_EXPECTED,
    )

    requested = []

    class _Cassette(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (http.server API)
            requested.append(self.path)
            body = json.dumps(GOLDEN_OK).encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # silence test output
            pass

    srv = HTTPServer(("127.0.0.1", 0), _Cassette)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        monkeypatch.setattr(
            twse,
            "TWSE_URL",
            f"http://127.0.0.1:{srv.server_port}"
            "/fund/BFI82U?response=json&dayDate={date}",
        )
        df = twse.fetch_payloads(spark, ["20220819"])
        # the client sent the reference's exact query string
        assert requested == ["/fund/BFI82U?response=json&dayDate=20220819"]
        row = pivot_to_sink_schema(clean_long(df)).first().asDict()
        assert row == GOLDEN_OK_EXPECTED
    finally:
        srv.shutdown()
