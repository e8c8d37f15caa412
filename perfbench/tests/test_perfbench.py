"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import digest  # noqa: E402
import etl  # noqa: E402
import fixtures  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from pyspark.sql import Row  # noqa: E402

from airflow_scraping_etl_tutorial_spark.sources.tables import TABLES  # noqa: E402


def test_etl_plan_is_deterministic_per_seed():
    a, b, c = etl.make_plan(7), etl.make_plan(7), etl.make_plan(8)
    assert a.backfill.payloads == b.backfill.payloads
    assert [(s.kind, s.payloads, s.read_dt) for s in a.steps] == [(s.kind, s.payloads, s.read_dt) for s in b.steps]
    assert [(s.kind, s.payloads) for s in a.steps] != [(s.kind, s.payloads) for s in c.steps]


def test_etl_payloads_are_exact_and_consistent():
    plan = etl.make_plan(3, backfill_days=60, mix=[(k, 8) for k, _ in etl.STEP_MIX])
    rows = etl.expected_sink(plan)
    negative = False
    payloads = dict(plan.backfill.payloads)
    for step in plan.steps:
        payloads.update(step.payloads)
    for dt, want in rows.items():
        p = payloads[dt]
        assert p["stat"] == "OK" and len(p["data"]) == 5
        for label, prefix in etl.twse.CATEGORIES:
            (row,) = [r for r in p["data"] if r[0] == label]
            buy, sell, dif = (int(v.replace(",", "")) for v in row[1:])
            assert (buy, sell, dif) == (want[f"{prefix}_buy"], want[f"{prefix}_sell"], want[f"{prefix}_dif"])
            assert dif == buy - sell
            negative |= dif < 0
    assert negative
    kinds = {s.kind for s in plan.steps}
    assert kinds == {"new", "rerun", "closed", "drift", "failed"}
    # failed fetches appear only in single-day runs
    assert all(p["stat"] is not None for p in plan.backfill.payloads.values())


def test_fixture_tables_are_deterministic():
    a, b = fixtures._tables(0.0005), fixtures._tables(0.0005)
    assert set(a) == set(TABLES)
    for name in a:
        assert a[name].equals(b[name]), name


def test_corrupted_query_output_changes_the_digest():
    cols = ["k", "v", "s"]
    rows = [(1, 0.1 + 0.2, "a"), (2, None, "b"), (3, float("nan"), "c")]
    want = digest.digest(rows, cols)
    assert digest.digest(list(reversed(rows)), cols) == want  # order-insensitive
    assert digest.digest([(1, 0.30000000000000004, "a"), *rows[1:]], cols) == want  # 9 significant digits
    assert digest.digest([(1, 0.31, "a"), *rows[1:]], cols) != want
    assert digest.digest(rows[:2], cols) != want
    assert digest.digest([*rows, rows[0]], cols) != want


def test_corrupted_sink_row_is_caught():
    plan = etl.make_plan(5)
    dt, want = sorted(etl.expected_sink(plan).items())[0]
    good = Row(**{k: (v if k == "dt" else etl.Decimal(v)) for k, v in want.items()})
    assert etl.row_matches(good, want)
    bad = good.asDict()
    bad["foreign_dif"] += 1
    assert not etl.row_matches(Row(**bad), want)


def test_self_time_subtracts_the_union_of_children():
    tr = spans.Tracer(True)
    tr.spans = [
        {"name": "jobs.main", "start": 0.0, "end": 10.0, "parent": None, "op": "x"},
        {"name": "pipeline.run_daily_load", "start": 2.0, "end": 8.0, "parent": 0, "op": "x"},
        {"name": "sources.payloads_to_df", "start": 1.0, "end": 3.0, "parent": 0, "op": "x"},
        {"name": "pipeline.sink_write", "start": 5.0, "end": 9.0, "parent": 1, "op": "x"},
    ]
    selfs = tr.self_times()
    assert selfs["jobs.main"] == pytest.approx(10 - 7)  # children cover [1, 8]
    assert selfs["pipeline.run_daily_load"] == pytest.approx(6 - 3)  # child clipped to [5, 8]
    assert selfs["pipeline.sink_write"] == pytest.approx(4)
    assert spans.covered(0, 10, [(1, 2), (1.5, 3), (4, 5)]) == pytest.approx(3)


def test_untraced_tracer_records_nothing():
    tr = spans.Tracer(False)
    with tr.span("plans.build"):
        tr.count("engine.jobs", 3)
    assert tr.spans == [] and not tr.counts


def test_printed_metric_names_match_benchmark_json(monkeypatch):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = run.Outcome()
    out.attempted, out.pass_s, out.pass_cpu_s = 3, [2.0], [5.0]
    out.op_s, out.op_cpu_s = [0.5, 0.7, 0.9], [1.0, 1.5, 2.0]
    e2e = run.end_to_end(out, 1.5)
    assert list(e2e) == [m["name"] for m in spec["end_to_end"]]
    assert all(e2e[m["name"]][1] == m["unit"] for m in spec["end_to_end"])

    import engine
    import host

    monkeypatch.setattr(host, "rss_peak_mb", lambda pid: 1.0)
    ctx = run.Context(None, {}, spans.Tracer(True), out, ROOT)
    layer = run.per_layer(ctx, out)
    assert list(layer) == [m["name"] for m in spec["per_layer"]]
    assert all(layer[m["name"]][1] == m["unit"] for m in spec["per_layer"])
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
