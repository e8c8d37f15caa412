"""The offline TWSE ETL workload.

A seeded generator writes TWSE BFI82U payloads in the shapes of
``sources/golden.py``: trading days with random exact money values
(buy and sell up to 10^11, so the buy-sell difference is often
negative), market-closed weekends, arity-drift days (an extra category
row, as in the pre-IFRS format) and, in single-day runs only, failed
fetches (a ``stat``-null row, as ``fetch_payloads_distributed`` yields).

A pass loads an N-day backfill into a fresh sink through
``jobs.daily_load.main(argv, fetcher=...)``, then runs K steps. A step
is one single-day ``main()`` call (a new day, a rerun of a loaded day, a
closed day, a drift day or a failed fetch) followed by one single-day
``pipeline.investment.read_sink(dt).collect()`` of a loaded day. Every
route, exit code and row read back is compared with the generator's
expectation.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from datetime import date, timedelta
from decimal import Decimal

import engine

from airflow_scraping_etl_tutorial_spark.jobs import daily_load
from airflow_scraping_etl_tutorial_spark.pipeline import investment
from airflow_scraping_etl_tutorial_spark.sources import golden, twse

BACKFILL_DAYS = 30
FIRST_DAY = date(2023, 1, 2)
# Steps per pass by kind. The seed shuffles their order and draws their
# dates and values; fixed counts keep the work of a pass the same
# across seeds.
STEP_MIX = (("new", 3), ("rerun", 2), ("closed", 1), ("drift", 1), ("failed", 1))
MONEY_MAX = 10**11
EXPECTED_EXIT = {"loaded": 0, "market_closed": 0, "alert": 3}


def _fmt(n: int) -> str:
    return f"{n:,}"


def _trading(dt: str, rng: random.Random, drift: bool) -> tuple[dict, dict | None]:
    rows, expected = [], {"dt": dt}
    labels = [(label, prefix) for label, prefix in twse.CATEGORIES]
    if drift:
        labels.insert(0, ("自營商", None))  # the pre-split dealer row
    totals = [0, 0, 0]
    for label, prefix in labels:
        buy, sell = rng.randrange(MONEY_MAX), rng.randrange(MONEY_MAX)
        vals = (buy, sell, buy - sell)
        rows.append([label, *map(_fmt, vals)])
        totals = [t + v for t, v in zip(totals, vals)]
        if prefix:
            expected.update({f"{prefix}_buy": buy, f"{prefix}_sell": sell, f"{prefix}_dif": buy - sell})
    rows.append([twse.TOTAL_ROW_LABEL, *map(_fmt, totals)])
    payload = {
        "stat": "OK",
        "title": f"{dt} 三大法人買賣金額統計表",
        "fields": golden.FIELDS,
        "date": dt,
        "data": rows,
        "params": {"response": "json", "dayDate": dt},
        "notes": None,
    }
    return payload, None if drift else expected


def _closed(dt: str) -> dict:
    return {**golden.GOLDEN_CLOSED, "date": dt, "params": {"response": "json", "dayDate": dt}}


def _failed(dt: str) -> dict:
    return {"stat": None, "title": None, "fields": None, "date": dt, "data": None, "params": None, "notes": None}


@dataclass
class Call:
    """One main() call: its dates, payloads and expected outcome."""

    kind: str
    dates: list[str]
    payloads: dict[str, dict]
    rows: dict[str, dict]  # rows this call must leave in the sink
    route: str
    read_dt: str | None = None  # the day read back after the call

    def exit_ok(self, rc: int) -> bool:
        # sources/twse.py documents that a failed fetch routes to the
        # alert path, so the run must exit non-zero for a retry
        return rc != 0 if self.kind == "failed" else rc == EXPECTED_EXIT[self.route]


@dataclass
class Plan:
    backfill: Call
    steps: list[Call] = field(default_factory=list)


def make_plan(seed: int, backfill_days: int = BACKFILL_DAYS, mix=STEP_MIX) -> Plan:
    """The backfill has one drift day among its weekdays, so it loads
    every other weekday and exits with the alert code."""
    rng = random.Random(seed)
    day = lambda i: (FIRST_DAY + timedelta(days=i)).strftime("%Y%m%d")  # noqa: E731
    weekday = lambda i: (FIRST_DAY + timedelta(days=i)).weekday() < 5  # noqa: E731

    payloads, loaded = {}, {}  # every payload made; the rows the sink must hold
    drift_day = rng.choice([i for i in range(backfill_days) if weekday(i)])
    for i in range(backfill_days):
        dt = day(i)
        if weekday(i):
            payloads[dt], row = _trading(dt, rng, drift=i == drift_day)
            if row:
                loaded[dt] = row
        else:
            payloads[dt] = _closed(dt)
    plan = Plan(Call("backfill", [day(0), day(backfill_days - 1)], dict(payloads), dict(loaded), "alert"))

    frontier = backfill_days
    kinds = [kind for kind, n in mix for _ in range(n)]
    rng.shuffle(kinds)
    for kind in kinds:
        rows = {}
        if kind in ("new", "drift", "failed"):
            while not weekday(frontier):
                frontier += 1
            dt = day(frontier)
            frontier += 1
        elif kind == "rerun":
            dt = rng.choice(sorted(loaded))
        else:  # closed: a weekend inside the loaded range or just past it
            i = rng.randrange(frontier + 7)
            while weekday(i):
                i += 1
            dt = day(i)
        if kind == "new":
            payloads[dt], loaded[dt] = _trading(dt, rng, drift=False)
            rows, route = {dt: loaded[dt]}, "loaded"
        elif kind == "rerun":
            rows, route = {dt: loaded[dt]}, "loaded"
        elif kind == "closed":
            payloads[dt], route = _closed(dt), "market_closed"
        elif kind == "drift":
            payloads[dt], route = _trading(dt, rng, drift=True)[0], "alert"
        else:
            payloads[dt], route = _failed(dt), "alert"
        plan.steps.append(Call(kind, [dt], {dt: payloads[dt]}, rows, route, rng.choice(sorted(loaded))))
    return plan


def expected_sink(plan: Plan, upto: int | None = None) -> dict[str, dict]:
    rows = dict(plan.backfill.rows)
    for call in plan.steps[:upto]:
        rows.update(call.rows)
    return rows


def row_matches(row, want: dict) -> bool:
    got = row.asDict()
    return set(got) == set(want) and all(
        got[k] == (v if k == "dt" else Decimal(v)) for k, v in want.items()
    )


def run(ctx, seconds: float) -> None:
    tr, out, plan = ctx.tracer, ctx.outcome, ctx.etl_plan
    patches = _trace_patches(tr, ctx.spark) if tr.enabled else contextlib.nullcontext()
    start = time.perf_counter()
    n = 0
    with patches:
        while True:
            sink = os.path.join(ctx.work, f"etl-sink-{os.getpid()}-{n}")
            shutil.rmtree(sink, ignore_errors=True)
            try:
                _run_pass(ctx, plan, sink)
                _check_sink(ctx, plan, sink)
            finally:
                shutil.rmtree(sink, ignore_errors=True)
            n += 1
            if time.perf_counter() - start + out.pass_s[-1] > seconds:
                break


def _run_pass(ctx, plan: Plan, sink: str) -> None:
    spark, tr, out = ctx.spark, ctx.tracer, ctx.outcome
    bf = plan.backfill
    m = _main(ctx, bf, sink, ["--date", bf.dates[0], "--backfill-to", bf.dates[1]])
    wall, cpu = m.wall, m.cpu
    if tr.enabled:
        out.backfill_days_per_s.append(len(bf.payloads) / m.wall)
    for i, call in enumerate(plan.steps):
        run_m = _main(ctx, call, sink, ["--date", call.dates[0]])
        want = expected_sink(plan, i + 1)[call.read_dt]
        tr.op = f"read {call.read_dt}"
        out.attempted += 1
        rows = None
        try:
            if tr.enabled:
                spark.sparkContext.setJobGroup(tr.op, tr.op)
            with ctx.measure() as read_m, tr.span("pipeline.read_sink"):
                rows = investment.read_sink(spark, sink, call.read_dt).collect()
        except Exception as e:  # noqa: BLE001
            out.fail(f"read {call.read_dt}: raised {type(e).__name__}: {str(e)[:200]}")
        if tr.enabled:
            with tr.probe():
                tr.count("pipeline.read_tasks", engine.job_counts(spark, tr.op)[1])
                tr.count("pipeline.reads", 1)
        if rows is not None and not (len(rows) == 1 and row_matches(rows[0], want)):
            out.fail(f"read {call.read_dt}: got {len(rows)} rows, not the loaded day")
        out.op_s.append(run_m.wall + read_m.wall)
        out.op_cpu_s.append(run_m.cpu + read_m.cpu)
        wall, cpu = wall + run_m.wall + read_m.wall, cpu + run_m.cpu + read_m.cpu
    out.pass_s.append(wall)
    out.pass_cpu_s.append(cpu)


def _main(ctx, call: Call, sink: str, argv: list[str]):
    """One main() call; checks its route and exit code. Returns its
    Measured."""
    tr, out = ctx.tracer, ctx.outcome
    tr.op = f"{call.kind} {call.dates[0]}"
    out.attempted += 1

    def fetcher(spark_, dates):
        with tr.span("sources.payloads_to_df"):
            return twse.payloads_to_df(spark_, [call.payloads[d] for d in dates])

    printed = io.StringIO()
    try:
        with contextlib.redirect_stdout(printed), ctx.measure() as m, tr.span("jobs.main"):
            rc = daily_load.main([*argv, "--sink", sink], fetcher=fetcher)
    except Exception as e:  # noqa: BLE001
        out.fail(f"{tr.op}: raised {type(e).__name__}: {str(e)[:200]}")
        return m
    text = printed.getvalue()
    route = text.split("route=", 1)[1].split()[0] if "route=" in text else "?"
    if route != call.route or not call.exit_ok(rc):
        msg = f"{tr.op}: route={route} exit={rc}, expected route={call.route}"
        if call.kind == "failed" and route == "market_closed" and rc == 0:
            out.contract_gap(msg + " and a non-zero exit (documented failed-fetch alert path)")
        else:
            out.fail(msg)
    return m


def _check_sink(ctx, plan: Plan, sink: str) -> None:
    """Whole-sink check after a pass: every loaded day exactly once,
    with the generator's exact decimals; nothing else."""
    spark, tr, out = ctx.spark, ctx.tracer, ctx.outcome
    want = expected_sink(plan)
    rows = investment.read_sink(spark, sink).collect()
    by_dt: dict[str, list] = {}
    for r in rows:
        by_dt.setdefault(r["dt"], []).append(r)
    bad = [dt for dt in set(want) | set(by_dt) if len(by_dt.get(dt, [])) != 1 or dt not in want or not row_matches(by_dt[dt][0], want[dt])]
    if bad:
        out.fail(f"sink check: {len(bad)} days differ from the generator, e.g. {sorted(bad)[:3]}")
    if tr.enabled:
        parts = [d for d in os.listdir(sink) if d.startswith("dt=")]
        files = sizes = 0
        for p in parts:
            for f in os.listdir(os.path.join(sink, p)):
                if f.endswith(".parquet"):
                    files += 1
                    sizes += os.path.getsize(os.path.join(sink, p, f))
        out.sink = {"partitions": len(parts), "files_per_partition": files / max(1, len(parts)),
                    "bytes_per_day": sizes / max(1, len(parts))}


@contextlib.contextmanager
def _trace_patches(tr, spark):
    """Spans around the pipeline calls main() makes, taken from outside
    by wrapping the public functions for the length of the run."""
    from pyspark.sql import DataFrameWriter

    DataFrame = type(spark.range(0))  # the session's concrete DataFrame class

    orig_run, orig_collect, orig_parquet = investment.run_daily_load, DataFrame.collect, DataFrameWriter.parquet

    def run_daily_load(*a, **k):
        with tr.span("pipeline.run_daily_load"):
            return orig_run(*a, **k)

    def collect(self):
        if tr.current != "pipeline.run_daily_load":
            return orig_collect(self)
        with tr.span("pipeline.validate_collect"):
            return orig_collect(self)

    def parquet(self, *a, **k):
        if tr.current != "pipeline.run_daily_load":
            return orig_parquet(self, *a, **k)
        with tr.span("pipeline.sink_write"):
            return orig_parquet(self, *a, **k)

    investment.run_daily_load, DataFrame.collect, DataFrameWriter.parquet = run_daily_load, collect, parquet
    try:
        yield
    finally:
        investment.run_daily_load, DataFrame.collect, DataFrameWriter.parquet = orig_run, orig_collect, orig_parquet
