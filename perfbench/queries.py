"""Query workloads: cold passes over a fixed list of catalog queries.

One client issues one query at a time. Before every query the session's
tagged intermediates, local-checkpoint blocks and cached tables are
released, as bench.py does, so no query reads another's cached data.
A query operation is that release, the build (``spec.fn(spark,
sf_dir)``, which includes any eager checkpoint jobs) and the execution
(a noop-sink write of the returned DataFrame).
"""

from __future__ import annotations

import json
import os
import time

import engine
import fixtures
from digest import digest

from airflow_scraping_etl_tutorial_spark.functions.caching import (
    release_session_checkpoints,
    release_session_intermediates,
)

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
# Queries whose outputs a run checks, rotating with the seed so a few
# consecutive seeds cover the whole list. Each check re-executes its
# query outside the timed region; checking every query in every run
# would add 10-20 s to a 45 s run.
CHECKS_PER_RUN = 3


def load_digests() -> dict:
    with open(DIGESTS) as f:
        data = json.load(f)
    if data["fixtures_version"] != fixtures.VERSION:
        raise SystemExit("digests.json was derived from other fixtures; rerun oracle_check.py")
    return data["digests"]


def verify_set(names, seed: int, per_run: int) -> set[str]:
    """Queries whose output is checked in this run: every k-th of the
    list (k = len / per_run), rotating with the seed so k consecutive
    seeds together cover the whole list."""
    stride = max(1, round(len(names) / per_run))
    return {n for i, n in enumerate(names) if (i + seed) % stride == 0}


def run(ctx, names, seed: int, seconds: float) -> None:
    spark, out = ctx.spark, ctx.outcome
    expected = load_digests()
    checked = verify_set(names, seed, CHECKS_PER_RUN)
    start = time.perf_counter()
    while True:
        wall = cpu = 0.0
        for name in names:
            m = _run_query(ctx, name, name in checked, expected[name])
            wall, cpu = wall + m.wall, cpu + m.cpu
        out.pass_s.append(wall)
        out.pass_cpu_s.append(cpu)
        checked = set()  # outputs are checked on the first pass only
        if time.perf_counter() - start + wall > seconds:
            break
    # leave nothing cached behind the last query
    release_session_intermediates(spark, blocking=True)
    release_session_checkpoints(spark, blocking=True)
    spark.catalog.clearCache()


def _run_query(ctx, name: str, check: bool, want: dict):
    """Run one query (release, build, execute); returns its Measured."""
    spark, tr, out = ctx.spark, ctx.tracer, ctx.outcome
    sc = spark.sparkContext
    tr.op = f"{name}#{len(out.op_s)}"
    out.attempted += 1
    df = None
    try:
        with ctx.measure() as m:
            with tr.span("caching.release"):
                released = release_session_intermediates(spark, blocking=True)
                released += release_session_checkpoints(spark, blocking=True)
                spark.catalog.clearCache()
            if tr.enabled:
                sc.setJobGroup(f"{tr.op}/build", name)
            with tr.span("plans.build"):
                df = ctx.specs[name].fn(spark, ctx.sf_dir)
            if tr.enabled:
                sc.setJobGroup(f"{tr.op}/exec", name)
                last = engine.last_execution_id(spark)
            with tr.span("engine.exec"):
                df.write.format("noop").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001 - a failing query is counted, the pass goes on
        out.fail(f"{name}: raised {type(e).__name__}: {str(e)[:200]}")
        return m
    out.op_s.append(m.wall)
    out.op_cpu_s.append(m.cpu)
    if tr.enabled:
        with tr.probe():
            tr.count("caching.released", released)
            tr.count("plans.build_jobs", engine.job_counts(spark, f"{tr.op}/build")[0])
            jobs, tasks = engine.job_counts(spark, f"{tr.op}/exec")
            tr.count("engine.jobs", jobs)
            tr.count("engine.tasks", tasks)
            for k, v in engine.plan_counts(spark, engine.executions_after(spark, last)).items():
                tr.count(f"engine.{k}", v)
            out.held_mb_max = max(out.held_mb_max, engine.held_mb(spark))
            sc.setJobGroup("", "")
    if check:
        tv = time.perf_counter()
        try:
            got = digest([tuple(r) for r in df.collect()], df.columns)
        except Exception as e:  # noqa: BLE001
            out.fail(f"{name}: collect for the digest check raised {type(e).__name__}")
        else:
            if got != want:
                out.fail(f"{name}: output digest {got} != stored {want}")
        out.verify_s += time.perf_counter() - tv
    return m
