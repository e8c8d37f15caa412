"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of BENCHMARK.json in one process with one client.
Prints a readable report, then, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
spans and counters are recorded from outside the program and the
metrics are the per-layer ones. Spans are written to
``.bench_build/perfbench/spans-<workload>-<seed>.json``.

Everything the run writes stays under ``.bench_build/perfbench`` in the
directory it is started from, which must be the repository root.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import engine  # noqa: E402
import host  # noqa: E402
from workloads import ETL_WORKLOAD, QUERY_WORKLOADS, SF, WORKLOADS  # noqa: E402

DRIVER_MEMORY = "6g"


class Outcome:
    """What a run measured and what went wrong."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []
        self.gaps: list[str] = []
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.op_s: list[float] = []
        self.op_cpu_s: list[float] = []
        self.held_mb_max = 0.0
        self.verify_s = 0.0
        self.backfill_days_per_s: list[float] = []
        self.sink = {"partitions": 0, "files_per_partition": 0.0, "bytes_per_day": 0.0}

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def contract_gap(self, msg: str) -> None:
        """An operation whose data is right but whose exit code departs
        from the program's documented contract (a known open defect)."""
        self.gaps.append(msg)


class Measured:
    wall = cpu = 0.0


class Context:
    def __init__(self, spark, specs, tracer, outcome, work, sf_dir=None, etl_plan=None):
        self.spark, self.specs, self.tracer, self.outcome = spark, specs, tracer, outcome
        self.work, self.sf_dir, self.etl_plan = work, sf_dir, etl_plan
        self.jvm_pid = engine.jvm_pid(spark) if spark is not None else os.getpid()

    @contextlib.contextmanager
    def measure(self):
        """Wall and process-tree CPU time of one timed operation; in a
        traced run also the host's steal and iowait around it."""
        m = Measured()
        traced = self.tracer.enabled
        if traced:
            steal0, iowait0 = host.steal_iowait()
        cpu0 = host.tree_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            yield m
        finally:
            m.wall = time.perf_counter() - t0
            m.cpu = host.tree_cpu_s(self.jvm_pid) - cpu0
            if traced:
                steal1, iowait1 = host.steal_iowait()
                self.tracer.count("host.steal_jiffies", steal1 - steal0)
                self.tracer.count("host.iowait_jiffies", iowait1 - iowait0)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (q in [0, 100])."""
    xs = sorted(values)
    k = (len(xs) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _setup_env(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    # every JVM, spark-submit's launcher included: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def _warm_up(spark, sf_dir: str) -> None:
    """One small scan-join-aggregate and one Arrow map, so the JVM's
    first-query class loading and the Python worker start are paid in
    set-up rather than by the first query of the list."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation.join(region, nation.n_regionkey == region.r_regionkey).groupBy("r_name").count().collect()
    nation.mapInArrow(lambda batches: batches, nation.schema).collect()


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def end_to_end(out: Outcome, setup_s: float) -> dict[str, tuple[float, str, int]]:
    return {
        "setup_s": (setup_s, "s", 1),
        "pass_cpu_s": (statistics.median(out.pass_cpu_s), "s", len(out.pass_cpu_s)),
        "op_cpu_s_geomean": (statistics.geometric_mean(out.op_cpu_s), "s", len(out.op_cpu_s)),
    }


def per_layer(ctx: Context, out: Outcome) -> dict[str, tuple[float, str, int]]:
    tr = ctx.tracer
    passes = len(out.pass_s)
    busy = sum(out.pass_s)
    selfs = tr.self_times()
    c = tr.counts
    pct = lambda v: 100 * v / busy  # noqa: E731
    per_pass = lambda k: c.get(k, 0) / passes  # noqa: E731
    m = {
        "pass_s": (statistics.median(out.pass_s), "s", passes),
        "op_s_p50": (statistics.median(out.op_s), "s", len(out.op_s)),
        "op_s_p90": (percentile(out.op_s, 90), "s", len(out.op_s)),
        "session.get_spark_s": (tr.total("session.get_spark"), "s", 1),
        "plans.all_queries_s": (tr.total("plans.all_queries"), "s", 1),
        "plans.build_pct": (pct(tr.total("plans.build")), "%", passes),
        "plans.build_jobs": (per_pass("plans.build_jobs"), "count", passes),
        "engine.exec_pct": (pct(tr.total("engine.exec")), "%", passes),
    }
    for k in ("jobs", "tasks", "shuffle_exchanges", "reused_exchanges", "broadcast_exchanges",
              "scan_rows", "python_nodes", "python_rows"):
        m[f"engine.{k}"] = (per_pass(f"engine.{k}"), "count", passes)
    m["engine.shuffle_write_bytes"] = (per_pass("engine.shuffle_write_bytes"), "B", passes)
    m["engine.python_bytes_sent"] = (per_pass("engine.python_bytes_sent"), "B", passes)
    m["caching.release_pct"] = (pct(tr.total("caching.release")), "%", passes)
    m["caching.released"] = (per_pass("caching.released"), "count", passes)
    m["caching.held_mb_max"] = (out.held_mb_max, "MB", passes)
    m["sources.payloads_to_df_pct"] = (pct(tr.total("sources.payloads_to_df")), "%", passes)
    m["jobs.main_self_pct"] = (pct(selfs.get("jobs.main", 0)), "%", passes)
    m["pipeline.run_daily_load_self_pct"] = (pct(selfs.get("pipeline.run_daily_load", 0)), "%", passes)
    m["pipeline.validate_collect_pct"] = (pct(tr.total("pipeline.validate_collect")), "%", passes)
    m["pipeline.sink_write_pct"] = (pct(tr.total("pipeline.sink_write")), "%", passes)
    m["pipeline.read_sink_pct"] = (pct(tr.total("pipeline.read_sink")), "%", passes)
    reads = c.get("pipeline.reads", 0)
    m["pipeline.read_tasks"] = (c.get("pipeline.read_tasks", 0) / reads if reads else 0.0, "count", int(reads))
    bf = out.backfill_days_per_s
    m["etl.backfill_days_per_s"] = (statistics.median(bf) if bf else 0.0, "1/s", len(bf))
    m["sink.partitions"] = (out.sink["partitions"], "count", 1)
    m["sink.files_per_partition"] = (out.sink["files_per_partition"], "count", 1)
    m["sink.bytes_per_day"] = (out.sink["bytes_per_day"], "B", 1)
    m["host.steal_jiffies"] = (per_pass("host.steal_jiffies"), "count", passes)
    m["host.iowait_jiffies"] = (per_pass("host.iowait_jiffies"), "count", passes)
    with tr.probe():
        m["host.jvm_rss_peak_mb"] = (host.rss_peak_mb(ctx.jvm_pid), "MB", 1)
    m["trace.overhead_s"] = (tr.overhead_s / passes, "s", passes)
    failed = len(out.failures) + len(out.gaps)
    m["ops_failed_ratio"] = (failed / out.attempted, "ratio", out.attempted)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import airflow_scraping_etl_tutorial_spark  # noqa: F401
    except ImportError:
        print("perfbench: run from the repository root (package not found)", file=sys.stderr)
        return 2

    import fixtures
    from spans import Tracer

    work = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    conf = _setup_env(work)
    build_start = time.perf_counter()
    sf_dir = fixtures.ensure(work, SF) if args.workload in QUERY_WORKLOADS else None
    build_s = time.perf_counter() - build_start

    tracer, out = Tracer(bool(args.trace)), Outcome()
    from airflow_scraping_etl_tutorial_spark.plans import all_queries
    from airflow_scraping_etl_tutorial_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", extra_conf=conf)
    with tracer.span("plans.all_queries"):
        specs = all_queries()
    etl_plan = None
    if sf_dir:
        with tracer.span("session.warm_up"):
            _warm_up(spark, sf_dir)
    if args.workload == ETL_WORKLOAD:
        import etl

        with tracer.span("etl.make_plan"):
            etl_plan = etl.make_plan(args.seed)
    setup_s = time.perf_counter() - PROCESS_START - build_s
    ctx = Context(spark, specs, tracer, out, work, sf_dir, etl_plan)

    try:
        if args.workload == ETL_WORKLOAD:
            etl.run(ctx, args.seconds)
        else:
            import queries

            queries.run(ctx, QUERY_WORKLOADS[args.workload], args.seed, args.seconds)
        metrics = per_layer(ctx, out) if tracer.enabled else end_to_end(out, setup_s)
    finally:
        _stop(spark)
    if tracer.enabled:
        tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"))

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    for name, (value, unit, n) in metrics.items():
        print(f"  {name:36s} {value:14.6g} {unit:6s} n={n}")
    for msg in out.failures:
        print(f"  FAILED: {msg}")
    for msg in out.gaps:
        print(f"  CONTRACT GAP (not counted in 'failed'): {msg}")
    print(f"  (output checks took {out.verify_s:.1f} s outside the timed region; run wall {time.perf_counter() - PROCESS_START:.1f} s)")
    verdict = "correct" if not out.failures else "INCORRECT"
    print(f"  verdict: {verdict} ({out.attempted} operations, {len(out.failures)} failed, {len(out.gaps)} contract gaps)")
    print(
        json.dumps(
            {
                "correct": not out.failures,
                "attempted": out.attempted,
                "failed": len(out.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
