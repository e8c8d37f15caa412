"""Engine counters read from outside the program after an action.

Only the traced run calls these. The plan counts come from the SQL
status store's graph of each executed query, which Spark updates to the
final adaptive plan (isFinalPlan=true) as stages finish; a reused
exchange shows there as an extra edge out of the exchange it reuses.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
PYTHON_METRIC = "data sent to Python workers"


def metric_value(text: str) -> float:
    """Parse a formatted SQL metric: '1,234', '8.6 MiB', or the
    'total (min, med, max ...)\\n11.1 KiB (...)' form."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([KMGT]?i?B)?", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2) or "", 1)


def _store(spark: SparkSession):
    return spark._jsparkSession.sharedState().statusStore()


def last_execution_id(spark: SparkSession) -> int:
    execs = _store(spark).executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def executions_after(spark: SparkSession, after: int) -> list[int]:
    execs = _store(spark).executionsList()
    out = []
    for i in range(execs.size() - 1, -1, -1):
        eid = execs.apply(i).executionId()
        if eid <= after:
            break
        out.append(eid)
    return out


def plan_counts(spark: SparkSession, execution_ids: list[int]) -> dict[str, float]:
    """Exchange, scan and Python-node counts of executed plans."""
    store = _store(spark)
    out = dict.fromkeys(
        (
            "shuffle_exchanges",
            "reused_exchanges",
            "broadcast_exchanges",
            "shuffle_write_bytes",
            "scan_rows",
            "python_nodes",
            "python_rows",
            "python_bytes_sent",
        ),
        0.0,
    )
    for eid in execution_ids:
        graph = store.planGraph(eid)
        values = store.executionMetrics(eid)
        out_degree: dict[int, int] = {}
        edges = graph.edges()
        for i in range(edges.size()):
            src = edges.apply(i).fromId()
            out_degree[src] = out_degree.get(src, 0) + 1
        seen = set()
        nodes = graph.allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            metrics = {}
            jm = node.metrics()
            for j in range(jm.size()):
                m = jm.apply(j)
                v = values.get(m.accumulatorId())
                metrics[m.name()] = (m.accumulatorId(), v.get() if v.isDefined() else None)
            key = (name, tuple(sorted(a for a, _ in metrics.values())))
            if not metrics or key in seen:
                continue  # a cached plan's subtree is listed once per reader
            seen.add(key)
            val = lambda k: metric_value(metrics[k][1]) if metrics.get(k, (0, None))[1] else 0.0  # noqa: E731
            if name == "Exchange":
                out["shuffle_exchanges"] += 1
                out["shuffle_write_bytes"] += val("shuffle bytes written")
            elif name == "BroadcastExchange":
                out["broadcast_exchanges"] += 1
            elif name == "ReusedExchange":
                out["reused_exchanges"] += 1
            if name in ("Exchange", "BroadcastExchange"):
                out["reused_exchanges"] += max(0, out_degree.get(node.id(), 1) - 1)
            if name.startswith("Scan "):
                out["scan_rows"] += val("number of output rows")
            if PYTHON_METRIC in metrics:
                out["python_nodes"] += 1
                out["python_rows"] += val("number of output rows")
                out["python_bytes_sent"] += val(PYTHON_METRIC)
    return out


def job_counts(spark: SparkSession, group: str) -> tuple[int, int]:
    """(jobs, tasks) started under a job group."""
    tracker = spark.sparkContext.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(ids), tasks


def held_mb(spark: SparkSession) -> float:
    """Block-store size (memory + disk) of every cached or
    checkpointed RDD, in MiB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def jvm_pid(spark: SparkSession) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())
