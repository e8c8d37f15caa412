"""TWSE "Three Major Institutional Investors" JSON source.

The reference scrapes
``https://www.twse.com.tw/fund/BFI82U?response=json&dayDate={yyyyMMdd}``
once per day (reference: dags/Final_app.py:26-28,45-47) and parses the
payload with driver-side dict access. Here the payload is a typed Spark
schema (PAYLOAD_SCHEMA, shape captured in dags/scrapy_develop.ipynb
cell-2) and everything downstream is columnar.

Spark has no built-in HTTP connector; per SURVEY.md §4 the source layer
offers two paths:
- ``fetch_payloads``: driver-side fetch for the daily 1-URL case (the
  reference's cadence — one tiny document/day; distributing it would be
  overhead, not parallelism);
- ``fetch_payloads_distributed``: a date-DataFrame fan-out through
  mapInPandas for backfills — dates are partitioned across executors
  and each Arrow batch issues its own HTTP calls, so a 20-year backfill
  (~5k URLs) runs cluster-parallel with no driver bottleneck.

Both return rows conforming to PAYLOAD_SCHEMA so the downstream plan
(pipeline/investment.py) is identical. Network access is gated behind an
import-try; tests inject golden payloads instead (FIXTURES.md §A).
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TWSE_URL = "https://www.twse.com.tw/fund/BFI82U?response=json&dayDate={date}"

# Shape of the TWSE JSON document (scrapy_develop.ipynb cell-2).
PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("stat", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("fields", T.ArrayType(T.StringType())),
        T.StructField("date", T.StringType()),
        T.StructField("data", T.ArrayType(T.ArrayType(T.StringType()))),
        T.StructField("params", T.MapType(T.StringType(), T.StringType())),
        T.StructField("notes", T.ArrayType(T.StringType())),
    ]
)

# The four investor-category rows the ETL keeps, in sink-column order
# (dags/Final_app.py:54-66 xcom key order; ipynb cell-1 column list), and
# the grand-total row it drops (Final_app.py:49).
CATEGORIES = (
    ("自營商(自行買賣)", "dealer"),
    ("自營商(避險)", "dealer_hedge"),
    ("投信", "investment"),
    ("外資及陸資", "foreign"),
)
TOTAL_ROW_LABEL = "合計"


def _http_get_json(url: str, timeout: float = 30.0) -> dict:
    """Fetch one JSON document (stdlib only; no extra deps)."""
    from urllib.request import urlopen  # deferred: tests never import it

    with urlopen(url, timeout=timeout) as resp:  # noqa: S310 (fixed https host)
        return json.loads(resp.read().decode("utf-8"))


def local_frame(spark: SparkSession, rows: Iterable[dict], schema: T.StructType) -> DataFrame:
    """Driver-side rows (dicts keyed by field name; a missing key is
    null) -> an Arrow-backed DataFrame over ``schema``.

    The rows travel to the JVM as one Arrow stream and the plan leaf is
    a ``LocalRelation``, so every action over the frame runs in the JVM.
    ``createDataFrame`` over a Python list instead builds an RDD that
    each action re-serializes through Python worker tasks.
    """
    import pyarrow as pa  # deferred: importing this module stays cheap
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(list(rows), schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def payloads_to_df(spark: SparkSession, payloads: Iterable[dict]) -> DataFrame:
    """Raw payload dicts -> a typed PAYLOAD_SCHEMA frame held in the JVM.

    The driver-side fetch, the golden replay and tests all come through
    here. Arrow takes a map as a list of (key, value) items, so
    ``params`` is converted; every other field passes as is.
    """
    rows = [
        {**p, "params": None if p.get("params") is None else list(p["params"].items())}
        for p in payloads
    ]
    return local_frame(spark, rows, PAYLOAD_SCHEMA)


def fetch_payloads(spark: SparkSession, dates: list[str]) -> DataFrame:
    """Driver-side fetch (the daily-cadence path: 1 URL/day)."""
    return payloads_to_df(spark, [_http_get_json(TWSE_URL.format(date=d)) for d in dates])


def fetch_payloads_distributed(spark: SparkSession, dates: list[str]) -> DataFrame:
    """Backfill path: fan the date list out across executors.

    The date list becomes a DataFrame repartitioned so each task owns a
    slice; mapInPandas issues the HTTP calls executor-side in Arrow
    batches. Unreachable/invalid days yield stat=null rows, which
    ``run_daily_load`` routes to the alert path with a retryable exit.
    """
    import pandas as pd

    n_parts = max(1, min(len(dates), 64))
    schema = T.StructType([T.StructField("fetch_date", T.StringType())])
    dates_df = local_frame(spark, [{"fetch_date": d} for d in dates], schema)
    dates_df = dates_df.repartition(n_parts, "fetch_date")

    def fetch_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for d in pdf["fetch_date"]:
                try:
                    p = _http_get_json(TWSE_URL.format(date=d))
                except Exception:  # network failure -> null-stat row
                    p = {}
                out.append(
                    {
                        "stat": p.get("stat"),
                        "title": p.get("title"),
                        "fields": p.get("fields"),
                        "date": p.get("date") or d,
                        "data": p.get("data"),
                        "params": p.get("params"),
                        "notes": p.get("notes"),
                    }
                )
            yield pd.DataFrame(out)

    return dates_df.mapInPandas(fetch_batch, PAYLOAD_SCHEMA)
