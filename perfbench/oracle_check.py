"""Derive and verify the stored query digests (perfbench/digests.json).

For every query of the query workloads, runs the Spark plan on the
benchmark's fixture tables, runs the query's DuckDB oracle SQL on the
same parquet files, and compares the two normalized results. Only when
they agree is the Spark digest written. Run it after changing
fixtures.py (and bumping its VERSION):

    python3 perfbench/oracle_check.py [query ...]

Exits non-zero if any query disagrees with its oracle.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import fixtures  # noqa: E402
from digest import digest, normalize  # noqa: E402
from workloads import QUERY_WORKLOADS, SF  # noqa: E402

from airflow_scraping_etl_tutorial_spark.functions.caching import (  # noqa: E402
    release_session_checkpoints,
    release_session_intermediates,
)
from airflow_scraping_etl_tutorial_spark.plans import all_queries  # noqa: E402
from airflow_scraping_etl_tutorial_spark.session import get_spark  # noqa: E402
from airflow_scraping_etl_tutorial_spark.sources.tables import TABLES  # noqa: E402

DIGESTS = os.path.join(HERE, "digests.json")


def main() -> int:
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    sf_dir = fixtures.ensure(work, SF)
    names = sys.argv[1:] or [q for qs in QUERY_WORKLOADS.values() for q in qs]
    specs = all_queries()
    spark = get_spark("perfbench_oracle_check")
    con = duckdb.connect()
    con.execute("SET memory_limit='4GB'")
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    stored = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as f:
            stored = json.load(f)["digests"]
    bad = 0
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        rows, cols = [tuple(r) for r in df.collect()], df.columns
        release_session_intermediates(spark, blocking=True)
        release_session_checkpoints(spark, blocking=True)
        spark.catalog.clearCache()
        rel = con.sql(specs[name].oracle)
        orows, ocols = rel.fetchall(), list(rel.columns)
        if sorted(cols) != sorted(ocols) or normalize(rows, cols) != normalize(orows, ocols):
            print(f"FAIL {name}: spark {len(rows)} rows, oracle {len(orows)} rows")
            bad += 1
            continue
        stored[name] = digest(rows, cols)
        print(f"ok   {name}: {len(rows)} rows", flush=True)
    with open(DIGESTS, "w") as f:
        json.dump({"fixtures_version": fixtures.VERSION, "digests": stored}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
