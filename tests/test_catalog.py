"""Catalog oracle gate: every registered query runs at sf0.001 and
matches its DuckDB oracle (non-empty, HUGEINT-free, same columns,
exact values). tools/check_correctness.py runs a hash-based form of
the same comparison at any scale factor."""

from __future__ import annotations

import pytest

from airflow_scraping_etl_tutorial_spark.plans import all_queries

from staged_oracle import assert_matches_oracle

SF_DIR = "/root/testdata/sf0.001"

SPECS = all_queries()


def test_registry_nonempty_and_unique():
    assert len(SPECS) >= 60
    assert all(spec.doc for spec in SPECS.values()), "every query needs a docstring"


def test_all_oracles_parse_in_duckdb(duck):
    for name, spec in SPECS.items():
        if spec.oracle:
            duck.execute(f"SELECT * FROM ({spec.oracle}) LIMIT 0")


# Queries whose result is legitimately empty at the tiny sf0.001 scale
# (anti-join finds no orphans; the correlated supplier filter can select
# nobody from a 10-row table).
MAY_BE_EMPTY = {"q11_join_anti", "q49_in_subquery_correlated"}


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_runs_and_has_rows(spark, duck, name):
    assert_matches_oracle(
        spark, duck, SPECS[name], SF_DIR, may_be_empty=name in MAY_BE_EMPTY
    )
