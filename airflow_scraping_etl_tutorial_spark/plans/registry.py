"""Registry of (name -> QuerySpec) used by the driver contract.

Register with the ``@query`` decorator::

    @query("q_foo", oracle="SELECT ...")
    def q_foo(spark, sf_dir) -> DataFrame: ...

Rules enforced by convention (driver compare is column-name sorted +
value-hashed):
- every computed/aggregate column is aliased identically on both sides;
- money aggregates are rounded to 2 decimals on both sides (double sums
  are order-dependent in the last ulp; rounding makes them comparable);
- timestamps are projected as DATE or formatted string on both sides
  (Spark timestamps are session-TZ instants, DuckDB's are naive).
"""

from __future__ import annotations

import importlib
import os
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query builder."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), tags=tags
        )
        return fn

    return deco


# Driver-priority tiering, computed from the CORRECTNESS_r*.json files
# the driver leaves in the repo root (latest attestation per query wins;
# the driver attests ~50 queries per round, first-come-first-served over
# queries() order). Derived, not hand-maintained:
#   tier 1 — never attested, or latest attestation red: must re-attest;
#   tier 2 — attested green, oldest attestation first (the union rots
#            as shared helpers change, so stale greens recycle through
#            the driver budget before fresh ones).
def _attestation_state(root: str | None = None) -> dict[str, tuple[int, bool]]:
    """name -> (last attested round, was green) from CORRECTNESS_r*.json.

    `root` defaults to the repo root; tests pass a temp directory to
    prove the tiering is invariant to a fresh driver artifact landing
    (the round-6 lesson: hard-coded "first 50" assertions broke the
    moment CORRECTNESS_r06.json attested the staged waves green).
    """
    import glob
    import json
    import re

    if root is None:
        root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    state: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = bool(
                row.get("err") is None
                and row.get("rows_match")
                and row.get("schema_match", True)
                and row.get("hash_match", True)
            )
            prev = state.get(name)
            if prev is None or rnd >= prev[0]:
                state[name] = (rnd, green)
    return state


_ATTESTATION = _attestation_state()


def _priority(name: str) -> tuple[int, int]:
    att = _ATTESTATION.get(name)
    if att is None or not att[1]:
        return (1, 0)  # unattested or red: front of the driver budget
    return (2, att[0])  # green: staler attestations recycle first


def all_queries() -> dict[str, QuerySpec]:
    """Import every module of the plans package and return the full
    registry, driver-priority ordered (see _priority); within a tier,
    entries keep sorted-module then declaration order."""
    here = os.path.dirname(os.path.abspath(__file__))
    for mod in sorted(m.name for m in pkgutil.iter_modules([here])):
        importlib.import_module(f"{__package__}.{mod}")
    order = {n: i for i, n in enumerate(_REGISTRY)}
    names = sorted(
        _REGISTRY,
        key=lambda n: (_priority(n), _REGISTRY[n].fn.__module__, order[n]),
    )
    return {n: _REGISTRY[n] for n in names}
