"""Registry tiering must be INVARIANT to driver artifacts landing.

Round-6 lesson: two wave tests asserted tier POSITION ("entries sit in
all_queries()[:50]") — true while the entries were unattested, false
the moment the driver dropped CORRECTNESS_r06.json attesting them
green and `_priority()` correctly demoted them. These tests assert the
tiering CONTRACT itself and prove it holds under a simulated fresh
attestation file, so no future driver drop can break the suite.
"""

from __future__ import annotations

import json
import os
import pathlib
import re

from airflow_scraping_etl_tutorial_spark.plans import registry
from airflow_scraping_etl_tutorial_spark.plans.registry import (
    _attestation_state,
    all_queries,
)


def _write(tmp_path, rnd: int, rows: dict) -> None:
    with open(os.path.join(tmp_path, f"CORRECTNESS_r{rnd:02d}.json"), "w") as f:
        json.dump(rows, f)


GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED_HASH = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
RED_ERR = {"rows_match": False, "schema_match": False, "hash_match": False, "err": "boom"}


def test_attestation_state_latest_round_wins(tmp_path):
    _write(tmp_path, 1, {"qa": GREEN, "qb": RED_ERR})
    _write(tmp_path, 2, {"qb": GREEN, "qc": RED_HASH})
    state = _attestation_state(root=str(tmp_path))
    assert state == {"qa": (1, True), "qb": (2, True), "qc": (2, False)}


def test_attestation_state_red_classes(tmp_path):
    # hash mismatch, schema mismatch, and err are all red; a row that
    # merely lacks the optional keys defaults green (driver versions
    # before r03 omitted schema_match/hash_match on rows-only checks)
    _write(
        tmp_path,
        5,
        {
            "qh": RED_HASH,
            "qe": RED_ERR,
            "qs": {**GREEN, "schema_match": False},
            "qr": {"rows_match": True, "err": None},
            "junk": "not-a-dict",
        },
    )
    state = _attestation_state(root=str(tmp_path))
    assert state["qh"] == (5, False)
    assert state["qe"] == (5, False)
    assert state["qs"] == (5, False)
    assert state["qr"] == (5, True)
    assert "junk" not in state


def _assert_tiering_contract(att: dict[str, tuple[int, bool]]) -> None:
    """The catalog order under attestation state `att` must be: every
    unattested-or-red entry before every green one, greens by stalest
    attestation round first."""
    names = list(all_queries())
    assert len(names) == len(set(names))

    def prio(n):
        a = att.get(n)
        return (1, 0) if a is None or not a[1] else (2, a[0])

    prios = [prio(n) for n in names]
    assert prios == sorted(prios), "catalog order violates the tier contract"


def test_ordering_invariant_under_fresh_attestation(tmp_path, monkeypatch):
    """Simulate the next driver drop: attest every CURRENT tier-1 entry
    green in a fake CORRECTNESS_r99.json. all_queries() must still be a
    valid tiering (same membership, contract order) — the exact event
    that broke the round-6 position-asserting tests."""
    before = set(all_queries())

    # real repo state + the simulated new artifact
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for fn in os.listdir(root):
        if fn.startswith("CORRECTNESS_r") and fn.endswith(".json"):
            with open(os.path.join(root, fn)) as f:
                data = f.read()
            with open(os.path.join(tmp_path, fn), "w") as f:
                f.write(data)
    cur = _attestation_state(root=str(tmp_path))
    fresh_green = {
        n: GREEN for n in before if cur.get(n) is None or not cur[n][1]
    }
    _write(tmp_path, 99, fresh_green)

    att = _attestation_state(root=str(tmp_path))
    monkeypatch.setattr(registry, "_ATTESTATION", att)
    after = list(all_queries())
    assert set(after) == before, "membership must not depend on attestation"
    _assert_tiering_contract(att)
    # with every entry green, order is purely by attestation round:
    # the 99-round block sits LAST (freshest), not first
    assert all(att[n][1] for n in after)
    assert [att[n][0] for n in after] == sorted(att[n][0] for n in after)


def test_ordering_contract_at_committed_state():
    """At the repo's real committed attestation state, the live catalog
    obeys the tier contract (this is what the driver consumes)."""
    _assert_tiering_contract(registry._ATTESTATION)


def test_every_declared_query_is_registered():
    """Discovery guard: all_queries() is exactly the set of `@query("qNNN_…"`
    declarations across the plans package — a new module registers by
    existing, and no declared entry can sit outside the contract."""
    plans = pathlib.Path(registry.__file__).parent
    declared = set()
    for path in plans.glob("*.py"):
        declared |= set(re.findall(r'@query\(\s*"(q\d+_\w+)"', path.read_text()))
    assert set(all_queries()) == declared
