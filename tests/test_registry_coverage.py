"""Guard the driver-contract coverage window (VERDICT r4, What's wrong #1).

The external driver hash-checks only the FIRST 50 entries of
``__spark_entry__.queries()``: in round 4 the registry silently grew to
52 and two queries (event_user_cohorts, spike_range_join) lost their
hard correctness rows without any code change.  Two invariants stop
that from recurring:

1. the registry never exceeds the driver's 50-query window, and
2. every registered query has a green row in the newest
   ``CORRECTNESS_r*.json`` — except queries introduced AFTER that
   artifact was produced, which must be declared in
   ``NEW_SINCE_LAST_DRIVER_RUN`` below.  A declaration the newest
   artifact covers with a green row passes; one whose row is not green,
   or that names no registered query, fails.
"""

from __future__ import annotations

import glob
import json
import os

from arion_spark import queries as q

DRIVER_WINDOW = 50

#: queries added after the newest committed CORRECTNESS artifact; each
#: must still pass tools/check_parity.py locally (run in-session before
#: registering).  A declaration the artifact later covers with a green
#: row passes as is; prune it at leisure.
NEW_SINCE_LAST_DRIVER_RUN: set[str] = set()


def _latest_correctness() -> tuple[str, dict]:
    paths = sorted(glob.glob(os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r*.json")))
    assert paths, "no CORRECTNESS_r*.json artifact found"
    with open(paths[-1]) as f:
        return os.path.basename(paths[-1]), json.load(f)


def test_registry_fits_driver_window():
    names = list(q.queries())
    assert len(names) <= DRIVER_WINDOW, (
        f"registry holds {len(names)} queries but the driver checks only "
        f"the first {DRIVER_WINDOW}: {names[DRIVER_WINDOW:]} would silently "
        "lose hard correctness coverage — retire a superseded baseline "
        "(see queries._RETIRED) instead of growing past the window"
    )


def _green(row: dict) -> bool:
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") is not False
        and row.get("err") is None
    )


def _coverage_problems(registered, declared, rows: dict) -> list[str]:
    """Why the registry and the artifact disagree (empty = covered):
    a registered query with no row and no declaration; a declared name
    that is not registered (typo or retired query); a declared name
    whose row in the artifact is not green.  A declared name covered by
    a green row is fine: the suite must not turn red merely because the
    next artifact landed."""
    registered = list(registered)
    out = [
        f"{n}: registered, no correctness row, not declared new"
        for n in registered
        if n not in rows and n not in declared
    ]
    out += [f"{n}: declared new but not registered" for n in sorted(declared) if n not in registered]
    out += [
        f"{n}: declared new and its row is not green"
        for n in sorted(declared)
        if n in rows and not _green(rows[n])
    ]
    return out


def test_every_registered_query_has_a_correctness_row():
    artifact, rows = _latest_correctness()
    problems = _coverage_problems(q.queries(), NEW_SINCE_LAST_DRIVER_RUN, rows)
    assert not problems, f"against {artifact}: {problems}"


def test_coverage_check_declaration_cases():
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    red = {**green, "rows_match": False}
    rows = {"a": green, "b": green, "c": red}
    # declared, covered and green: passes
    assert _coverage_problems(["a", "b"], {"b"}, rows) == []
    # declared, not yet covered: passes
    assert _coverage_problems(["a", "d"], {"d"}, rows) == []
    # declared with a non-green row: fails
    assert _coverage_problems(["a", "c"], {"c"}, rows) == [
        "c: declared new and its row is not green"
    ]
    # declared but not registered: fails
    assert _coverage_problems(["a"], {"zz"}, rows) == [
        "zz: declared new but not registered"
    ]
    # registered, no row, not declared: fails
    assert _coverage_problems(["a", "e"], set(), rows) == [
        "e: registered, no correctness row, not declared new"
    ]


def test_correctness_rows_for_registered_queries_are_green():
    artifact, rows = _latest_correctness()
    bad = {n: r for n, r in rows.items() if n in q.queries() and not _green(r)}
    assert not bad, f"non-green rows in {artifact}: {bad}"


def test_every_oracle_query_is_registered():
    """oracle_sql() keys must be a subset of queries() — an oracle with
    no query (or vice versa under SQL-expressible semantics) is a
    wiring bug the driver would surface as a missing comparison."""
    assert set(q.oracle_sql()) <= set(q.queries())
