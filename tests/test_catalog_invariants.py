"""Registry-hygiene invariants for the external verification window.

The external harness checks a 50-query prefix of the registry order per
round. With 200 registered queries, full-registry refresh takes ~4
rounds; these tests pin the ordering discipline so no query's external
correctness row can silently go stale beyond that horizon.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pytest

from rabbithole_spark import catalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50  # external harness checks this many queries per round


def _correctness_history() -> tuple[int, dict[str, int]]:
    """(latest completed round, query -> latest round externally checked)."""
    latest: dict[str, int] = {}
    max_round = 0
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        with open(path) as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), rnd)
    return max_round, latest


def test_no_query_staler_than_four_rounds():
    """Staleness invariant: with a 50-slot window, every registered
    query must either (a) have an external correctness row within the
    last 4 completed rounds, or (b) sit inside the upcoming window's
    50-query prefix (i.e., be queued for a fresh row next round).

    This is the documented catalog.py ordering contract; breaking it
    means some query's last external verification silently ages out.
    No name is exempt: the derived order queues the stalest block first.
    """
    max_round, latest = _correctness_history()
    if max_round == 0:
        pytest.skip("no CORRECTNESS_r*.json files present")
    ordered = list(catalog.load_all())
    queued = set(ordered[:WINDOW])
    stale = []
    for name in ordered:
        last = latest.get(name, 0)
        if last >= max_round - 3:  # checked within the last 4 rounds
            continue
        if name in queued:  # scheduled for the next window
            continue
        stale.append((name, last or "never"))
    assert stale == [], (
        f"queries stale >4 rounds and not queued in the next "
        f"{WINDOW}-slot window: {stale}"
    )


def test_never_checked_queries_lead_the_window():
    """Queries with no external row ever must occupy the EARLIEST
    window slots — a first external verification outranks a refresh,
    so the never-checked set must be a contiguous prefix of the
    registry order, not merely somewhere inside the window."""
    max_round, latest = _correctness_history()
    if max_round == 0:
        pytest.skip("no CORRECTNESS_r*.json files present")
    ordered = list(catalog.load_all())
    never = [n for n in ordered if n not in latest]
    if not never:
        pytest.skip("all registered queries have an external row")
    if len(never) > WINDOW:
        never = never[:WINDOW]  # overflow: at least fill the window
    positions = sorted(ordered.index(n) for n in never)
    assert positions == list(range(len(never))), (
        f"never-externally-checked queries must occupy slots "
        f"0..{len(never) - 1}; found them at {positions}"
    )


def test_window_rule_on_synthetic_history(monkeypatch):
    """load_all() emits (latest external round, name) order: never-checked
    names first, then the stalest block, alphabetical within a block."""
    names = ["q_c", "q_a", "q_b", "q_new", "q_old"]
    monkeypatch.setattr(catalog, "_QUERY_MODULES", ())
    monkeypatch.setattr(
        catalog,
        "_REGISTRY",
        {n: catalog.QuerySpec(name=n, fn=None, oracle=None) for n in names},
    )
    # q_new: never checked
    latest = {"q_a": 3, "q_b": 2, "q_c": 3, "q_old": 1}
    monkeypatch.setattr(catalog, "_correctness_history", lambda: latest)
    assert list(catalog.load_all()) == ["q_new", "q_old", "q_b", "q_a", "q_c"]


def test_missing_query_module_fails_loudly(monkeypatch):
    """A query module that cannot be imported must not silently drop its
    queries from the surface."""
    monkeypatch.setattr(
        catalog,
        "_QUERY_MODULES",
        catalog._QUERY_MODULES + ("rabbithole_spark.queries.no_such_module",),
    )
    with pytest.raises(ModuleNotFoundError):
        catalog.load_all()


def test_every_registering_module_is_listed():
    """load_all() imports only the modules named in _QUERY_MODULES, so a
    query module missing from that list would register nothing."""
    pkg = os.path.join(REPO, "rabbithole_spark", "queries")
    unlisted = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as f:
            if "@register(" not in f.read():
                continue
        rel = os.path.relpath(path, REPO)[: -len(".py")]
        mod = rel.replace(os.sep, ".").removesuffix(".__init__")
        if mod not in catalog._QUERY_MODULES:
            unlisted.append(mod)
    assert unlisted == [], f"query modules missing from _QUERY_MODULES: {unlisted}"


#: Lines under ``rabbithole_spark/`` holding an explicit ``F.broadcast(``
#: hint. Catalyst broadcasts a relation under
#: ``spark.sql.autoBroadcastJoinThreshold`` by its own size estimate and
#: AQE re-checks that at run time, so a hint only pays where the plan
#: differs without it.
BROADCAST_HINT_LINES = 31


def test_broadcast_hint_count_ratchet():
    """Ratchet on hand-placed broadcast hints, like ``SHUFFLE_BUDGETS``.

    Lower the pin when a hint goes. Raise it only together with a plan
    showing that the new hint pays: the query's physical plan (or that
    of a frame it checkpoints or collects) differs without it."""
    pkg = os.path.join(REPO, "rabbithole_spark")
    n = 0
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as f:
            n += sum("F.broadcast(" in line for line in f)
    assert n <= BROADCAST_HINT_LINES, (
        f"{n} lines with F.broadcast( under rabbithole_spark/, pinned at "
        f"{BROADCAST_HINT_LINES}: show that the new hint changes a plan, "
        "or let the planner choose"
    )
