"""Guards on the driver-contract registry (__spark_entry__): the
correctness gate checks the FIRST 50 entries each round, so ordering and
queries()/oracle_sql() consistency are load-bearing."""

from __future__ import annotations

import __spark_entry__ as entry


def test_registry_consistency():
    q = entry.queries()
    o = entry.oracle_sql()
    assert len(q) >= 124
    assert all(callable(v) for v in q.values()), "queries() must map to callables"
    # every oracle key corresponds to a registered query
    unknown = [k for k in o if k not in q]
    assert unknown == [], f"orphan oracle entries: {unknown}"
    # round 10 closed the last no-oracle row (dp69's trainer is replayed
    # via 30 unrolled merge rounds) — every registered query has an oracle
    missing = [k for k in q if k not in o]
    assert missing == [], missing
    # no duplicate short keys — bench.py's compact driver line depends on it
    shorts = [k.split("_", 1)[0] for k in q]
    assert len(set(shorts)) == len(shorts)


def test_driver_window_holds_rotation_cohort():
    """The 50-entry driver window must front-load (a) every retouched
    query — one whose entry.TOUCHED round is later than its last hard
    driver signal (the stalest 50 of them when more) — and (b) the queries
    whose last hard driver signal is the STALEST on the board. Derived
    here independently from entry.TOUCHED plus the CORRECTNESS_r*.json
    history, so a rotation only has to update TOUCHED (and ROUND) —
    per-round name pins can never go stale again (the round-8 lesson). The
    newest CORRECTNESS file is skipped only when its key set is EXACTLY
    the current first-50: that file is the product of this very window
    (the driver writes it from the registry order), not evidence the
    window should rotate; any genuine partial rotation changes the set and
    the file counts as history."""
    import json
    import pathlib
    import re

    names = list(entry.queries())
    window = names[:50]
    wset = set(window)
    assert len(window) == 50 and len(wset) == 50
    touched = set(entry.TOUCHED)
    assert touched <= set(names), sorted(touched - set(names))

    root = pathlib.Path(__file__).parent.parent
    files = sorted(
        root.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    last: dict = {}
    for p in files:
        rnd = int(re.search(r"(\d+)", p.name).group(1))
        keys = set(json.loads(p.read_text()))
        if p is files[-1] and keys == wset:
            continue  # this file was generated FROM the current window
        for k in keys:
            last[k] = max(last.get(k, 0), rnd)
    # (a) retouched queries (the stalest 50 of them) are inside the window
    retouched = set(
        sorted(
            (k for k in names if entry.TOUCHED.get(k, 0) > last.get(k, 0)),
            key=lambda k: (last.get(k, 0), k),
        )[:50]
    )
    assert retouched <= wset, sorted(retouched - wset)
    if not last:
        return  # round 1: no history yet, nothing to derive
    # new queries (never driver-checked) must be getting their first
    # hard signal now
    never = {k for k in names if k not in last}
    assert never <= wset, sorted(never - wset)
    # (b) staleness priority: nothing OUTSIDE the window may be strictly
    # staler than the freshest non-retouched query INSIDE it
    inside = [last[k] for k in window if k not in retouched and k in last]
    if inside:
        boundary = max(inside)
        stale_out = sorted(
            k for k in names[50:]
            if k not in retouched and last.get(k, boundary) < boundary
        )
        assert stale_out == [], (
            f"queries staler than the window boundary r{boundary:02d} were "
            f"rotated out: {stale_out} — rotate them in (or add them to "
            "TOUCHED if their code changed)"
        )


def test_driver_order_rule_on_a_synthetic_history():
    """Retouched first, stalest check first, ties by name; the rest
    stalest first; more retouched queries than the window: the stalest
    ones lead and the others sort among the rest."""
    names = ["a", "b", "c", "d", "e", "f", "g"]
    checked = {"a": 3, "b": 1, "c": 2, "d": 2, "e": 1, "f": 3}  # g: never
    touched = {"a": 4, "c": 3, "d": 2, "f": 5, "g": 4}
    assert entry.driver_order(names, touched, checked, window=5) == [
        "g", "c", "a", "f", "b", "e", "d",
    ]
    # overflow: four retouched, a window of two
    assert entry.driver_order(names, touched, checked, window=2) == [
        "g", "c", "b", "e", "d", "a", "f",
    ]
    # no history: retouched by name, then the rest by name
    assert entry.driver_order(names, touched, {}, window=5) == [
        "a", "c", "d", "f", "g", "b", "e",
    ]
    # a checked round at or after the touch is no retouch
    assert entry.driver_order(["x", "y"], {"x": 2}, {"x": 2, "y": 1}) == ["y", "x"]


def test_queries_are_the_module_query_functions():
    """queries() holds no hand-kept list: its entries are exactly the
    module's top-level ``q<N>_`` / ``dp<N>_`` functions."""
    import ast
    import pathlib
    import re

    tree = ast.parse(pathlib.Path(entry.__file__).read_text())
    defined = {
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and re.match(r"(q|dp)\d+[a-z]?_", node.name)
    }
    q = entry.queries()
    assert set(q) == defined
    assert all(q[name] is getattr(entry, name) for name in q)


def test_every_query_has_a_committed_anchor():
    """tools/anchors.json is the anchor-audit currency: a query without
    an anchor silently escapes the per-round >2x gate, so every
    queries() entry must carry one (new queries get an isolated
    median-of-7 anchor in the same round they land)."""
    import json
    import pathlib

    anchors = json.loads(
        (pathlib.Path(__file__).parent.parent / "tools" / "anchors.json")
        .read_text()
    )["anchors"]
    missing = [k for k in entry.queries() if k not in anchors]
    assert missing == [], missing
