"""The driver checks only the FIRST 50 entries of queries() — the
registry order IS the verification strategy (queries/__init__.py).

The order is derived from the committed ``CORRECTNESS_rNN.json`` files:
queries whose code changed since their last green row
(``CHANGED_SINCE_GREEN``) head the window, then queries with no green
row, then the least recently proven, with oracle-less queries last.
The first half of these tests pins that shape on the real registry and
artifacts, so a rotation mistake (a never-green query left out, a
fresh query holding a slot a staler one needs) fails loudly instead of
silently shrinking coverage. The second half drives the derivation
over synthetic artifacts in a temporary directory.
"""

from __future__ import annotations

import json
from types import SimpleNamespace

from mindseye_dataframes_spark.queries import (
    ARTIFACT_DIR,
    CHANGED_SINCE_GREEN,
    last_green_rounds,
    load_all,
    window_order,
)

WINDOW = 50


def _changed_head(qs, last):
    """Changed-since-green entries the artifacts have not re-proven."""
    return {
        n for n, rnd in CHANGED_SINCE_GREEN.items()
        if n in qs and last.get(n, 0) < rnd
    }


def test_refresh_set_heads_the_window():
    # every CHANGED_SINCE_GREEN entry not yet re-proven occupies the
    # first slots, before anything else — its green rows prove
    # superseded code
    qs = load_all()
    head = _changed_head(qs, last_green_rounds(ARTIFACT_DIR))
    assert set(list(qs)[: len(head)]) == head


def test_every_registered_query_is_oracle_bearing():
    # q157 (the one by-design rows-only entry) was folded into q162's
    # hashed recall gate in round 8 — VERDICT r7 item 7's "done" state
    qs = load_all()
    rows_only = [n for n, q in qs.items() if q.oracle is None]
    assert not rows_only, f"oracle-less registry entries: {rows_only}"
    assert "q157_pq_ann_topk" not in qs


def test_unproven_and_stale_queries_fit_the_window():
    # every never-green oracle query gets a slot this round, and the
    # slots behind them start at the stalest proven round
    qs = load_all()
    last = last_green_rounds(ARTIFACT_DIR)
    window = list(qs)[:WINDOW]
    never_green = [n for n, q in qs.items() if q.oracle is not None and n not in last]
    outside = [n for n in never_green if n not in window]
    assert not outside, f"never-green oracle queries outside the window: {outside}"
    proven = [n for n, q in qs.items() if q.oracle is not None and n in last]
    stalest = min(last[n] for n in proven)
    assert any(last.get(n) == stalest for n in window), (
        f"no query last proven in round {stalest} got a window slot"
    )


def test_window_is_exactly_refresh_plus_unproven_plus_stalest():
    # no slot may go to a query proven more recently than one waiting
    # outside (the changed-since-green head aside)
    qs = load_all()
    last = last_green_rounds(ARTIFACT_DIR)
    head = _changed_head(qs, last)
    window = [n for n in list(qs)[:WINDOW] if n not in head]
    outside = [n for n in list(qs)[WINDOW:] if qs[n].oracle is not None]
    newest_inside = max(last.get(n, 0) for n in window)
    staler_outside = [n for n in outside if last.get(n, 0) < newest_inside]
    assert not staler_outside, (
        f"window holds round-{newest_inside} queries while staler "
        f"{staler_outside} wait outside"
    )


def test_changed_since_green_keys_are_registered():
    qs = load_all()
    unknown = set(CHANGED_SINCE_GREEN) - set(qs)
    assert not unknown, f"CHANGED_SINCE_GREEN names unregistered queries: {unknown}"


def test_readme_query_count():
    """README's architecture block quotes the registry size; a stale
    literal survived two rounds of registry growth (VERDICT r11 item
    4: '232 named queries' at registry 235), so the count is now
    pinned to len(load_all()) — it can't rot without failing here."""
    import os
    import re

    readme = os.path.join(os.path.dirname(__file__), "..", "README.md")
    with open(readme) as fh:
        text = fh.read()
    m = re.search(r"(\d+) named queries", text)
    assert m, "README no longer states the query count"
    assert int(m.group(1)) == len(load_all()), (
        f"README says {m.group(1)} named queries; registry has "
        f"{len(load_all())} — update README.md"
    )


# --- the derivation over synthetic artifacts --------------------------------

_GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _write_round(d, rnd, rows):
    (d / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def _registry(*names, rows_only=()):
    return {
        n: SimpleNamespace(oracle=None if n in rows_only else "SELECT 1")
        for n in names
    }


def test_red_row_is_not_green(tmp_path):
    _write_round(tmp_path, 3, {
        "ok": _GREEN,
        "rows": {**_GREEN, "rows_match": False},
        "schema": {**_GREEN, "schema_match": False},
        "hash": {**_GREEN, "hash_match": False},
        "err": {**_GREEN, "err": "Py4JJavaError"},
    })
    assert last_green_rounds(tmp_path) == {"ok": 3}


def test_later_green_row_wins(tmp_path):
    _write_round(tmp_path, 2, {"a": _GREEN, "b": _GREEN})
    _write_round(tmp_path, 7, {"a": _GREEN, "b": {**_GREEN, "hash_match": False}})
    _write_round(tmp_path, 10, {"c": _GREEN})
    assert last_green_rounds(tmp_path) == {"a": 7, "b": 2, "c": 10}
    # never-green first, then by last green round; rows-only last
    reg = _registry("a", "b", "c", "d", "e", rows_only=("e",))
    assert window_order(reg, tmp_path) == ["d", "b", "a", "c", "e"]


def test_no_artifacts_orders_by_name(tmp_path):
    reg = _registry("q3", "q1", "q2")
    assert window_order(reg, tmp_path) == ["q1", "q2", "q3"]


def test_changed_entry_heads_window_until_proven(tmp_path, monkeypatch):
    _write_round(tmp_path, 3, {"a": _GREEN, "b": _GREEN, "z": _GREEN})
    reg = _registry("a", "b", "new", "z")
    monkeypatch.setitem(CHANGED_SINCE_GREEN, "z", 4)
    assert window_order(reg, tmp_path) == ["z", "new", "a", "b"]
    # a red round-4 row leaves it at the head
    _write_round(tmp_path, 4, {"z": {**_GREEN, "err": "boom"}})
    assert window_order(reg, tmp_path)[0] == "z"
    # a green row of its round expires the entry
    _write_round(tmp_path, 4, {"z": _GREEN})
    assert window_order(reg, tmp_path) == ["new", "a", "b", "z"]
    # so does a green row of a later round
    monkeypatch.setitem(CHANGED_SINCE_GREEN, "a", 2)
    assert window_order(reg, tmp_path) == ["new", "a", "b", "z"]
