"""The row-age contract as a RED TEST, not prose (VERDICT r10 ask #2).

Standing contract: every registered query's newest green CORRECTNESS
row must be at most 3 rounds old at the close of the current round —
or the query must sit inside the driver's ``WINDOW``-entry verification
window so THIS round refreshes it. ``load_all`` computes that window
from the ledgers (``window_order``); these tests pin the rule on
synthetic ledgers and check that the repo's own ledgers fit it.

"Current closing round" is inferred as (newest CORRECTNESS file's
round + 1): during round N the repo holds files through r(N-1), and
the window being tested is the one the round-N driver will execute.
"""

from __future__ import annotations

import json

from cassandrastack_spark.queries import (
    WINDOW,
    load_all,
    newest_green_rounds,
    window_order,
)

MAX_AGE_AT_CLOSE = 3


def test_window_order_follows_the_ledgers(tmp_path):
    names = ["a", "b", "c", "d", "e", "f"]
    assert window_order(names, str(tmp_path)) == names
    green = {"rows_match": True, "hash_match": True, "err": None}
    ledgers = {
        1: {"a": green, "b": {**green, "err": "boom"}, "c": green,
            "d": {**green, "hash_match": False}},
        2: {"a": {**green, "err": "boom"}, "c": green, "e": green,
            "f": {**green, "rows_match": False}},
    }
    for r, rows in ledgers.items():
        (tmp_path / f"CORRECTNESS_r{r:02d}.json").write_text(json.dumps(rows))
    assert newest_green_rounds(str(tmp_path)) == ({"a": 1, "c": 2, "e": 2}, [1, 2])
    # a failing row does not count as verified: b, d and f come first,
    # in registration order, then a (r1, its r2 row failed), then c and
    # e (r2) in registration order
    assert window_order(names, str(tmp_path)) == ["b", "d", "f", "a", "c", "e"]


def test_no_query_over_ages_outside_the_window():
    newest, rounds = newest_green_rounds()
    assert rounds, "no CORRECTNESS_r*.json files — driver artifacts missing"
    close_round = max(rounds) + 1
    registry = list(load_all())
    window = set(registry[:WINDOW])
    over_aged = sorted(
        n
        for n in registry
        if n in newest
        and close_round - newest[n] > MAX_AGE_AT_CLOSE
        and n not in window
    )
    assert not over_aged, (
        f"{len(over_aged)} queries' newest green row is over "
        f"{MAX_AGE_AT_CLOSE} rounds old at r{close_round} close and they "
        f"are NOT in the {WINDOW}-entry verification window (too many "
        f"due or never-verified queries, see tools/row_age.py): {over_aged}"
    )


def test_never_verified_queries_are_in_the_window():
    newest, rounds = newest_green_rounds()
    assert rounds
    registry = list(load_all())
    window = set(registry[:WINDOW])
    unscheduled = sorted(
        n for n in registry if n not in newest and n not in window
    )
    assert not unscheduled, (
        "registered queries with NO green CORRECTNESS row are outside "
        f"the verification window: {unscheduled}"
    )
