"""Row-age audit: newest official CORRECTNESS round per registry query.

``load_all`` orders the registry from the CORRECTNESS ledgers
(cassandrastack_spark/queries/__init__.py), so the driver's
``WINDOW``-entry window always takes never-verified and oldest-verified
queries first. This prints the newest-round histogram, the queries at
each age cohort with their window membership, and any registered query
with NO green row yet. Exit status 1 when the due and never-verified
queries together exceed ``WINDOW``: the one way the window can fall
short.

Usage: python tools/row_age.py
"""

from __future__ import annotations

import os
import sys
from collections import Counter, defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cassandrastack_spark.queries import (  # noqa: E402
    WINDOW,
    load_all,
    newest_green_rounds,
)


def main() -> int:
    newest, rounds = newest_green_rounds()
    if not rounds:
        print("no CORRECTNESS_r*.json files found")
        return 1
    cur = max(rounds)
    registry = list(load_all())
    window = set(registry[:WINDOW])
    never = [n for n in registry if n not in newest]
    print(f"registry: {len(registry)} queries; official rows through r{cur:02d}")
    print("newest-round histogram:",
          dict(sorted(Counter(newest[n] for n in registry if n in newest).items())))
    cohorts: dict[int, list[str]] = defaultdict(list)
    for n in registry:
        if n in newest:
            cohorts[newest[n]].append(n)
    due = 0
    for r in sorted(cohorts):
        age = cur + 1 - r
        flag = ""
        if age >= 4:
            flag = "  <-- due"
            due += len(cohorts[r])
        print(f"\nr{r} cohort ({len(cohorts[r])} rows, {age} rounds old "
              f"next round){flag}:")
        for n in sorted(cohorts[r]):
            mark = " [in window]" if n in window else ""
            print(f"  {n}{mark}")
    if never:
        print(f"\nNEVER verified ({len(never)}):")
        for n in never:
            print(f"  {n}")
    else:
        print("\nevery registered query has at least one green row")
    if due + len(never) > WINDOW:
        print(f"\nWARNING: {due} due + {len(never)} never-verified queries "
              f"exceed the {WINDOW}-entry window")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
