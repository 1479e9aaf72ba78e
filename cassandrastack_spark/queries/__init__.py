"""Query registry: every engine query + its DuckDB oracle SQL.

Each implemented operator from SURVEY.md §2 (and the north-star LLM
pipeline set) registers here as a ``QueryDef``: a Spark callable
``(spark, sf_dir) -> DataFrame`` plus, when SQL-expressible, the
equivalent ANSI SQL for the DuckDB oracle. ``__spark_entry__.py`` simply
re-exports this registry to the driver.

Determinism rules (so Spark and DuckDB hash-match):

- alias every computed column identically on both sides;
- round double aggregates (sum/avg of doubles) to fixed decimals on both
  sides — parallel summation order differs between engines at the ulp
  level;
- integer-derived ratios (jaccard, token stats) are exact IEEE division
  → no rounding needed;
- order-sensitive outputs (top-k) carry a unique tie-break column.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a query to the registry."""

    def deco(fn):
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def hll_estimator_sql(ne: str, hs: str) -> str:
    """The portable-SQL HyperLogLog estimator CASE, shared by every
    HLL-gated oracle (distinct_tokens_hll, corpus_source_overlap's
    per-source and per-pair estimates, stream_monitor_distinct_count)
    so the estimator arithmetic — which must stay in lockstep with
    ``operators/sketch.py hll_estimate`` — lives in ONE place instead
    of four hand-synchronized copies (review r14). ``ne``/``hs`` are
    SQL expressions for the nonempty-bucket count (DOUBLE) and the
    harmonic sum over register rows; p is fixed at 12 (m = 4096, hash
    space 2^(p+28) = 1099511627776), matching every registered build.
    The branch structure mirrors hll_estimate verbatim: linear
    counting when raw <= 2.5m with empty buckets, NULL past the hash
    space, the large-range collision correction above space/30, else
    the raw alpha*m^2/harm estimate.
    """
    raw = (
        f"0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0"
        f" / ((4096.0 - {ne}) + {hs})"
    )
    space = "1099511627776.0"
    return (
        f"CASE WHEN {raw} <= 2.5 * 4096.0 AND 4096.0 - {ne} > 0"
        f" THEN 4096.0 * LN(4096.0 / (4096.0 - {ne}))"
        f" WHEN {raw} >= {space} THEN NULL"
        f" WHEN {raw} > {space} / 30.0"
        f" THEN -{space} * LN(1.0 - {raw} / {space})"
        f" ELSE {raw} END"
    )


# The driver verifies the first WINDOW registry entries each round and
# writes the outcome to CORRECTNESS_r<NN>.json at the repo root; a
# query's newest green row must be refreshed within 4 rounds
# (tests/test_row_age_contract.py). So ``load_all`` puts first the
# queries never verified, then those whose newest green round is
# oldest, ties in registration order.
WINDOW = 50
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def newest_green_rounds(repo: str = _REPO) -> tuple[dict[str, int], list[int]]:
    """(newest green CORRECTNESS round per query, all round numbers seen).

    A green row has err None and no explicit rows/hash/schema mismatch
    (hash/schema default True because rows-only checks omit them — but
    an explicit False is a failure, not a verification). No ledgers
    (an installed copy) gives ``({}, [])``.
    """
    newest: dict[str, int] = {}
    rounds: list[int] = []
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        r = int(f.rsplit("_r", 1)[1].split(".")[0])
        rounds.append(r)
        with open(f) as fh:
            ledger = json.load(fh)
        for name, row in ledger.items():
            if (
                row.get("err") is None
                and row.get("rows_match", True)
                and row.get("hash_match", True)
                and row.get("schema_match", True)
            ):
                newest[name] = max(newest.get(name, 0), r)
    return newest, rounds


def window_order(names: Iterable[str], repo: str = _REPO) -> list[str]:
    """``names`` never verified first, then by oldest newest-green round;
    ``sorted`` is stable, so ties keep the given order."""
    newest, _ = newest_green_rounds(repo)
    return sorted(names, key=lambda n: (n in newest, newest.get(n, 0)))


def load_all() -> dict[str, QueryDef]:
    """Import every query module so their registrations run; return the
    registry in ``window_order``."""
    from cassandrastack_spark.queries import (  # noqa: F401
        analytics,
        analytics_ext,
        llm,
        streaming,
        surface_ext,
        tpch_ext,
    )

    return {name: REGISTRY[name] for name in window_order(REGISTRY)}
