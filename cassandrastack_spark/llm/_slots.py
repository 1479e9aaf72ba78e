"""Single-slot persist registry: bounded caching for operator
intermediates that are rebuilt on every call.

Operators like ``retrieval.tfidf_weights`` and ``dedup.substring_dedup``
persist() corpus-derived intermediates so one action doesn't tokenize
the corpus N times (shared lineage is not shared execution). persist()
is the right barrier there — lazy, so plan-only consumers (.explain,
tools/plan_audit.py) never execute jobs, and LRU-evictable — but cached
entries live in the JVM CacheManager until explicitly unpersisted:
Python GC of the DataFrame wrapper does NOT release them, so a
long-lived session calling the operator against a rolling series of
corpora accumulates dead cached plans (the r7 verdict's watch item).

``slot_persist`` bounds that to ONE live generation per named slot —
the build-once discipline of ``sources.io.table_artifact`` applied to
cached frames, except that an operator's input can change, so a slot
rolls instead of trusting its key: when a slot is asked to persist
frames for a DIFFERENT input plan, the previous generation is
unpersisted (non-blocking) first. Re-calling an operator
on the SAME input reuses the already-persisted frames, so repeated
calls cost one cache fill, and alternating inputs can never hold more
than one generation of blocks per slot.

Plan identity uses Catalyst's ``sameResult`` on the analyzed plans
(exact — a semanticHash collision could silently serve another
corpus's cache) **plus a file-snapshot fingerprint**: for file-source
plans, ``sameResult`` matches by ROOT PATH (InMemoryFileIndex
equality), not by file contents, so a session that rewrites a corpus
parquet in place (this repo's own ``staged_partition_overwrite``
pattern) and re-reads the same path would otherwise be served the
PREVIOUS corpus's cached frames — or worse, mix generations if the LRU
evicted some partitions and recomputed them from the new files. The
fingerprint (sorted ``inputFiles()``, plus size/mtime for ``file:``
URIs) rolls the slot whenever the resolved file set changes, which
covers every rewrite that lands new part files (all of Spark's own
writers do). The one residual alias: an out-of-band byte-rewrite that
preserves every filename, size, and mtime — the same caveat as
Spark's ``df.cache()`` over a mutated path. Snapshot-rollover callers
that need a hard guarantee should write to a NEW directory per
snapshot (the engine's persisted-index discipline) or call
``slot_release(slot)`` after mutating in place.
"""

from __future__ import annotations

import os
import threading
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

from cassandrastack_spark.sources.io import resolved_input_files

# slot name -> (key DataFrame, input fingerprint, persisted DataFrames)
_SLOTS: dict[
    str, tuple[DataFrame, tuple | None, tuple[DataFrame, ...]]
] = {}
# Spark apps legitimately submit queries from multiple driver threads;
# an unlocked check-then-set would let two threads persist two
# generations and strand one in the CacheManager forever — the exact
# leak this module exists to bound.
_LOCK = threading.Lock()


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    try:
        return bool(
            a._jdf.queryExecution()
            .analyzed()
            .sameResult(b._jdf.queryExecution().analyzed())
        )
    except Exception:
        # defensive: a dead session in the stored slot (e.g. tests
        # recycling SparkSessions) must roll the slot, not crash the
        # operator
        return False


def _input_fingerprint(df: DataFrame) -> tuple | None:
    """Snapshot identity of ``df``'s file inputs: the sorted resolved
    file list, with (size, mtime_ns) for local ``file:`` URIs. A
    same-path rewrite that lands new part files (every Spark writer,
    incl. ``staged_partition_overwrite``) changes this even though
    ``sameResult`` still matches by root path. Non-file plans
    fingerprint as ``()`` (plan identity alone decides, as before);
    ``None`` means "could not resolve" and never matches, so errors
    roll the slot rather than alias. That includes a ``file:`` URI
    whose ``os.stat`` fails: degrading it to a name-only entry would
    let two generations that BOTH fail stat match by name alone — the
    exact same-path-rewrite alias the fingerprint exists to close. A
    spurious roll is cheap; a stale hit is not.

    The file list comes from the ANALYZED plan
    (``sources.io.resolved_input_files``), NOT ``df.inputFiles()``:
    once a slot's previous generation is cached and materialized,
    CacheManager substitution leaves no file scan in a logically
    identical new frame's optimized plan, inputFiles() returns [], and
    the fingerprint would flip to () forever mismatching the stored
    file list. That made every slot re-call ROLL (unpersist + full
    recompute + re-persist) instead of HIT — the r9–r11 monotone perf
    drift on the dsir/tfidf postings consumers (the cache was rebuilt
    per call; bench's min-of-2 never saw a warm hit)."""
    try:
        files = resolved_input_files(df)
    except Exception:
        return None
    out = []
    for u in files:
        if u.startswith("file:"):
            try:
                st = os.stat(unquote(urlparse(u).path))
            except OSError:
                return None
            out.append((u, st.st_size, st.st_mtime_ns))
        else:
            out.append((u, None, None))
    return tuple(out)


def slot_persist(
    slot: str, key: DataFrame, frames: tuple[DataFrame, ...]
) -> tuple[DataFrame, ...]:
    """Persist ``frames`` under ``slot``, releasing the previous
    generation if ``key``'s plan OR its resolved file snapshot differs
    from the stored one.

    ``key`` identifies the input (pass the frame whose plan determines
    every member of ``frames`` — same key plan implies same frames).
    Returns the slot's live frames: the STORED ones on a key match
    (already persisted, possibly already materialized), the freshly
    persisted ``frames`` otherwise. See the module docstring for the
    same-path-rewrite staleness contract.
    """
    fp = _input_fingerprint(key)
    with _LOCK:
        held = _SLOTS.get(slot)
        if (
            held is not None
            and fp is not None
            and held[1] == fp
            and _same_plan(held[0], key)
        ):
            return held[2]
        if held is not None:
            for f in held[2]:
                try:
                    f.unpersist(blocking=False)
                except Exception:
                    pass  # session gone — nothing to release
        frames = tuple(f.persist() for f in frames)
        _SLOTS[slot] = (key, fp, frames)
        return frames


def slot_release(slot: str) -> None:
    """Explicitly release a slot's cached generation. For tests and
    teardown — and for callers that mutate a corpus path in place via
    a writer that preserves every filename/size/mtime (outside the
    fingerprint's reach; see module docstring)."""
    with _LOCK:
        held = _SLOTS.pop(slot, None)
    if held is not None:
        for f in held[2]:
            try:
                f.unpersist(blocking=False)
            except Exception:
                pass
