"""Outside-in tracing for the traced benchmark run.

Nothing in the engine is edited. ``Tracer.install`` wraps the public
functions of the traced layers in the running process: each wrapped call
records a span ``(name, layer, start, end, parent, self seconds)`` in memory,
where the self time is the span minus its child spans. Spans are only taken
while ``Tracer.on`` is true, so the same process can time traced and
untraced passes.

``fold_event_log`` reads the Spark event log the run enabled through launch
configuration and sums the task metrics of every job per job group.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import sys
import time
from collections import defaultdict

# Modules whose public functions are spanned, and the layer each reports as.
SPANNED_MODULES = {
    "cassandrastack_spark.llm.dedup": "llm.dedup",
    "cassandrastack_spark.llm.simsearch": "llm.simsearch",
    "cassandrastack_spark.llm.retrieval": "llm.retrieval",
    "cassandrastack_spark.operators.graph": "operators.graph",
    "cassandrastack_spark.operators.sketch": "operators.sketch",
    "cassandrastack_spark.operators.windows": "operators.windows",
    "cassandrastack_spark.functions.text": "functions.text",
    "cassandrastack_spark.streaming.ops": "streaming.ops",
    "cassandrastack_spark.sources.io": "sources.io",
}


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "child_s", "meta")

    def __init__(self, name, layer, start, parent):
        self.name, self.layer, self.start, self.parent = name, layer, start, parent
        self.end = start
        self.child_s = 0.0
        self.meta = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.slot_events: list[str] = []

    # -- spans ---------------------------------------------------------------

    def begin(self, name: str, layer: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, time.perf_counter(), parent.name if parent else None)
        self._stack.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._stack[-1].child_s += sp.dur
        self.spans.append(sp)

    def wrap(self, fn, name: str, layer: str, after=None):
        """``fn`` with a span around each call taken while tracing is on.
        ``after(span, result)`` may annotate the span once it is closed."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            sp = self.begin(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(sp)
            if after is not None:
                # the annotation is bench work: a span of its own keeps it
                # out of the caller's self time
                note = self.begin(name + ".annotate", "bench")
                after(sp, out)
                self.end(note)
            return out

        return traced

    # -- installation ----------------------------------------------------------

    @staticmethod
    def _rebind(old, new) -> None:
        """Point every engine module's global that holds ``old`` at ``new``
        (modules bind functions by name at import time)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("cassandrastack_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is old:
                    setattr(mod, k, new)

    def _wrap_method(self, cls, meth: str, layer: str, after=None) -> None:
        fn = cls.__dict__[meth]
        setattr(cls, meth, self.wrap(fn, f"{cls.__name__}.{meth}", layer, after))

    def install(self) -> None:
        """Wrap every traced layer. (Query builds and actions are timed by
        the sweep itself, around ``QueryDef.fn`` and ``toPandas()``.)"""
        import importlib

        from cassandrastack_spark import api, catalog, cql, storage
        from cassandrastack_spark.llm import _slots

        for mod_name, layer in SPANNED_MODULES.items():
            mod = importlib.import_module(mod_name)
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod_name):
                    continue
                self._rebind(fn, self.wrap(fn, f"{layer}.{name}", layer))

        self._wrap_method(catalog.Keyspace, "create_table", "catalog")
        for meth in ("append", "read", "read_page"):
            self._wrap_method(storage.WideColumnTable, meth, "storage")
        self._wrap_method(storage.WideColumnTable, "read_partition", "storage",
                          after=_count_input_files)
        self._wrap_method(cql.CqlSession, "execute", "cql")
        for meth in ("get_messages", "get_channel_messages", "post_channel_message",
                     "login", "register", "get_users", "create"):
            self._wrap_method(api.SocialMessageAPI, meth, "api")

        slot_fn = _slots.slot_persist

        def slot_persist(slot, key, frames):
            held = _slots._SLOTS.get(slot)
            out = slot_fn(slot, key, frames)
            if self.on:
                now = _slots._SLOTS.get(slot)
                self.slot_events.append(
                    "hits" if now is held else ("fills" if held is None else "rolls"))
            return out

        self._rebind(slot_fn, functools.wraps(slot_fn)(slot_persist))

    # -- summaries -------------------------------------------------------------

    @staticmethod
    def self_seconds_of(spans) -> dict[str, float]:
        """Self time per layer over ``spans``."""
        out: dict[str, float] = defaultdict(float)
        for sp in spans:
            out[sp.layer] += sp.self_s
        return out


def _count_input_files(span: Span, df) -> None:
    try:
        span.meta["files"] = len(df.inputFiles())
    except Exception:  # noqa: BLE001 - an unlistable plan just has no count
        pass


# ---------------------------------------------------------------------------
# Spark event log


def launch_conf(eventlog_dir: str) -> list[str]:
    """spark-submit ``--conf`` pairs that write one plain JSON event log."""
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{eventlog_dir}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ]


_PY_TIME = "time to run Python workers"


def fold_event_log(eventlog_dir: str, app_id: str, owner) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, task metric sums and the job
    intervals (epoch ms) — ``{group: {...}}``. ``owner(group, submitted_ms)``
    names the group a job counts under, or ``None`` to leave it out."""
    paths = sorted(glob.glob(os.path.join(eventlog_dir, app_id + "*")))
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}

    def g(name):
        return groups.setdefault(name, defaultdict(float, intervals=[]))

    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    grp = owner((e.get("Properties") or {}).get("spark.jobGroup.id"),
                                e["Submission Time"])
                    if grp is None:
                        continue
                    job_group[jid] = grp
                    job_start[jid] = e["Submission Time"]
                    rec = g(grp)
                    rec["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, grp)
                elif kind == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    if jid in job_group:
                        g(job_group[jid])["intervals"].append(
                            (job_start[jid], e["Completion Time"]))
                elif kind == "SparkListenerStageCompleted":
                    grp = stage_group.get(e["Stage Info"]["Stage ID"])
                    if grp is not None:
                        g(grp)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(e["Stage ID"])
                    tm = e.get("Task Metrics")
                    if grp is None or not tm:
                        continue
                    rec = g(grp)
                    rec["tasks"] += 1
                    rec["executor_run_s"] += tm["Executor Run Time"] / 1e3
                    rec["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                    rec["gc_s"] += tm["JVM GC Time"] / 1e3
                    rec["scan_mb"] += tm["Input Metrics"]["Bytes Read"] / 2**20
                    sr = tm["Shuffle Read Metrics"]
                    rec["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / 2**20
                    rec["shuffle_write_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                    rec["spill_mb"] += (tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]) / 2**20
                    for acc in e["Task Info"].get("Accumulables", []):
                        if acc.get("Name") == _PY_TIME:
                            rec["python_exec_s"] += float(acc.get("Update", 0)) / 1e3
    return groups


def union_ms(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
