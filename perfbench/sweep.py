"""``analytics_scale`` and ``llm_pipeline``: query sweeps over the registry.

Each pass runs every query of the set once: ``QueryDef.fn`` builds the
frame, ``toPandas()`` is the timed action, and the result's fingerprint must
equal the fingerprint of the query's DuckDB oracle on the same input. The
first pass of the process is the cold pass; later passes are warm.
"""

from __future__ import annotations

import hashlib
import os
import time

import datagen
from oracle import Oracle, fingerprint

# Nominal warm-pass seconds of ``llm_pipeline`` on the 4-core host the
# benchmark was defined on: ``--seconds`` buys this many seconds of warm
# passes, as a fixed pass count, so every run does the same work.
NOMINAL_WARM_PASS_S = 10.0

SETS = {
    # Relational, window and streaming queries over a ×10 replica of a
    # seeded sf0.1 base (sf1-sized: 6M lineitem, 1M events rows).
    "analytics_scale": dict(
        sf=0.1, copies=10,
        queries=["q3_shipping_priority", "q18_large_volume_customer",
                 "sessionize_events", "stream_stateful_totals"],
    ),
    # One pass of an LLM data pipeline over a seeded sf0.01 corpus (500
    # documents, 200 embeddings, 10,000 events): quality metrics, substring
    # dedup (its window is slot-persisted), int8-quantized embedding top-k
    # (``llm.simsearch``), and the event log sessionized in batch
    # (``operators.windows``) and as a stream (``streaming.ops``). Many
    # small jobs and iterative rounds.
    "llm_pipeline": dict(
        sf=0.01, copies=1,
        queries=["text_stats", "dedup_exact_substrings", "ann_quantized_topk",
                 "sessionize_events", "stream_session_windows"],
    ),
}


def _generator_digest() -> str:
    with open(datagen.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def module_of(query: str) -> str:
    """The registry module (``llm``, ``streaming``, ...) defining ``query``."""
    from cassandrastack_spark.queries import REGISTRY, load_all

    if query not in REGISTRY:
        load_all()
    return REGISTRY[query].fn.__module__.rsplit(".", 1)[-1]


class Workload:
    setups = 3  # per run: the first launches the JVM, the other two are timed

    def __init__(self, name: str, seed: int, seconds: int, work_dir: str, cache_dir: str):
        from cassandrastack_spark.queries import load_all

        spec = SETS[name]
        self.queries = spec["queries"]
        self.registry = load_all()
        self.passes = 1 + max(1, round(seconds / NOMINAL_WARM_PASS_S))
        self.data_dir = os.path.join(work_dir, "data")
        datagen.build(seed, spec["sf"], spec["copies"], self.data_dir)
        oracle = Oracle(self.data_dir, datagen.TABLES,
                        f"{seed}|{spec['sf']}|{spec['copies']}|{_generator_digest()}", cache_dir)
        try:
            self.expected = {q: oracle.expected(q, self.registry[q].oracle) for q in self.queries}
        finally:
            oracle.close()

    def load(self, spark) -> None:
        self.spark = spark

    def ops(self):
        return list(self.queries)

    def request(self, query: str):
        """Run one query; ``(seconds, build seconds, check)`` where
        ``check()`` compares the result with the oracle."""
        t0 = time.perf_counter()
        df = self.registry[query].fn(self.spark, self.data_dir)
        t1 = time.perf_counter()
        pdf = df.toPandas()
        t2 = time.perf_counter()
        return t2 - t0, t1 - t0, lambda: fingerprint(pdf) == self.expected[query]
