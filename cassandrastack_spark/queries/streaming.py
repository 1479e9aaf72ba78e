"""Streaming query catalog (SURVEY.md §2.4 streaming row).

Each query builds a Structured Streaming plan over the events file
source and runs it to completion with ``run_to_batch`` (availableNow +
memory sink), so the driver's gate hash-compares streaming output
against a batch DuckDB oracle. Same-result-as-batch is Structured
Streaming's contract — these queries assert it end-to-end.

``complete`` output mode is used for the windowed aggregations so every
window is emitted (append mode would hold back windows the final
watermark hasn't passed — correct for infinite streams, but the oracle
covers ALL windows of the finite source).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from cassandrastack_spark.queries import hll_estimator_sql, register
from cassandrastack_spark.sources.io import table_artifact
from cassandrastack_spark.streaming.ops import (
    events_stream,
    run_to_batch,
    session_window_counts,
    sliding_window_counts,
    stateful_user_totals,
    stream_stream_interval_join,
    streaming_dedup,
    tumbling_window_counts,
)


def _estream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_stream(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "stream_tumbling_hourly",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(value), 2)     AS total_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
        ORDER BY window_start, event_type
    """,
    doc="Streaming tumbling 1h window x event_type aggregation with "
        "watermark, run to completion — hash-equal to the batch oracle "
        "(hour windows are epoch-aligned, so window.start == date_trunc).",
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_batch(tumbling_window_counts(_estream(spark, sf_dir)))
    return out.orderBy("window_start", "event_type")


@register(
    "stream_sliding_counts",
    oracle="""
        WITH starts AS (
            SELECT event_type,
                   unnest([
                       make_timestamp(epoch_us(ts) // 900000000 * 900000000),
                       make_timestamp(epoch_us(ts) // 900000000 * 900000000 - 900000000)
                   ]) AS window_start
            FROM events)
        SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM starts
        GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
    doc="Streaming sliding window (30 min width / 15 min slide): every "
        "event lands in exactly 2 overlapping windows; oracle enumerates "
        "both window starts per event.",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_batch(sliding_window_counts(_estream(spark, sf_dir)))
    return out.orderBy("window_start", "event_type")


@register(
    "stream_session_windows",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
            FROM flagged)
        SELECT user_id, MIN(ts) AS session_start,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
    doc="Streaming session windows (30-min inactivity gap) via built-in "
        "session_window state merging; oracle is gap-based sessionization "
        "(lag + cumulative sum) — identical session boundaries.",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_batch(session_window_counts(_estream(spark, sf_dir)))
    return out.orderBy("user_id", "session_start")


@register(
    "stream_click_view_join",
    oracle="""
        SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'view'
         AND epoch_us(b.ts) >= epoch_us(a.ts) - 600000000
         AND epoch_us(b.ts) <= epoch_us(a.ts)
        ORDER BY click_id, view_id
    """,
    doc="Stream-stream interval join: clicks matched to views of the "
        "same user within the preceding 10 minutes; watermarks on both "
        "sides + two-sided time bound give bounded join state. Over the "
        "finite source the result equals the batch join (the oracle).",
)
def stream_click_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        _estream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts"))
    )
    views = (
        _estream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user_id"), F.col("ts").alias("view_ts"))
    )
    joined = stream_stream_interval_join(
        clicks, views,
        left_key="user_id", right_key="v_user_id",
        left_time="click_ts", right_time="view_ts",
        lookback_seconds=600,
    ).select("click_id", "view_id", "user_id")
    return run_to_batch(joined, "append").orderBy("click_id", "view_id")


@register(
    "stream_dedup_events",
    oracle="""
        SELECT DISTINCT user_id, event_type
        FROM events
        ORDER BY user_id, event_type
    """,
    doc="Streaming deduplication (dropDuplicatesWithinWatermark) on "
        "(user_id, event_type): state is held only until the watermark "
        "passes — the bounded-state streaming dedup primitive. For the "
        "gate, the watermark delay is pinned beyond the fixture's time "
        "span so replay order cannot expire state mid-run, making the "
        "emitted key set equal to batch DISTINCT regardless of how the "
        "file source batches; only the key columns are emitted because "
        "WHICH duplicate survives is arrival-order-dependent by design. "
        "Production callers pass a real delay (e.g. '1 hour') for "
        "bounded state at unbounded scale.",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = streaming_dedup(
        _estream(spark, sf_dir),
        keys=["user_id", "event_type"],
        watermark="2160 hours",
    ).select("user_id", "event_type")
    return run_to_batch(deduped, "append").orderBy("user_id", "event_type")


@register(
    "stream_stateful_totals",
    oracle="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2)     AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    doc="Custom stateful operator (applyInPandasWithState): running "
        "per-user totals; over the finite source the final state equals "
        "the batch GROUP BY. Arrow-batched python state, update mode.",
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_batch(stateful_user_totals(_estream(spark, sf_dir)), "update")
    return out.orderBy("user_id")


@register(
    "stream_windowed_topk",
    oracle="""
        WITH agg AS (
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events
            GROUP BY date_trunc('hour', ts), event_type),
        ranked AS (
            SELECT window_start, event_type, n,
                   ROW_NUMBER() OVER (
                       PARTITION BY window_start
                       ORDER BY n DESC, event_type
                   ) AS rnk
            FROM agg)
        SELECT window_start, event_type, n
        FROM ranked WHERE rnk <= 2
        ORDER BY window_start, event_type
    """,
    doc="Windowed top-k over a stream: the incremental part (tumbling "
        "window x type counts with watermark) runs as a streaming "
        "aggregation; the rank tail runs on the emitted aggregate — "
        "top-k is not incrementally maintainable in append semantics "
        "(a late row can re-rank a closed window), so the split IS the "
        "scale design: the stream carries only (window, type, n) state, "
        "and the per-window rank touches the tiny aggregate, never the "
        "event stream.",
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    agg = run_to_batch(tumbling_window_counts(_estream(spark, sf_dir)))
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("window_start", "event_type", "n")
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# append-mode variants: the production output mode. ``complete`` re-emits
# every window each batch (fine for the finite gate, unbounded for a real
# sink); ``append`` emits each window EXACTLY ONCE, when the watermark
# passes its end — so late data beyond the delay is dropped and the sink
# receives immutable rows. Over the finite source that means the emitted
# set is the batch aggregate RESTRICTED to watermark-passed windows:
# window_end <= max(ts) - delay (Spark tracks the watermark in epoch
# millis, hence the //1000 truncation in the oracles). The held-back tail
# windows are the late-data policy made visible — the oracle encodes it.
# ---------------------------------------------------------------------------


_WM_SQL = "make_timestamp((epoch_us(MAX(ts)) // 1000 - 1800000) * 1000)"


@register(
    "stream_tumbling_append",
    oracle=f"""
        WITH wm AS (SELECT {_WM_SQL} AS w FROM events),
        agg AS (
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(value), 2)     AS total_value
            FROM events
            GROUP BY date_trunc('hour', ts), event_type)
        SELECT window_start, event_type, n, total_value
        FROM agg
        WHERE window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
        ORDER BY window_start, event_type
    """,
    doc="Tumbling window aggregation in APPEND output mode: each hour "
        "window is emitted once, when the 30-min watermark passes its "
        "end; the oracle is the batch aggregate restricted to "
        "watermark-passed windows (the held-back tail is the late-data "
        "policy, asserted, not averaged away).",
)
def stream_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_batch(tumbling_window_counts(_estream(spark, sf_dir)), "append")
    return out.orderBy("window_start", "event_type")


@register(
    "stream_sliding_append",
    oracle=f"""
        WITH wm AS (SELECT {_WM_SQL} AS w FROM events),
        starts AS (
            SELECT event_type,
                   unnest([
                       make_timestamp(epoch_us(ts) // 900000000 * 900000000),
                       make_timestamp(epoch_us(ts) // 900000000 * 900000000 - 900000000)
                   ]) AS window_start
            FROM events),
        agg AS (
            SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM starts
            GROUP BY window_start, event_type)
        SELECT window_start, event_type, n
        FROM agg
        WHERE window_start + INTERVAL 30 MINUTE <= (SELECT w FROM wm)
        ORDER BY window_start, event_type
    """,
    doc="Sliding window (30 min / 15 min) in APPEND mode: an event's two "
        "overlapping windows finalize independently as the watermark "
        "passes each window's own end.",
)
def stream_sliding_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_batch(sliding_window_counts(_estream(spark, sf_dir)), "append")
    return out.orderBy("window_start", "event_type")


@register(
    "stream_session_append",
    oracle=f"""
        WITH wm AS (SELECT {_WM_SQL} AS w FROM events),
        flagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
            FROM flagged),
        agg AS (
            SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_ts,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM sess GROUP BY user_id, sid)
        SELECT user_id, session_start, n_events
        FROM agg
        WHERE last_ts + INTERVAL 30 MINUTE <= (SELECT w FROM wm)
        ORDER BY user_id, session_start
    """,
    doc="Session windows (30-min gap) in APPEND mode: a session "
        "finalizes when the watermark passes last-event + gap (the "
        "session window's end), so still-open tail sessions are held "
        "back — the oracle restricts gap-based sessionization the same "
        "way.",
)
def stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_batch(session_window_counts(_estream(spark, sf_dir)), "append")
    return out.orderBy("user_id", "session_start")


@register(
    "stream_static_enrich",
    oracle="""
        SELECT e.event_id, e.user_id, e.event_type,
               c.c_mktsegment AS segment
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        ORDER BY e.event_id
    """,
    doc="Stream-static dimension join: events stream enriched with the "
        "customer segment, append mode. The static side broadcasts per "
        "micro-batch — no stream-side shuffle, no state store (the only "
        "stateless join shape in Structured Streaming).",
)
def stream_static_enrich_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandrastack_spark.sources.io import read_table
    from cassandrastack_spark.streaming.ops import stream_static_enrich

    dim = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream_static_enrich(
        _estream(spark, sf_dir), dim, on=[("user_id", "c_custkey")]
    ).select(
        "event_id", "user_id", "event_type",
        F.col("c_mktsegment").alias("segment"),
    )
    return run_to_batch(joined, output_mode="append").orderBy("event_id")


def _resolve_monitor_state(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    start,
    table: str = "events.parquet",
) -> str:
    """Shared ingest bootstrap for every monitor-backed stream query
    (review r16 — this sequence was copy-pasted per query): stream the
    ``table`` file under ``sf_dir`` through ``start(src, state_path,
    checkpoint_path)`` (which returns the started StreamingQuery) once
    per (kind, sf_dir) and return the state path on every call —
    monitor state is a persisted artifact; rebuilding it per call would
    price the ingest, not the resolution. Explicit raise, not assert
    (python -O strips asserts, ADVICE r14), and the query is STOPPED
    before raising on timeout — a zombie ingest would keep writing
    state in the shared session and skew every subsequent sweep timing
    (review r16).

    The state lives in a ``sources.io.table_artifact`` directory: a
    failed ingest leaves no entry and retries clean, and the
    immutable-``sf_dir`` contract is the one stated there.
    """

    def build(root: str) -> None:
        schema = (
            spark.read.option("pathGlobFilter", table)
            .parquet(sf_dir)
            .schema
        )
        src = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", table)
            .parquet(sf_dir)
        )
        q = start(src, os.path.join(root, "state"), os.path.join(root, "ckpt"))
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(f"{kind} ingest did not finish")

    return os.path.join(table_artifact(sf_dir, kind, build), "state")


@register(
    "stream_embedding_covariance_block",
    oracle="""
        SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
               ROUND(covar_pop(list_extract(embedding, i + 1),
                               list_extract(embedding, j + 1)), 6) AS cov
        FROM embeddings,
             generate_series(0, 7) s1(i),
             generate_series(0, 7) s2(j)
        GROUP BY i, j
        ORDER BY i, j
    """,
    doc="The drift detector's running state, gated against the SAME "
        "covar_pop oracle as the batch embedding_covariance_block: the "
        "embeddings table streams through monitor_embedding_moments "
        "(one constant dim^2-sized moment row per micro-batch, "
        "marker-guarded appends), and embedding_moments_state merges "
        "the state table back into the exact covariance — proving the "
        "streaming accumulator loses nothing vs the one-shot batch "
        "pass. This is the signal that schedules IVF/PQ retrains at "
        "100 TB: compare this frame between snapshots instead of "
        "re-scanning the corpus.",
)
def stream_embedding_covariance_block(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cassandrastack_spark.streaming.ops import (
        embedding_moments_state,
        monitor_embedding_moments,
    )

    state = _resolve_monitor_state(
        spark, sf_dir, "moments",
        lambda src, sp, cp: monitor_embedding_moments(
            src, sp, checkpoint=cp
        ),
        table="embeddings.parquet",
    )
    return (
        embedding_moments_state(spark, state)
        .filter((F.col("i") < 8) & (F.col("j") < 8))
        .select("i", "j", F.round("cov", 6).alias("cov"))
        .orderBy("i", "j")
    )


@register(
    "stream_bloom_dedup",
    # Exact oracle (r14; replaces the r13 oracle=None, whose
    # "rows-only like its stream_* siblings" justification was wrong —
    # the other 12 stream_* rows all carry real oracles). The SQL
    # mirrors the operator's NULL contract exactly: non-null payloads
    # dedup to their DISTINCT set; NULL payloads are NOT members of
    # the filter and pass through ONCE PER ROW (streaming/ops.py
    # stateful_bloom_dedup yields null-item rows as-is) — a bare
    # SELECT DISTINCT would under-state them the moment a fixture
    # carries 2+ null-props rows. On the non-null side the emitted SET
    # equals batch DISTINCT regardless of arrival order or micro-batch
    # boundaries at this fixture's occupancy, and that is PROVED, not
    # assumed: a novel payload can only be falsely dropped if every
    # one of its k md5-slice bit positions was already set by OTHER
    # payloads in its xxhash64 bucket, and tests/test_streaming.py::
    # test_bloom_dedup_fixture_has_no_covering_collisions recomputes
    # all positions at sf0.001 AND sf0.01 and asserts no such covering
    # exists (expected covers at this occupancy: ~1e-7). Duplicate
    # suppression never depends on order (a seen payload's own bits
    # are always set), so the set is batching-independent and the
    # hash gate is sound.
    oracle="""
        SELECT props FROM (
            SELECT DISTINCT props FROM events WHERE props IS NOT NULL
            UNION ALL
            SELECT props FROM events WHERE props IS NULL
        ) ORDER BY props
    """,
    doc="Unbounded-horizon streaming content dedup "
        "(streaming/ops.py stateful_bloom_dedup, "
        "applyInPandasWithState): emit each distinct props payload "
        "once, EVER — no watermark horizon, unlike "
        "stream_dedup_events — while state stays a FIXED "
        "n_buckets x m_bits bitmap (512 KiB at the defaults) at any "
        "stream length. Guarantees: a seen payload is never "
        "re-emitted (bits only get set); a novel payload is wrongly "
        "dropped only at the design FP rate (~1e-7 on this fixture's "
        "occupancy). Only the deduped key column is emitted: WHICH "
        "duplicate survives is arrival-order-dependent by design "
        "(same rule as stream_dedup_events). At 100 TB ingest the k "
        "probe positions are computed JVM-side before the shuffle and "
        "each of the n_buckets state groups updates via vectorized "
        "numpy over Arrow batches — no per-row Python, no global "
        "coordinator, state bounded forever.",
)
def stream_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandrastack_spark.streaming.ops import stateful_bloom_dedup

    out = stateful_bloom_dedup(_estream(spark, sf_dir), "props")
    return (
        run_to_batch(out, "append")
        .select("props")
        .orderBy("props")
    )



@register(
    "stream_monitor_distinct_count",
    # Bit-exact oracle, same register-rebuild arithmetic as the batch
    # distinct_tokens_hll row (queries/llm.py): the HLL register update
    # is max — associative, commutative, IDEMPOTENT — so the max-merge
    # of the per-batch state files is byte-identical to a one-batch
    # build whatever the micro-batch boundaries (and whatever replays
    # the marker guard let through), which is what makes this sketch
    # monitor oracle-capable where arbitrary stateful stream rows are
    # not. DuckDB rebuilds the same p=12 registers from the same md5
    # slices and resolves them through the same estimator tree; the
    # harmonic sum is IEEE-exact in any order (powers of two bounded
    # by m), so both engines land on the identical double before the
    # shared 4-decimal round. The exact COUNT(DISTINCT) rides along so
    # the gate pins reproducibility AND fixture accuracy.
    oracle="""
        WITH h AS (
            SELECT md5(CAST(user_id AS VARCHAR)) AS hx
            FROM events WHERE user_id IS NOT NULL),
        rv AS (
            SELECT
                CAST(list_sum(list_transform(generate_series(1, 3),
                    i -> (strpos('0123456789abcdef', substr(hx, i, 1)) - 1)
                         * 16 ** (3 - i))) AS INT) AS bucket,
                CAST(list_sum(list_transform(generate_series(1, 7),
                    i -> (strpos('0123456789abcdef', substr(hx, 3 + i, 1)) - 1)
                         * 16 ** (7 - i))) AS BIGINT) AS v
            FROM h),
        reg AS (
            SELECT bucket,
                   MAX(CASE WHEN v = 0 THEN 29
                            ELSE 29 - length(bin(v)) END) AS maxrank
            FROM rv GROUP BY bucket),
        est AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS ne,
                   SUM(2.0 ** (-maxrank)) AS hs
            FROM reg),
        ex AS (
            SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM events)
        SELECT ROUND({est_case}, 4) AS est_distinct,
               CAST(4096 AS BIGINT) AS m,
               CAST(ne AS BIGINT) AS nonempty,
               ex.exact_distinct
        FROM est, ex
    """.format(est_case=hll_estimator_sql("ne", "hs")),
    doc="The streaming cardinality monitor end-to-end under a bit-exact "
        "gate: events stream through monitor_distinct_count "
        "(streaming/ops.py — per batch, one 2^p-bounded HLL register "
        "file appended to the state table, marker-guarded), and "
        "distinct_count_state max-merges the accumulated state back to "
        "the running number of distinct users EVER seen — 'how many "
        "unique users/URLs/documents has this stream ingested' in "
        "constant per-batch cost and bounded state, no watermark (the "
        "question has no time window; exact distinct-state grows with "
        "stream cardinality and is the wrong tool at corpus scale). "
        "Register max is idempotent, so at-least-once replay and any "
        "micro-batch partitioning merge to the byte-identical state — "
        "the property that makes this stream row hash-gateable. The "
        "exact count_distinct rides along as the accuracy column.",
)
def stream_monitor_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandrastack_spark.streaming.ops import (
        distinct_count_state,
        monitor_distinct_count,
    )

    state = _resolve_monitor_state(
        spark, sf_dir, "dcount",
        lambda src, sp, cp: monitor_distinct_count(
            src, sp, "user_id", p=12, checkpoint=cp
        ),
    )
    events = spark.read.option("pathGlobFilter", "events.parquet").parquet(
        sf_dir
    )
    exact = events.agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return (
        distinct_count_state(spark, state)
        .crossJoin(F.broadcast(exact))
        .select("est_distinct", "m", "nonempty", "exact_distinct")
    )



@register(
    "stream_hot_keys",
    # Bit-exact oracle, same cell-rebuild arithmetic as the batch
    # token_freq_cm row (queries/llm.py): the CM cell update is a SUM
    # and checkpointed micro-batches deliver each input row to the
    # state table exactly once within a run, so the summed per-batch
    # cell files are bit-identical to a one-batch cm_build whatever
    # the micro-batch boundaries (addition is associative and
    # commutative; the marker guard excludes replayed batches, since
    # unlike HLL max a sum is NOT idempotent). DuckDB rebuilds the
    # same depth x width cells from the same md5 slices, integer end
    # to end; the exact per-key count rides along as the accuracy
    # column. Lifted verbatim from tests/test_r15_oracle_parity.py
    # where it validated green at sf0.001 AND sf0.01 one round ahead.
    oracle="""
        WITH rows_off AS (SELECT * FROM (VALUES (0, 1), (1, 8), (2, 15)) t(r, off)),
        cells AS (
            SELECT r.r AS row,
                   CAST(list_sum(list_transform(generate_series(1, 7),
                       i -> (strpos('0123456789abcdef',
                                    substr(md5(props), off + i - 1, 1)) - 1)
                            * 16 ** (7 - i))) AS BIGINT) % 64 AS col,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events, rows_off r
            WHERE props IS NOT NULL
            GROUP BY 1, 2),
        probes AS (SELECT DISTINCT props FROM events WHERE props IS NOT NULL),
        ppos AS (
            SELECT props, r.r AS row,
                   CAST(list_sum(list_transform(generate_series(1, 7),
                       i -> (strpos('0123456789abcdef',
                                    substr(md5(props), off + i - 1, 1)) - 1)
                            * 16 ** (7 - i))) AS BIGINT) % 64 AS col
            FROM probes, rows_off r),
        est AS (
            SELECT props, MIN(COALESCE(c.cnt, 0)) AS est_count
            FROM ppos LEFT JOIN cells c USING (row, col)
            GROUP BY props),
        exact AS (
            SELECT props, CAST(COUNT(*) AS BIGINT) AS exact_count
            FROM events WHERE props IS NOT NULL GROUP BY props)
        SELECT e.props, e.est_count, x.exact_count
        FROM est e JOIN exact x USING (props)
        ORDER BY e.props
    """,
    doc="The streaming hot-keys monitor end-to-end under a bit-exact "
        "gate: events stream through monitor_hot_keys (streaming/ops.py "
        "— per batch, one depth x width-bounded Count-Min cell file "
        "appended to the state table, marker-guarded against replay "
        "double-counts since sums are not idempotent), and "
        "hot_keys_state sums the accumulated cells back to per-key "
        "frequency estimates — 'how hot is THIS key on the stream so "
        "far' in constant per-batch cost and bounded state, no "
        "watermark (the question has no time window; exact per-key "
        "state grows with key cardinality and is the wrong tool at "
        "corpus scale). CM guarantees survive the streaming build: "
        "never undercounts, overcount bounded by design. The exact "
        "count rides along as the accuracy column.",
)
def stream_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandrastack_spark.streaming.ops import (
        hot_keys_state,
        monitor_hot_keys,
    )

    state = _resolve_monitor_state(
        spark, sf_dir, "hotkeys",
        lambda src, sp, cp: monitor_hot_keys(
            src, sp, "props", width=64, depth=3, checkpoint=cp
        ),
    )
    events = spark.read.option("pathGlobFilter", "events.parquet").parquet(
        sf_dir
    )
    probes = (
        events.filter(F.col("props").isNotNull())
        .select("props")
        .distinct()
    )
    exact = (
        events.filter(F.col("props").isNotNull())
        .groupBy("props")
        .agg(F.count("*").cast("bigint").alias("exact_count"))
    )
    return (
        hot_keys_state(spark, state, probes, "props")
        .join(exact, "props")
        .select("props", "est_count", "exact_count")
        .orderBy("props")
    )



@register(
    "stream_quantile_sample",
    # Bit-exact oracle, same sample-rebuild arithmetic as the batch
    # quantiles_sample_sketch row (queries/llm.py): the bottom-k
    # sample update is min-k on a pure hash key — associative,
    # commutative, IDEMPOTENT — so the hash-dedup + re-take-min-k
    # merge of the per-batch sample files is byte-identical to a
    # one-batch build whatever the micro-batch boundaries (and
    # whatever replays the marker guard let through), the
    # HLL-register idempotence argument. DuckDB rebuilds the
    # identical sample (md5 hex ordering is string ordering) and
    # selects the identical rank element; q and exact_q are raw data
    # doubles — nothing to round. Lifted verbatim from
    # tests/test_r16_oracle_parity.py (staged r14, validated at both
    # SFs).
    oracle="""
        WITH v AS (
            SELECT event_type, event_id, CAST(value AS DOUBLE) AS v
            FROM events
            WHERE value IS NOT NULL AND event_id IS NOT NULL
              AND NOT isnan(CAST(value AS DOUBLE))),
        s AS (
            SELECT event_type, md5(CAST(event_id AS VARCHAR)) AS h, v
            FROM v
            QUALIFY row_number() OVER (
                PARTITION BY event_type
                ORDER BY md5(CAST(event_id AS VARCHAR)), v) <= 256),
        sr AS (
            SELECT event_type, v, h,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY v, h) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM s),
        ps AS (SELECT unnest([0.5, 0.95]) AS p),
        est AS (
            SELECT event_type, p, v AS q
            FROM sr, ps
            WHERE rn = GREATEST(1, CAST(CEIL(p * n) AS BIGINT))),
        er AS (
            SELECT event_type, v,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY v) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM v),
        ex AS (
            SELECT event_type, p, v AS exact_q
            FROM er, ps
            WHERE rn = GREATEST(1, CAST(CEIL(p * n) AS BIGINT)))
        SELECT e.event_type, e.p, e.q, x.exact_q
        FROM est e JOIN ex x USING (event_type, p)
        ORDER BY e.event_type, e.p
    """,
    doc="The streaming quantile monitor end-to-end under a bit-exact "
        "gate: events stream through monitor_value_sample "
        "(streaming/ops.py — per batch, one k-per-group bottom-k "
        "sample file appended to the state table), and "
        "value_sample_state hash-dedups and re-takes min-k back to "
        "the running per-type value quantiles of everything EVER "
        "ingested — 'what does the latency/value distribution look "
        "like so far' in constant per-batch cost and bounded state, "
        "no watermark (the question has no time window; "
        "approx_percentile state is neither persistable nor "
        "mergeable across batches). Min-k on a pure hash key is "
        "idempotent, so at-least-once replay and any micro-batch "
        "partitioning merge to the byte-identical sample — the "
        "property that makes this stream row hash-gateable. The "
        "exact type-1 quantile rides along as the accuracy column.",
)
def stream_quantile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandrastack_spark.operators.sketch import (
        bottomk_sample_quantiles,
        exact_type1_quantiles,
    )
    from cassandrastack_spark.streaming.ops import (
        monitor_value_sample,
        value_sample_state,
    )

    state = _resolve_monitor_state(
        spark, sf_dir, "bks",
        lambda src, sp, cp: monitor_value_sample(
            src, sp, "value", "event_id", k=256,
            group_cols=("event_type",), checkpoint=cp,
        ),
    )
    sample = value_sample_state(spark, state, ("event_type",))
    est = bottomk_sample_quantiles(
        sample, (0.5, 0.95), group_cols=["event_type"]
    )
    events = (
        spark.read.option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select(
            "event_id", "event_type",
            F.col("value").cast("double").alias("v"),
        )
        # same population discipline as the sample builder (NULL key /
        # NULL / NaN value dropped) so both legs and the oracle's
        # single v CTE agree by construction, not by fixture luck
        # (review r16)
        .filter(
            F.col("event_id").isNotNull()
            & F.col("v").isNotNull()
            & ~F.isnan("v")
        )
    )
    exact = exact_type1_quantiles(
        events, "v", (0.5, 0.95), group_cols=["event_type"]
    )
    return (
        est.join(exact, ["event_type", "p"])
        .select("event_type", "p", "q", "exact_q")
        .orderBy("event_type", "p")
    )



@register(
    "stream_psi_alarm",
    # The histogram state is additive with design-constant edges, so
    # the accumulated streaming state equals one batch histogram over
    # the md5-odd half whatever the micro-batch boundaries (cells sum
    # each row exactly once — the stream_hot_keys argument; the
    # marker guard excludes replays since sums are not idempotent);
    # the oracle rebuilds both histograms with the same IEEE bin
    # expression and the same DECIMAL-exact PSI term sum (the
    # corpus_score_drift_psi pattern, over events). Lifted verbatim
    # from tests/test_r16_oracle_parity.py (staged r14, validated at
    # both SFs).
    oracle="""
        WITH binned AS (
          SELECT event_type,
                 substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '8' AS half,
                 CASE WHEN value < 0.0 THEN -1
                      WHEN value >= 100.0 THEN 10
                      ELSE CAST(LEAST(FLOOR((value - 0.0) / 100.0 * 10), 9)
                                AS INT)
                 END AS bin
          FROM events WHERE value IS NOT NULL),
        e AS (
          SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS ce
          FROM binned WHERE half GROUP BY event_type, bin),
        o AS (
          SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS co
          FROM binned WHERE NOT half GROUP BY event_type, bin),
        tot AS (
          SELECT event_type,
                 SUM(CASE WHEN half THEN 1 ELSE 0 END) AS ne,
                 SUM(CASE WHEN NOT half THEN 1 ELSE 0 END) AS no
          FROM binned GROUP BY event_type),
        terms AS (
          SELECT t.event_type,
                 (GREATEST(COALESCE(e.ce, 0) / t.ne, 0.0001)
                  - GREATEST(COALESCE(o.co, 0) / t.no, 0.0001))
                 * LN(GREATEST(COALESCE(e.ce, 0) / t.ne, 0.0001)
                      / GREATEST(COALESCE(o.co, 0) / t.no, 0.0001)) AS term,
                 t.ne, t.no
          FROM (SELECT event_type, bin FROM e
                UNION SELECT event_type, bin FROM o) b
          LEFT JOIN e USING (event_type, bin)
          LEFT JOIN o USING (event_type, bin)
          JOIN tot t USING (event_type))
        SELECT event_type,
               ROUND(CAST(SUM(CAST(term AS DECIMAL(28,18))) AS DOUBLE), 6)
                   AS psi,
               CAST(MAX(ne) AS BIGINT) AS n_expected,
               CAST(MAX(no) AS BIGINT) AS n_observed
        FROM terms GROUP BY event_type ORDER BY event_type
    """,
    doc="The live drift loop end-to-end: a baseline histogram "
        "(md5-even half of events, fixed [0,100)x10 grid, "
        "functions/stats.py histogram_fixed) vs the monitor_histogram "
        "state accumulated by STREAMING the md5-odd half "
        "(streaming/ops.py — per batch, one bin-bounded cell file "
        "appended, marker-guarded against replay double-counts), "
        "resolved through psi_from_histograms per event_type — 'did "
        "ingest drift off what the filters were tuned on' as a "
        "registered row, not just library surface. Histogram state is "
        "additive with design-constant edges, so the streamed state "
        "equals a one-batch build whatever the batching; the PSI term "
        "sum is DECIMAL-exact (order-free) with a shared 6-decimal "
        "round — bit-exact end to end. At 100 TB each side reduces "
        "map-side to types x bins rows; the only shuffle is "
        "histogram-sized, never stream-sized.",
)
def stream_psi_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandrastack_spark.functions.stats import (
        histogram_fixed,
        psi_from_histograms,
    )
    from cassandrastack_spark.streaming.ops import (
        histogram_state,
        monitor_histogram,
    )

    half = (
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1) < "8"
    )
    state = _resolve_monitor_state(
        spark, sf_dir, "psi",
        lambda src, sp, cp: monitor_histogram(
            src.filter(~half), sp, "value", 0.0, 100.0, 10,
            group_cols=("event_type",), checkpoint=cp,
        ),
    )
    events = spark.read.option("pathGlobFilter", "events.parquet").parquet(
        sf_dir
    )
    baseline = histogram_fixed(
        events.filter(half), "value", 0.0, 100.0, 10,
        group_cols=("event_type",),
    )
    live = histogram_state(spark, state, ("event_type",))
    return (
        psi_from_histograms(baseline, live, group_cols=("event_type",))
        .select(
            "event_type",
            F.round("psi", 6).alias("psi"),
            "n_expected",
            "n_observed",
        )
        .orderBy("event_type")
    )



@register(
    "stream_weighted_sample",
    # DuckDB rebuilds the identical A-ES keys (the registered
    # corpus_weighted_sample oracle's md5-uniform arithmetic — a pure
    # function of (key, weight), so the merged state is batching- and
    # replay-invariant) and takes the same per-group bottom 64 by
    # (e, item); selected values are data elements + one shared
    # 6-decimal round on the key. md5 spreads keys across ~19 orders
    # of magnitude, so the bottom-k boundary is never a near-tie —
    # the argument the corpus_weighted_sample gate has held green on
    # since r9. Lifted verbatim from tests/test_r16_oracle_parity.py
    # (staged r14, validated at both SFs).
    oracle="""
        WITH w AS (
            SELECT event_type, CAST(event_id AS VARCHAR) AS item,
                   CAST(value AS DOUBLE) AS w
            FROM events
            WHERE event_id IS NOT NULL AND value IS NOT NULL
              AND NOT isnan(value) AND value > 0),
        ks AS (
            SELECT event_type, item, w,
                   -LN((CAST(list_sum(list_transform(generate_series(1, 8),
                        i -> (strpos('0123456789abcdef',
                                     substr(md5(item), i, 1)) - 1)
                             * 16 ** (8 - i))) AS BIGINT) + 1.0)
                       / 4294967297.0) / w AS e
            FROM w)
        SELECT event_type, item, ROUND(e, 6) AS skey, w
        FROM ks
        QUALIFY row_number() OVER (
            PARTITION BY event_type ORDER BY e, item) <= 64
        ORDER BY event_type, skey, item
    """,
    doc="The streaming weighted reservoir: THE Efraimidis-Spirakis "
        "weighted sample without replacement (weight = event value) "
        "of everything ever ingested, per event_type, in "
        "k-rows-per-group state (operators/sketch.py "
        "weighted_sample_build + streaming/ops.py "
        "monitor_weighted_sample) — how a pipeline maintains a "
        "quality-weighted training subset of an unbounded crawl "
        "without re-scanning history. The A-ES key is a pure function "
        "of (key, weight) using the registered corpus_weighted_sample "
        "oracle's exact md5-uniform arithmetic, so the merged state "
        "is batching- and replay-invariant and the row hash-gates; "
        "the weight-bias inclusion law is asserted as a property in "
        "tests/test_r16_oracle_parity.py. At 100 TB the state is k "
        "rows per group forever; per batch the merge is min-k over "
        "(state + batch), map-side combinable.",
)
def stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandrastack_spark.streaming.ops import (
        monitor_weighted_sample,
        weighted_sample_state,
    )

    state = _resolve_monitor_state(
        spark, sf_dir, "wks",
        lambda src, sp, cp: monitor_weighted_sample(
            src, sp, "event_id", "value", k=64,
            group_cols=("event_type",), checkpoint=cp,
        ),
    )
    sample = weighted_sample_state(spark, state, ("event_type",))
    return (
        sample.select(
            "event_type",
            "item",
            F.round("e", 6).alias("skey"),
            "w",
        )
        .orderBy("event_type", "skey", "item")
    )
