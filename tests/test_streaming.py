"""Structured Streaming semantics tests: watermark late-data policy,
streaming dedup, custom stateful operator across micro-batches.

The oracle gate (tools/verify_local.py) already proves streaming ==
batch on the finite events source; these tests cover what the gate
can't: MULTI-batch behavior — watermark advancement, late-row drops,
bounded-state dedup, and state carried across batches.
"""

import datetime as dt

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from cassandrastack_spark.streaming.ops import (
    events_stream,
    stateful_user_totals,
    streaming_dedup,
    tumbling_window_counts,
)

BASE = dt.datetime(2024, 3, 1, 10, 0, 0)


def _write_batch(d, name, rows):
    """rows: list of (event_id, ts, user_id, event_type, value)."""
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    pdf["props"] = "{}"
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[ns]")
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, str(d / name))


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "stream_in"
    d.mkdir()
    return d


def _start(df, tmp_path, mode):
    return (
        df.writeStream.format("memory")
        .queryName(f"t_{tmp_path.name}")
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )


def test_watermark_drops_late_rows(spark, stream_dir, tmp_path):
    # batch 1: two rows in the 10:00 window + one at 11:30.
    # After batch 1 the watermark is 11:30 - 30min = 11:00, which closes
    # (emits) the [10:00, 11:00) window in append mode.
    _write_batch(stream_dir, "b1.parquet", [
        (1, BASE, 7, "click", 1.0),
        (2, BASE + dt.timedelta(minutes=5), 7, "click", 1.0),
        (3, BASE + dt.timedelta(minutes=90), 7, "click", 1.0),
    ])
    out = tumbling_window_counts(
        events_stream(spark, str(stream_dir)), "1 hour", "30 minutes"
    )
    q = _start(out, tmp_path, "append")
    try:
        q.processAllAvailable()
        # batch 2: a LATE row for the already-closed 10:00 window (behind
        # the watermark -> dropped) + a fresh row at 12:30 that advances
        # the watermark to 12:00 and closes the [11:00, 12:00) window.
        _write_batch(stream_dir, "b2.parquet", [
            (4, BASE + dt.timedelta(minutes=15), 7, "click", 1.0),
            (5, BASE + dt.timedelta(minutes=150), 7, "click", 1.0),
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.window_start.replace(tzinfo=None): r.n
        for r in spark.table(q.name).collect()
    }
    assert got[BASE] == 2, "late row behind the watermark must NOT be counted"
    assert got[BASE + dt.timedelta(hours=1)] == 1
    assert BASE + dt.timedelta(hours=2) not in got, (
        "the still-open window must not be emitted in append mode"
    )


def test_streaming_dedup_within_watermark(spark, stream_dir, tmp_path):
    _write_batch(stream_dir, "b1.parquet", [
        (1, BASE, 7, "click", 1.0),
        (1, BASE, 7, "click", 1.0),            # same-batch duplicate
        (2, BASE + dt.timedelta(minutes=1), 8, "view", 2.0),
    ])
    out = streaming_dedup(
        events_stream(spark, str(stream_dir)), ["event_id"], "30 minutes"
    )
    q = _start(out, tmp_path, "append")
    try:
        q.processAllAvailable()
        _write_batch(stream_dir, "b2.parquet", [
            (2, BASE + dt.timedelta(minutes=1), 8, "view", 2.0),  # cross-batch dup
            (3, BASE + dt.timedelta(minutes=2), 9, "click", 3.0),
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    ids = sorted(r.event_id for r in spark.table(q.name).collect())
    assert ids == [1, 2, 3], "each key emitted exactly once within the watermark"


def test_stateful_totals_accumulate_across_batches(spark, stream_dir, tmp_path):
    _write_batch(stream_dir, "b1.parquet", [
        (1, BASE, 7, "click", 10.0),
        (2, BASE + dt.timedelta(minutes=1), 7, "click", 5.0),
        (3, BASE + dt.timedelta(minutes=2), 8, "view", 1.0),
    ])
    out = stateful_user_totals(events_stream(spark, str(stream_dir)))
    q = _start(out, tmp_path, "update")
    try:
        q.processAllAvailable()
        _write_batch(stream_dir, "b2.parquet", [
            (4, BASE + dt.timedelta(minutes=3), 7, "click", 2.5),
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode appends one row per (user, batch); the final state per
    # user is the row with the largest n_events.
    final = (
        spark.table(q.name)
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .select("user_id", "s.n_events", "s.total_value")
        .collect()
    )
    got = {r.user_id: (r.n_events, r.total_value) for r in final}
    assert got[7] == (3, 17.5), "state must accumulate across micro-batches"
    assert got[8] == (1, 1.0)


def _write_props_batch(d, name, rows):
    """rows: list of (event_id, props) — distinct content payloads."""
    pdf = pd.DataFrame(rows, columns=["event_id", "props"])
    pdf["ts"] = pd.Timestamp(BASE)
    pdf["ts"] = pdf["ts"].astype("datetime64[ns]")
    pdf["user_id"] = 1
    pdf["event_type"] = "doc"
    pdf["value"] = 0.0
    pdf = pdf[["event_id", "ts", "user_id", "event_type", "value", "props"]]
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, str(d / name))


def test_bloom_dedup_emits_each_content_once_across_batches(
    spark, stream_dir, tmp_path
):
    from cassandrastack_spark.streaming.ops import stateful_bloom_dedup

    _write_props_batch(stream_dir, "b1.parquet", [
        (1, "alpha"),
        (2, "alpha"),        # same-batch duplicate content
        (3, "beta"),
        (4, "gamma"),
    ])
    out = stateful_bloom_dedup(
        events_stream(spark, str(stream_dir)), "props"
    )
    q = _start(out, tmp_path, "append")
    try:
        q.processAllAvailable()
        _write_props_batch(stream_dir, "b2.parquet", [
            (5, "beta"),     # cross-batch duplicate content
            (6, "delta"),    # novel
            (7, "gamma"),    # cross-batch duplicate content
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(q.name).collect()
    got = sorted((r.event_id, r.props) for r in rows)
    # each distinct content emitted exactly once, first occurrence wins
    assert [p for _, p in got].count("alpha") == 1
    assert sorted(p for _, p in got) == ["alpha", "beta", "delta", "gamma"]
    assert (6, "delta") in got, "novel content in batch 2 must be emitted"
    assert all(eid not in (5, 7) for eid, _ in got), (
        "cross-batch duplicate content must never be re-emitted"
    )


def test_bloom_dedup_state_survives_many_buckets_and_validates_params(
    spark, stream_dir, tmp_path
):
    from cassandrastack_spark.streaming.ops import stateful_bloom_dedup

    # 200 distinct contents spread over the default 64 buckets, half
    # re-sent in batch 2: exactly the 200 distinct payloads come out
    # (at 12+ bits/item the deterministic md5 layout has no collisions
    # on this fixture — a regression here means the layout changed)
    _write_props_batch(
        stream_dir, "b1.parquet",
        [(i, f"doc-{i}") for i in range(200)],
    )
    out = stateful_bloom_dedup(
        events_stream(spark, str(stream_dir)), "props",
        n_buckets=8, m_bits=8192, k=3,
    )
    q = _start(out, tmp_path, "append")
    try:
        q.processAllAvailable()
        _write_props_batch(
            stream_dir, "b2.parquet",
            [(1000 + i, f"doc-{i}") for i in range(100)],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(q.name).collect()
    assert sorted(r.props for r in rows) == sorted(f"doc-{i}" for i in range(200))
    assert all(r.event_id < 1000 for r in rows), "first occurrence wins"

    import pytest as _pytest

    s = events_stream(spark, str(stream_dir))
    with _pytest.raises(ValueError, match="k must be"):
        stateful_bloom_dedup(s, "props", k=9)
    with _pytest.raises(ValueError, match="m_bits"):
        stateful_bloom_dedup(s, "props", m_bits=100)
    with _pytest.raises(ValueError, match="n_buckets"):
        stateful_bloom_dedup(s, "props", n_buckets=0)


def test_bloom_dedup_null_content_passes_through(spark, stream_dir, tmp_path):
    # NULL content can't be a member: such rows are emitted as-is in
    # EVERY batch (never deduped, never poisoning the bitmap state)
    from cassandrastack_spark.streaming.ops import stateful_bloom_dedup

    _write_props_batch(stream_dir, "b1.parquet", [(1, None), (2, "x")])
    out = stateful_bloom_dedup(
        events_stream(spark, str(stream_dir)), "props"
    )
    q = _start(out, tmp_path, "append")
    try:
        q.processAllAvailable()
        _write_props_batch(stream_dir, "b2.parquet", [(3, None), (4, "x")])
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted((r.event_id, r.props) for r in spark.table(q.name).collect())
    assert got == [(1, None), (2, "x"), (3, None)]


def test_stream_ingest_into_wide_column_table(spark, stream_dir, tmp_path):
    """ingest_stream lands micro-batches through WideColumnTable.append:
    read-back shows upsert (last-writer-wins) semantics across batches
    and the same bucket layout as batch writes."""
    from cassandrastack_spark.catalog import Keyspace
    from cassandrastack_spark.streaming.ops import events_stream, ingest_stream
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    ks = Keyspace(spark, "ingest_ks", str(tmp_path / "wh")).create()
    spec = ks.create_table(
        "events_store", schema,
        partition_keys=["user_id"],
        clustering_keys=["ts"], clustering_desc=True,
    )
    from cassandrastack_spark.storage import WideColumnTable
    table = WideColumnTable(spark, ks, spec, n_buckets=4)

    _write_batch(stream_dir, "b1.parquet", [
        (1, BASE, 100, "click", 1.0),
        (2, BASE, 200, "view", 2.0),
    ])
    stream = events_stream(spark, str(stream_dir))
    q = ingest_stream(stream, table, checkpoint=str(tmp_path / "ckpt1"))
    q.awaitTermination()
    # second batch upserts event 1 (same PK: user_id + ts) with new value
    _write_batch(stream_dir, "b2.parquet", [
        (1, BASE, 100, "click", 9.0),
        (3, BASE, 300, "click", 3.0),
    ])
    q = ingest_stream(stream, table, checkpoint=str(tmp_path / "ckpt1"))
    q.awaitTermination()

    rows = {r.user_id: r for r in table.read().collect()}
    assert set(rows) == {100, 200, 300}
    assert rows[100].value == 9.0, "second micro-batch must win the upsert"
    # clustering/pruning contract intact: point read goes through the
    # driver-side bucket route and returns the current row
    got = table.read_partition(user_id=100).collect()
    assert len(got) == 1 and got[0].value == 9.0


def test_append_mode_emits_only_watermark_passed_windows(spark, stream_dir, tmp_path):
    """APPEND output: a window is emitted exactly once, when the
    watermark passes its end; still-open tail windows are held back.
    (The oracle gate asserts the same property end-to-end on the events
    fixture via the stream_*_append queries; this covers it per-batch.)"""
    from cassandrastack_spark.streaming.ops import run_to_batch

    _write_batch(stream_dir, "b1.parquet", [
        (1, BASE, 100, "click", 1.0),                                  # 10:00
        (2, BASE + dt.timedelta(minutes=30), 100, "view", 1.0),        # 10:30
        (3, BASE + dt.timedelta(hours=2), 100, "click", 1.0),          # 12:00
    ])
    stream = events_stream(spark, str(stream_dir))
    out = run_to_batch(tumbling_window_counts(stream), "append")
    starts = {r.window_start for r in out.collect()}
    # final watermark = 12:00 - 30min = 11:30: the 10:00 window (end
    # 11:00 <= 11:30) finalizes; the 12:00 window (end 13:00) is open
    assert starts == {BASE}
    # complete mode over the same source emits held-back windows too
    out_c = run_to_batch(tumbling_window_counts(events_stream(spark, str(stream_dir))))
    assert {r.window_start for r in out_c.collect()} == {
        BASE, BASE + dt.timedelta(hours=2)
    }


def test_run_to_batch_removes_its_checkpoint(spark, stream_dir, monkeypatch):
    """run_to_batch checkpoints to a fresh temp directory nothing reads
    after the query stops: it is removed when the query finishes AND
    when it fails, while the result stays readable. The state
    partition count is capped at the session's task slots."""
    import glob
    import os
    import tempfile

    from cassandrastack_spark.streaming import ops
    from cassandrastack_spark.streaming.ops import run_to_batch

    def ckpts() -> set:
        return set(glob.glob(
            os.path.join(tempfile.gettempdir(), "cs_stream_ckpt_*")
        ))

    _write_batch(stream_dir, "b1.parquet", [
        (1, BASE, 100, "click", 1.0),
        (2, BASE + dt.timedelta(hours=2), 100, "click", 1.0),
    ])
    before = ckpts()
    made = []
    mkdtemp = tempfile.mkdtemp

    def spy(*a, **kw):
        made.append(mkdtemp(*a, **kw))
        return made[-1]

    monkeypatch.setattr(ops.tempfile, "mkdtemp", spy)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    out = run_to_batch(
        tumbling_window_counts(events_stream(spark, str(stream_dir))),
        state_partitions=spark.sparkContext.defaultParallelism + 4,
    )
    assert out.count() == 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == old_parts
    assert made and not os.path.exists(made[-1])
    assert ckpts() <= before

    # a query that fails still releases its checkpoint
    bad = events_stream(spark, str(stream_dir)).select(
        F.assert_true(F.col("value") < 0).alias("v")
    )
    with pytest.raises(Exception):
        run_to_batch(bad, "append")
    assert not os.path.exists(made[-1])
    assert ckpts() <= before


def test_run_to_batch_drops_its_sink_view(spark, stream_dir):
    """run_to_batch leaves no memory-sink table registered, whether the
    query finished or failed, and each returned frame still reads its
    rows: the frame's own plan keeps the sink alive."""
    from cassandrastack_spark.streaming.ops import run_to_batch

    def sinks() -> list:
        return [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("cs_stream_sink_")
        ]

    _write_batch(stream_dir, "b1.parquet", [
        (1, BASE, 100, "click", 1.0),
        (2, BASE + dt.timedelta(minutes=10), 101, "view", 2.0),
        (3, BASE + dt.timedelta(hours=2), 100, "click", 3.0),
    ])
    outs = [
        run_to_batch(
            tumbling_window_counts(events_stream(spark, str(stream_dir)))
        )
        for _ in range(3)
    ]
    assert sinks() == []
    for out in outs:
        assert len(out.collect()) == 3
        assert len(out.toPandas()) == 3

    # a query that fails drops its sink view too
    bad = events_stream(spark, str(stream_dir)).select(
        F.assert_true(F.col("value") < 0).alias("v")
    )
    with pytest.raises(Exception):
        run_to_batch(bad, "append")
    assert sinks() == []


def test_stream_ingest_maintains_rollup(spark, stream_dir, tmp_path):
    """ingest_with_rollup: after every micro-batch the maintained
    rollup equals a from-scratch rollup of the table's current state —
    including an upsert that changes a bucket's max."""
    from cassandrastack_spark.catalog import Keyspace
    from cassandrastack_spark.operators.rollup_ts import rollup_events
    from cassandrastack_spark.storage import WideColumnTable
    from cassandrastack_spark.streaming.ops import events_stream, ingest_with_rollup
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    ks = Keyspace(spark, "rollup_ks", str(tmp_path / "wh")).create()
    spec = ks.create_table(
        "ev", schema, partition_keys=["user_id"], clustering_keys=["ts"],
    )
    table = WideColumnTable(spark, ks, spec, n_buckets=4)
    rollup_path = str(tmp_path / "rollup_1h")

    def check():
        got = {
            (r.bucket_start, r.event_type): (r.n, r.sum_v, r.min_v, r.max_v)
            for r in spark.read.parquet(rollup_path).collect()
        }
        want = {
            (r.bucket_start, r.event_type): (r.n, r.sum_v, r.min_v, r.max_v)
            for r in rollup_events(
                table.read(), "ts", ["event_type"], "value", "1 hour"
            ).collect()
        }
        assert got == want

    _write_batch(stream_dir, "r1.parquet", [
        (1, BASE, 100, "click", 5.0),
        (2, BASE, 200, "view", 2.0),
    ])
    q = ingest_with_rollup(
        events_stream(spark, str(stream_dir)), table, rollup_path,
        "ts", ["event_type"], "value", checkpoint=str(tmp_path / "ck"),
    )
    q.awaitTermination()
    check()

    # second batch: new bucket row + an UPSERT (same user_id+ts) that
    # lowers the click max from 5.0 to 1.0 — patch-style rollups would
    # keep the stale max; recompute-from-current must not
    _write_batch(stream_dir, "r2.parquet", [
        (3, BASE, 100, "click", 1.0),
        (4, BASE, 300, "search", 7.0),
    ])
    q = ingest_with_rollup(
        events_stream(spark, str(stream_dir)), table, rollup_path,
        "ts", ["event_type"], "value", checkpoint=str(tmp_path / "ck"),
    )
    q.awaitTermination()
    check()
    [click] = [
        r for r in spark.read.parquet(rollup_path).collect()
        if r.event_type == "click"
    ]
    assert click.max_v == 1.0 and click.n == 1


def test_stateful_totals_tws_matches_legacy_api(spark, stream_dir, tmp_path):
    """transformWithStateInPandas (Spark 4 stateful API, RocksDB state
    store) accumulates identically to the applyInPandasWithState op."""
    pytest.importorskip(
        "google.protobuf",
        reason="pyspark's transformWithState protocol needs protobuf; "
               "not shipped in this container",
    )
    from cassandrastack_spark.streaming.ops import stateful_user_totals_tws

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        _write_batch(stream_dir, "t1.parquet", [
            (1, BASE, 7, "click", 10.0),
            (2, BASE + dt.timedelta(minutes=1), 7, "click", 5.0),
            (3, BASE + dt.timedelta(minutes=2), 8, "view", 1.0),
        ])
        out = stateful_user_totals_tws(events_stream(spark, str(stream_dir)))
        q = _start(out, tmp_path, "update")
        try:
            q.processAllAvailable()
            _write_batch(stream_dir, "t2.parquet", [
                (4, BASE + dt.timedelta(minutes=3), 7, "click", 2.5),
            ])
            q.processAllAvailable()
        finally:
            q.stop()
        final = (
            spark.table(q.name)
            .groupBy("user_id")
            .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
            .select("user_id", "s.n_events", "s.total_value")
            .collect()
        )
        got = {r.user_id: (r.n_events, r.total_value) for r in final}
        assert got[7] == (3, 17.5)
        assert got[8] == (1, 1.0)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_ingest_with_dedup_index(spark, tmp_path):
    """ingest_with_dedup: the streaming crawl loop — batch 1 seeds the
    corpus + index (collapsing in-batch exact dups), batch 2's exact
    and near duplicates of ACCEPTED docs are rejected via the persisted
    band index while novel docs land and extend it."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cassandrastack_spark.streaming.ops import ingest_with_dedup

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    d = tmp_path / "docs_in"
    d.mkdir()
    words = [f"w{i}" for i in range(30)]
    text_a = " ".join(words)
    text_b = " ".join(f"b{i}" for i in range(30))
    text_c = " ".join(f"c{i}" for i in range(30))
    text_d = " ".join(f"d{i}" for i in range(30))
    near_b = " ".join(("CHANGED" if i == 15 else f"b{i}") for i in range(30))

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(d / name))

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = ingest_with_dedup(
            src, str(tmp_path / "band_index"), str(tmp_path / "accepted"),
            checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination(120)

    write("b1.parquet", [(1, text_a), (2, text_b), (3, text_c), (4, text_a)])
    run()
    ids = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "accepted")).collect())
    assert ids == [1, 2, 3], "in-batch exact dup (id 4) collapses"

    write("b2.parquet", [(10, text_d), (11, text_a), (12, near_b)])
    run()
    ids = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "accepted")).collect())
    assert ids == [1, 2, 3, 10], (
        "exact copy (11) and near-dup (12) rejected against the index; "
        f"novel doc lands: {ids}"
    )
    idx_ids = {r.id for r in spark.read.parquet(str(tmp_path / "band_index")).collect()}
    assert idx_ids == {1, 2, 3, 10}, "index extends with survivors only"


def test_stream_ingest_vectors_with_near_dup_rejection(spark, tmp_path):
    """ingest_vectors: the embedding-side ingest loop — batch 1 trains
    and builds the IVF+PQ index (collapsing in-batch id dups), batch
    2's exact/near copies of ACCEPTED vectors are rejected via the
    probed index (exact re-rank cosine >= threshold) while novel
    vectors land, extend the index with the STORED training, and
    append to the accepted floats."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from cassandrastack_spark.streaming.ops import ingest_vectors

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    d = tmp_path / "vecs_in"
    d.mkdir()
    v1 = [1.0, 0.0, 0.0, 0.0, 0.2, 0.0, 0.0, 0.0]
    v2 = [0.0, 1.0, 0.0, 0.0, 0.0, 0.3, 0.0, 0.0]
    v3 = [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.4, 0.0]
    v_new = [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.5]

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = ingest_vectors(
            src, str(tmp_path / "ivfpq"), str(tmp_path / "acc_vecs"),
            reject_cosine=0.98, k_centroids=2, m_sub=4, k_codes=2,
            checkpoint=str(tmp_path / "vckpt"))
        q.awaitTermination(120)

    write("b1.parquet", [(1, v1), (2, v2), (3, v3), (1, v1)])
    run()
    ids = sorted(
        r.vec_id for r in spark.read.parquet(str(tmp_path / "acc_vecs")).collect()
    )
    assert ids == [1, 2, 3], f"in-batch id dup collapses: {ids}"

    write("b2.parquet", [(10, v_new), (11, list(v1)), (12, list(v2))])
    run()
    ids = sorted(
        r.vec_id for r in spark.read.parquet(str(tmp_path / "acc_vecs")).collect()
    )
    assert ids == [1, 2, 3, 10], (
        f"identical vectors (11, 12) rejected at cosine 0.98; novel "
        f"vector lands: {ids}"
    )
    idx_ids = sorted(
        r.neighbor_id
        for r in spark.read.parquet(str(tmp_path / "ivfpq")).collect()
    )
    assert idx_ids == [1, 2, 3, 10], "index extends with survivors only"


def test_dedup_ingest_extends_index_across_fresh_checkpoints(spark, tmp_path):
    """Review regression (round 5): epoch markers must be CHECKPOINT-
    scoped, not index-global. A second ingest run with a FRESH
    checkpoint restarts batch ids at 0 — an index-global marker from
    the first run's batch 0 made the second run silently skip its
    index extend, leaving accepted docs permanently unindexed (near-
    dups of them would pass the probe forever)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cassandrastack_spark.streaming.ops import ingest_with_dedup

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    text_a = " ".join(f"a{i}" for i in range(30))
    text_b = " ".join(f"b{i}" for i in range(30))
    text_c = " ".join(f"c{i}" for i in range(30))
    index, accepted = str(tmp_path / "band"), str(tmp_path / "acc")

    def run(src_name, rows, ckpt):
        d = tmp_path / src_name
        d.mkdir()
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            str(d / "data.parquet"),
        )
        src = spark.readStream.schema(schema).parquet(str(d))
        q = ingest_with_dedup(
            src, index, accepted, checkpoint=str(tmp_path / ckpt))
        q.awaitTermination(120)

    # run 1 (checkpoint 1): batches 0.. seed the corpus + index
    run("in1", [(1, text_a)], "ck1")
    run("in1b", [(2, text_b)], "ck1b")  # fresh ckpt -> batch id 0 AGAIN
    idx_ids = {r.id for r in spark.read.parquet(index).collect()}
    assert idx_ids == {1, 2}, (
        f"doc 2 (fresh-checkpoint batch 0) must extend the index: {idx_ids}"
    )
    # and the recall hole stays closed: a near-dup of doc 2 is caught
    # by a THIRD independent run
    near_b = " ".join(("X" if i == 3 else f"b{i}") for i in range(30))
    run("in2", [(10, near_b), (11, text_c)], "ck2")
    acc_ids = sorted(r.doc_id for r in spark.read.parquet(accepted).collect())
    assert acc_ids == [1, 2, 11], f"near-dup of doc 2 must be rejected: {acc_ids}"


def test_ingest_vectors_collapses_in_batch_identical_vectors(spark, tmp_path):
    """Review regression (round 6): bit-identical vectors under
    DIFFERENT ids arriving in the SAME micro-batch must collapse to
    the lowest id — the reject_cosine probe only sees previously
    ACCEPTED vectors, so without the in-batch content pass an
    availableNow backlog processed as one batch landed every copy of
    a duplicate cluster permanently. Checked on both the build batch
    and a later extend batch."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from cassandrastack_spark.streaming.ops import ingest_vectors

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    d = tmp_path / "vecs_dup_in"
    d.mkdir()
    v1 = [1.0, 0.0, 0.0, 0.0, 0.2, 0.0, 0.0, 0.0]
    v2 = [0.0, 1.0, 0.0, 0.0, 0.0, 0.3, 0.0, 0.0]
    v3 = [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.4, 0.0]
    v4 = [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.5]

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = ingest_vectors(
            src, str(tmp_path / "ivfpq_dup"), str(tmp_path / "acc_dup"),
            reject_cosine=0.98, k_centroids=2, m_sub=4, k_codes=2,
            checkpoint=str(tmp_path / "dckpt"))
        q.awaitTermination(120)

    # build batch: ids 5/6 carry the SAME vector as id 1
    write("b1.parquet", [(1, v1), (5, list(v1)), (6, list(v1)), (2, v2)])
    run()
    acc = str(tmp_path / "acc_dup")
    ids = sorted(r.vec_id for r in spark.read.parquet(acc).collect())
    assert ids == [1, 2], f"in-batch identical vectors collapse to lowest id: {ids}"

    # extend batch: one whole duplicate cluster (20/21 identical) + novel 30
    write("b2.parquet", [(20, v3), (21, list(v3)), (30, v4)])
    run()
    ids = sorted(r.vec_id for r in spark.read.parquet(acc).collect())
    assert ids == [1, 2, 20, 30], (
        f"duplicate cluster collapses in-batch, novel vector lands: {ids}"
    )
    idx = sorted(
        r.neighbor_id
        for r in spark.read.parquet(str(tmp_path / "ivfpq_dup")).collect()
    )
    assert idx == [1, 2, 20, 30], "index holds exactly the accepted ids"


def test_ingest_with_dedup_maintains_bm25_index(spark, tmp_path):
    """With bm25_index_path set, the streaming crawl loop maintains
    the persisted BM25 postings alongside the band index: batch 1
    builds both, batch 2's survivors extend both, rejected near-dups
    index nowhere, and probing the BM25 index at the end equals
    bm25_rank over exactly the accepted corpus."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cassandrastack_spark.llm.retrieval import bm25_rank, probe_bm25_index
    from cassandrastack_spark.streaming.ops import ingest_with_dedup

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    d = tmp_path / "docs_bm_in"
    d.mkdir()
    text_a = "spark vector " + " ".join(f"a{i}" for i in range(20))
    text_b = "stream join " + " ".join(f"b{i}" for i in range(20))
    text_c = "vector stream vector " + " ".join(f"c{i}" for i in range(20))
    near_b = "stream join " + " ".join(
        ("CHANGED" if i == 9 else f"b{i}") for i in range(20)
    )

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = ingest_with_dedup(
            src, str(tmp_path / "band_bm"), str(tmp_path / "acc_bm"),
            checkpoint=str(tmp_path / "ckpt_bm"),
            bm25_index_path=str(tmp_path / "bm25_bm"))
        q.awaitTermination(120)

    write("b1.parquet", [(1, text_a), (2, text_b)])
    run()
    write("b2.parquet", [(10, text_c), (11, near_b)])
    run()
    accepted = spark.read.parquet(str(tmp_path / "acc_bm"))
    assert sorted(r.doc_id for r in accepted.collect()) == [1, 2, 10]
    got = probe_bm25_index(
        spark, str(tmp_path / "bm25_bm"), ["vector", "stream", "join"], k=10
    )
    want = bm25_rank(accepted, ["vector", "stream", "join"], k=10)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ], "probe over the streamed index == bm25_rank over accepted docs"
    assert 11 not in {
        r.doc_id for r in got.collect()
    }, "rejected near-dup never entered the postings"


def test_stream_ingest_vectors_in_batch_near_dup_collapse(spark, tmp_path):
    """Round-7 regression (VERDICT r6 #4): two NOISE-PERTURBED copies
    of the same vector (near-identical, different bits) arriving in
    ONE availableNow batch must collapse to the lowest id before the
    corpus probe — previously only bit-identical in-batch pairs
    collapsed, so both copies landed permanently. A transitive chain
    (a~b~c) keeps exactly its component minimum."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from cassandrastack_spark.streaming.ops import ingest_vectors

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    d = tmp_path / "vecs_in2"
    d.mkdir()
    base = [1.0, 0.0, 0.0, 0.0, 0.2, 0.0, 0.0, 0.0]
    near = [1.0, 0.001, 0.0, 0.0, 0.2, 0.001, 0.0, 0.0]   # ~cos 1.0 to base
    nearer = [1.0, 0.002, 0.0, 0.0, 0.2, 0.002, 0.0, 0.0]  # chains via near
    other = [0.0, 1.0, 0.0, 0.0, 0.0, 0.3, 0.0, 0.0]
    far = [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.5]

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = ingest_vectors(
            src, str(tmp_path / "ivfpq2"), str(tmp_path / "acc_vecs2"),
            reject_cosine=0.98, k_centroids=2, m_sub=4, k_codes=2,
            checkpoint=str(tmp_path / "vckpt2"))
        q.awaitTermination(120)

    # ONE batch: a near-dup cluster {5, 6, 7} (chained) + 2 novel
    write("b1.parquet", [(6, near), (5, base), (7, nearer),
                         (20, other), (21, far)])
    run()
    ids = sorted(
        r.vec_id
        for r in spark.read.parquet(str(tmp_path / "acc_vecs2")).collect()
    )
    assert ids == [5, 20, 21], (
        f"in-batch near-dup cluster must keep only its min id: {ids}"
    )
    idx_ids = sorted(
        r.neighbor_id
        for r in spark.read.parquet(str(tmp_path / "ivfpq2")).collect()
    )
    assert idx_ids == [5, 20, 21], "index holds survivors only"

    # a later batch replaying one of the collapsed ids still rejects
    # against the accepted corpus (5 is accepted, 6 is its near-dup)
    write("b2.parquet", [(6, near)])
    run()
    ids = sorted(
        r.vec_id
        for r in spark.read.parquet(str(tmp_path / "acc_vecs2")).collect()
    )
    assert ids == [5, 20, 21], f"cross-batch near-dup still rejected: {ids}"


def test_monitor_embedding_moments_matches_batch_covariance(spark, tmp_path):
    """monitor_embedding_moments: the merged streaming state must equal
    embedding_covariance over the union of all ingested rows (the
    drift detector is exact, not approximate); re-running over an
    already-processed source appends nothing (marker + checkpoint);
    and a manually replayed batch row (the crash window) collapses in
    the reader."""
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from cassandrastack_spark.llm.embstats import embedding_covariance
    from cassandrastack_spark.streaming.ops import (
        embedding_moments_state,
        monitor_embedding_moments,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    d = tmp_path / "mom_in"
    d.mkdir()
    rows = [
        (i, [0.1 * ((i * 7 + j) % 5) - 0.2 for j in range(6)])
        for i in range(40)
    ]

    def write(name, chunk):
        pdf = pd.DataFrame(chunk, columns=["vec_id", "embedding"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = monitor_embedding_moments(
            src, str(tmp_path / "mom_state"),
            checkpoint=str(tmp_path / "mom_ckpt"),
        )
        q.awaitTermination(120)

    write("b1.parquet", rows[:25])
    run()
    write("b2.parquet", rows[25:])
    run()

    state_path = str(tmp_path / "mom_state")
    batch = spark.createDataFrame(rows, schema)
    want = {
        (r.i, r.j): r.cov
        for r in embedding_covariance(batch, "embedding").collect()
    }
    got = {
        (r.i, r.j): r.cov
        for r in embedding_moments_state(spark, state_path).collect()
    }
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want), max(
        abs(got[k] - want[k]) for k in want
    )

    # idempotent re-run: no new files => no new batches => state unchanged
    n_rows = spark.read.parquet(state_path).count()
    run()
    assert spark.read.parquet(state_path).count() == n_rows

    # replayed batch row (same batch_id, byte-identical) collapses
    one = spark.read.parquet(state_path).limit(1)
    one.write.mode("append").parquet(state_path)
    replayed = {
        (r.i, r.j): r.cov
        for r in embedding_moments_state(spark, state_path).collect()
    }
    assert all(abs(replayed[k] - want[k]) < 1e-9 for k in want)

    # a monitor that has never landed a state file (young stream,
    # empty batches) reads as an EMPTY frame, not an error — the
    # polling drift scheduler must not wedge on startup
    empty = embedding_moments_state(spark, str(tmp_path / "nonexistent"))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["i", "j", "cov"]


def test_monitor_distinct_count_matches_batch_hll(spark, tmp_path):
    """monitor_distinct_count: the merged streaming state must equal
    hll_estimate(hll_build(...)) over the union of all ingested rows
    (streaming == batch, the Structured Streaming contract); a re-run
    over a processed source appends nothing; a manually replayed
    register file (the crash window) changes NOTHING — max is
    idempotent; and mixed precisions in one path refuse loudly."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cassandrastack_spark.operators.sketch import hll_build, hll_estimate
    from cassandrastack_spark.streaming.ops import (
        distinct_count_state,
        monitor_distinct_count,
    )

    schema = StructType([
        StructField("ev_id", LongType()),
        StructField("content", StringType()),
    ])
    d = tmp_path / "hll_in"
    d.mkdir()
    # 120 rows, 80 distinct contents, overlapping across the two batches
    rows = [(i, f"doc-{i % 80}") for i in range(120)]

    def write(name, chunk):
        pdf = pd.DataFrame(chunk, columns=["ev_id", "content"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = monitor_distinct_count(
            src, str(tmp_path / "hll_state"), "content",
            checkpoint=str(tmp_path / "hll_ckpt"),
        )
        q.awaitTermination(120)

    write("b1.parquet", rows[:70])
    run()
    write("b2.parquet", rows[70:])
    run()

    state_path = str(tmp_path / "hll_state")
    batch = spark.createDataFrame(rows, schema)
    want = hll_estimate(hll_build(batch, "content", p=12)).collect()[0]
    got = distinct_count_state(spark, state_path).collect()[0]
    assert got == want
    # and the sketch is actually near the truth in the linear regime
    assert abs(got["est_distinct"] - 80) < 2

    # idempotent re-run: no new files => no new batches => no growth
    n_rows = spark.read.parquet(state_path).count()
    run()
    assert spark.read.parquet(state_path).count() == n_rows

    # replayed state rows collapse (idempotent max-merge)
    spark.read.parquet(state_path).limit(5).write.mode(
        "append"
    ).partitionBy("p").parquet(state_path)
    assert distinct_count_state(spark, state_path).collect()[0] == want

    # compaction: merged registers replace the per-batch files without
    # moving the estimate (staged-commit partition swap)
    from cassandrastack_spark.streaming.ops import (
        compact_distinct_count_state,
    )

    import glob as _glob

    files_before = len(_glob.glob(f"{state_path}/p=12/*.parquet"))
    compact_distinct_count_state(spark, state_path)
    files_after = len(_glob.glob(f"{state_path}/p=12/*.parquet"))
    assert files_after < files_before
    assert distinct_count_state(spark, state_path).collect()[0] == want

    # young stream: no state files yet reads as a 0 estimate
    young = distinct_count_state(spark, str(tmp_path / "hll_nowhere"))
    assert young.collect()[0]["est_distinct"] == 0.0

    # mixed precision refuses loudly
    hll_build(batch, "content", p=16).coalesce(1).write.mode(
        "append"
    ).partitionBy("p").parquet(state_path)
    with pytest.raises(ValueError, match="mixes HLL precisions"):
        distinct_count_state(spark, state_path).collect()


def test_compact_hll_state_survives_concurrent_append(spark, tmp_path):
    """The compactor race the snapshot-scoped commit exists for: a
    register file appended AFTER the compactor snapshots the file list
    (the live monitor landing a batch mid-compaction) must survive the
    commit — an overwrite-style compactor would silently delete it,
    permanently losing that batch's distinct items. The compaction is
    staged and its manifest committed, the late file lands, then
    recovery finishes the commit."""
    from cassandrastack_spark.operators.sketch import hll_build, hll_estimate
    from cassandrastack_spark.streaming.ops import (
        _hll_merge,
        _recover_compaction,
        _stage_compaction,
        distinct_count_state,
    )

    state_path = str(tmp_path / "hll_race_state")
    early = spark.range(100).select(
        F.concat(F.lit("early-"), F.col("id")).alias("x")
    )
    late = spark.range(50).select(
        F.concat(F.lit("late-"), F.col("id")).alias("x")
    )
    for chunk in (early.filter(F.col("x").substr(-1, 1) < "5"),
                  early.filter(F.col("x").substr(-1, 1) >= "5")):
        hll_build(chunk, "x", p=12).coalesce(1).write.mode(
            "append"
        ).partitionBy("p").parquet(state_path)

    import glob as _glob

    snapshot = sorted(_glob.glob(f"{state_path}/p=12/*.parquet"))
    assert len(snapshot) == 2
    assert _stage_compaction(spark, state_path, _hll_merge, ("p",))
    # the monitor lands a batch inside the compactor's window
    hll_build(late, "x", p=12).coalesce(1).write.mode(
        "append"
    ).partitionBy("p").parquet(state_path)

    want = hll_estimate(
        hll_build(early.unionAll(late), "x", p=12)
    ).collect()[0]
    _recover_compaction(spark, state_path)
    got = distinct_count_state(spark, state_path).collect()[0]
    assert got == want  # the late batch's items survived the commit
    # snapshot files are gone; the late file and the merged file remain
    import os as _os

    assert not any(_os.path.exists(f) for f in snapshot)
    assert len(_glob.glob(f"{state_path}/p=12/*.parquet")) == 2


def test_monitor_hot_keys_matches_batch_cm_and_compaction_is_crash_safe(
    spark, tmp_path
):
    """monitor_hot_keys: (a) the sum-merged streaming state must equal
    cm_estimate(cm_build(...)) over the union of all ingested rows
    (streaming == batch); (b) a re-run over a processed source appends
    nothing; (c) compaction changes no estimate and shrinks the state
    to one file; (d) the CRASH WINDOW — staged merge + manifest
    committed, process dies before moves/deletes — recovers to the
    EXACT same estimates on the next compactor entry (CM cells sum,
    so the naive append-then-delete protocol would have permanently
    doubled them; the manifest protocol must not); (e) mixed
    geometries in one path refuse loudly."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cassandrastack_spark.operators.sketch import cm_build, cm_estimate
    from cassandrastack_spark.streaming.ops import (
        _stage_compaction,
        compact_hot_keys_state,
        hot_keys_state,
        monitor_hot_keys,
    )

    schema = StructType([
        StructField("ev_id", LongType()),
        StructField("content", StringType()),
    ])
    d = tmp_path / "cm_in"
    d.mkdir()
    # 150 rows over 40 keys with a skewed head, split across 2 batches
    rows = [(i, f"k-{(i * i) % 40}") for i in range(110)] + [
        (1000 + i, "k-7") for i in range(40)
    ]

    def write(name, chunk):
        pdf = pd.DataFrame(chunk, columns=["ev_id", "content"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    state_path = str(tmp_path / "cm_state")

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = monitor_hot_keys(
            src, state_path, "content", width=64, depth=3,
            checkpoint=str(tmp_path / "cm_ckpt"),
        )
        q.awaitTermination(120)

    write("b1.parquet", rows[:80])
    run()
    write("b2.parquet", rows[80:])
    run()

    batch = spark.createDataFrame(rows, schema)
    probes = batch.select("content").distinct()

    def estimates(df):
        return {r.content: r.est_count for r in df.collect()}

    want = estimates(
        cm_estimate(cm_build(batch, "content", width=64, depth=3),
                    probes, "content")
    )
    got = estimates(hot_keys_state(spark, state_path, probes, "content"))
    assert got == want
    # the heavy key's estimate is at least its true count (CM contract)
    true_k7 = sum(1 for _, c in rows if c == "k-7")
    assert got["k-7"] >= true_k7

    # (b) idempotent re-run: no new files
    n_files = len(spark.read.parquet(state_path).inputFiles())
    assert n_files == 2
    run()
    assert len(spark.read.parquet(state_path).inputFiles()) == 2

    # (d) crash window FIRST (state still has 2 files): stage + manifest,
    # then "die" — the next compact entry must finish the commit with
    # estimates unchanged (the naive protocol would double them here)
    assert _stage_compaction(spark, state_path)
    compact_hot_keys_state(spark, state_path)
    assert estimates(
        hot_keys_state(spark, state_path, probes, "content")
    ) == want
    assert len(spark.read.parquet(state_path).inputFiles()) == 1

    # (c) a straight compaction on the compacted state is a no-op
    compact_hot_keys_state(spark, state_path)
    assert estimates(
        hot_keys_state(spark, state_path, probes, "content")
    ) == want

    # (e) mixed geometry refuses
    cm_build(batch, "content", width=32, depth=3).coalesce(1).write.mode(
        "append"
    ).parquet(state_path)
    with pytest.raises(ValueError, match="mixes CM geometries"):
        hot_keys_state(spark, state_path, probes, "content")

    # empty / missing state estimates 0 for everything
    out = hot_keys_state(
        spark, str(tmp_path / "never_written"), probes, "content"
    )
    assert all(r.est_count == 0 for r in out.collect())


def test_hot_keys_compaction_preserves_mixed_geometries(spark, tmp_path):
    """Review r13: compaction groups by (row, col, w, d) — two
    incompatible sketches mistakenly written to one path must SURVIVE
    compaction as distinct geometries so hot_keys_state's loud refusal
    still fires afterwards (a max(w)/max(d) collapse would launder the
    corruption into one plausible-looking sketch)."""
    from cassandrastack_spark.operators.sketch import cm_build
    from cassandrastack_spark.streaming.ops import (
        compact_hot_keys_state,
        hot_keys_state,
    )

    df = spark.createDataFrame([(f"k{i}",) for i in range(50)], "key string")
    state = str(tmp_path / "mixed_state")
    cm_build(df, "key", width=64).coalesce(1).write.mode("append").parquet(state)
    cm_build(df, "key", width=32).coalesce(1).write.mode("append").parquet(state)
    compact_hot_keys_state(spark, state)
    got = spark.read.parquet(state)
    assert got.select("w").distinct().count() == 2, (
        "compaction collapsed the geometries"
    )
    with pytest.raises(ValueError, match="mixes CM geometries"):
        hot_keys_state(spark, state, df.select("key"), "key")


def test_monitor_histogram_matches_batch_and_feeds_psi(spark, tmp_path):
    """monitor_histogram: the sum-merged streaming state must equal one
    histogram_fixed over the union of all ingested rows; a re-run over
    a processed source appends nothing; the crash-window stage+die
    recovers to exact counts (additive state, same protocol as the CM
    monitor); the state feeds psi_from_histograms directly — identical
    distributions read exactly 0; an empty monitor reads as an empty
    frame and PSI reports NULL with n_observed=0, not an error."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from cassandrastack_spark.functions.stats import (
        histogram_fixed,
        psi_from_histograms,
    )
    from cassandrastack_spark.streaming.ops import (
        _stage_compaction,
        compact_histogram_state,
        histogram_state,
        monitor_histogram,
    )

    schema = StructType([
        StructField("ev_id", LongType()),
        StructField("src", StringType()),
        StructField("score", DoubleType()),
    ])
    d = tmp_path / "hist_in"
    d.mkdir()
    rows = [
        (i, f"s{i % 3}", ((i * 37) % 100) / 100.0) for i in range(300)
    ]

    def write(name, chunk):
        pdf = pd.DataFrame(chunk, columns=["ev_id", "src", "score"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    state = str(tmp_path / "hist_state")

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = monitor_histogram(
            src, state, "score", 0.0, 1.0, 10, group_cols=("src",),
            checkpoint=str(tmp_path / "hist_ckpt"),
        )
        q.awaitTermination(120)

    write("b1.parquet", rows[:140])
    run()
    write("b2.parquet", rows[140:])
    run()

    batch = spark.createDataFrame(rows, schema)
    want = sorted(
        (r.src, r.bin, r.cnt)
        for r in histogram_fixed(
            batch, "score", 0.0, 1.0, 10, group_cols=("src",)
        ).collect()
    )

    def got():
        return sorted(
            (r.src, r.bin, r.cnt)
            for r in histogram_state(spark, state, ("src",)).collect()
        )

    assert got() == want
    n_files = len(spark.read.parquet(state).inputFiles())
    assert n_files == 2
    run()  # idempotent re-run
    assert len(spark.read.parquet(state).inputFiles()) == 2

    # crash window: stage + manifest, die, recover on next compact
    assert _stage_compaction(
        spark, state, key_cols=("src", "bin"), sum_col="cnt"
    )
    compact_histogram_state(spark, state, ("src",))
    assert got() == want
    assert len(spark.read.parquet(state).inputFiles()) == 1

    # identical distributions -> PSI exactly 0 per group
    live = histogram_state(spark, state, ("src",))
    psi = psi_from_histograms(live, live, group_cols=("src",)).collect()
    assert {r.src for r in psi} == {"s0", "s1", "s2"}
    assert all(r.psi == 0.0 for r in psi)

    # empty monitor: empty frame; PSI vs a baseline -> NULL psi, 0 obs
    empty = histogram_state(spark, str(tmp_path / "nope"), ("src",))
    assert empty.count() == 0
    rep = psi_from_histograms(live, empty, group_cols=("src",)).collect()
    assert all(r.psi is None and r.n_observed == 0 for r in rep)


def test_compactors_tolerate_never_written_state(spark, tmp_path):
    """Review r13: 'may run at any time' includes before the monitor's
    first non-empty batch — a missing state directory is nothing to
    compact, not an AnalysisException crashing the maintenance job."""
    from cassandrastack_spark.streaming.ops import (
        compact_components_state,
        compact_distinct_count_state,
        compact_histogram_state,
        compact_hot_keys_state,
        compact_value_sample_state,
        compact_weighted_sample_state,
    )

    compact_hot_keys_state(spark, str(tmp_path / "never_a"))
    compact_histogram_state(spark, str(tmp_path / "never_b"), ("src",))
    compact_distinct_count_state(spark, str(tmp_path / "never_c"))
    compact_value_sample_state(spark, str(tmp_path / "never_d"))
    compact_weighted_sample_state(spark, str(tmp_path / "never_e"))
    compact_components_state(spark, str(tmp_path / "never_f"))


@pytest.mark.parametrize(
    "kind",
    [
        "components",
        "distinct_count",
        "hot_keys",
        "histogram",
        "value_sample",
        "weighted_sample",
    ],
)
def test_compaction_crash_window_every_state_kind(
    spark, tmp_path, monkeypatch, kind
):
    """Every monitor state compacts through one manifested commit. A
    compactor that stages its merge, commits the manifest and then dies
    is finished by the next compact_*_state call: the one file left is
    that manifest's staged part and the answer is unchanged. A file the
    live monitor appends after the snapshot survives the finished
    commit."""
    import glob as _glob
    import json as _json
    import os as _os

    from cassandrastack_spark.functions.stats import histogram_fixed
    from cassandrastack_spark.operators.sketch import (
        bottomk_sample_build,
        cm_build,
        hll_build,
        weighted_sample_build,
    )
    from cassandrastack_spark.streaming import ops

    def rows(i):  # batch i: 40 events, overlapping the previous batch
        return spark.range(30 * i, 30 * i + 40).select(
            "id",
            F.concat(F.lit("x"), F.col("id")).alias("x"),
            (F.col("id") % 2).cast("string").alias("src"),
            ((F.col("id") * 7) % 20 / 20.0).alias("score"),
            (1.0 + F.col("id") % 5).alias("w"),
        )

    probes = spark.range(200).select(
        F.concat(F.lit("x"), F.col("id")).alias("x")
    )
    # kind -> (batch i's state rows, partition columns, reader, compactor)
    build, parts, read, compact = {
        "components": (
            # node 0 moves to a new component every batch: only its
            # newest-epoch row may survive
            lambda i: spark.createDataFrame(
                [(0, i, i)] + [(10 * i + j, 10 * i, i) for j in (1, 2, 3)],
                "node long, comp long, epoch long",
            ),
            (),
            lambda p: ops.components_state(spark, p),
            ops.compact_components_state,
        ),
        "distinct_count": (
            lambda i: hll_build(rows(i), "x", p=8),
            ("p",),
            lambda p: ops.distinct_count_state(spark, p),
            ops.compact_distinct_count_state,
        ),
        "hot_keys": (
            lambda i: cm_build(rows(i), "x", width=64, depth=3),
            (),
            lambda p: ops.hot_keys_state(spark, p, probes, "x"),
            ops.compact_hot_keys_state,
        ),
        "histogram": (
            lambda i: histogram_fixed(
                rows(i), "score", 0.0, 1.0, 5, group_cols=("src",)
            ),
            (),
            lambda p: ops.histogram_state(spark, p, ("src",)),
            ops.compact_histogram_state,
        ),
        "value_sample": (
            lambda i: bottomk_sample_build(
                rows(i), "score", "id", k=128, group_cols=["src"]
            ),
            ("k",),
            lambda p: ops.value_sample_state(spark, p, ("src",)),
            ops.compact_value_sample_state,
        ),
        "weighted_sample": (
            lambda i: weighted_sample_build(
                rows(i), "id", "w", k=128, group_cols=["src"]
            ),
            ("k",),
            lambda p: ops.weighted_sample_state(spark, p, ("src",)),
            ops.compact_weighted_sample_state,
        ),
    }[kind]
    state, ref = str(tmp_path / "state"), str(tmp_path / "ref")

    def append(i):  # one monitor batch, into the state and the reference
        for path in (state, ref):
            out = build(i).coalesce(1).write.mode("append")
            if parts:
                out = out.partitionBy(*parts)
            out.parquet(path)

    def files():
        return sorted(_glob.glob(f"{state}/**/*.parquet", recursive=True))

    def answer(path):
        return sorted(map(tuple, read(path).collect()))

    def compact_then_die():
        with monkeypatch.context() as m:
            m.setattr(ops, "_recover_compaction", lambda *a: None)
            compact(spark, state)
        return _json.loads(open(state + ".compact.manifest").read())

    append(0)
    append(1)
    before = files()
    rec = compact_then_die()
    assert files() == before  # nothing visible happened yet
    compact(spark, state)
    assert files() == [_os.path.join(state, r) for r in rec["staged"]]
    assert answer(state) == answer(ref)

    append(2)
    compact_then_die()
    append(3)  # lands after the snapshot
    compact(spark, state)
    assert answer(state) == answer(ref)
    assert len(files()) == 1
    assert _glob.glob(state + ".compact*") == []


def test_monitor_embedding_moments_null_batch_and_ragged_dims(
    spark, tmp_path
):
    """The moments monitor runs through the shared marker-guarded sink:
    a batch whose vectors are all null writes its marker and no state
    file, and vectors of two lengths in one batch still raise."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from cassandrastack_spark.streaming.ops import monitor_embedding_moments

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    d = tmp_path / "in"
    d.mkdir()

    def write(name, chunk):
        pdf = pd.DataFrame(chunk, columns=["vec_id", "embedding"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False, schema=pa.schema(
                [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float64()))]
            )),
            str(d / name),
        )

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        return monitor_embedding_moments(
            src, str(tmp_path / "state"), checkpoint=str(tmp_path / "ckpt")
        )

    write("b1.parquet", [(1, None), (2, None)])
    run().awaitTermination(120)
    assert (tmp_path / "ckpt" / "cs_epochs" / "0").exists()
    assert not (tmp_path / "state").exists()

    write("b2.parquet", [(3, [0.1, 0.2, 0.3])])
    write("b3.parquet", [(4, [0.1, 0.2, 0.3, 0.4])])
    q = run()
    with pytest.raises(Exception, match="ragged"):
        q.awaitTermination(120)
    assert not (tmp_path / "ckpt" / "cs_epochs" / "1").exists()


def test_histogram_state_empty_frame_honors_group_schema(spark, tmp_path):
    from cassandrastack_spark.streaming.ops import histogram_state

    out = histogram_state(
        spark, str(tmp_path / "nope2"), ("shard_id",),
        group_schema="shard_id int",
    )
    assert out.schema.simpleString() == (
        "struct<shard_id:int,bin:int,cnt:bigint>"
    )
    assert out.count() == 0


def test_monitor_histogram_validates_params_eagerly(spark, tmp_path):
    from pyspark.sql.types import DoubleType, StructField, StructType

    from cassandrastack_spark.streaming.ops import monitor_histogram

    (tmp_path / "in").mkdir()
    schema = StructType([StructField("score", DoubleType())])
    src = spark.readStream.schema(schema).parquet(str(tmp_path / "in"))
    with pytest.raises(ValueError, match="lo < hi"):
        monitor_histogram(src, str(tmp_path / "st"), "score", 1.0, 1.0, 10)
    with pytest.raises(ValueError, match="bins"):
        monitor_histogram(src, str(tmp_path / "st"), "score", 0.0, 1.0, 0)


def test_bloom_dedup_fixture_has_no_covering_collisions(spark):
    """Soundness proof for stream_bloom_dedup's exact-DISTINCT oracle
    (queries/streaming.py): the emitted set can differ from batch
    DISTINCT only if some payload's k bit positions are all covered by
    the union of OTHER payloads' bits within its bucket (then one
    arrival order falsely drops it and another doesn't). Recompute
    every distinct payload's bucket and positions with the OPERATOR'S
    OWN expressions (xxhash64 % n_buckets; md5-slice positions — the
    same columns stateful_bloom_dedup shuffles on) at both driver SFs
    and assert no covering exists, making the oracle exact for every
    batching and arrival order. Duplicate suppression never depends on
    order (a seen payload's own bits are always set), so coverings are
    the ONLY order-dependence.
    """
    from cassandrastack_spark.operators.sketch import _BLOOM_OFFSETS

    n_buckets, m_bits, k = 64, 65536, 3
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        vals = (
            spark.read.parquet(f"{sf}/events.parquet")
            .select("props")
            .filter(F.col("props").isNotNull())
            .distinct()
        )
        hx = F.md5(F.col("props").cast("string"))
        rows = vals.select(
            F.pmod(
                F.xxhash64(F.col("props").cast("string")), F.lit(n_buckets)
            ).cast("int").alias("bucket"),
            F.array(*[
                F.conv(F.substring(hx, off, 7), 16, 10).cast("long") % m_bits
                for off in _BLOOM_OFFSETS[:k]
            ]).alias("pos"),
        ).collect()
        by_bucket: dict[int, list[set[int]]] = {}
        for r in rows:
            by_bucket.setdefault(r.bucket, []).append(set(r.pos))
        assert sum(len(v) for v in by_bucket.values()) == len(rows)
        for bucket, sets in by_bucket.items():
            for i, bits in enumerate(sets):
                others = set().union(
                    *(s for j, s in enumerate(sets) if j != i)
                ) if len(sets) > 1 else set()
                assert not bits <= others, (
                    f"{sf}: payload bits {sorted(bits)} in bucket "
                    f"{bucket} are covered by other payloads — the "
                    "exact-DISTINCT oracle would be order-dependent; "
                    "re-gate stream_bloom_dedup rows-only or resize"
                )


def test_additive_compaction_aborts_when_staged_parts_lost(spark, tmp_path):
    """Review r13 (concurrent compactors): instance B's pre-commit
    orphan sweep can race away instance A's staged tmp dir between A's
    stage write and manifest rename — A's manifest then commits with
    its merged data gone. Recovery must treat that as an ABORT (keep
    every snapshot file, drop manifest+tmp, answers exact, state
    merely uncompacted), never delete snapshot files whose merged
    restatement it cannot prove present. Also pins the abort's
    all-or-nothing back-out: a staged part already moved into the
    state dir is removed on abort (keeping it beside the snapshot
    would double the counts it re-states).
    """
    import shutil

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from cassandrastack_spark.functions.stats import histogram_fixed
    from cassandrastack_spark.streaming.ops import (
        _stage_compaction,
        compact_histogram_state,
        histogram_state,
        monitor_histogram,
    )

    schema = StructType([
        StructField("ev_id", LongType()),
        StructField("src", StringType()),
        StructField("score", DoubleType()),
    ])
    d = tmp_path / "hin"
    d.mkdir()
    rows = [(i, f"s{i % 2}", ((i * 13) % 50) / 50.0) for i in range(200)]

    def write(name, chunk):
        pdf = pd.DataFrame(chunk, columns=["ev_id", "src", "score"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    state = str(tmp_path / "hstate")

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = monitor_histogram(
            src, state, "score", 0.0, 1.0, 8, group_cols=("src",),
            checkpoint=str(tmp_path / "hckpt"),
        )
        q.awaitTermination(120)

    write("b1.parquet", rows[:90])
    run()
    write("b2.parquet", rows[90:])
    run()

    batch = spark.createDataFrame(rows, schema)
    want = sorted(
        (r.src, r.bin, r.cnt)
        for r in histogram_fixed(
            batch, "score", 0.0, 1.0, 8, group_cols=("src",)
        ).collect()
    )

    def got():
        return sorted(
            (r.src, r.bin, r.cnt)
            for r in histogram_state(spark, state, ("src",)).collect()
        )

    assert got() == want
    assert len(spark.read.parquet(state).inputFiles()) == 2

    # stage + manifest commit, then lose the staged merge (the race).
    # staging dirs are per-attempt (<state>.compact.tmp.<uuid>, ADVICE
    # r14) and the manifest records its own — resolve it from there
    import json as _json

    assert _stage_compaction(spark, state, sum_col="cnt")
    rec0 = _json.loads(open(state + ".compact.manifest").read())
    shutil.rmtree(str(tmp_path / rec0["tmp"]))
    compact_histogram_state(spark, state, ("src",))
    # aborted: snapshot intact, answers exact, manifest gone...
    assert got() == want
    assert not (tmp_path / "hstate.compact.manifest").exists()
    # ...and a clean re-run compacts normally
    compact_histogram_state(spark, state, ("src",))
    assert got() == want
    assert len(spark.read.parquet(state).inputFiles()) == 1

    # abort back-out: stage again is impossible on 1 file; append a
    # second file by re-running the monitor on a new batch, then stage,
    # move ONE staged part in by hand, lose the rest — abort must
    # remove the moved part too
    write("b3.parquet", [(10_000 + i, "s0", 0.99) for i in range(10)])
    run()
    want3 = sorted(
        (r.src, r.bin, r.cnt)
        for r in histogram_fixed(
            spark.createDataFrame(
                rows + [(10_000 + i, "s0", 0.99) for i in range(10)], schema
            ),
            "score", 0.0, 1.0, 8, group_cols=("src",),
        ).collect()
    )
    assert got() == want3
    assert _stage_compaction(spark, state, sum_col="cnt")
    import os as _os

    manifest_path = state + ".compact.manifest"
    rec = _json.loads(open(manifest_path).read())
    tmp = str(tmp_path / rec["tmp"])
    moved = rec["staged"][0]
    _os.rename(_os.path.join(tmp, moved), _os.path.join(state, moved))
    # fake a second staged part the sweep "lost" so the proof fails
    rec["staged"].append("part-lost-by-race.parquet")
    open(manifest_path, "w").write(_json.dumps(rec))
    # drop Hadoop LocalFileSystem's checksum sidecar — the manifest was
    # rewritten behind its back and a stale .crc would fail the read
    crc = tmp_path / ".hstate.compact.manifest.crc"
    if crc.exists():
        crc.unlink()
    shutil.rmtree(tmp)
    compact_histogram_state(spark, state, ("src",))
    assert got() == want3  # moved part backed out; snapshot intact


def test_additive_compaction_derives_merge_key_from_schema(spark, tmp_path):
    """Review r13: compact_histogram_state used to trust caller
    group_cols as the merge key — the default () on a grouped
    monitor's state silently collapsed counts across groups,
    irreversibly. Now the key is derived from the state schema; a
    supplied key set that doesn't cover the non-sum columns raises."""
    from cassandrastack_spark.functions.stats import histogram_fixed
    from cassandrastack_spark.streaming.ops import (
        _stage_compaction,
        compact_histogram_state,
        histogram_state,
    )

    rows = [(f"s{i % 3}", ((i * 7) % 20) / 20.0) for i in range(120)]
    batch = spark.createDataFrame(rows, "src string, score double")
    h = histogram_fixed(batch, "score", 0.0, 1.0, 5, group_cols=("src",))
    state = str(tmp_path / "hs")
    # two appended "batch" files, like the monitor writes
    h.coalesce(1).write.mode("append").parquet(state)
    h.coalesce(1).write.mode("append").parquet(state)
    want = sorted(
        (r.src, r.bin, 2 * r.cnt) for r in h.collect()
    )
    # the old bug: compacting a GROUPED state with the default () —
    # must now preserve groups (key derived from schema), not collapse
    compact_histogram_state(spark, state)
    got = sorted(
        (r.src, r.bin, r.cnt)
        for r in histogram_state(spark, state, ("src",)).collect()
    )
    assert got == want
    # a key set that misses a schema column refuses loudly
    h.coalesce(1).write.mode("append").parquet(state)
    with pytest.raises(ValueError, match="do not cover"):
        _stage_compaction(
            spark, state, sum_col="cnt", key_cols=("bin",)
        )
    # and a wrong sum column refuses too
    with pytest.raises(ValueError, match="not in state schema"):
        _stage_compaction(spark, state, sum_col="nope")


def test_additive_compaction_stages_per_attempt_dirs(spark, tmp_path):
    """ADVICE r14: with a SHARED staging dir, a concurrent compactor's
    overwrite between this attempt's stage write and its listStatus
    cross-wired the manifest (the other attempt's staged parts against
    this attempt's snapshot list), double-counting any file appended
    between the two snapshots. Staging dirs are now per-attempt
    (<state>.compact.tmp.<uuid>, recorded in the manifest): a loser
    attempt aborts loudly, sweeps ITS OWN staging, and never touches
    the winner's; recovery sweeps orphaned attempt dirs."""
    import glob as _glob
    import json as _json
    import os as _os

    from cassandrastack_spark.functions.stats import histogram_fixed
    from cassandrastack_spark.streaming.ops import (
        _recover_compaction,
        _stage_compaction,
        histogram_state,
    )

    rows = [(f"s{i % 2}", ((i * 7) % 20) / 20.0) for i in range(80)]
    batch = spark.createDataFrame(rows, "src string, score double")
    h = histogram_fixed(batch, "score", 0.0, 1.0, 5, group_cols=("src",))
    state = str(tmp_path / "astate")
    h.coalesce(1).write.mode("append").parquet(state)
    h.coalesce(1).write.mode("append").parquet(state)
    want = sorted((r.src, r.bin, 2 * r.cnt) for r in h.collect())

    # attempt A commits its manifest, which records ITS OWN unique
    # staging dir by name
    assert _stage_compaction(spark, state, sum_col="cnt")
    rec_a = _json.loads(open(state + ".compact.manifest").read())
    assert rec_a["tmp"].startswith("astate.compact.tmp.")
    assert rec_a["tmp"] != "astate.compact.tmp"

    # attempt B races in while A's manifest is live: it must abort
    # loudly, clean up its own staging, and leave A's untouched
    with pytest.raises(RuntimeError, match="concurrent compactor"):
        _stage_compaction(spark, state, sum_col="cnt")
    side = sorted(
        _os.path.basename(p)
        for p in _glob.glob(state + ".compact.tmp*")
    )
    assert side == [rec_a["tmp"]]

    # recovery finishes A's commit exactly: merged answer, one file,
    # no side dirs left
    _recover_compaction(spark, state)
    got = sorted(
        (r.src, r.bin, r.cnt)
        for r in histogram_state(spark, state, ("src",)).collect()
    )
    assert got == want
    assert len(spark.read.parquet(state).inputFiles()) == 1
    assert _glob.glob(state + ".compact.tmp*") == []

    # a stray per-attempt dir with no manifest is a pre-commit orphan:
    # the next recovery entry sweeps it
    _os.makedirs(state + ".compact.tmp.deadbeef")
    _recover_compaction(spark, state)
    assert _glob.glob(state + ".compact.tmp*") == []
    assert got == sorted(
        (r.src, r.bin, r.cnt)
        for r in histogram_state(spark, state, ("src",)).collect()
    )


def test_monitor_value_sample_matches_batch_sample(spark, tmp_path):
    """monitor_value_sample: the merged streaming state must equal
    bottomk_sample_build over the union of all ingested rows
    (streaming == batch); a re-run appends nothing; a manually
    replayed sample file changes NOTHING — the hash-dedup merge is
    idempotent; compaction shrinks files without moving any quantile;
    mixed sample sizes in one path refuse loudly; a never-written
    state reads as an empty frame."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from cassandrastack_spark.operators.sketch import (
        bottomk_sample_build,
        bottomk_sample_quantiles,
    )
    from cassandrastack_spark.streaming.ops import (
        compact_value_sample_state,
        monitor_value_sample,
        value_sample_state,
    )

    schema = StructType([
        StructField("ev_id", LongType()),
        StructField("src", StringType()),
        StructField("score", DoubleType()),
    ])
    d = tmp_path / "bks_in"
    d.mkdir()
    rows = [(i, f"s{i % 2}", float((i * 31) % 97)) for i in range(400)]

    def write(name, chunk):
        pdf = pd.DataFrame(chunk, columns=["ev_id", "src", "score"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    state = str(tmp_path / "bks_state")

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = monitor_value_sample(
            src, state, "score", "ev_id", k=64, group_cols=("src",),
            checkpoint=str(tmp_path / "bks_ckpt"),
        )
        q.awaitTermination(120)

    write("b1.parquet", rows[:250])
    run()
    write("b2.parquet", rows[250:])
    run()

    batch = spark.createDataFrame(rows, schema)
    want = sorted(
        map(
            tuple,
            bottomk_sample_build(
                batch, "score", "ev_id", k=64, group_cols=["src"]
            ).collect(),
        )
    )

    def got():
        return sorted(
            map(tuple, value_sample_state(spark, state, ("src",)).collect())
        )

    assert got() == want

    # idempotent re-run: no new files
    n_rows = spark.read.parquet(state).count()
    run()
    assert spark.read.parquet(state).count() == n_rows

    # replayed state rows collapse (hash-dedup merge)
    spark.read.parquet(state).limit(7).write.mode("append").partitionBy(
        "k"
    ).parquet(state)
    assert got() == want

    # compaction shrinks the file count without moving any quantile
    q_before = sorted(
        map(
            tuple,
            bottomk_sample_quantiles(
                value_sample_state(spark, state, ("src",)),
                (0.25, 0.5, 0.95),
                group_cols=["src"],
            ).collect(),
        )
    )
    import glob as _glob

    files_before = len(_glob.glob(f"{state}/k=64/*.parquet"))
    # the compactor DERIVES the group columns from the state schema
    # (review r14: a caller-supplied default () would have retaken all
    # groups in one window and permanently halved each group's sample)
    compact_value_sample_state(spark, state)
    assert len(_glob.glob(f"{state}/k=64/*.parquet")) < files_before
    assert got() == want
    q_after = sorted(
        map(
            tuple,
            bottomk_sample_quantiles(
                value_sample_state(spark, state, ("src",)),
                (0.25, 0.5, 0.95),
                group_cols=["src"],
            ).collect(),
        )
    )
    assert q_after == q_before

    # never-written state: empty frame with the contract schema
    young = value_sample_state(spark, str(tmp_path / "bks_nowhere"), ("src",))
    assert young.count() == 0
    assert [f.name for f in young.schema.fields] == ["src", "h", "v", "k"]

    # a reader group set that doesn't cover the state schema refuses
    # (review r14: a retake under missing group columns silently drops
    # sample rows across groups)
    with pytest.raises(ValueError, match="do not cover"):
        value_sample_state(spark, state)

    # mixed k refuses loudly — in the reader AND the compactor (review
    # r14: compacting interleaved k=32/k=64 rows would corrupt both
    # sketches and delete the originals before the reader's refusal
    # could ever fire)
    bottomk_sample_build(
        batch, "score", "ev_id", k=32, group_cols=["src"]
    ).coalesce(1).write.mode("append").partitionBy("k").parquet(state)
    with pytest.raises(ValueError, match="mixes sample sizes"):
        value_sample_state(spark, state, ("src",))
    with pytest.raises(ValueError, match="mixes sample sizes"):
        compact_value_sample_state(spark, state)
    # ...and the refusal fired BEFORE any write: both sketches intact
    ks = sorted(
        r.k for r in spark.read.parquet(state).select("k").distinct().collect()
    )
    assert ks == [32, 64]


def test_additive_compaction_recovers_legacy_manifest(spark, tmp_path):
    """A manifest that does not parse — here the pre-JSON format, a
    bare newline-joined snapshot path list — must never wedge every
    future compaction on a JSONDecodeError. It proves nothing, so the
    commit aborts: every snapshot file is kept, the manifest and every
    side directory (here the shared ``.compact.tmp`` that format staged
    into) are dropped, and the compactor then compacts the state
    normally. Two cases: with the side dir present and with it gone."""
    from cassandrastack_spark.functions.stats import histogram_fixed
    from cassandrastack_spark.streaming.ops import (
        compact_histogram_state,
        histogram_state,
    )

    rows = [(f"s{i % 2}", ((i * 11) % 30) / 30.0) for i in range(150)]
    batch = spark.createDataFrame(rows, "src string, score double")
    h = histogram_fixed(batch, "score", 0.0, 1.0, 6, group_cols=("src",))
    want = sorted((r.src, r.bin, 2 * r.cnt) for r in h.collect())

    def got(state):
        return sorted(
            (r.src, r.bin, r.cnt)
            for r in histogram_state(spark, state, ("src",)).collect()
        )

    # case 1: legacy manifest + tmp dir present -> commit finishes
    state = str(tmp_path / "leg1")
    h.coalesce(1).write.mode("append").parquet(state)
    h.coalesce(1).write.mode("append").parquet(state)
    snapshot = sorted(spark.read.parquet(state).inputFiles())
    merged = (
        spark.read.parquet(*snapshot)
        .groupBy("src", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    tmp = state + ".compact.tmp"
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    with open(state + ".compact.manifest", "w") as f:
        f.write("\n".join(snapshot))  # the pre-JSON format
    compact_histogram_state(spark, state)
    assert got(state) == want
    assert len(spark.read.parquet(state).inputFiles()) <= 2  # merged (+none)

    # case 2: legacy manifest, tmp dir GONE -> abort, snapshot kept
    state2 = str(tmp_path / "leg2")
    h.coalesce(1).write.mode("append").parquet(state2)
    h.coalesce(1).write.mode("append").parquet(state2)
    snapshot2 = sorted(spark.read.parquet(state2).inputFiles())
    with open(state2 + ".compact.manifest", "w") as f:
        f.write("\n".join(snapshot2))
    compact_histogram_state(spark, state2)
    assert got(state2) == want


def test_monitor_weighted_sample_matches_batch_sample(spark, tmp_path):
    """monitor_weighted_sample: the merged streaming state must equal
    weighted_sample_build over the union of all ingested rows; re-runs
    and replayed files change nothing (key-dedup merge); compaction
    shrinks files without moving the sample; wrong reader group set
    and mixed sample sizes refuse loudly."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from cassandrastack_spark.operators.sketch import weighted_sample_build
    from cassandrastack_spark.streaming.ops import (
        compact_weighted_sample_state,
        monitor_weighted_sample,
        weighted_sample_state,
    )

    schema = StructType([
        StructField("ev_id", LongType()),
        StructField("src", StringType()),
        StructField("quality", DoubleType()),
    ])
    d = tmp_path / "wks_in"
    d.mkdir()
    rows = [
        (i, f"s{i % 2}", float(1 + (i * 13) % 50) / 5.0) for i in range(300)
    ]

    def write(name, chunk):
        pdf = pd.DataFrame(chunk, columns=["ev_id", "src", "quality"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    state = str(tmp_path / "wks_state")

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = monitor_weighted_sample(
            src, state, "ev_id", "quality", k=32, group_cols=("src",),
            checkpoint=str(tmp_path / "wks_ckpt"),
        )
        q.awaitTermination(120)

    write("b1.parquet", rows[:180])
    run()
    write("b2.parquet", rows[180:])
    run()

    batch = spark.createDataFrame(rows, schema)
    want = sorted(
        map(
            tuple,
            weighted_sample_build(
                batch, "ev_id", "quality", k=32, group_cols=["src"]
            ).collect(),
        )
    )

    def got():
        return sorted(
            map(
                tuple, weighted_sample_state(spark, state, ("src",)).collect()
            )
        )

    assert got() == want

    # idempotent re-run + replayed file invariance
    n_rows = spark.read.parquet(state).count()
    run()
    assert spark.read.parquet(state).count() == n_rows
    spark.read.parquet(state).limit(5).write.mode("append").partitionBy(
        "k"
    ).parquet(state)
    assert got() == want

    # compaction: derived groups, sample unchanged, fewer files
    import glob as _glob

    files_before = len(_glob.glob(f"{state}/k=32/*.parquet"))
    compact_weighted_sample_state(spark, state)
    assert len(_glob.glob(f"{state}/k=32/*.parquet")) < files_before
    assert got() == want

    # never-written state: typed empty frame
    young = weighted_sample_state(spark, str(tmp_path / "wks_nowhere"), ("src",))
    assert young.count() == 0
    assert [f.name for f in young.schema.fields] == [
        "src", "item", "e", "w", "k",
    ]

    # wrong group set refuses; mixed k refuses in reader AND compactor
    with pytest.raises(ValueError, match="do not cover"):
        weighted_sample_state(spark, state)
    weighted_sample_build(
        batch, "ev_id", "quality", k=16, group_cols=["src"]
    ).coalesce(1).write.mode("append").partitionBy("k").parquet(state)
    with pytest.raises(ValueError, match="mixes sample sizes"):
        weighted_sample_state(spark, state, ("src",))
    with pytest.raises(ValueError, match="mixes sample sizes"):
        compact_weighted_sample_state(spark, state)


def test_stream_ingest_with_fuzzy_dedup_index(spark, tmp_path):
    """ingest_with_fuzzy_dedup: the streaming ER loop — batch 1 seeds
    the accepted store + variant index (collapsing in-batch exact
    dups, dropping malformed NULL rows), batch 2's exact and
    near-duplicate names of ACCEPTED records are rejected via the
    persisted index WITHIN their block while novel records land and
    extend it, and batch 3 is matched against batch 2's extension."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from cassandrastack_spark.streaming.ops import ingest_with_fuzzy_dedup

    schema = StructType([
        StructField("key", LongType()),
        StructField("name", StringType()),
        StructField("nation", LongType()),
    ])
    d = tmp_path / "recs_in"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["key", "name", "nation"])
        # explicit arrow schema: a None in a long column must not decay
        # the parquet physical type to DOUBLE
        tbl = pa.Table.from_pandas(
            pdf,
            schema=pa.schema(
                [("key", pa.int64()), ("name", pa.string()),
                 ("nation", pa.int64())]
            ),
            preserve_index=False,
        )
        pq.write_table(tbl, str(d / name))

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = ingest_with_fuzzy_dedup(
            src, str(tmp_path / "fz_index"), str(tmp_path / "accepted"),
            key_col="key", str_col="name", max_dist=1,
            block_cols=("nation",),
            checkpoint=str(tmp_path / "ckpt"),
        )
        if not q.awaitTermination(120):
            q.stop()  # no zombie ingest skewing later timings
            raise RuntimeError("fuzzy ingest did not finish")

    write("b1.parquet", [
        (1, "wolfe", 0), (2, "jones", 0), (3, "wolfe", 0),
        (4, None, 0), (5, "nullnation", None),
    ])
    run()
    acc = spark.read.parquet(str(tmp_path / "accepted"))
    assert sorted(r.key for r in acc.collect()) == [1, 2], (
        "in-batch exact dup collapses to the lowest key; NULL "
        "name/block rows are dropped as malformed"
    )

    write("b2.parquet", [
        (10, "wolf", 0),    # near-dup of accepted wolfe, same block
        (11, "jones", 1),   # exact string, DIFFERENT block: accepted
        (12, "smith", 0),   # novel: accepted, extends the index
        (13, "wolfe", 0),   # exact copy of accepted: rejected
    ])
    run()
    acc = spark.read.parquet(str(tmp_path / "accepted"))
    assert sorted(r.key for r in acc.collect()) == [1, 2, 11, 12]

    write("b3.parquet", [(20, "smyth", 0), (21, "wolfe", 2)])
    run()
    acc = spark.read.parquet(str(tmp_path / "accepted"))
    assert sorted(r.key for r in acc.collect()) == [1, 2, 11, 12, 21], (
        "smyth must be rejected against batch 2's survivor smith — "
        "the index extension is live for later drops; wolfe in a "
        "fresh block is novel evidence"
    )
    # re-running the whole stream against the same checkpoint replays
    # nothing: accepted unchanged
    run()
    acc = spark.read.parquet(str(tmp_path / "accepted"))
    assert sorted(r.key for r in acc.collect()) == [1, 2, 11, 12, 21]


def test_stream_fuzzy_ingest_replay_after_extend_crash(spark, tmp_path):
    """The extend→append crash window, pinned directly: if a batch's
    index extend committed (epoch marker present) but the accepted
    append never ran, the replay must ACCEPT the batch's rows — they
    self-match their own just-extended index rows, and rejecting on
    those would lose the batch forever. Rejection therefore counts
    only matches whose index key is already accepted."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from cassandrastack_spark.operators.fuzzy import extend_fuzzy_index
    from cassandrastack_spark.streaming.ops import ingest_with_fuzzy_dedup

    schema = StructType([
        StructField("key", LongType()),
        StructField("name", StringType()),
    ])
    d = tmp_path / "recs_in"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["key", "name"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = ingest_with_fuzzy_dedup(
            src, str(tmp_path / "fz_index"), str(tmp_path / "accepted"),
            key_col="key", str_col="name", max_dist=1,
            checkpoint=str(tmp_path / "ckpt"),
        )
        if not q.awaitTermination(120):
            q.stop()  # no zombie ingest skewing later timings
            raise RuntimeError("fuzzy ingest did not finish")

    write("b1.parquet", [(1, "wolfe"), (2, "jones")])
    run()

    # simulate the crashed second attempt: its survivors (novel rows
    # 10/11) were extended into the index and the epoch marker landed,
    # but the accepted append never happened
    crashed = spark.createDataFrame(
        [(10, "smith"), (11, "brown")], "key long, name string"
    )
    extend_fuzzy_index(crashed, str(tmp_path / "fz_index"), "key", "name")
    (tmp_path / "ckpt" / "cs_epochs" / "1").mkdir(parents=True)
    keys_before = spark.read.parquet(
        str(tmp_path / "fz_index") + "/_keys"
    ).count()

    # the replayed batch: the two crashed survivors plus one true
    # near-dup of an ACCEPTED record (must still be rejected)
    write("b2.parquet", [(10, "smith"), (11, "brown"), (12, "wolf")])
    run()
    acc = spark.read.parquet(str(tmp_path / "accepted"))
    assert sorted(r.key for r in acc.collect()) == [1, 2, 10, 11], (
        "crashed-attempt survivors must be re-accepted on replay; the "
        "genuine near-dup of an accepted record stays rejected"
    )
    keys_after = spark.read.parquet(
        str(tmp_path / "fz_index") + "/_keys"
    ).count()
    assert keys_after == keys_before, (
        "the epoch marker must skip the re-extend — no index accretion"
    )


def test_stream_fuzzy_ingest_block_scoped_identity(spark, tmp_path):
    """Identity is (block_cols..., key) throughout the fuzzy-index
    family (review r16): the replay guard and the accepted-key
    rejection join must be block-scoped. A key accepted under one
    block value is NOT 'already accepted' evidence for the same key
    arriving under another block — neither for the anti-join (which
    would silently drop it) nor for the crash-window re-accept
    analysis (which would re-reject a crashed attempt's rows)."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from cassandrastack_spark.operators.fuzzy import extend_fuzzy_index
    from cassandrastack_spark.streaming.ops import ingest_with_fuzzy_dedup

    schema = StructType([
        StructField("key", LongType()),
        StructField("name", StringType()),
        StructField("nation", LongType()),
    ])
    d = tmp_path / "recs_in"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["key", "name", "nation"])
        tbl = pa.Table.from_pandas(
            pdf,
            schema=pa.schema(
                [("key", pa.int64()), ("name", pa.string()),
                 ("nation", pa.int64())]
            ),
            preserve_index=False,
        )
        pq.write_table(tbl, str(d / name))

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = ingest_with_fuzzy_dedup(
            src, str(tmp_path / "fz_index"), str(tmp_path / "accepted"),
            key_col="key", str_col="name", max_dist=1,
            block_cols=("nation",),
            checkpoint=str(tmp_path / "ckpt"),
        )
        if not q.awaitTermination(120):
            q.stop()  # no zombie ingest skewing later timings
            raise RuntimeError("fuzzy ingest did not finish")

    write("b1.parquet", [(1, "wolfe", 1), (5, "qqqq", 1)])
    run()

    # crashed second attempt: (5, 'smith', 2) — key 5 is accepted in
    # nation 1, but (nation 2, key 5) is NOT accepted
    crashed = spark.createDataFrame(
        [(5, "smith", 2)], "key long, name string, nation long"
    )
    extend_fuzzy_index(crashed, str(tmp_path / "fz_index"), "key", "name")
    (tmp_path / "ckpt" / "cs_epochs" / "1").mkdir(parents=True)

    # the replayed batch: the crashed row, plus key 1 under a NEW
    # block with a novel name (must not be dropped by the replay
    # guard), plus a genuine same-block near-dup (must stay rejected)
    write("b2.parquet", [
        (5, "smith", 2), (1, "zzzz", 2), (9, "wolf", 1),
    ])
    run()
    acc = sorted(
        (r.key, r.nation)
        for r in spark.read.parquet(str(tmp_path / "accepted")).collect()
    )
    assert acc == [(1, 1), (1, 2), (5, 1), (5, 2)], acc


def test_stream_fuzzy_ingest_rebuilds_lost_index_from_accepted(
    spark, tmp_path
):
    """If the index is lost AFTER batches were accepted, the next
    batch must rebuild it from the FULL accepted store before probing
    (review r16) — rebuilding from the batch alone would leave every
    pre-existing accepted record unguarded, silently accepting all
    future near-duplicates of the old corpus."""
    import shutil

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from cassandrastack_spark.streaming.ops import ingest_with_fuzzy_dedup

    schema = StructType([
        StructField("key", LongType()),
        StructField("name", StringType()),
    ])
    d = tmp_path / "recs_in"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["key", "name"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = ingest_with_fuzzy_dedup(
            src, str(tmp_path / "fz_index"), str(tmp_path / "accepted"),
            key_col="key", str_col="name", max_dist=1,
            checkpoint=str(tmp_path / "ckpt"),
        )
        if not q.awaitTermination(120):
            q.stop()  # no zombie ingest skewing later timings
            raise RuntimeError("fuzzy ingest did not finish")

    write("b1.parquet", [(1, "wolfe"), (2, "jones")])
    run()
    shutil.rmtree(str(tmp_path / "fz_index"))

    write("b2.parquet", [(10, "wolf"), (11, "smith")])
    run()
    acc = sorted(
        r.key for r in spark.read.parquet(str(tmp_path / "accepted")).collect()
    )
    assert acc == [1, 2, 11], (
        "the near-dup of the OLD accepted corpus must still be "
        f"rejected after the index rebuild: {acc}"
    )


def test_stream_monitor_components_multi_batch(spark, tmp_path):
    """monitor_components: the streamed transitive closure must equal
    batch dedup_components over all edges ever streamed, whatever the
    batch boundaries — cross-batch merges (batch 2 bridges batch 1's
    two clusters), singleton self-loops, and new-node absorption all
    land on min-id roots; a full re-run against the same checkpoint
    replays nothing."""
    from pyspark.sql.types import LongType, StructField, StructType

    from cassandrastack_spark.streaming.ops import (
        components_state,
        monitor_components,
    )

    schema = StructType([
        StructField("a_id", LongType()),
        StructField("b_id", LongType()),
    ])
    d = tmp_path / "edges_in"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["a_id", "b_id"])
        tbl = pa.Table.from_pandas(
            pdf,
            schema=pa.schema([("a_id", pa.int64()), ("b_id", pa.int64())]),
            preserve_index=False,
        )
        pq.write_table(tbl, str(d / name))

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = monitor_components(
            src, str(tmp_path / "state"),
            checkpoint=str(tmp_path / "ckpt"),
        )
        if not q.awaitTermination(120):
            q.stop()  # no zombie ingest skewing later timings
            raise RuntimeError("components ingest did not finish")

    def state():
        return dict(
            (r.node, r.comp)
            for r in components_state(
                spark, str(tmp_path / "state")
            ).collect()
        )

    write("b1.parquet", [(2, 1), (4, 3), (7, 7), (None, 9)])
    run()
    assert state() == {1: 1, 2: 1, 3: 3, 4: 3, 7: 7}, (
        "two clusters + a self-loop singleton; NULL endpoints dropped"
    )

    # batch 2 bridges the two clusters and hangs a new node off 4
    write("b2.parquet", [(3, 2), (6, 4)])
    run()
    assert state() == {1: 1, 2: 1, 3: 1, 4: 1, 6: 1, 7: 7}

    # batch 3: a smaller id joins — the merged root must become it
    write("b3.parquet", [(0, 6), (8, 9)])
    run()
    expected = {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 6: 0, 7: 7, 8: 8, 9: 8}
    assert state() == expected

    # replay EVERY edge against the existing state with a FRESH
    # checkpoint (same-checkpoint reruns replay zero batches and
    # would assert nothing — review r16): the sink genuinely
    # re-processes all edges, every one contracts to a self-loop or
    # an already-known mapping, and the min-root idempotence argument
    # says it appends NOTHING — this also drives the empty-ccr branch
    n_rows = spark.read.parquet(str(tmp_path / "state")).count()
    src = spark.readStream.schema(schema).parquet(str(d))
    q = monitor_components(
        src, str(tmp_path / "state"),
        checkpoint=str(tmp_path / "ckpt_replay"),
    )
    if not q.awaitTermination(120):
        q.stop()
        raise RuntimeError("replay ingest did not finish")
    assert state() == expected
    assert spark.read.parquet(str(tmp_path / "state")).count() == n_rows


def test_stream_monitor_components_matches_batch_closure(spark, tmp_path):
    """Order-invariance pinned against the library's own batch
    operator: a random-ish edge set split across three batches resolves
    to exactly dedup_components over the union."""
    from pyspark.sql.types import LongType, StructField, StructType

    from cassandrastack_spark.llm.dedup import dedup_components
    from cassandrastack_spark.streaming.ops import (
        components_state,
        monitor_components,
    )

    edges = [
        (i, (i * 7) % 23) for i in range(40)
    ] + [(50 + i, 50 + ((i + 1) % 5)) for i in range(5)]
    edges = [(a, b) for a, b in edges if a != b]

    schema = StructType([
        StructField("a_id", LongType()),
        StructField("b_id", LongType()),
    ])
    d = tmp_path / "edges_in"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["a_id", "b_id"])
        tbl = pa.Table.from_pandas(
            pdf,
            schema=pa.schema([("a_id", pa.int64()), ("b_id", pa.int64())]),
            preserve_index=False,
        )
        pq.write_table(tbl, str(d / name))

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = monitor_components(
            src, str(tmp_path / "state"),
            checkpoint=str(tmp_path / "ckpt"),
        )
        if not q.awaitTermination(120):
            q.stop()  # no zombie ingest skewing later timings
            raise RuntimeError("components ingest did not finish")

    for i, chunk in enumerate((edges[:15], edges[15:30], edges[30:])):
        write(f"b{i}.parquet", chunk)
        run()

    got = dict(
        (r.node, r.comp)
        for r in components_state(spark, str(tmp_path / "state")).collect()
    )
    batch = spark.createDataFrame(edges, "a_id long, b_id long")
    want = dict(
        (r.id, r.component)
        for r in dedup_components(batch).collect()
    )
    assert got == want


def test_compact_components_state(spark, tmp_path):
    """compact_components_state: the accreted change rows collapse to
    one newest-epoch row per node in one part file, epochs preserved —
    resolution identical before and after, and a later batch continues
    merging against the compacted state (max-epoch continuity)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from cassandrastack_spark.streaming.ops import (
        compact_components_state,
        components_state,
        monitor_components,
    )

    schema = StructType([
        StructField("a_id", LongType()),
        StructField("b_id", LongType()),
    ])
    d = tmp_path / "edges_in"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["a_id", "b_id"])
        tbl = pa.Table.from_pandas(
            pdf,
            schema=pa.schema([("a_id", pa.int64()), ("b_id", pa.int64())]),
            preserve_index=False,
        )
        pq.write_table(tbl, str(d / name))

    def run():
        src = spark.readStream.schema(schema).parquet(str(d))
        q = monitor_components(
            src, str(tmp_path / "state"),
            checkpoint=str(tmp_path / "ckpt"),
        )
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError("components ingest did not finish")

    def state():
        return dict(
            (r.node, r.comp)
            for r in components_state(
                spark, str(tmp_path / "state")
            ).collect()
        )

    write("b1.parquet", [(2, 1), (4, 3)])
    run()
    write("b2.parquet", [(3, 2)])
    run()
    before = state()
    assert before == {1: 1, 2: 1, 3: 1, 4: 1}
    raw = spark.read.parquet(str(tmp_path / "state"))
    assert len(raw.inputFiles()) > 1
    max_epoch = raw.agg(F.max("epoch")).head()[0]

    compact_components_state(spark, str(tmp_path / "state"))
    raw2 = spark.read.parquet(str(tmp_path / "state"))
    assert len(raw2.inputFiles()) == 1
    assert state() == before
    # dead rows gone: exactly one row per node survives
    assert raw2.count() == len(before)
    # epochs preserved, not renumbered — max-epoch continuity for the
    # monitor's next epoch assignment
    assert raw2.agg(F.max("epoch")).head()[0] == max_epoch

    # a later batch merges against the compacted state
    write("b3.parquet", [(0, 4)])
    run()
    assert state() == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0}

    # idempotent: compacting a single-file table is a no-op
    compact_components_state(spark, str(tmp_path / "state"))
    assert state() == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0}


def test_stream_nb_counts_equal_batch_trainer(spark, tmp_path):
    """monitor_nb_counts + nb_weights_state: the streamed class counts
    resolve to a weight table bit-identical to nb_logodds_weights over
    the same labeled docs delivered in one batch — whatever the batch
    split — and a same-checkpoint rerun replays nothing (the marker
    guards the non-idempotent sums). Geometry drift against existing
    state fails loud."""
    from pyspark.sql.types import (
        BooleanType, LongType, StringType, StructField, StructType,
    )

    from cassandrastack_spark.llm.classifier import (
        hashed_gram_features,
        nb_logodds_weights,
    )
    from cassandrastack_spark.streaming.ops import (
        monitor_nb_counts,
        nb_weights_state,
    )

    docs = [
        (0, "the quick brown fox", True),
        (1, "the quick quick dog", True),
        (2, "lorem ipsum dolor sit amet", False),
        (3, "buy cheap pills now now now", False),
        (4, "the brown dog sits", True),
        (5, "cheap cheap pills", False),
        (6, None, True),          # null text: featurizes to nothing
        (None, "dropped row", False),  # null id: dropped
    ]
    dim = 64

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("is_pos", BooleanType()),
    ])
    d = tmp_path / "seed_in"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "is_pos"])
        tbl = pa.Table.from_pandas(
            pdf,
            schema=pa.schema(
                [("doc_id", pa.int64()), ("text", pa.string()),
                 ("is_pos", pa.bool_())]
            ),
            preserve_index=False,
        )
        pq.write_table(tbl, str(d / name))

    def run(dim_=dim):
        src = spark.readStream.schema(schema).parquet(str(d))
        q = monitor_nb_counts(
            src, str(tmp_path / "state"), dim=dim_,
            checkpoint=str(tmp_path / "ckpt"),
        )
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError("nb ingest did not finish")

    write("b1.parquet", docs[:3])
    run()
    write("b2.parquet", docs[3:])
    run()

    got = {
        r.bucket: (r.weight, r.bias, r.dim)
        for r in nb_weights_state(spark, str(tmp_path / "state")).collect()
    }
    batch = spark.createDataFrame(
        [(i, t) for i, t, _ in docs if i is not None],
        "doc_id long, text string",
    )
    labels = spark.createDataFrame(
        [(i, l) for i, t, l in docs if i is not None],
        "doc_id long, is_pos boolean",
    )
    feats = hashed_gram_features(batch, "doc_id", "text", dim)
    want = {
        r.bucket: (r.weight, r.bias, r.dim)
        for r in nb_logodds_weights(
            feats, labels, "doc_id", "is_pos", dim
        ).collect()
    }
    assert got == want

    # same-checkpoint rerun: replays nothing, counts unchanged
    n_rows = spark.read.parquet(str(tmp_path / "state")).count()
    run()
    assert spark.read.parquet(str(tmp_path / "state")).count() == n_rows

    # geometry drift against existing state fails loud
    write("b3.parquet", [(10, "late doc", True)])
    with pytest.raises(Exception, match="dim"):
        run(dim_=32)


def test_stream_nb_crash_window_dedup_and_geometry(spark, tmp_path):
    """Review r16 hardening, pinned: (a) a batch whose cells committed
    but whose marker did not re-appends byte-identical rows on replay
    — the batch_id dedup at resolution makes the weights unchanged;
    (b) the artifact carries its gram space: a unigram-trained model
    scored through linear_text_score with the default bigrams=True
    still scores in unigram space (bit-equal to the batch unigram
    path)."""
    from pyspark.sql.types import (
        BooleanType, LongType, StringType, StructField, StructType,
    )

    from cassandrastack_spark.llm.classifier import (
        hashed_gram_features,
        linear_text_score,
        nb_logodds_weights,
    )
    from cassandrastack_spark.streaming.ops import (
        monitor_nb_counts,
        nb_weights_state,
    )

    docs = [
        (0, "alpha beta gamma", True),
        (1, "alpha alpha delta", True),
        (2, "spam spam offer", False),
        (3, "offer pills spam", False),
    ]
    dim = 32
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("is_pos", BooleanType()),
    ])
    d = tmp_path / "seed_in"
    d.mkdir()
    pdf = pd.DataFrame(docs, columns=["doc_id", "text", "is_pos"])
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        str(d / "b1.parquet"),
    )
    src = spark.readStream.schema(schema).parquet(str(d))
    q = monitor_nb_counts(
        src, str(tmp_path / "state"), dim=dim, bigrams=False,
        checkpoint=str(tmp_path / "ckpt"),
    )
    if not q.awaitTermination(120):
        q.stop()
        raise RuntimeError("nb ingest did not finish")

    w_stream = nb_weights_state(spark, str(tmp_path / "state"))
    before = {r.bucket: (r.weight, r.bias) for r in w_stream.collect()}

    # (a) simulate the append→marker crash replay: re-append batch 0's
    # byte-identical cell rows; the (batch_id, bucket) dedup must make
    # resolution invariant
    state = spark.read.parquet(str(tmp_path / "state"))
    state.filter(F.col("batch_id") == 0).coalesce(1).write.mode(
        "append"
    ).parquet(str(tmp_path / "state"))
    after = {
        r.bucket: (r.weight, r.bias)
        for r in nb_weights_state(spark, str(tmp_path / "state")).collect()
    }
    assert after == before

    # (b) geometry override: scoring with the default bigrams=True
    # must still featurize in the model's unigram space
    batch = spark.createDataFrame(
        [(i, t) for i, t, _ in docs], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(i, l) for i, t, l in docs], "doc_id long, is_pos boolean"
    )
    feats_uni = hashed_gram_features(
        batch, "doc_id", "text", dim, bigrams=False
    )
    w_batch = nb_logodds_weights(feats_uni, labels, "doc_id", "is_pos", dim)
    want = {
        r.doc_id: (r.logit, r.score)
        for r in linear_text_score(
            batch, w_batch, "doc_id", "text", bigrams=False
        ).collect()
    }
    got = {
        r.doc_id: (r.logit, r.score)
        for r in linear_text_score(
            batch,
            nb_weights_state(spark, str(tmp_path / "state")),
            "doc_id",
            "text",  # bigrams defaults True — the artifact overrides
        ).collect()
    }
    assert got == want


def test_stream_nb_counts_sum_across_separate_runs(spark, tmp_path):
    """Review r16 (final pass): batch ids are only unique per
    checkpoint — a later monitor run over a NEW seed drop with a
    fresh checkpoint restarts them at 0, and a batch-id-only dedup
    would silently max-merge the two runs' cells. The (ckpt,
    batch_id) scope makes separate runs SUM while the crash-window
    dedup still collapses byte-identical replays."""
    from pyspark.sql.types import (
        BooleanType, LongType, StringType, StructField, StructType,
    )

    from cassandrastack_spark.llm.classifier import (
        hashed_gram_features,
        nb_logodds_weights,
    )
    from cassandrastack_spark.streaming.ops import (
        monitor_nb_counts,
        nb_weights_state,
    )

    docs_a = [(0, "alpha beta", True), (1, "spam offer", False)]
    docs_b = [(2, "alpha gamma", True), (3, "spam pills", False)]
    dim = 32
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("is_pos", BooleanType()),
    ])

    def run(docs, src_name, ckpt_name):
        d = tmp_path / src_name
        d.mkdir()
        pdf = pd.DataFrame(docs, columns=["doc_id", "text", "is_pos"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            str(d / "b.parquet"),
        )
        src = spark.readStream.schema(schema).parquet(str(d))
        q = monitor_nb_counts(
            src, str(tmp_path / "state"), dim=dim,
            checkpoint=str(tmp_path / ckpt_name),
        )
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError("nb ingest did not finish")

    # two SEPARATE runs, each with its own checkpoint: both get
    # batch_id 0
    run(docs_a, "in_a", "ckpt_a")
    run(docs_b, "in_b", "ckpt_b")

    got = {
        r.bucket: (r.weight, r.bias)
        for r in nb_weights_state(spark, str(tmp_path / "state")).collect()
    }
    union = docs_a + docs_b
    batch = spark.createDataFrame(
        [(i, t) for i, t, _ in union], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(i, l) for i, t, l in union], "doc_id long, is_pos boolean"
    )
    feats = hashed_gram_features(batch, "doc_id", "text", dim)
    want = {
        r.bucket: (r.weight, r.bias)
        for r in nb_logodds_weights(
            feats, labels, "doc_id", "is_pos", dim
        ).collect()
    }
    assert got == want


def test_stream_fuzzy_ingest_recovers_uncommitted_accepted_dir(
    spark, tmp_path
):
    """Review r16 (final pass): a crash during the very FIRST accepted
    append leaves the directory created but with no committed data —
    the replay must take the first-batch branch (readability probe,
    not existence) instead of wedging on a schema-inference error
    forever."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cassandrastack_spark.streaming.ops import ingest_with_fuzzy_dedup

    schema = StructType([
        StructField("key", LongType()),
        StructField("name", StringType()),
    ])
    d = tmp_path / "recs_in"
    d.mkdir()
    pdf = pd.DataFrame([(1, "wolfe"), (2, "jones")], columns=["key", "name"])
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        str(d / "b1.parquet"),
    )
    # simulate the crashed first append: directory exists, nothing
    # committed (only writer scaffolding)
    (tmp_path / "accepted").mkdir()
    (tmp_path / "accepted" / "_temporary").mkdir()

    src = spark.readStream.schema(schema).parquet(str(d))
    q = ingest_with_fuzzy_dedup(
        src, str(tmp_path / "fz_index"), str(tmp_path / "accepted"),
        key_col="key", str_col="name", max_dist=1,
        checkpoint=str(tmp_path / "ckpt"),
    )
    if not q.awaitTermination(120):
        q.stop()
        raise RuntimeError("fuzzy ingest did not finish")
    acc = sorted(
        r.key for r in spark.read.parquet(str(tmp_path / "accepted")).collect()
    )
    assert acc == [1, 2]


def _ingest_case(spark, tmp_path, loop):
    """One ``ingest_with_dedup`` or ``ingest_vectors`` setup for the
    recovery cases the fuzzy loop pins above: the stream schema, a
    seed batch, a second batch holding one near-duplicate of a seed
    row (listed first) and one novel row, ``run()`` over the source
    directory, and ``build(rows)`` that writes the loop's index the
    way a first batch does."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StringType, StructField,
        StructType,
    )

    from cassandrastack_spark.llm.dedup import build_dedup_index
    from cassandrastack_spark.llm.simsearch import build_ivfpq_index
    from cassandrastack_spark.streaming.ops import (
        ingest_vectors,
        ingest_with_dedup,
    )

    index, accepted = str(tmp_path / "index"), str(tmp_path / "accepted")
    if loop == "dedup":
        id_col, schema = "doc_id", StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ])
        seed = [(1, " ".join(f"a{i}" for i in range(30))),
                (2, " ".join(f"b{i}" for i in range(30)))]
        near = " ".join(("X" if i == 15 else f"b{i}") for i in range(30))
        batch2 = [(10, near), (11, " ".join(f"c{i}" for i in range(30)))]

        def start(src):
            return ingest_with_dedup(
                src, index, accepted, checkpoint=str(tmp_path / "ckpt"))

        def build(rows):
            build_dedup_index(spark.createDataFrame(rows, schema), index)
    else:
        # 40 seed vectors: the rebuild from the accepted store trains
        # PQ on them, so the seed must hold at least k_codes vectors
        id_col, schema = "vec_id", StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ])
        rng = np.random.default_rng(7)
        vecs = rng.normal(size=(42, 8))
        seed = [(i + 1, vecs[i].tolist()) for i in range(40)]
        near = (vecs[1] + 1e-3 * rng.normal(size=8)).tolist()
        batch2 = [(100, near), (101, vecs[41].tolist())]

        def start(src):
            return ingest_vectors(
                src, index, accepted, reject_cosine=0.98,
                k_centroids=2, m_sub=4, k_codes=8,
                checkpoint=str(tmp_path / "ckpt"))

        def build(rows):
            build_ivfpq_index(
                spark.createDataFrame(rows, schema), index,
                k_centroids=2, m_sub=4, k_codes=8)

    d = tmp_path / "in"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=schema.fieldNames())
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    def run():
        q = start(spark.readStream.schema(schema).parquet(str(d)))
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError(f"{loop} ingest did not finish")

    def accepted_ids():
        rows = spark.read.parquet(accepted).collect()
        return sorted(r[id_col] for r in rows)

    return dict(seed=seed, batch2=batch2, write=write, run=run,
                build=build, index=index, accepted=accepted,
                accepted_ids=accepted_ids)


@pytest.mark.parametrize("loop", ["dedup", "vectors"])
def test_stream_ingest_rebuilds_lost_index_from_accepted(
    spark, tmp_path, loop
):
    """The fuzzy loop's lost-index rule holds for the band and IVF+PQ
    loops too: an index lost after batches were accepted is rebuilt
    from the FULL accepted store before the next batch probes it, so
    a near-duplicate of an old accepted row is still rejected (and a
    two-row batch never retrains the index on itself)."""
    import shutil

    c = _ingest_case(spark, tmp_path, loop)
    c["write"]("b1.parquet", c["seed"])
    c["run"]()
    shutil.rmtree(c["index"])

    c["write"]("b2.parquet", c["batch2"])
    c["run"]()
    want = sorted([r[0] for r in c["seed"]] + [c["batch2"][1][0]])
    assert c["accepted_ids"]() == want, (
        "the near-dup of the OLD accepted corpus must still be rejected "
        "after the index rebuild"
    )


@pytest.mark.parametrize("loop", ["dedup", "vectors"])
def test_stream_ingest_recovers_uncommitted_accepted_dir(
    spark, tmp_path, loop
):
    """The fuzzy loop's uncommitted-first-append rule holds for the
    band and IVF+PQ loops too: a crash after the first batch's index
    build and during its first accepted append leaves a committed
    index beside an accepted directory with no committed data; the
    replay takes the first-batch branch instead of failing schema
    inference on every restart."""
    import os

    c = _ingest_case(spark, tmp_path, loop)
    c["build"](c["seed"])
    os.makedirs(os.path.join(c["accepted"], "_temporary"))

    c["write"]("b1.parquet", c["seed"])
    c["run"]()
    assert c["accepted_ids"]() == [r[0] for r in c["seed"]]


def test_ingest_with_dedup_bm25_turned_on_mid_life(spark, tmp_path):
    """``bm25_index_path`` first set on the second batch: the missing
    postings are built from the accepted corpus plus that batch's
    survivors, so probing them equals ``bm25_rank`` over the whole
    accepted corpus and the batch's rejected near-dup is absent."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cassandrastack_spark.llm.retrieval import bm25_rank, probe_bm25_index
    from cassandrastack_spark.streaming.ops import ingest_with_dedup

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    d = tmp_path / "docs_in"
    d.mkdir()
    text_a = "spark vector " + " ".join(f"a{i}" for i in range(20))
    text_b = "stream join " + " ".join(f"b{i}" for i in range(20))
    text_c = "vector stream vector " + " ".join(f"c{i}" for i in range(20))
    near_b = "stream join " + " ".join(
        ("CHANGED" if i == 9 else f"b{i}") for i in range(20)
    )

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )

    def run(bm25_index_path):
        src = spark.readStream.schema(schema).parquet(str(d))
        q = ingest_with_dedup(
            src, str(tmp_path / "band"), str(tmp_path / "acc"),
            checkpoint=str(tmp_path / "ckpt"),
            bm25_index_path=bm25_index_path)
        q.awaitTermination(120)

    write("b1.parquet", [(1, text_a), (2, text_b)])
    run(None)
    write("b2.parquet", [(10, text_c), (11, near_b)])
    run(str(tmp_path / "bm25"))
    accepted = spark.read.parquet(str(tmp_path / "acc"))
    assert sorted(r.doc_id for r in accepted.collect()) == [1, 2, 10]
    got = probe_bm25_index(
        spark, str(tmp_path / "bm25"), ["vector", "stream", "join"], k=10
    )
    want = bm25_rank(accepted, ["vector", "stream", "join"], k=10)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ], "probe over the retrofitted index == bm25_rank over accepted docs"
    assert 11 not in {r.doc_id for r in got.collect()}, (
        "rejected near-dup never entered the postings"
    )


def _interrupt_meta_write(index_path):
    """The state an interrupted ``_meta`` overwrite leaves: the
    directory exists and holds no file, so it does not read."""
    import os
    import shutil

    meta = os.path.join(index_path, "_meta")
    shutil.rmtree(meta)
    os.makedirs(meta)


def test_stream_ingest_rebuilds_band_index_whose_meta_does_not_read(
    spark, tmp_path
):
    """A rebuild-from-accepted that crashed while writing the band
    index's ``_meta`` leaves a ``_meta`` that exists but does not read:
    the next batch rebuilds the index from the accepted store instead
    of failing on every later batch, and the near-dup of an old
    accepted doc is still rejected."""
    c = _ingest_case(spark, tmp_path, "dedup")
    c["write"]("b1.parquet", c["seed"])
    c["run"]()
    _interrupt_meta_write(c["index"])

    c["write"]("b2.parquet", c["batch2"])
    c["run"]()
    assert c["accepted_ids"]() == [1, 2, 11]


def test_ingest_with_dedup_rebuilds_bm25_index_whose_meta_does_not_read(
    spark, tmp_path
):
    """A BM25 ``_meta`` that does not read after batch 1 (an
    interrupted write) is rebuilt from the accepted corpus plus the
    next batch's survivors, so the stream keeps running and probing
    the postings equals ``bm25_rank`` over the accepted corpus."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cassandrastack_spark.llm.retrieval import bm25_rank, probe_bm25_index
    from cassandrastack_spark.streaming.ops import ingest_with_dedup

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    d = tmp_path / "docs_in"
    d.mkdir()
    bm25 = str(tmp_path / "bm25")

    def run(name, rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(d / name)
        )
        src = spark.readStream.schema(schema).parquet(str(d))
        q = ingest_with_dedup(
            src, str(tmp_path / "band"), str(tmp_path / "acc"),
            checkpoint=str(tmp_path / "ckpt"), bm25_index_path=bm25)
        q.awaitTermination(120)

    run("b1.parquet", [
        (1, "spark vector " + " ".join(f"a{i}" for i in range(20))),
        (2, "stream join " + " ".join(f"b{i}" for i in range(20))),
    ])
    _interrupt_meta_write(bm25)
    run("b2.parquet", [
        (10, "vector stream vector " + " ".join(f"c{i}" for i in range(20))),
    ])
    accepted = spark.read.parquet(str(tmp_path / "acc"))
    assert sorted(r.doc_id for r in accepted.collect()) == [1, 2, 10]
    terms = ["vector", "stream", "join"]
    got = probe_bm25_index(spark, bm25, terms, k=10)
    want = bm25_rank(accepted, terms, k=10)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]
