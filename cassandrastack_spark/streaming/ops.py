"""Streaming operators over the ``events`` stream.

Design notes (100 TB / always-on):

- **File-source streams.** ``readStream`` over a directory is the batch
  table's streaming twin: the same schema, the same downstream plan. In
  production the source would be Kafka; only ``events_stream`` changes.
- **Watermarks bound state.** Every windowed/stateful op takes a
  watermark delay: state for windows older than ``max(event_time) -
  delay`` is dropped, so state size is O(active windows), not O(stream
  length). Late rows beyond the watermark are dropped (tested).
- **Built-in windows first.** Tumbling/sliding via ``F.window``, session
  gaps via ``F.session_window`` — all JVM-side incremental aggregation
  with partial-agg + state store. ``applyInPandasWithState`` only for
  the genuinely custom stateful op (running per-user totals with
  arbitrary Python state), Arrow-batched per group.
- **run_to_batch** executes a streaming plan over the finite test
  directory with ``availableNow`` + memory sink — the driver's
  correctness gate can then hash streaming results like any batch
  DataFrame (same-result-as-batch is exactly Structured Streaming's
  contract: incrementalized execution of the same logical plan).
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import tempfile

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

EVENTS_RAW = StructType(
    [
        StructField("event_id", LongType()),
        # ts is probed from the actual files at stream start (physical
        # type has varied across testdata generations: nanos-as-long vs
        # native micros); this default covers the micros encoding.
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

_sink_ids = itertools.count()


def events_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming read of events parquet (a directory or a single file).

    A streaming source needs an explicit schema, but ``ts``'s physical
    type has varied across testdata generations (TIMESTAMP(NANOS) read
    as long nanos vs native TIMESTAMP(MICROS) -> timestamp_ntz), so the
    schema is probed from the files' own footers with a driver-side
    batch read (metadata only, no job) instead of hard-coding either
    encoding. Long nanos are converted with integer division — double
    math would lose precision at 1.7e18.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    directory, glob = (
        (os.path.dirname(path), os.path.basename(path))
        if path.endswith(".parquet")
        else (path, "*.parquet")
    )
    probed = (
        spark.read.option("pathGlobFilter", glob).parquet(directory).schema
    )
    stream = (
        spark.readStream.schema(probed)
        .option("pathGlobFilter", glob)
        .parquet(directory)
    )
    if isinstance(probed["ts"].dataType, LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    else:
        # Watermarks require TimestampType (EVENT_TIME_IS_NOT_ON_TIMESTAMP
        # for ntz); under a UTC session the cast is wall-clock-identical.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


# ---------------------------------------------------------------------------
# windowed aggregation
# ---------------------------------------------------------------------------


def tumbling_window_counts(
    stream: DataFrame, width: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Per-(window, event_type) count + value sum, watermarked."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_window_counts(
    stream: DataFrame,
    width: str = "30 minutes",
    slide: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Overlapping-window counts: each event lands in width/slide windows."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_window_counts(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Per-user session windows with an inactivity gap (built-in
    ``session_window`` — merges overlapping per-key windows in the state
    store; the streaming twin of operators/windows.py sessionize)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# streaming dedup
# ---------------------------------------------------------------------------


def streaming_dedup(
    stream: DataFrame, keys: list[str], watermark: str = "30 minutes"
) -> DataFrame:
    """Exactly-once rows per key within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes — bounded state, unlike plain ``dropDuplicates``
    which retains every key forever (unusable on an infinite stream).
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


# ---------------------------------------------------------------------------
# stream-stream join
# ---------------------------------------------------------------------------


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    lookback_seconds: int,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Inner join of two streams on key + time interval: each left row
    matches right rows with ``right_time`` in ``[left_time - lookback,
    left_time]``.

    Both sides are watermarked and the join condition bounds event time
    in BOTH directions, so Spark can expire join state: buffered rows
    older than watermark + lookback are dropped — bounded state on an
    infinite stream (without the interval bound, stream-stream state
    grows forever). Time/key columns should be distinctly named across
    the two sides so the joined output is unambiguous.
    """
    l = left.withWatermark(left_time, watermark)
    r = right.withWatermark(right_time, watermark)
    return l.join(
        r,
        (l[left_key] == r[right_key])
        & (r[right_time] >= l[left_time] - F.expr(f"INTERVAL {lookback_seconds} SECONDS"))
        & (r[right_time] <= l[left_time]),
        "inner",
    )


# ---------------------------------------------------------------------------
# custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def stateful_user_totals(stream: DataFrame) -> DataFrame:
    """Running per-user (count, value-sum) with explicit state — the
    template for custom stateful ops Spark's built-ins can't express
    (per-key model state, decaying counters, CEP). Arrow-batched per
    group; state is two scalars per user, emitted once per batch.
    """

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, float(total)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_BLOOM_DEDUP_STATE = StructType([StructField("bitmap", BinaryType())])


def stateful_bloom_dedup(
    stream: DataFrame,
    item_col: str,
    n_buckets: int = 64,
    m_bits: int = 65536,
    k: int = 3,
) -> DataFrame:
    """Streaming content dedup with BOUNDED state: emit only rows whose
    ``item_col`` value has not been seen before, tracking "seen" in a
    per-bucket Bloom bitmap instead of an exact key store.

    The trade vs ``streaming_dedup`` (dropDuplicatesWithinWatermark):
    exact dedup state grows with the distinct-key count inside the
    watermark horizon and needs a watermark to be bounded at all; the
    Bloom state is a FIXED ``n_buckets x m_bits`` bits forever (64 x
    64 Ki bits = 512 KiB total at the defaults), so it can dedup an
    unbounded horizon — the training-data ingest case, where "have I
    ever ingested this document" has no time window. Guarantees: a
    seen item is NEVER re-emitted (no false negatives — bits only get
    set); a novel item may be wrongly dropped with probability
    ~(1 - e^(-k*n_items/(n_buckets*m_bits)))^k (the design FP rate;
    size the bitmap at >= 12 bits per expected item for ~1%). That
    asymmetry — duplicates impossible, rare novel-drops — is the right
    one for corpus ingest, where a duplicate poisons training and a
    dropped doc costs one sample.

    Spark shape: the k probe positions are computed JVM-side (md5
    slices, the ``operators.sketch`` Bloom's layout) BEFORE the
    shuffle; rows hash into ``n_buckets`` independent groups
    (``xxhash64(item) % n_buckets``), so state updates parallelize
    across buckets and each group's update is pure vectorized numpy
    over an Arrow batch — no per-row Python, no global coordinator.
    Items are deduped within the batch first (keep-first), so
    intra-batch duplicates collapse too.
    """
    if not 1 <= k <= 4:
        raise ValueError(f"k must be in 1..4, got {k}")
    if m_bits < 8 or m_bits % 8:
        raise ValueError(f"m_bits must be a positive multiple of 8, got {m_bits}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    from cassandrastack_spark.operators.sketch import _BLOOM_OFFSETS

    hx = F.md5(F.col(item_col).cast("string"))
    pos = F.array(*[
        F.conv(F.substring(hx, off, 7), 16, 10).cast("long") % m_bits
        for off in _BLOOM_OFFSETS[:k]
    ])
    tagged = (
        stream.withColumn(
            "_bucket",
            F.pmod(
                F.xxhash64(F.col(item_col).cast("string")), F.lit(n_buckets)
            ).cast("int"),
        )
        .withColumn("_pos", pos)
    )
    out_schema = StructType(list(stream.schema.fields))
    out_cols = [f.name for f in stream.schema.fields]
    nbytes = m_bits // 8

    def update(key, pdf_iter, state: GroupState):
        import numpy as np

        if state.exists:
            (buf,) = state.get
            bitmap = np.frombuffer(buf, dtype=np.uint8).copy()
        else:
            bitmap = np.zeros(nbytes, dtype=np.uint8)
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            # NULL content can't be a member: emit such rows as-is and
            # keep them out of the bitmap (their positions are null and
            # would poison the vectorized path)
            null_rows = pdf.loc[pdf[item_col].isna()]
            if len(null_rows):
                yield null_rows[out_cols]
                pdf = pdf.loc[~pdf[item_col].isna()]
                if not len(pdf):
                    continue
            pdf = pdf.drop_duplicates(subset=[item_col], keep="first")
            P = np.asarray(pdf["_pos"].tolist(), dtype=np.int64)
            seen = (
                (bitmap[P // 8] >> (P % 8).astype(np.uint8)) & 1
            ).all(axis=1)
            novel = pdf.loc[~seen]
            if len(novel):
                Pn = P[~seen]
                np.bitwise_or.at(
                    bitmap,
                    (Pn // 8).ravel(),
                    (np.uint8(1) << (Pn % 8).astype(np.uint8)).ravel(),
                )
                yield novel[out_cols]
        state.update((bitmap.tobytes(),))

    return tagged.groupBy("_bucket").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_BLOOM_DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# finite execution harness
# ---------------------------------------------------------------------------


def run_to_batch(
    streaming_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int = 8,
) -> DataFrame:
    """Run a streaming plan over its (finite) source to completion and
    return the result as a batch DataFrame (memory sink + availableNow).

    Used by the correctness gate: streaming results hash-compare against
    the batch oracle, which is Structured Streaming's core guarantee.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for this
    query only (restored after), capped at the session's task slots
    (``defaultParallelism``). Stateful operators create one state
    store PER partition PER operator-internal store (a stream-stream
    join keeps four), each paying checkpoint-commit I/O every micro-
    batch — fixed cost independent of data volume, so state partition
    count must be sized to STATE volume, not defaulted to the batch
    shuffle width (32 partitions made this harness 5x slower on
    kilobyte-scale state). A partition beyond the slots runs in a
    second wave and pays its own commit, so the cap only ever removes
    cost; on a cluster with at least ``state_partitions`` slots it
    changes nothing. The count is frozen into the checkpoint at first
    run — a production stream sizes it up front the same way.

    Each call checkpoints to a fresh ``cs_stream_ckpt_*`` temp
    directory that nothing reads again once the query has stopped, so
    it is removed then, whether the query finished or failed. So is
    the memory-sink temp view, once the result has resolved it: the
    returned frame keeps the sink alive through its own plan, so the
    sink's rows live as long as that frame, not as long as the session.
    """
    spark = streaming_df.sparkSession
    name = f"cs_stream_sink_{os.getpid()}_{next(_sink_ids)}"
    parts = min(state_partitions, spark.sparkContext.defaultParallelism)
    checkpoint = tempfile.mkdtemp(prefix="cs_stream_ckpt_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    q = None
    try:
        q = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        if q is not None and q.isActive:
            q.stop()
        shutil.rmtree(checkpoint, ignore_errors=True)
        spark.catalog.dropTempView(name)
    return out


# ---------------------------------------------------------------------------
# streaming ingest into the wide-column store
# ---------------------------------------------------------------------------


def _run_foreach_batch(
    stream: DataFrame,
    sink,
    checkpoint: str | None,
    ckpt_prefix: str,
    trigger_available_now: bool,
):
    """The one ``foreachBatch`` writer behind every sink in this module:
    resolve the checkpoint (a fresh ``ckpt_prefix`` temp directory when
    none is given), call ``sink(batch_df, batch_id, checkpoint)`` per
    micro-batch — the sinks key their epoch markers under the
    checkpoint, whose lineage the batch ids share — and start the query.

    Returns the StreamingQuery. With ``trigger_available_now`` the call
    drains the available input and stops (the testable finite mode); in
    production pass ``False`` for a continuous trigger and keep a
    durable ``checkpoint``.
    """
    checkpoint = checkpoint or tempfile.mkdtemp(prefix=ckpt_prefix)
    writer = stream.writeStream.foreachBatch(
        lambda batch_df, batch_id: sink(batch_df, batch_id, checkpoint)
    ).option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_stream(
    stream: DataFrame,
    table,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Continuously append a stream into a ``WideColumnTable`` — the
    streaming twin of the reference's write path (W1/W3 batched inserts,
    ``server.py:131-139``): each micro-batch lands as ONE atomic
    bucketed+sorted append through the table's own writer, so upsert
    semantics, clustering order, and bucket routing are identical to
    batch writes, and the checkpoint gives exactly-once per batch.

    ``foreachBatch`` is the right seam here (not a direct file sink):
    the store's layout contract — hash-bucket directories, per-file
    clustering sort, monotonic ``_writetime`` — lives in
    ``WideColumnTable.append``, and micro-batches reuse it unchanged.

    Returns the StreamingQuery; ``trigger_available_now`` and
    ``checkpoint`` as in ``_run_foreach_batch``.
    """
    return _run_foreach_batch(
        stream, lambda batch_df, _batch_id, _ckpt: table.append(batch_df),
        checkpoint, "cs_ingest_ckpt_", trigger_available_now,
    )


# ---------------------------------------------------------------------------
# stream-static (dimension) join
# ---------------------------------------------------------------------------


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, on: list[tuple[str, str]]
) -> DataFrame:
    """Enrich a stream with a static (batch) dimension — the standard
    fact-stream x dim-table join. Structured Streaming re-plans the
    static side per micro-batch, so a small dim becomes a broadcast
    join with NO stream-side shuffle and no state store (unlike
    stream-stream joins); at 100 TB of stream this is the only join
    shape that costs nothing in state. The dim snapshot is re-read per
    batch, so slowly-changing dims pick up updates between batches.
    """
    cond = None
    for ls, rs in on:
        c = stream[ls] == dim[rs]
        cond = c if cond is None else (cond & c)
    return stream.join(dim, cond, "inner")


# ---------------------------------------------------------------------------
# streaming ingest with continuous-aggregate maintenance
# ---------------------------------------------------------------------------


def ingest_with_rollup(
    stream: DataFrame,
    table,
    rollup_path: str,
    time_col: str,
    key_cols: list[str],
    value_col: str,
    width: str = "1 hour",
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """``ingest_stream`` plus a maintained continuous aggregate: each
    micro-batch lands through the table's writer, then the rollup at
    ``rollup_path`` is refreshed incrementally — the micro-batch itself
    IS the change feed (no CDC scan needed on the hot path), so only
    the (bucket, key) groups it touched are recomputed from the
    table's current (upsert-reconciled) state and grafted onto the
    prior rollup. Work per batch scales with the batch, and the rollup
    stays exact under upserts because affected groups re-read current
    state rather than adding deltas blindly.

    The prior rollup is materialized (``localCheckpoint``) before the
    overwrite so the job never reads the files it is replacing.
    """
    from cassandrastack_spark.operators.rollup_ts import (
        refresh_rollup_incremental, rollup_events,
    )

    spark = stream.sparkSession

    def _sink(batch_df: DataFrame, _batch_id: int, _ckpt: str) -> None:
        table.append(batch_df)
        current = table.read()
        # explicit existence probe (any Hadoop scheme): a TRANSIENT read
        # failure on a live rollup must raise, not silently truncate the
        # maintained aggregate to one batch's groups
        if _fs_exists(spark, rollup_path):
            prior = spark.read.parquet(rollup_path).localCheckpoint(eager=True)
        else:
            prior = rollup_events(
                current.limit(0), time_col, key_cols, value_col, width
            )
        refreshed = refresh_rollup_incremental(
            prior, current, batch_df, time_col, key_cols, value_col, width
        )
        refreshed.write.mode("overwrite").parquet(rollup_path)

    return _run_foreach_batch(
        stream, _sink, checkpoint, "cs_rollup_ckpt_", trigger_available_now
    )


# ---------------------------------------------------------------------------
# custom stateful operator, Spark 4 API (transformWithStateInPandas)
# ---------------------------------------------------------------------------


def stateful_user_totals_tws(stream: DataFrame) -> DataFrame:
    """Running per-user totals on the ``transformWithStateInPandas``
    API (Spark 4's successor to ``applyInPandasWithState``): typed
    ValueState in the RocksDB-backed state store, Arrow-batched input.
    Same contract as ``stateful_user_totals`` — kept side by side so
    both stateful APIs stay exercised; new operators should prefer
    this one (schema'd state, timers, state TTL live here).

    Requires the RocksDB state store provider on the session
    (``spark.sql.streaming.stateStore.providerClass = ...RocksDB...``)
    AND the ``protobuf`` package (the state-server protocol speaks
    protobuf; this container does not ship it, so the accompanying
    test skips here and runs on a real cluster —
    ``applyInPandasWithState`` in ``stateful_user_totals`` is the
    fully-exercised stateful path in this environment).
    """
    try:  # gate: protobuf is not installed in every environment
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas needs the protobuf package "
            "(pyspark's state-server protocol); use "
            "stateful_user_totals (applyInPandasWithState) here"
        ) from e
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle,
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n_events long, total_value double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = 0, 0.0
            if self._state.exists():
                n, total = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n],
                 "total_value": [round(total, 6)]}
            )

        def close(self) -> None:
            pass

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=Totals(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="Update",
            timeMode="None",
        )
    )


def _hadoop_fs(spark, p: str):
    """The Hadoop ``Path`` class and the file system holding ``p`` (any
    scheme: s3a/gs/abfs/hdfs/file)."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    return P, P(p).getFileSystem(spark._jsc.hadoopConfiguration())


def _fs_exists(spark, p: str) -> bool:
    P, fs = _hadoop_fs(spark, p)
    return bool(fs.exists(P(p)))


def _fs_mkdirs(spark, p: str) -> None:
    P, fs = _hadoop_fs(spark, p)
    fs.mkdirs(P(p))


def _read_parquet_if_committed(spark, path: str):
    """Distinguish "store committed" from "directory created by a
    crashed first write" (review r16): DataFrameWriter creates the
    target directory BEFORE any file commits, so a crash during the
    very first append leaves an existing-but-unreadable path — a bare
    existence probe then routes the replay into a read that fails
    with a schema-inference error on every restart, wedging the
    stream until manual cleanup. Returns the DataFrame when ``path``
    holds readable parquet data, else None (missing OR uncommitted —
    both mean "no committed state yet", and the first-write branches
    are idempotent under that reading)."""
    if not _fs_exists(spark, path):
        return None
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        df.schema  # force schema inference inside the guard
        return df
    except AnalysisException:
        return None


def _first_per(df: DataFrame, w) -> DataFrame:
    """The first row of each partition of window ``w`` (its ordering
    decides which): the ingest loops' in-batch collapses and the
    components resolution."""
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _ingest_loop(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    identity: tuple[str, ...],
    prepare,
    reject,
    build,
    extend,
    checkpoint: str | None,
    ckpt_prefix: str,
    trigger_available_now: bool,
    scratch: tuple[str, ...] = (),
    sidecar=None,
):
    """The per-batch skeleton of the three ingest loops
    (``ingest_with_dedup``, ``ingest_vectors``,
    ``ingest_with_fuzzy_dedup``): probe the persisted index, reject,
    extend, append. Each micro-batch runs, in this order:

    1. ``prepare(batch_df)`` — the loop's in-batch hygiene and
       collapses; ``None`` skips the batch (nothing to index or append);
    2. one readability probe of the accepted store
       (``_read_parquet_if_committed``);
    3. nothing committed: ``build(batch)`` — the first batch seeds the
       index;
    4. otherwise: ``build(accepted)`` first if the index ``_meta`` does
       not read, then ``reject(batch_df, accepted)``, the anti-join on
       the ``identity`` columns, and ``extend(survivors)`` under the
       epoch marker;
    5. ``sidecar(accepted, survivors, checkpoint, batch_id)`` if given
       (``accepted`` is None on the first-batch branch), then the
       append of the survivors (``scratch`` columns dropped) to
       ``accepted_path``.

    Replay contract. foreachBatch is at-least-once, so a crashed batch
    re-runs, and every crash point replays to the state an uncrashed
    run would have reached:

    - **First batch.** "Nothing committed" is decided by READABILITY,
      not existence: the writer creates the accepted directory before
      any file commits, so a crash during the very first append leaves
      a directory a bare existence probe would route into a
      schema-inference failure on every restart. Missing or
      uncommitted both take step 3, whose build overwrites, so
      rebuilding from the same batch is idempotent.
    - **Lost index.** An index is built exactly when its write-once
      ``_meta``, written last by the build, READS
      (``_read_parquet_if_committed``; the lifecycle in
      ``sources/io.py``). A crash inside a build, its ``_meta`` write
      included, leaves an existing but unreadable ``_meta`` that an
      existence probe would take for a live index, failing every later
      batch; read as "not built", it is rebuilt instead. An index lost
      AFTER batches were accepted (deleted, mis-pathed, partial
      restore, crashed build) is rebuilt from the FULL accepted store
      before the probe: rebuilding from the batch alone would leave the whole
      accepted corpus unguarded — every later near-dup of it silently
      accepted — and could not even train on a small batch. The build
      overwrites, so a replay of this branch is idempotent.
    - **Extend before append.** The index extend runs BEFORE the
      accepted append on purpose: the reverse order would, on a crash
      between the two writes, replay into "accepted but never indexed"
      — a permanent recall hole, worse than accretion. The extend is
      guarded by a per-epoch marker directory
      (``<checkpoint>/cs_epochs/<batch_id>``): batch ids are
      CHECKPOINT-scoped, so an index-global marker would make a second
      run with a fresh checkpoint skip extends for colliding ids. A
      batch replayed after its extend committed never extends twice;
      only the sub-second extend→marker window can still double-write.
    - **Replay inside the extend→append window.** The index then holds
      the batch's own rows while the accepted store lacks them. Every
      ``reject`` counts only matches against the ACCEPTED store, never
      index rows alone (the dedup probe scores against accepted texts,
      the vector probe skips floatless ids, the fuzzy probe joins to
      accepted keys), so the replay re-derives the identical survivor
      set, the marker skips the re-extend, and the append completes
      the interrupted attempt.
    - **Replay after the append.** The ``identity`` anti-join drops
      every row already accepted under the same identity, so nothing
      appends twice.
    """
    spark = stream.sparkSession
    ids = list(identity)

    def _sink(batch_df: DataFrame, batch_id: int, ckpt: str) -> None:
        batch_df = prepare(batch_df)
        if batch_df is None:
            return
        accepted = _read_parquet_if_committed(spark, accepted_path)
        if accepted is None:
            survivors = batch_df.drop(*scratch)
            build(survivors)
        else:
            if _read_parquet_if_committed(spark, index_path + "/_meta") is None:
                build(accepted)
            survivors = (
                reject(batch_df, accepted)
                .join(accepted.select(*ids), ids, "left_anti")
                .drop(*scratch)
                .localCheckpoint(eager=True)
            )
            marker = f"{ckpt}/cs_epochs/{batch_id}"
            if not _fs_exists(spark, marker):
                extend(survivors)
                _fs_mkdirs(spark, marker)
        if sidecar is not None:
            sidecar(accepted, survivors, ckpt, batch_id)
        survivors.write.mode("append").parquet(accepted_path)

    return _run_foreach_batch(
        stream, _sink, checkpoint, ckpt_prefix, trigger_available_now
    )


def ingest_with_dedup(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
    bm25_index_path: str | None = None,
):
    """Streaming corpus ingest with near-dup rejection — the full
    production loop over the persisted MinHash band index
    (``llm/dedup.py build/probe/extend_dedup_index``): each micro-batch

    1. probes the STORED index (only the batch is shingled/hashed),
    2. drops batch docs whose Jaccard vs any accepted doc ≥ threshold
       (and collapses in-batch exact duplicates on the text digest —
       the cheap guard for dups arriving within one batch),
    3. appends survivors to the accepted corpus at ``accepted_path``
       and EXTENDS the index with their band rows.

    With ``bm25_index_path`` set, each batch's survivors also extend
    the persisted BM25 postings (``llm/retrieval.py build/extend_
    bm25_index``) under their OWN per-epoch replay guard — one pass
    through the pipeline maintains both the dedup gate and the
    retrieval index, the whole crawl-drop loop: probe → reject →
    append → index for search. Turning the option on mid-life is
    supported: a missing BM25 index is (re)built from the full
    accepted corpus plus the current survivors, then later batches
    extend. Correctness under replay does not rest on the marker —
    ``probe_bm25_index`` collapses duplicate postings at read time —
    the marker only keeps the index copy-free in the common case.

    ``foreachBatch`` is the seam because the batch must observe the
    index state left by every previous batch — exactly the read-probe-
    write cycle a 100 TB crawl pipeline runs per drop; work per batch
    scales with the batch, never with the accepted corpus (the probe
    is an equi-join on (band, sig) against bucket-sorted parquet).
    Near-dups WITHIN one batch (non-exact) ride to the next drop's
    probe only if accepted here — the standard at-drop-granularity
    trade; run a periodic in-corpus ``minhash_lsh_pairs`` sweep to
    catch stragglers.

    Replay-safe under the contract on ``_ingest_loop`` (identity:
    ``id_col``). A replayed doc already in the accepted corpus matches
    ITSELF in the probe (same id, jaccard 1.0 — ``probe_dedup_index``
    deliberately keeps self-id matches), and the id anti-join drops
    anything accepted under the same id even at lower thresholds.
    """
    from cassandrastack_spark.llm.dedup import (
        build_dedup_index,
        extend_dedup_index,
        probe_dedup_index,
    )
    from cassandrastack_spark.llm.retrieval import (
        build_bm25_index,
        extend_bm25_index,
    )

    spark = stream.sparkSession
    cols = dict(id_col=id_col, text_col=text_col)

    def _prepare(batch_df: DataFrame) -> DataFrame:
        # in-batch exact dedup: first (lowest id) per text digest wins
        w_digest = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
        return _first_per(batch_df.localCheckpoint(eager=True), w_digest)

    def _reject(batch_df: DataFrame, accepted: DataFrame) -> DataFrame:
        dups = probe_dedup_index(
            batch_df, index_path, accepted, threshold=threshold, **cols
        ).select(F.col("batch_id").alias(id_col)).distinct()
        return batch_df.join(dups, id_col, "left_anti")

    def _bm25(accepted, survivors: DataFrame, ckpt: str, batch_id: int):
        if accepted is None:
            # overwrite-idempotent like the band-index build: a replay
            # of the first batch rebuilds the same postings
            build_bm25_index(survivors, bm25_index_path, **cols)
        elif _read_parquet_if_committed(spark, bm25_index_path + "/_meta") is None:
            # retrofit (the pipeline ran before bm25_index_path was
            # configured) or a crashed build (its _meta does not read):
            # build the postings from the FULL corpus
            # (already-accepted docs + this batch's survivors), not
            # just the batch; build overwrites, so a replay of this
            # branch is idempotent
            build_bm25_index(
                accepted.select(id_col, text_col).unionByName(
                    survivors.select(id_col, text_col)
                ),
                bm25_index_path, **cols,
            )
        else:
            # own epoch marker (the band extend may have committed in a
            # crashed earlier attempt that never reached this line):
            # double-appended postings from the residual extend->marker
            # crash window are collapsed at read time (probe_bm25_index
            # aggregates per (w, doc_id)), so the marker is an
            # efficiency guard, not the correctness one
            bm_marker = f"{ckpt}/cs_bm25_epochs/{batch_id}"
            if not _fs_exists(spark, bm_marker):
                extend_bm25_index(survivors, bm25_index_path, **cols)
                _fs_mkdirs(spark, bm_marker)

    return _ingest_loop(
        stream, index_path, accepted_path, (id_col,),
        prepare=_prepare,
        reject=_reject,
        build=lambda corpus: build_dedup_index(corpus, index_path, **cols),
        extend=lambda s: extend_dedup_index(s, index_path, **cols),
        checkpoint=checkpoint,
        ckpt_prefix="cs_dedup_ckpt_",
        trigger_available_now=trigger_available_now,
        sidecar=_bm25 if bm25_index_path is not None else None,
    )


def ingest_vectors(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    reject_cosine: float | None = None,
    nprobe: int = 4,
    k_centroids: int = 16,
    m_sub: int = 8,
    k_codes: int = 16,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming vector ingest into a persisted IVF+PQ index — the
    embedding-side twin of ``ingest_with_dedup``: each micro-batch

    1. collapses in-batch id duplicates (first row per id wins),
       in-batch bit-identical vectors (lowest id wins — without this,
       an availableNow backlog replayed as one batch would land every
       copy of a duplicate cluster), and — when ``reject_cosine`` is
       set — in-batch NEAR-identical vectors: an exact batch-vs-batch
       cosine pass (``cosine_pairs_above``, cost bounded by the batch
       size, never the corpus) feeds connected components and the
       lowest id per near-dup cluster survives (the probe in step 2
       only sees previously ACCEPTED vectors, so without this pass
       two noise-perturbed copies arriving in ONE batch would both
       land permanently),
    2. optionally rejects vectors whose exact re-ranked cosine vs any
       ACCEPTED vector is ≥ ``reject_cosine`` (embedding near-dup
       rejection — probed through the index, so only nprobe lists'
       CODES are scanned per query, never the accepted floats at
       large),
    3. appends survivors' floats to ``accepted_path`` and EXTENDS the
       index with their codes via the STORED training (no retrain —
       ``extend_ivfpq_index``, cost ∝ batch).

    The first batch trains and builds the index (``build_ivfpq_index``
    — overwrite, replay-idempotent). Centroid/codebook drift under a
    shifting stream is handled by periodic rebuilds, like every IVF
    system. Replay-safe under the contract on ``_ingest_loop``
    (identity: ``id_col``); a lost index retrains on the accepted
    store.

    Size the geometry to the SEED batch: PQ training fails loud when
    the first batch holds fewer than ``k_codes`` vectors, and IVF
    clamps ``k_centroids`` to the batch size (each vector seeds its
    own list) — pass smaller ``k_codes``/``m_sub`` for tiny seeds.
    """
    from cassandrastack_spark.llm.simsearch import (
        build_ivfpq_index,
        extend_ivfpq_index,
        probe_ivfpq_index,
    )

    spark = stream.sparkSession

    def _prepare(batch_df: DataFrame) -> DataFrame:
        # content-keyed election: replay-stable regardless of partition
        # layout (monotonically_increasing_id is neither)
        vec_key = F.xxhash64(F.col(vec_col).cast("string"))
        w_id = Window.partitionBy(id_col).orderBy(
            vec_key, F.col(vec_col).cast("string")
        )
        batch_df = _first_per(batch_df.localCheckpoint(eager=True), w_id)
        # in-batch CONTENT dedup: bit-identical vectors under different
        # ids collapse to the lowest id (matching ingest_with_dedup's
        # md5-digest in-batch pass) — otherwise an availableNow backlog
        # processed as one batch lands every copy of a duplicate
        # cluster permanently. NEAR-identical in-batch vectors (same
        # content up to float noise, different bits) are handled by
        # the cosine collapse pass right below when reject_cosine is
        # set; with reject_cosine=None they are all kept, matching
        # the corpus probe being off. Partitioned by the
        # vector CONTENT itself, not its 64-bit hash — a hash
        # collision between two different vectors would silently drop
        # one forever, and at the billions-of-vectors backlog this
        # loop targets that probability is not ignorable.
        w_vec = Window.partitionBy(F.col(vec_col).cast("string")).orderBy(
            id_col
        )
        batch_df = _first_per(batch_df, w_vec)
        if reject_cosine is None:
            return batch_df
        # in-batch NEAR-dup collapse (batch-vs-batch, bounded): exact
        # cosine pairs at the rejection threshold → connected
        # components → lowest id per cluster survives. Runs on the
        # FIRST batch too (it builds the index and never probes), and
        # before the corpus probe on later batches so a near-dup
        # cluster arriving inside one availableNow backlog lands
        # exactly once. Cost is the triangle-block self-join over THIS
        # batch only — short-circuited for the continuous low-volume
        # case: a <2-row batch can hold no pair (one cheap count on the
        # checkpointed dedup output), and an empty pair frame skips the
        # iterative components loop (several driver-synchronized jobs)
        # that would otherwise tax every micro-batch a fixed latency.
        from cassandrastack_spark.llm.dedup import dedup_components
        from cassandrastack_spark.llm.simsearch import cosine_pairs_above

        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.count() < 2:
            return batch_df
        pairs = cosine_pairs_above(
            batch_df, id_col=id_col, vec_col=vec_col,
            threshold=reject_cosine, method="exact",
        ).select("a_id", "b_id").localCheckpoint(eager=True)
        if pairs.isEmpty():
            return batch_df
        losers = (
            dedup_components(pairs)
            .filter(F.col("id") != F.col("component"))
            .select(F.col("id").alias(id_col))
        )
        return batch_df.join(losers, id_col, "left_anti").localCheckpoint(
            eager=True
        )

    def _reject(batch_df: DataFrame, accepted: DataFrame) -> DataFrame:
        if reject_cosine is None:
            return batch_df
        # on_missing_corpus="skip": a replay inside the extend→append
        # crash window probes with a corpus that lacks exactly THIS
        # batch's ids — "raise" would wedge the stream permanently on
        # that state; the skipped ids are the batch's own vectors,
        # re-checked as they re-land.
        hits = probe_ivfpq_index(
            spark, index_path, batch_df, accepted,
            id_col=id_col, vec_col=vec_col,
            k=1, nprobe=nprobe, include_score=True,
            on_missing_corpus="skip",
        ).filter(F.col("cosine") >= reject_cosine)
        dups = hits.select(F.col("query_id").alias(id_col)).distinct()
        return batch_df.join(dups, id_col, "left_anti")

    return _ingest_loop(
        stream, index_path, accepted_path, (id_col,),
        prepare=_prepare,
        reject=_reject,
        build=lambda corpus: build_ivfpq_index(
            corpus, index_path, id_col=id_col, vec_col=vec_col,
            k_centroids=k_centroids, m_sub=m_sub, k_codes=k_codes,
        ),
        extend=lambda s: extend_ivfpq_index(
            s, index_path, id_col=id_col, vec_col=vec_col
        ),
        checkpoint=checkpoint,
        ckpt_prefix="cs_vec_ckpt_",
        trigger_available_now=trigger_available_now,
    )


def ingest_with_fuzzy_dedup(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    key_col: str = "key",
    str_col: str = "name",
    max_dist: int = 1,
    n_buckets: int = 16,
    block_cols: tuple = (),
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming record ingest with fuzzy-key rejection — the
    entity-resolution twin of ``ingest_with_dedup``, completing the ER
    family's production loop the way the band index, BM25, and IVF+PQ
    loops were completed (VERDICT r15 #6): each micro-batch

    1. drops rows with NULL key/string/blocks (the index contract —
       they carry no match evidence; a crawl record without id or name
       is malformed) and collapses in-batch exact duplicates (lowest
       key per (block_cols..., string) wins — the cheap guard for
       copies arriving within one drop),
    2. probes the PERSISTED deletion-variant index
       (``operators/fuzzy.py probe_fuzzy_index`` — only the batch is
       exploded; the stored corpus never is) and rejects batch rows
       within ``max_dist`` edits of an ACCEPTED record in the same
       block,
    3. appends survivors to ``accepted_path`` and EXTENDS the index
       with their variants under a fresh epoch
       (``extend_fuzzy_index``), marker-guarded.

    Replay-safe under the contract on ``_ingest_loop`` (identity:
    ``(block_cols..., key_col)``). Rejection counts only matches whose
    index (block_cols..., key) identity is already in the accepted
    store — NOT every index hit (identity is block-scoped throughout
    the fuzzy-index family: the same key under different block values
    is different evidence). A batch replayed inside the extend→append
    crash window self-matches its OWN just-extended rows, and
    rejecting on those would permanently lose the batch; their keys
    are not in the accepted store, so they reject nothing.

    Near-duplicates WITHIN one batch (non-exact) ride through
    together — the standard at-drop-granularity trade, same as
    ``ingest_with_dedup``; run a periodic ``fuzzy_self_pairs`` +
    ``dedup_components`` sweep over the accepted store to catch
    stragglers. Work per batch scales with the batch, never the
    corpus: probe variants are a constant fan-out of the batch,
    pruned to their own variant buckets; the extend explodes only
    survivors.
    """
    from cassandrastack_spark.operators.fuzzy import (
        build_fuzzy_index,
        extend_fuzzy_index,
        probe_fuzzy_index,
    )

    bc = tuple(block_cols)
    spark = stream.sparkSession

    def _prepare(batch_df: DataFrame) -> DataFrame | None:
        batch_df = (
            batch_df.withColumn("_s", F.col(str_col).cast("string"))
            .na.drop(subset=[*bc, key_col, "_s"])
            .localCheckpoint(eager=True)
        )
        if not batch_df.limit(1).count():
            # empty batch (no-data tick, or every row malformed):
            # nothing to probe, index, or append — and the first-batch
            # branch must not reach build_fuzzy_index's empty-corpus
            # raise
            return None
        # in-batch exact collapse: lowest key per (blocks, string) wins
        w_s = Window.partitionBy(*bc, "_s").orderBy(key_col)
        return _first_per(batch_df, w_s)

    def _reject(batch_df: DataFrame, accepted: DataFrame) -> DataFrame:
        matches = probe_fuzzy_index(
            spark, index_path, batch_df, "_s", max_dist=max_dist
        )
        # identity is (block_cols..., key) — the fuzzy-index family's
        # contract (_current_epochs): the same key under different
        # block values is DIFFERENT evidence. Joining on key alone
        # would (a) treat a crashed attempt's index row in block B2 as
        # "accepted" because the key is accepted in B1, re-rejecting
        # rows the crash-window analysis promises to re-accept, and
        # (b) let the replay guard silently drop a record whose key is
        # accepted under another block.
        acc_keys = accepted.select(*bc, F.col(key_col).alias("key")).distinct()
        rejected = (
            matches.join(acc_keys, [*bc, "key"])
            .select(*bc, F.col("s_probe").alias("_s"))
            .distinct()
        )
        return batch_df.join(rejected, [*bc, "_s"], "left_anti")

    return _ingest_loop(
        stream, index_path, accepted_path, (*bc, key_col),
        prepare=_prepare,
        reject=_reject,
        build=lambda corpus: build_fuzzy_index(
            corpus, index_path, key_col, str_col,
            max_dist=max_dist, n_buckets=n_buckets, block_cols=bc,
        ),
        extend=lambda s: extend_fuzzy_index(s, index_path, key_col, str_col),
        checkpoint=checkpoint,
        ckpt_prefix="cs_fuzzy_ckpt_",
        trigger_available_now=trigger_available_now,
        scratch=("_s",),
    )


# ---------------------------------------------------------------------------
# monitor-state compaction: one commit, one merge per state kind
# ---------------------------------------------------------------------------


def _sum_merge(
    snap: DataFrame,
    state_path: str,
    sum_col: str = "cnt",
    key_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """The additive merge (Count-Min cells, histogram bins): sum
    ``sum_col`` per every other column. The key is DERIVED from the
    state schema: additive states carry their geometry, grid and group
    columns as data, and merging on a subset would permanently sum
    counts across the missing columns, or launder two incompatible
    sketches into one plausible-looking table.
    ``key_cols``, when supplied, is validated against the derived key
    and a mismatch raises rather than merges."""
    keys = [c for c in snap.columns if c != sum_col]
    if sum_col not in snap.columns:
        raise ValueError(
            f"additive compaction: sum column {sum_col!r} not in state "
            f"schema {snap.columns} at {state_path}"
        )
    if key_cols is not None and set(key_cols) != set(keys):
        raise ValueError(
            "additive compaction: supplied key_cols "
            f"{sorted(key_cols)} do not cover the state's non-sum "
            f"columns {sorted(keys)} at {state_path} — merging on a "
            "subset would permanently collapse counts across the "
            "missing columns"
        )
    return (
        snap.groupBy(*keys)
        .agg(F.sum(sum_col).alias(sum_col))
        .select(*keys, sum_col)
    )


def _hll_merge(snap: DataFrame, state_path: str) -> DataFrame:
    """The HLL merge: max per register. ``p`` stays a group key, so two
    precisions mistakenly written to one path both survive compaction
    and ``distinct_count_state`` still refuses them."""
    return (
        snap.groupBy("bucket", "p")
        .agg(F.max("maxrank").alias("maxrank"))
        .select("bucket", "maxrank", "p")
    )


def _sample_merge(
    snap: DataFrame,
    state_path: str,
    data_cols: tuple[str, ...],
    retake,
    caller: str,
) -> DataFrame:
    """The sample merge, shared by the uniform and weighted twins:
    ``retake`` under the group columns DERIVED from the state schema
    (every non-``data_cols`` column), after refusing mixed ``k``."""
    gcols = [c for c in snap.columns if c not in data_cols]
    _check_sample_state_k(snap, state_path, caller)
    return retake(snap, gcols).select(*gcols, *data_cols)


def _stage_compaction(
    spark: SparkSession,
    state_path: str,
    merge=_sum_merge,
    partition_by: tuple[str, ...] = (),
    **merge_args,
) -> bool:
    """Steps (2)-(4) of ``_compact_state``: snapshot the state, run
    ``merge(snapshot_frame, state_path, **merge_args)`` (the default is
    the additive merge), stage it into this attempt's side directory and
    rename the manifest into place. Returns False when there is nothing
    to compact: no committed state, or one file. Once this returns True
    the commit is durable — ``_recover_compaction`` finishes it exactly
    once, however many crashes intervene.

    Both the staging directory and the manifest's staging file are
    unique per attempt: with shared names a concurrent compactor could
    make this manifest record the other attempt's parts against this
    attempt's snapshot, or commit the other attempt's record, and
    double-count or silently abort."""
    import uuid

    raw = _read_parquet_if_committed(spark, state_path)
    if raw is None:
        return False
    snapshot = sorted(raw.inputFiles())
    if len(snapshot) <= 1:
        return False
    merged = merge(
        spark.read.option("basePath", state_path).parquet(*snapshot),
        state_path,
        **merge_args,
    )
    base = state_path.rstrip("/")
    attempt = uuid.uuid4().hex
    tmp_dir = f"{base}.compact.tmp.{attempt}"
    out = merged.coalesce(1).write.mode("overwrite")
    if partition_by:
        out = out.partitionBy(*partition_by)
    out.parquet(tmp_dir)
    P, fs = _hadoop_fs(spark, tmp_dir)
    # each part's path relative to the staging dir: partition dirs too
    depth = len(partition_by)
    staged = sorted(
        "/".join(st.getPath().toUri().getPath().split("/")[-depth - 1:])
        for st in fs.globStatus(P(tmp_dir + "/*" * depth + "/*.parquet"))
        or []
    )
    record = {
        "staged": staged,
        "snapshot": snapshot,
        "tmp": tmp_dir.rsplit("/", 1)[-1],
    }
    manifest = P(base + ".compact.manifest")
    staging = P(f"{base}.compact.manifest.tmp.{attempt}")
    w = fs.create(staging, True)
    w.write(bytearray(json.dumps(record), "utf-8"))
    w.close()
    if not fs.rename(staging, manifest):
        # another compactor's manifest holds the path: recovery finishes
        # THEIR commit; ours aborts, removing its own side artifacts
        fs.delete(staging, False)
        fs.delete(P(tmp_dir), True)
        raise RuntimeError(
            f"compaction: manifest rename refused at {state_path} "
            "(concurrent compactor?) — commit aborted, state untouched; "
            "re-run after the other compactor finishes"
        )
    return True


def _recover_compaction(spark: SparkSession, state_path: str) -> None:
    """Step (5) of ``_compact_state``, and the finish of any commit a
    crashed compactor left manifested: move exactly the staged parts the
    manifest lists into the state (creating a partition directory if it
    is missing), and only when every one of them is there delete exactly
    the snapshot files; then drop the manifest and every side artifact
    (``<state>.compact.tmp*`` directories and ``.compact.manifest.tmp*``
    files — each belongs to a finished, aborted or crashed attempt once
    no manifest references it). Idempotent: every step skips work
    already done.

    A staged part missing from both places means a concurrent
    compactor's sweep removed it before this manifest landed, and a
    manifest that does not parse or lacks a key proves nothing: both
    ABORT. Every snapshot file stays, the listed parts already moved in
    are backed out (a merged part beside its snapshot would double an
    additive state), and the state is merely uncompacted."""
    base = state_path.rstrip("/")
    P, fs = _hadoop_fs(spark, base)
    manifest = P(base + ".compact.manifest")
    if fs.exists(manifest):
        ins = fs.open(manifest)
        try:
            rec = json.loads(bytes(ins.readAllBytes()).decode("utf-8"))
            staged, snapshot = rec["staged"], rec["snapshot"]
            tmp = P(P(base).getParent(), rec["tmp"])
        except (ValueError, KeyError, TypeError):
            staged = None
        finally:
            ins.close()
        if staged is not None:
            for rel in staged:
                src, dst = P(tmp, rel), P(f"{base}/{rel}")
                if not fs.exists(dst) and fs.exists(src):
                    fs.mkdirs(dst.getParent())
                    fs.rename(src, dst)
            if all(fs.exists(P(f"{base}/{rel}")) for rel in staged):
                for f in snapshot:
                    fs.delete(P(f), False)
            else:
                for rel in staged:
                    fs.delete(P(f"{base}/{rel}"), False)
        fs.delete(manifest, False)
    for st in fs.globStatus(P(base + ".compact.{tmp,manifest.tmp}*")) or []:
        fs.delete(st.getPath(), True)


def _compact_state(
    spark: SparkSession,
    state_path: str,
    merge,
    partition_by: tuple[str, ...] = (),
    **merge_args,
) -> None:
    """The one compaction commit of every monitor state. A monitor
    appends one small file per non-empty batch and its reader always
    merges, so compaction changes no answer, only the file count. The
    protocol: (1) finish any commit a crashed compactor left
    manifested; (2) snapshot the state's file list (no committed state,
    or one file: return) and run the kind's ``merge`` on exactly those
    files — every validation raises here, before any write; (3) stage
    the merge into a per-attempt ``<state>.compact.tmp.<uuid>``
    directory no reader lists, keeping the state's ``p=``/``k=``
    partition layout; (4) rename the manifest ``<state>.compact.manifest``
    into place — the commit point — recording the snapshot, the staged
    parts (relative to the staging directory) and that directory's
    name; (5) move exactly the staged parts in, prove they are all
    there, delete exactly the snapshot files, and drop the manifest and
    every side artifact. It is safe for both merge kinds. A file the
    live monitor appends after the snapshot is in neither list and
    survives untouched. A snapshot file is deleted only once its merged
    restatement is in place, so no interleaving loses data. A crash
    before (4) leaves nothing visible, and a crash after it is finished
    by the next call instead of leaving old + merged files side by side
    — which an idempotent merge (HLL max, bottom-k retake, newest-epoch
    components) would read correctly, but an additive one (Count-Min,
    histogram: counts SUM) would permanently double. Readers listing
    inside (5) may see old + merged for a moment (an additive reader
    can only OVERcount, never under) or hit a deleted file: always-on
    readers set ``spark.sql.files.ignoreMissingFiles``. A second
    compactor whose manifest rename is refused raises, and an aborted
    commit (``_recover_compaction``) keeps the snapshot: schedule one
    compactor per state path.
    """
    _recover_compaction(spark, state_path)
    if _stage_compaction(spark, state_path, merge, partition_by, **merge_args):
        _recover_compaction(spark, state_path)


def monitor_components(
    stream: DataFrame,
    state_path: str,
    src_col: str = "a_id",
    dst_col: str = "b_id",
    algorithm: str = "auto",
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming connected components: maintain the transitive closure
    of an unbounded edge stream (duplicate pairs, entity matches,
    identity links) as a persisted ``(node, comp, epoch)`` mapping —
    the cluster-level completion of the streaming ER loop:
    ``ingest_with_fuzzy_dedup`` maintains the PAIR gate, this operator
    maintains the CLUSTERS those pairs imply, without ever re-running
    the closure over all edges seen.

    Per micro-batch: contract the batch's edges through the current
    mapping (each endpoint replaced by its component root, or itself if
    unseen), run ``dedup_components`` on the contracted edges — a graph
    whose size is bounded by the BATCH's edge count, never the history
    — and append one row per node whose component root changed (plus
    the batch's new nodes). Resolution (``components_state``) takes
    each node's newest-epoch row.

    The state equals the batch ``dedup_components`` over ALL edges ever
    streamed, whatever the batching: component roots are minimum member
    ids, and contraction is label-preserving (every contracted label IS
    its component's current minimum, so the minimum over merged labels
    is the global minimum of the merged component). The same argument
    makes the loop replay-safe WITHOUT an epoch marker — re-processing
    a batch whose rows committed contracts every edge to a self-loop
    and appends nothing, and a replay over a PARTIALLY appended attempt
    re-derives the same final roots from the same edge set and appends
    exactly the missing rows (min-root is a pure function of the edge
    union; duplicate (node, comp, epoch) rows are identical and
    resolution is unaffected). The HLL-register idempotence class, for
    graphs.

    Scale shape: the per-batch star/label rounds run on contracted
    batch edges only; the mapping join touches state once per batch
    (narrow columns, equi-join); a merge rewrites one row per node of
    the ABSORBED components — bounded by affected-cluster size, the
    known cost of materialized components, not by history. State
    accretes one row per (node, change); compact by rewriting
    newest-epoch rows per node (the ``components_state`` resolution)
    when the dead-row ratio warrants.

    NULL endpoints are dropped (no identity to link); self-loops add
    the node as a singleton. ``algorithm`` passes through to
    ``dedup_components`` — callers whose edge streams chain deeply
    (serial-number name graphs) pick ``"star"`` for the same measured
    reason the batch er_fuzzy_components plan does. Like every
    maintenance path in this engine: single writer.
    """
    from cassandrastack_spark.llm.dedup import dedup_components

    spark = stream.sparkSession

    def _sink(batch_df: DataFrame, _batch_id: int, _ckpt: str) -> None:
        edges = (
            batch_df.select(
                F.col(src_col).alias("u"), F.col(dst_col).alias("v")
            )
            .na.drop()
            .distinct()
            .localCheckpoint(eager=True)
        )
        if not edges.limit(1).count():
            return
        # readability probe, not existence: a crash during the very
        # first state append leaves the directory created but
        # uncommitted, which must route back to the fresh-state
        # branch, not a wedging read (review r16)
        rows = _read_parquet_if_committed(spark, state_path)
        if rows is not None:
            # ONE read serves both the resolution and the epoch agg
            # (review r16 — two independent reads doubled the
            # per-batch state I/O as the table accretes)
            m = _resolve_components(rows).localCheckpoint(eager=True)
            epoch = (
                rows.agg(F.coalesce(F.max("epoch"), F.lit(0)).alias("e"))
                .head()
                .e
                + 1
            )
        else:
            m = (
                edges.select(F.col("u").alias("node"))
                .limit(0)
                .withColumn("comp", F.col("node"))
            )
            epoch = 0
        nodes_b = (
            edges.select(F.col("u").alias("node"))
            .unionByName(edges.select(F.col("v").alias("node")))
            .distinct()
        )
        # rep = current root, or the node itself if unseen
        rep_b = (
            nodes_b.join(m, "node", "left")
            .select(
                "node", F.coalesce("comp", F.col("node")).alias("rep")
            )
            .localCheckpoint(eager=True)
        )
        e = (
            edges.join(
                rep_b.select(
                    F.col("node").alias("u"), F.col("rep").alias("ru")
                ),
                "u",
            )
            .join(
                rep_b.select(
                    F.col("node").alias("v"), F.col("rep").alias("rv")
                ),
                "v",
            )
            .filter(F.col("ru") != F.col("rv"))
            .select(F.col("ru").alias("a_id"), F.col("rv").alias("b_id"))
            .distinct()
        )
        if e.limit(1).count():
            cc = dedup_components(e, algorithm=algorithm)
            ccr = cc.select(
                F.col("id").alias("_lbl"), F.col("component").alias("_newc")
            )
        else:
            ccr = (
                rep_b.select(F.col("rep").alias("_lbl"))
                .limit(0)
                .withColumn("_newc", F.col("_lbl"))
            )
        # rows to append: state nodes whose label merged away, plus the
        # batch's unseen nodes (at their possibly-merged root)
        remapped = (
            m.join(ccr, m.comp == ccr._lbl)
            .filter(F.col("_newc") != F.col("comp"))
            .select("node", F.col("_newc").alias("comp"))
        )
        newnodes = (
            rep_b.join(m.select("node"), "node", "left_anti")
            .join(ccr, rep_b.rep == ccr._lbl, "left")
            .select(
                "node",
                F.coalesce("_newc", F.col("rep")).alias("comp"),
            )
        )
        # materialize the (batch-bounded) changed set once, skip the
        # write job entirely when it is empty (replayed or
        # intra-component-only batch), and land ONE part file per
        # batch like every sibling monitor writer — the resolution
        # read pays per-file open cost on every later batch
        # (review r16)
        changed = (
            remapped.unionByName(newnodes)
            .distinct()
            .localCheckpoint(eager=True)
        )
        if changed.limit(1).count():
            (
                changed.withColumn("epoch", F.lit(epoch).cast("long"))
                .coalesce(1)
                .write.mode("append")
                .parquet(state_path)
            )

    return _run_foreach_batch(
        stream, _sink, checkpoint, "cs_comp_ckpt_", trigger_available_now
    )


def _resolve_components(rows: DataFrame, keep_epoch: bool = False) -> DataFrame:
    """Newest-epoch row per node — ONE copy of the resolution window,
    shared by the per-batch sink (which already holds the state read),
    ``components_state``, and the compactor (which keeps the epoch
    column so stamps survive compaction)."""
    w = Window.partitionBy("node").orderBy(F.desc("epoch"), "comp")
    cols = ["node", "comp"] + (["epoch"] if keep_epoch else [])
    return _first_per(rows, w).select(*cols)


def compact_components_state(spark: SparkSession, state_path: str) -> None:
    """Maintenance for a ``monitor_components`` state table: rewrite
    the accreted change rows (one per node per merge) as each node's
    single newest-epoch row, through the one compaction commit
    (``_compact_state``). Epochs are PRESERVED, not renumbered — the
    compacted row carries its original epoch, so the monitor's
    max-epoch read and any resolution see exactly the values they
    would have seen uncompacted. This monitor's own sink reads the
    state every batch, so a sink that listed a snapshot file before its
    delete fails on the missing file: run compaction in the monitor's
    idle window.
    """
    _compact_state(
        spark, state_path,
        lambda snap, _: _resolve_components(snap, keep_epoch=True),
    )


def components_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Resolve the ``monitor_components`` state table to the current
    ``(node, comp)`` mapping: each node's newest-epoch row. Equal to
    the batch ``dedup_components`` over every edge ever streamed (the
    min-root/label-preserving-contraction argument in
    ``monitor_components``). A node never receives two rows at the
    same epoch (each batch appends at max(epoch)+1 and computes one
    comp per node; a crash-window replay writes any missing rows at
    the NEXT epoch, whose values the invariance argument proves
    consistent with the committed ones) — the comp tie-break below is
    therefore never load-bearing, it just makes the plan's determinism
    self-evident to a reader."""
    return _resolve_components(spark.read.parquet(state_path))


def monitor_embedding_moments(
    stream: DataFrame,
    state_path: str,
    vec_col: str = "embedding",
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming embedding-drift accumulator: every micro-batch reduces
    to ONE (batch_id, n, s, ss) moment row — the same constant
    dim²-sized state as ``embstats._moment_partials`` — appended to
    ``state_path``. ``embedding_moments_state`` merges the rows into
    the RUNNING covariance of everything ingested so far; comparing it
    against the covariance the IVF/PQ training saw is the drift signal
    that decides index-rebuild cadence (every persisted index here
    documents "retrain on drift" — this operator is the detector).

    Replay discipline, mirroring ``ingest_vectors``: the append is
    guarded by a per-batch marker under ``<checkpoint>/cs_epochs/``
    (``_marker_guarded_sketch_monitor``; a batch whose vectors are all
    null writes the marker and no state file), so
    a crash inside the append→marker window re-lands the SAME
    (batch_id, n, s, ss) row byte-identically, and the reader
    additionally collapses duplicate batch_ids — both halves of the
    at-least-once window are closed. Cost per batch: one pass over the
    batch plus a dim-bounded (dim² + dim doubles) driver assembly —
    never corpus state.
    """
    from cassandrastack_spark.llm.embstats import _moment_partials

    spark = stream.sparkSession

    def build(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # eager checkpoint: the summed totals AND the count read these
        # partials — without it the batch-sized moment pass runs twice
        parts = _moment_partials(batch_df, vec_col).localCheckpoint(
            eager=True
        )
        summed = (
            parts.select(F.posexplode(F.concat("s", "ss")).alias("pos", "v"))
            .groupBy("pos")
            .agg(F.sum("v").alias("v"))
            .collect()  # dim + dim² rows — bounded by DIMENSION
        )
        stats = parts.agg(
            F.sum("n").alias("n"),
            F.min(F.size("s")).alias("dmin"),
            F.max(F.size("s")).alias("dmax"),
        ).head()
        if stats.dmin != stats.dmax:
            raise ValueError(
                "monitor_embedding_moments: ragged vector lengths "
                "across this batch's partitions — every vector must "
                "have the same dimension"
            )
        cnt = len(summed)
        dim = int(((4 * cnt + 1) ** 0.5 - 1) / 2)
        v = [0.0] * cnt
        for r in summed:
            v[r.pos] = r.v
        return spark.createDataFrame(
            [(int(batch_id), int(stats.n), v[:dim], v[dim:])],
            "batch_id long, n long, s array<double>, ss array<double>",
        )

    return _marker_guarded_sketch_monitor(
        stream, state_path, vec_col, build,
        ckpt_prefix="cs_mom_ckpt_",
        checkpoint=checkpoint,
        trigger_available_now=trigger_available_now,
        pass_batch_id=True,
    )


def embedding_moments_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The running covariance from a ``monitor_embedding_moments``
    state table: collapse replayed batch rows (same batch_id ⇒
    byte-identical content — ``first`` per id is exact), sum the
    surviving moment rows elementwise, and finish with the same
    (i, j, cov) assembly as ``embedding_covariance`` — so the merged
    state over any stream equals the batch covariance over the union
    of its rows (tested), and drift is one join between two cov
    frames. Everything here is batches × dim² — never corpus-sized.
    A monitor that has only seen empty batches has written markers but
    no state files yet — that reads as an EMPTY covariance frame (a
    young stream is zero evidence, not an error), so a polling drift
    scheduler never wedges on startup.
    """
    from cassandrastack_spark.llm.embstats import _cov_frame_from_totals

    raw = _read_parquet_if_committed(spark, state_path)
    if raw is None:
        return spark.createDataFrame([], "i int, j int, cov double")
    # cross-BATCH dim guard: a stream whose vector length changed
    # between batches would merge into a silently wrong dim — the
    # state table is batches-sized, so this distinct is trivial
    dims = [r.d for r in raw.select(F.size("s").alias("d")).distinct().collect()]
    if len(dims) > 1:
        raise ValueError(
            f"embedding_moments_state: state at {state_path} mixes "
            f"vector dimensions {sorted(dims)} — the stream's "
            "embedding dim changed between batches; rebuild the state"
        )
    state = (
        raw.groupBy("batch_id")
        .agg(
            F.first("n").alias("n"),
            F.first("s").alias("s"),
            F.first("ss").alias("ss"),
        )
    )
    totals = (
        state.select(F.posexplode(F.concat("s", "ss")).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
    )
    n = state.agg(F.sum("n").cast("double").alias("n"))
    return _cov_frame_from_totals(totals, n)


def _marker_guarded_sketch_monitor(
    stream: DataFrame,
    state_path: str,
    notnull_col: str,
    build_fn,
    ckpt_prefix: str,
    checkpoint: str | None,
    trigger_available_now: bool,
    partition_by: tuple[str, ...] = (),
    pass_batch_id: bool = False,
):
    """The shared sink shape of the sketch monitors
    (``monitor_distinct_count`` / ``monitor_hot_keys`` /
    ``monitor_histogram`` / the samples) and of
    ``monitor_embedding_moments`` and ``monitor_nb_counts``, whose
    rows carry the batch id (``pass_batch_id``): per batch, probe the
    epoch marker (skip a
    replay's wasted work), short-circuit an all-null batch on the RAW
    frame (so the build aggregation runs exactly once, in the write),
    reduce the batch with ``build_fn`` and append one small file, then
    commit the marker. The marker lands AFTER the append everywhere —
    what that buys differs per sketch and is each monitor's own
    docstring (idempotent max makes it pure thrift for HLL; for the
    additive CM/histogram states it is the deliberate
    at-least-once/overcount-only policy).
    """
    spark = stream.sparkSession

    def _sink(batch_df: DataFrame, batch_id: int, ckpt: str) -> None:
        marker = f"{ckpt}/cs_epochs/{batch_id}"
        if _fs_exists(spark, marker):
            return
        if batch_df.filter(F.col(notnull_col).isNotNull()).isEmpty():
            _fs_mkdirs(spark, marker)
            return
        built = (
            build_fn(batch_df, batch_id) if pass_batch_id
            else build_fn(batch_df)
        )
        out = built.coalesce(1).write.mode("append")
        if partition_by:
            out = out.partitionBy(*partition_by)
        out.parquet(state_path)
        _fs_mkdirs(spark, marker)

    return _run_foreach_batch(
        stream, _sink, checkpoint, ckpt_prefix, trigger_available_now
    )


def monitor_distinct_count(
    stream: DataFrame,
    state_path: str,
    item_col: str,
    p: int = 12,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming distinct-count accumulator: every micro-batch reduces
    to its HyperLogLog register table (``operators.sketch.hll_build``,
    at most ``2**p`` rows) appended to ``state_path``;
    ``distinct_count_state`` resolves the accumulated registers to the
    running number of distinct ``item_col`` values EVER ingested —
    "how many unique documents/URLs/users has this stream seen" in
    constant per-batch cost and bounded state, with no watermark: like
    the Bloom dedup, the question has no time window, so exact
    distinct-state (which grows with stream cardinality) is the wrong
    tool at corpus scale.

    Replay discipline: the append is marker-guarded like
    ``monitor_embedding_moments`` — but HLL needs less. The register
    update is ``max``: associative, commutative, IDEMPOTENT — so even
    a batch appended twice through the crash window merges to the
    byte-identical estimate; the marker only saves the wasted work.
    At-least-once delivery is semantically invisible to this sketch,
    which is precisely why it is the streaming cardinality primitive
    (same property the mergeable-summaries literature calls out).

    Cost per batch: one map pass over the batch + a ``2**p``-bounded
    map-side-combined shuffle + a ≤ ``2**p``-row file. The state table
    grows one small file per non-empty batch; readers always merge, so
    ``compact_distinct_count_state`` may run at any time — the one
    compaction commit (``_compact_state``) never changes any answer,
    even against a concurrently appending monitor.
    """
    from cassandrastack_spark.operators.sketch import hll_build

    return _marker_guarded_sketch_monitor(
        stream, state_path, item_col,
        lambda b: hll_build(b, item_col, p=p),
        ckpt_prefix="cs_hll_ckpt_",
        checkpoint=checkpoint,
        trigger_available_now=trigger_available_now,
        partition_by=("p",),
    )


def distinct_count_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The running distinct count from a ``monitor_distinct_count``
    state table: max-merge every appended register row per bucket
    (replays collapse for free — max is idempotent) and resolve with
    ``hll_estimate``; equals ``hll_estimate(hll_build(...))`` over the
    union of every batch ever ingested (tested). A monitor that has
    only seen empty batches reads as a 0-estimate frame, not an error,
    so a polling scheduler never wedges on startup. Mixed precisions
    in one state directory mean two incompatible sketches were pointed
    at the same path — refuse loudly rather than merge garbage.
    """
    from cassandrastack_spark.operators.sketch import hll_estimate

    raw = _read_parquet_if_committed(spark, state_path)
    if raw is None:
        return spark.createDataFrame(
            [(0.0, 0, 0)], "est_distinct double, m long, nonempty long"
        )
    ps = [r.p for r in raw.select("p").distinct().collect()]
    if len(ps) > 1:
        raise ValueError(
            f"distinct_count_state: state at {state_path} mixes HLL "
            f"precisions {sorted(ps)} — two different sketches were "
            "written to one path; rebuild the state"
        )
    merged = raw.groupBy("bucket").agg(
        F.max("maxrank").alias("maxrank"), F.max("p").alias("p")
    )
    return hll_estimate(merged)


def compact_distinct_count_state(spark: SparkSession, state_path: str) -> None:
    """Maintenance for a ``monitor_distinct_count`` state table: the
    monitor appends one small register file per non-empty batch, so an
    always-on stream accretes files whose only cost is open latency —
    the ANSWER never drifts (the reader max-merges). Rewrite the state
    as its merged ≤ ``2**p``-row register table, in its ``p=`` layout,
    through the one compaction commit (``_compact_state``).
    """
    _compact_state(spark, state_path, _hll_merge, ("p",))


def monitor_hot_keys(
    stream: DataFrame,
    state_path: str,
    item_col: str,
    width: int = 4096,
    depth: int = 3,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming frequency accumulator: every micro-batch reduces to
    its Count-Min sketch (``operators.sketch.cm_build``, at most
    ``depth x width`` cells) appended to ``state_path``;
    ``hot_keys_state`` resolves the accumulated cells to running
    occurrence estimates for ANY probe key — "how often has this
    stream EVER seen this token/URL/user" in constant per-batch cost
    and bounded state, no watermark (the question has no time window;
    exact per-key streaming counts grow state with the key space —
    the wrong tool when keys are open-ended).

    Replay discipline: the append is marker-guarded like
    ``monitor_distinct_count`` — but the failure mode DIFFERS, and it
    matters. CM cells merge by ADDITION, which is associative and
    commutative but NOT idempotent (HLL's max is), so a batch replayed
    through the crash window (appended, crashed before its marker)
    double-counts. The marker is placed AFTER the append —
    at-least-once — deliberately: a replay can only OVERcount, which
    is the SAME side as CM's one-sided design error, so the sketch's
    load-bearing guarantee (an estimate never undercounts the true
    total) survives every crash/replay interleaving; the overhang is
    bounded by the one replayed batch. The opposite order (marker
    first, at-most-once) could LOSE a batch and silently break the
    guarantee consumers size thresholds against. Callers needing
    exactly-once magnitudes use the epoch markers' absence to detect
    and re-derive; callers using CM as designed (hot-key detection,
    threshold alarms) get the one-sided contract unconditionally.

    Cost per batch: one map pass + a ``depth x width``-bounded
    map-side-combined shuffle + one small file. Readers always
    sum-merge, so ``compact_hot_keys_state`` may run at any time
    (the one compaction commit, ``_compact_state``).
    """
    from cassandrastack_spark.operators.sketch import cm_build

    return _marker_guarded_sketch_monitor(
        stream, state_path, item_col,
        lambda b: cm_build(b, item_col, width=width, depth=depth),
        ckpt_prefix="cs_cm_ckpt_",
        checkpoint=checkpoint,
        trigger_available_now=trigger_available_now,
    )


def hot_keys_state(
    spark: SparkSession,
    state_path: str,
    probes: DataFrame,
    item_col: str,
    out_col: str = "est_count",
) -> DataFrame:
    """Running frequency estimates from a ``monitor_hot_keys`` state
    table: sum-merge every appended cell per (row, col) — addition is
    the ``cm_merge`` fold, so the merged table equals one whole build
    over every batch ever ingested (tested) — then probe with
    ``cm_estimate``. A monitor that has only seen empty batches
    estimates 0 for everything (empty sketch contract), so a polling
    scheduler never wedges on startup. Mixed geometries in one state
    directory mean two incompatible sketches were pointed at the same
    path — refuse loudly rather than sum garbage.
    """
    from cassandrastack_spark.operators.sketch import cm_estimate

    raw = _read_parquet_if_committed(spark, state_path)
    if raw is None:
        return probes.withColumn(out_col, F.lit(0).cast("long"))
    geoms = [
        (r.w, r.d) for r in raw.select("w", "d").distinct().collect()
    ]
    if len(geoms) > 1:
        raise ValueError(
            f"hot_keys_state: state at {state_path} mixes CM geometries "
            f"{sorted(geoms)} — two different sketches were written to "
            "one path; rebuild the state"
        )
    merged = raw.groupBy("row", "col").agg(
        F.sum("cnt").alias("cnt"),
        F.max("w").alias("w"),
        F.max("d").alias("d"),
    )
    return cm_estimate(merged, probes, item_col, out_col=out_col)


def compact_hot_keys_state(spark: SparkSession, state_path: str) -> None:
    """Maintenance for a ``monitor_hot_keys`` state table: the monitor
    appends one small cell file per non-empty batch; rewrite the state
    as its sum-merged ≤ ``depth x width``-row table through the one
    compaction commit (``_compact_state``, which says why CM's summed
    cells are safe there). Geometry (w, d) stays a merge key: if two
    incompatible sketches were mistakenly written to one path,
    compaction PRESERVES both geometries so ``hot_keys_state``'s loud
    refusal still fires — collapsing them under max(w)/max(d) would
    launder the corruption into a single plausible-looking sketch.
    """
    _compact_state(
        spark, state_path, _sum_merge, key_cols=("row", "col", "w", "d")
    )


def monitor_histogram(
    stream: DataFrame,
    state_path: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int,
    group_cols: tuple[str, ...] = (),
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming distribution accumulator: every micro-batch reduces to
    its fixed-width histogram (``functions.stats.histogram_fixed``, at
    most ``groups x (bins + 2)`` rows) appended to ``state_path``;
    ``histogram_state`` sum-merges the accumulated bins into the
    running distribution of every value EVER ingested. Feed the result
    to ``functions.stats.psi_from_histograms`` against a baseline
    snapshot and this is the live drift alarm — "has the score/length/
    perplexity distribution of what we are ingesting moved off what
    the filters were tuned on" — in constant per-batch cost and
    bounded state. Fixed (DESIGN-constant) bin edges are what make the
    state additive; see ``histogram_fixed``'s note.

    Replay/crash policy is ``monitor_hot_keys``'s (bin counts SUM, so
    they are not idempotent): marker AFTER append — at-least-once — so
    a crash-window replay can only overcount a batch, never lose one.
    Unlike CM there is no one-sided estimate guarantee to preserve;
    the policy choice here is that a monitoring histogram must never
    silently UNDER-represent a region of the distribution (a lost
    batch could hide exactly the drifted tail the monitor exists to
    catch), while a replayed batch at worst overstates by one batch —
    visible, bounded, and self-documenting in the epoch markers.
    """
    from cassandrastack_spark.functions.stats import histogram_fixed

    # fail at the CALL SITE, not inside the first non-empty batch's
    # foreachBatch (by then empty batches are already marked processed
    # and the error surfaces as a StreamingQueryException much later)
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not lo < hi:
        raise ValueError(f"need lo < hi, got lo={lo} hi={hi}")
    gcols = tuple(group_cols)
    return _marker_guarded_sketch_monitor(
        stream, state_path, value_col,
        lambda b: histogram_fixed(b, value_col, lo, hi, bins,
                                  group_cols=gcols),
        ckpt_prefix="cs_hist_ckpt_",
        checkpoint=checkpoint,
        trigger_available_now=trigger_available_now,
    )


def histogram_state(
    spark: SparkSession,
    state_path: str,
    group_cols: tuple[str, ...] = (),
    group_schema: str | None = None,
) -> DataFrame:
    """The running histogram from a ``monitor_histogram`` state table:
    sum every appended bin count per (group, bin) — equal to one
    ``histogram_fixed`` over the union of every batch ever ingested
    (tested). A monitor that has only seen empty batches reads as an
    EMPTY frame (a histogram with no observations has no bins), so a
    polling scheduler never wedges; ``psi_from_histograms`` against a
    baseline then reports NULL psi with n_observed = 0 — the honest
    "no data yet" answer. The empty frame types group columns as
    ``string`` unless ``group_schema`` supplies the real DDL (e.g.
    ``"shard_id int"``) — a monitor with non-string group keys should
    pass it so the no-data frame unions/joins cleanly against the
    real state that appears later.
    """
    gcols = list(group_cols)
    raw = _read_parquet_if_committed(spark, state_path)
    if raw is None:
        fields = group_schema or ", ".join(f"{c} string" for c in gcols)
        schema = (fields + ", " if fields else "") + "bin int, cnt long"
        return spark.createDataFrame([], schema)
    return raw.groupBy(*gcols, "bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def compact_histogram_state(
    spark: SparkSession,
    state_path: str,
    group_cols: tuple[str, ...] = (),
) -> None:
    """Maintenance for a ``monitor_histogram`` state table: rewrite the
    accreted per-batch bin files as the sum-merged table through the
    one compaction commit (``_compact_state``). The merge key is
    DERIVED from the state schema (every non-cnt column), so a
    caller's group_cols can never collapse counts across groups — the
    default () on a grouped monitor's state would otherwise be
    irreversible data loss; when supplied, group_cols are validated
    against the schema and a mismatch raises.
    """
    _compact_state(
        spark, state_path, _sum_merge,
        key_cols=(*group_cols, "bin") if group_cols else None,
    )


def monitor_value_sample(
    stream: DataFrame,
    state_path: str,
    value_col: str,
    key_col: str,
    k: int = 1024,
    group_cols: tuple[str, ...] = (),
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming quantile accumulator: every micro-batch reduces to its
    deterministic bottom-k sample (``operators.sketch.
    bottomk_sample_build``, at most ``k`` rows per group) appended to
    ``state_path``; ``value_sample_state`` min-k-merges the
    accumulated samples into THE sample of everything ever ingested,
    and ``bottomk_sample_quantiles`` resolves it to running medians /
    p95s / score spread — the live "what does the value distribution
    look like" monitor in bounded state over an unbounded horizon,
    the quantile sibling of ``monitor_distinct_count``.
    ``approx_percentile`` cannot be this monitor: its summary state is
    not persistable as data nor mergeable across separately
    materialized batches; the bottom-k sample is both.

    Replay discipline: marker-guarded like the HLL monitor, and like
    HLL it needs less — sample membership is a pure function of
    ``md5(key_col)``, so a batch appended twice merges to the
    byte-identical sample (the dedup in the merge collapses it);
    at-least-once delivery is semantically invisible. Compaction
    (``compact_value_sample_state``) re-takes the snapshot's sample,
    which changes no answer because
    bottomk(bottomk(A) ∪ B) == bottomk(A ∪ B).

    Cost per batch: one narrow (group, h, v) projection + one
    per-group rank window over THAT BATCH ONLY + a ≤ k-rows-per-group
    file. ``k`` rides every row and partitions the state files, so a
    mismatched re-point of the monitor fails loudly in the reader
    rather than merging incompatible samples.
    """
    from cassandrastack_spark.operators.sketch import bottomk_sample_build

    return _marker_guarded_sketch_monitor(
        stream, state_path, key_col,
        lambda b: bottomk_sample_build(
            b, value_col, key_col, k=k, group_cols=group_cols
        ),
        ckpt_prefix="cs_bks_ckpt_",
        checkpoint=checkpoint,
        trigger_available_now=trigger_available_now,
        partition_by=("k",),
    )


def value_sample_state(
    spark: SparkSession,
    state_path: str,
    group_cols: tuple[str, ...] = (),
    group_schema: str | None = None,
) -> DataFrame:
    """The running bottom-k sample from a ``monitor_value_sample``
    state table: dedup the appended per-batch samples on
    (group, h, v) — replays collapse for free — and re-take the k
    smallest hashes per group; equals ``bottomk_sample_build`` over
    the union of every batch ever ingested (tested). Feed the result
    to ``bottomk_sample_quantiles``. A monitor that has only seen
    empty batches reads as an EMPTY frame (a sample with no rows has
    no quantiles), so a polling scheduler never wedges; mixed ``k``
    in one state directory means two incompatible monitors were
    pointed at the same path — refuse loudly rather than merge
    samples sized for different accuracies. The empty frame types
    group columns as ``string`` unless ``group_schema`` supplies the
    real DDL (the ``histogram_state`` contract).
    """
    from cassandrastack_spark.operators.sketch import bottomk_retake

    gcols = list(group_cols)
    raw = _read_parquet_if_committed(spark, state_path)
    if raw is None:
        gddl = group_schema or ", ".join(f"{g} string" for g in gcols)
        ddl = (gddl + ", " if gcols else "") + "h string, v double, k int"
        return spark.createDataFrame([], ddl)
    _check_sample_state_schema(raw, gcols, state_path, "value_sample_state")
    _check_sample_state_k(raw, state_path, "value_sample_state")
    return bottomk_retake(raw, gcols)


def _check_sample_state_schema(
    raw: DataFrame,
    gcols: list[str],
    state_path: str,
    caller: str,
    data_cols: tuple[str, ...] = ("h", "v", "k"),
) -> None:
    """Refuse a group-column set that doesn't cover the state schema
    (the merge-key rule ``_sum_merge`` enforces, applied to the sample
    states' readers; their compactors derive the group columns): a
    bottom-k retake under MISSING group columns ranks every group in
    one window and keeps only the globally-smallest k keys.
    Every non-``data_cols`` column of the state is a group column by
    construction (the monitors write nothing else); ``data_cols`` is
    ("h", "v", "k") for the uniform sample and
    ("item", "e", "w", "k") for the weighted one — ONE guard for both
    twins, so a future fix cannot diverge between them.
    """
    derived = sorted(c for c in raw.columns if c not in data_cols)
    if sorted(gcols) != derived:
        raise ValueError(
            f"{caller}: supplied group_cols {sorted(gcols)} do not "
            f"cover the state's group columns {derived} at "
            f"{state_path} — a retake under missing group columns "
            "would silently drop sample rows across groups"
        )


def _check_sample_state_k(
    raw: DataFrame, state_path: str, caller: str
) -> None:
    """Refuse mixed sample sizes in one state path — two different
    monitors were pointed at it; merging/retaking interleaved samples
    sized for different accuracies would corrupt both. Shared by the
    readers (before resolving) and the compactors (BEFORE any write,
    so the corruption can never be laundered into the state)."""
    ks = [r.k for r in raw.select("k").distinct().collect()]
    if len(ks) > 1:
        raise ValueError(
            f"{caller}: state at {state_path} mixes sample sizes "
            f"k={sorted(ks)} — two different monitors were written to "
            "one path; rebuild the state"
        )


def compact_value_sample_state(spark: SparkSession, state_path: str) -> None:
    """Maintenance for a ``monitor_value_sample`` state table: rewrite
    the accreted per-batch sample files as the merged
    ≤ k-rows-per-group sample, in its ``k=`` layout, through the one
    compaction commit (``_compact_state``). Group columns are DERIVED
    from the state schema; mixed sample sizes refuse before any write.
    """
    from cassandrastack_spark.operators.sketch import bottomk_retake

    _compact_state(
        spark, state_path, _sample_merge, ("k",),
        data_cols=("h", "v", "k"), retake=bottomk_retake,
        caller="compact_value_sample_state",
    )


def monitor_weighted_sample(
    stream: DataFrame,
    state_path: str,
    key_col: str,
    weight_col: str,
    k: int = 1024,
    group_cols: tuple[str, ...] = (),
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming weighted-reservoir accumulator: every micro-batch
    reduces to its Efraimidis-Spirakis bottom-k
    (``operators.sketch.weighted_sample_build``, at most ``k`` rows per
    group) appended to ``state_path``; ``weighted_sample_state``
    min-k-merges the accumulated samples into THE weighted sample
    without replacement of everything ever ingested — "maintain a
    quality-weighted training subset of the whole crawl, updated per
    batch, never re-scan history", the importance-weighted sibling of
    ``monitor_value_sample``. The exponential key is a pure function
    of (key, weight) — no RNG — so at-least-once replay is
    byte-invisible (dedup on the key) and the marker guard is pure
    thrift, the HLL argument. ``compact_weighted_sample_state``
    compacts it through the one commit (``_compact_state``).

    The weight must be STABLE per key (fix it at first ingest); a key
    re-ingested with a new weight is two rows and the dedup keeps an
    arbitrary one — dedup upstream if weights can drift.
    """
    from cassandrastack_spark.operators.sketch import weighted_sample_build

    return _marker_guarded_sketch_monitor(
        stream, state_path, key_col,
        lambda b: weighted_sample_build(
            b, key_col, weight_col, k=k, group_cols=group_cols
        ),
        ckpt_prefix="cs_wks_ckpt_",
        checkpoint=checkpoint,
        trigger_available_now=trigger_available_now,
        partition_by=("k",),
    )


def weighted_sample_state(
    spark: SparkSession,
    state_path: str,
    group_cols: tuple[str, ...] = (),
    group_schema: str | None = None,
) -> DataFrame:
    """The running weighted sample from a ``monitor_weighted_sample``
    state table: dedup the appended per-batch samples on
    (group, item) — replays collapse for free — and re-take the k
    smallest exponential keys per group; equals
    ``weighted_sample_build`` over the union of every batch ever
    ingested (tested). Missing state reads as an EMPTY frame
    (``group_schema`` types the group columns, the
    ``histogram_state`` contract); a group set that doesn't cover the
    state schema, or mixed ``k`` in one path, refuses loudly (the
    ``value_sample_state`` contracts).
    """
    from cassandrastack_spark.operators.sketch import weighted_sample_retake

    gcols = list(group_cols)
    raw = _read_parquet_if_committed(spark, state_path)
    if raw is None:
        gddl = group_schema or ", ".join(f"{g} string" for g in gcols)
        ddl = (
            (gddl + ", " if gcols else "")
            + "item string, e double, w double, k int"
        )
        return spark.createDataFrame([], ddl)
    _check_sample_state_schema(
        raw, gcols, state_path, "weighted_sample_state",
        data_cols=("item", "e", "w", "k"),
    )
    _check_sample_state_k(raw, state_path, "weighted_sample_state")
    return weighted_sample_retake(raw, gcols)


def compact_weighted_sample_state(
    spark: SparkSession, state_path: str
) -> None:
    """Maintenance for a ``monitor_weighted_sample`` state table — the
    weighted twin of ``compact_value_sample_state``, through the same
    commit and the same ``_sample_merge``.
    """
    from cassandrastack_spark.operators.sketch import weighted_sample_retake

    _compact_state(
        spark, state_path, _sample_merge, ("k",),
        data_cols=("item", "e", "w", "k"), retake=weighted_sample_retake,
        caller="compact_weighted_sample_state",
    )


def monitor_nb_counts(
    stream: DataFrame,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "is_pos",
    dim: int = 4096,
    bigrams: bool = True,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming Naive-Bayes trainer: accumulate the hashed-gram
    class counts of a labeled document stream as persisted state, so
    the quality filter retrains continuously as curated seed examples
    arrive — the trained-classifier completion of the monitor family
    (``llm/classifier.py`` is the batch twin; this is how the CCNet-
    style quality model stays current against a live crawl without
    re-featurizing history).

    Every micro-batch reduces to its per-bucket class gram counts
    ``(bucket, pb, nb)`` plus one ``bucket = -1`` row carrying the
    batch's (n_pos_docs, n_neg_docs) — at most ``dim + 1`` rows
    whatever the batch size — appended to ``state_path``;
    ``nb_weights_state`` sums the accumulated cells and resolves them
    through the SAME smoothing arithmetic as the batch trainer
    (``_assemble_nb_weights``, one shared copy), yielding a
    ``linear_text_score``-ready weight table. Counts are additive and
    checkpointed micro-batches deliver each input row to the state
    exactly once within a run, so the summed cells are bit-identical
    to a one-batch build whatever the micro-batch boundaries — the
    stream_hot_keys argument; the per-epoch marker excludes replays,
    since unlike HLL max a sum is NOT idempotent.

    Label hygiene is at-batch granularity: NULL-id/NULL-label rows
    are dropped, verbatim-repeated in-batch rows collapse (labels AND
    (id, text) document rows — a seed row arriving twice in one drop
    counts once in grams and in doc counts alike), and an in-batch
    doc id carrying both labels OR two different texts fails the
    batch loud (contradictory evidence; a sum-state cannot un-count
    later). ACROSS batches the stream must deliver each doc id at
    most once — exactly what an upstream ``ingest_with_dedup`` gate
    guarantees; a doc re-ingested in a later batch double-counts
    (dedup upstream, or rebuild from the corpus). Model geometry
    (dim, bigrams) is recorded under ``state_path/_meta`` on the
    first batch, so the resolution and any later monitor run cannot
    silently disagree; a monitor started with different geometry
    against existing state fails loud (validated once per run — the
    single-writer rule means it cannot drift mid-run).

    Each state row carries its ``(ckpt, batch_id)`` — the checkpoint
    scope plus the batch id, because batch ids are only unique PER
    CHECKPOINT (review r16: a later monitor run over a NEW seed drop
    with a fresh checkpoint restarts batch ids at 0, and a
    batch-id-only dedup would silently max-merge two different
    batches' cells instead of summing them) — and the resolution
    collapses duplicate (ckpt, batch_id, bucket) cells, so the
    append→marker crash window (a batch whose cells committed but
    whose marker did not, replayed on restart under the SAME
    checkpoint) re-lands byte-identical rows that dedup away instead
    of double-counting — the ``monitor_embedding_moments`` pattern;
    both halves of at-least-once are closed, which is what licenses
    the bit-identical-to-batch claim.
    """
    import hashlib

    from cassandrastack_spark.llm.classifier import hashed_gram_features

    spark = stream.sparkSession
    # resolved HERE (not in the shared helper) because the state rows
    # must carry the checkpoint scope
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="cs_nb_ckpt_")
    run_scope = hashlib.md5(checkpoint.encode()).hexdigest()[:16]
    validated = False

    def _build(batch_df: DataFrame, batch_id: int) -> DataFrame:
        nonlocal validated
        meta_path = state_path + "/_meta"
        if not validated and _fs_exists(spark, meta_path):
            meta = spark.read.parquet(meta_path).head()
            if int(meta.dim) != int(dim) or bool(meta.bigrams) != bool(
                bigrams
            ):
                raise ValueError(
                    f"monitor_nb_counts: state at {state_path} was built "
                    f"with dim={meta.dim}, bigrams={meta.bigrams} — "
                    f"monitor started with dim={dim}, bigrams={bigrams}; "
                    "mixed-geometry counts would silently corrupt the "
                    "model (rebuild into a new path instead)"
                )
        validated = True
        lab = (
            batch_df.select(
                F.col(id_col),
                F.col(label_col).cast("boolean").alias("_pos"),
            )
            .filter(F.col("_pos").isNotNull() & F.col(id_col).isNotNull())
            .distinct()
            .localCheckpoint(eager=True)
        )
        # verbatim-repeated document rows collapse; an id with two
        # DIFFERENT texts is contradictory evidence — featurizing the
        # raw batch would double its grams while the doc count stays
        # one (review r16, the ADVICE r15 double-count class)
        docs_txt = (
            batch_df.select(F.col(id_col), F.col(text_col))
            .distinct()
            .join(lab.select(id_col), id_col)
            .localCheckpoint(eager=True)
        )
        n = lab.agg(
            F.count("*").alias("_nlab"),
            F.count_distinct(F.col(id_col)).alias("_nids"),
        ).head()
        if n._nlab != n._nids:
            raise ValueError(
                "monitor_nb_counts: a doc id in this batch carries "
                "both labels — contradictory seed rows must be "
                "resolved upstream"
            )
        nd = docs_txt.agg(
            F.count("*").alias("_nrows"),
            F.count_distinct(F.col(id_col)).alias("_nids"),
        ).head()
        if nd._nrows != nd._nids:
            raise ValueError(
                "monitor_nb_counts: a doc id in this batch carries two "
                "different texts — contradictory seed rows must be "
                "resolved upstream"
            )
        # first batch: record geometry AFTER the hygiene checks, so a
        # rejected first batch leaves no meta-only state dir
        if not _fs_exists(spark, meta_path):
            spark.createDataFrame(
                [(int(dim), bool(bigrams))], "dim int, bigrams boolean"
            ).coalesce(1).write.mode("overwrite").parquet(meta_path)
        feats = hashed_gram_features(docs_txt, id_col, text_col, dim, bigrams)
        fl = feats.join(lab, id_col)
        cells = fl.groupBy("bucket").agg(
            F.sum(
                F.when(F.col("_pos"), F.col("cnt")).otherwise(0)
            ).cast("bigint").alias("pb"),
            F.sum(
                F.when(~F.col("_pos"), F.col("cnt")).otherwise(0)
            ).cast("bigint").alias("nb"),
        )
        docs = lab.agg(
            F.lit(-1).cast("int").alias("bucket"),
            F.count_distinct(
                F.when(F.col("_pos"), F.col(id_col))
            ).cast("bigint").alias("pb"),
            F.count_distinct(
                F.when(~F.col("_pos"), F.col(id_col))
            ).cast("bigint").alias("nb"),
        )
        return (
            cells.unionByName(docs)
            .withColumn("ckpt", F.lit(run_scope))
            .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        )

    return _marker_guarded_sketch_monitor(
        stream, state_path, id_col, _build,
        ckpt_prefix="cs_nb_ckpt_",
        checkpoint=checkpoint,
        trigger_available_now=trigger_available_now,
        pass_batch_id=True,
    )


def nb_weights_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Resolve a ``monitor_nb_counts`` state table to the
    ``(bucket, weight, bias, dim, bigrams)`` model artifact —
    bit-identical to ``nb_logodds_weights`` over the same labeled
    documents delivered in one batch (additive cells + the batch_id
    dedup closing the append→marker replay window + the shared
    ``_assemble_nb_weights`` arithmetic). Directly consumable by
    ``linear_text_score``, which reads BOTH geometry columns from the
    artifact (the gram space the model was trained in travels with
    it — a bigrams=False model can never be silently scored in bigram
    space, review r16). The crash-window dedup is scoped to
    (ckpt, batch_id, bucket): batch ids restart per checkpoint, so
    cells from DIFFERENT monitor runs sum while a replayed batch's
    byte-identical cells collapse. Fails loud with the real cause if
    the state holds no count rows yet, and loud in-plan if either
    class has no documents yet."""
    from pyspark.errors import AnalysisException

    from cassandrastack_spark.llm.classifier import _assemble_nb_weights

    meta = spark.read.parquet(state_path + "/_meta").head()
    dim = int(meta.dim)
    try:
        rows = spark.read.option("pathGlobFilter", "*.parquet").parquet(
            state_path
        )
        rows.schema  # force schema inference now, inside the try
    except AnalysisException as e:
        raise ValueError(
            f"nb_weights_state: {state_path} holds geometry metadata "
            "but no count rows — every batch so far was empty or "
            "failed its hygiene checks before appending; keep "
            "streaming labeled seed"
        ) from e
    # duplicate (ckpt, batch_id, bucket) cells — the append→marker
    # crash window's byte-identical replay rows — collapse before the
    # sum; ckpt is in the key because batch ids restart per
    # checkpoint (review r16)
    dedup = rows.groupBy("ckpt", "batch_id", "bucket").agg(
        F.max("pb").alias("pb"), F.max("nb").alias("nb")
    )
    per_bucket = (
        dedup.filter(F.col("bucket") >= 0)
        .groupBy("bucket")
        .agg(F.sum("pb").alias("pb"), F.sum("nb").alias("nb"))
    )
    scal = dedup.agg(
        F.sum(F.when(F.col("bucket") == -1, F.col("pb"))).alias("n_pos"),
        F.sum(F.when(F.col("bucket") == -1, F.col("nb"))).alias("n_neg"),
        F.sum(F.when(F.col("bucket") >= 0, F.col("pb"))).alias("pt"),
        F.sum(F.when(F.col("bucket") >= 0, F.col("nb"))).alias("nt"),
    )
    guard = (
        F.col("n_pos").isNotNull() & (F.col("n_pos") > 0)
        & F.col("n_neg").isNotNull() & (F.col("n_neg") > 0)
    )
    return _assemble_nb_weights(
        per_bucket, scal, dim, guard,
        "nb_weights_state: the accumulated stream has no documents of "
        "one class yet — a one-class model scores everything "
        "identically; keep streaming labeled seed (or check the "
        "label column)",
    ).withColumn("bigrams", F.lit(bool(meta.bigrams)))
