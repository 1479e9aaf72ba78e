"""Wide-column storage engine on Parquet — the reference's data model, Spark-native.

Physical layout contract (SURVEY.md §1.4):

- **Token routing → hash buckets.** Cassandra hash-routes each row by the
  Murmur3 token of its partition key (``cassandra.yaml:184``; 256 vnodes
  ``cassandra.yaml:25``). Here every row gets a ``_bucket`` directory
  column = ``pmod(hash(partition_key), n_buckets)`` — Spark's ``hash()``
  is also Murmur3, so this is the same design. A partition-key-equality
  read computes the bucket driver-side and prunes to ONE directory
  (Catalyst partition pruning), the analogue of single-token-range
  routing (``server.py:98``). The scan and the partial reconciliation
  stay parallel; the reconciled rows are ONE Cassandra partition, so
  they are sorted into clustering order inside a single task (no
  range exchange, no sampling job).
- **Clustering order → sortWithinPartitions.** ``CLUSTERING ORDER BY
  (message_id DESC)`` (``server.py:185``) becomes
  ``sortWithinPartitions(desc(clustering))`` at write: rows in each file
  are stored newest-first, and Parquet min/max stats make in-partition
  range seeks cheap (the column-index analogue, ``cassandra.yaml:785``).
- **Upsert (last-writer-wins) → dedup-on-read.** CQL INSERT is an upsert
  on the primary key (``server.py:307-308`` re-seeding overwrites).
  Parquet is append-only, so every write carries a monotonically
  increasing ``_writetime``; reads keep the newest write per cell
  (SURVEY.md §7.4). At equal writetimes the tie goes by content, as in
  Cassandra: a delete beats a value, then the greater value wins, so no
  winner depends on the order files are read in (a collection's ops at
  one writetime still fold in read order). A ``compact()`` job rewrites
  buckets to physically drop shadowed rows — the compaction analogue
  (``cassandra.yaml:818``).
- **Batch atomicity → commit protocol.** The reference wraps writes in
  logged batches for atomicity (``server.py:191-207``); one Spark write
  job is already atomic per the Parquet commit protocol (SURVEY.md §2.2
  W3), so a multi-row append IS the batch. Statement rows built on the
  driver that take the Spark path (a CQL UPDATE/DELETE, or any write to
  a table that is not plain) arrive as a local relation
  (``_local_frame``), so the append's projection runs on the driver and
  the bucket shuffle's map stage is one task.

Request-path contract: Spark serves scans, multi-partition reads, bulk
writes and ``compact()``; a request that names ONE partition of a plain
table (no statics, collections, counters, materialized views or
``guard``; atomic column types) is served on the driver with no Spark
job. ``read_partition_rows`` routes with ``bucket_of``, reads the one
``_bucket=k`` directory with ``pyarrow.dataset`` and reconciles in
Python under exactly ``_reconcile_rows``' plain-path rules;
``write_rows`` writes one clustering-sorted Parquet file per touched
bucket under a ``.``-prefixed name and renames it into place. Readers
(Spark's file index and the driver reader alike) skip ``.``/``_``
files, so a file becomes visible whole or not at all. The rename is
atomic on a local disk and on HDFS; an object store (S3, GCS) has no
atomic rename, so at 100 TB on one the driver write path needs a
manifest (a table format's commit log) before it can stand in for
Spark's commit protocol there. A multi-bucket driver write becomes
visible bucket by bucket: atomic per partition, as Cassandra's batches
are isolated only within a partition.

At 100 TB: n_buckets scales with data volume (buckets ≈ data /
target_file_size); appends touch only the buckets their rows hash to;
point reads stay O(1 bucket); full scans parallelize across buckets.
"""

from __future__ import annotations

import itertools
import os
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    _make_type_verifier,
)

from cassandrastack_spark.catalog import Keyspace, TableSpec
from cassandrastack_spark.hashing import bucket_of, spark_hash

_BUCKET = "_bucket"
_WRITETIME = "_writetime"
_EXPIRES = "_expires"  # epoch micros; NULL = no TTL
# Cell-level last-writer-wins (Cassandra reconciles per CELL, not per
# row): _cells names the payload columns a write explicitly set. NULL =
# every column (full-row writes, legacy files). A write's unnamed cells
# neither overwrite nor tombstone older values; a NAMED cell written as
# null is an explicit cell deletion. One writetime per write covers all
# its cells — exactly CQL's per-statement timestamp.
_CELLS = "_cells"
_TOMBSTONE = "_tombstone"  # true = CQL DELETE marker; NULL/false = live
# Collection-delta markers (CQL UPDATE on set/list/map columns): a row
# with _coll_col set is a delta against ONE collection column, not a
# full-row upsert; _coll_op names the mutation. NULL on full writes and
# on every file written before collections existed.
_COLL_COL = "_coll_col"
_COLL_OP = "_coll_op"

# legal ops per collection kind (CQL: s = s + {..} / s - {..},
# l = l + [..] / [..] + l, m = m + {..} / DELETE m[k], plus reassignment)
_COLL_OPS = {
    "set": {"add", "remove", "assign"},
    "list": {"append", "prepend", "assign"},
    "map": {"put", "remove", "assign"},
}

# Engine-side monotonic write sequence: (epoch_micros, counter) so two
# appends in the same microsecond still order deterministically.
_write_counter = itertools.count()


def _next_writetime() -> int:
    return int(time.time() * 1_000_000) * 1000 + (next(_write_counter) % 1000)


def _stamp(
    ttl_seconds: int | None, timestamp_micros: int | None
) -> tuple[int, int | None]:
    """A write's ``(_writetime, _expires)``.

    USING TIMESTAMP: a client-supplied writetime (CQL's backfill /
    idempotent-replay mechanism) slots the rows at that instant in
    last-writer-wins order — a backdated write cannot clobber a newer
    row. Scaled into the engine's (micros*1000 + seq) space at seq 0,
    so it sorts strictly before any engine write in the same
    microsecond (deterministic, replay-stable).

    TTL counts from SERVER NOW, never from the (possibly client-
    backdated) USING TIMESTAMP writetime — Cassandra expires TTL'd data
    at now + ttl regardless of the write's LWW position, so a backfill
    with an old timestamp must not arrive pre-expired. TTL 0 is CQL's
    explicit "no TTL".
    """
    writetime = (
        timestamp_micros * 1000
        if timestamp_micros is not None
        else _next_writetime()
    )
    expires = (
        int(time.time() * 1_000_000) + ttl_seconds * 1_000_000
        if ttl_seconds
        else None
    )
    return writetime, expires


def _is_marker(cells) -> bool:
    """A row-marker write: ``_cells`` null (a full-row write), empty (a
    key-only INSERT, or compact()'s rewrite of an all-null row) or
    carrying the "" sentinel (a named-columns INSERT). The SQL form in
    ``_reconcile_rows`` states the same rule."""
    return cells is None or len(cells) == 0 or "" in cells


def _internal_rows(rows: list, schema: StructType) -> list[tuple]:
    """``rows`` (one tuple per row, in ``schema`` order) checked and
    converted as ``createDataFrame(..., verifySchema=True)`` does: each
    row passes the type, integer-range and nullability checks (same
    exceptions), then converts through the schema's own ``toInternal``
    (a naive ``datetime`` is process-local time, in collections too)."""
    verify = _make_type_verifier(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(row))
    return internal


# Column types the driver-local request path reads and writes; a table
# with any other column type (a UDT struct, a frozen collection) keeps
# the Spark path.
_POINT_TYPES = (
    StringType, IntegerType, LongType, DoubleType, FloatType, BooleanType,
    TimestampType,
)
# The metadata columns a driver write stores and a driver read needs.
_ARROW_META = [
    pa.field(_WRITETIME, pa.int64()),
    pa.field(_EXPIRES, pa.int64()),
    pa.field(_TOMBSTONE, pa.bool_()),
    pa.field(_CELLS, pa.list_(pa.string())),
]
# Spark stores timestamps as INT96, which pyarrow would read as
# nanoseconds; read them as the microseconds Spark means.
_PARQUET = ds.ParquetFileFormat(read_options={"coerce_int96_timestamp_unit": "us"})


def _sort_key(value):
    """Spark's ascending order for one clustering value: nulls first,
    NaN after every number."""
    if value is None:
        return (0, 0)
    if value != value:
        return (2, 0)
    return (1, value)


def _cell_order(w: int, v, e):
    """The order of two writes to one cell, as ``_reconcile_rows``'
    ``struct(w, v IS NULL, v, e)`` sorts them: the newer writetime, then
    a delete (null) over a value, then the greater value, then the later
    expiry (no TTL first)."""
    return (w, v is None, _sort_key(v), _sort_key(e))


def _orderable(sql_type: str) -> tuple[str, str]:
    """Format strings that turn a cell value of ``sql_type`` into a form
    Spark can order, and back: Spark has no order on maps, so a map
    (a view's copy of a map collection, say) compares as its entries."""
    if sql_type.startswith("map<"):
        return "map_entries({})", "map_from_entries({})"
    return "{}", "{}"


def _q(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _s(text: str) -> str:
    """A Python string as a SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _local_frame(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """Driver-local ``rows`` (one tuple per row, in ``schema`` order) as a
    frame over a local relation: statement rows that take the Spark path,
    and driver-read rows that a CQL SELECT filters and projects, become
    frames through here.

    ``spark.createDataFrame(rows, schema)`` pickles the rows into a
    parallelized RDD, so even a one-row write shuffles from
    ``defaultParallelism`` map tasks over ``Scan ExistingRDD``. Given a
    ``pyarrow.Table``, Spark builds a ``LocalRelation`` instead: the
    optimizer evaluates the append's projection (casts, ``_bucket``,
    ``_writetime``, ``_expires``, ``_cells``) on the driver, and the
    write's map stage is one task over ``LocalTableScan``.

    The stored values are the ones ``createDataFrame`` stores: the rows
    pass ``_internal_rows``, and the Arrow columns carry the UTC
    instants.
    """
    internal = _internal_rows(rows, schema)
    columns = [[r[i] for r in internal] for i in range(len(schema.fields))]
    # Before pyarrow 17, PySpark rebuilds a map column that holds
    # timestamps without its null mask (SPARK-48302), so a null map would
    # arrive empty. Such a column rides with a null flag, and one
    # projection, folded into the local relation, restores the nulls.
    wire = StructType(list(schema.fields))
    flags = {}
    for i, f in enumerate(schema.fields):
        if (
            isinstance(f.dataType, MapType)
            and "timestamp" in f.dataType.simpleString()
            and None in columns[i]
        ):
            flags[f.name] = f"{f.name}#null"
            wire.add(flags[f.name], BooleanType(), False)
            columns.append([v is None for v in columns[i]])
    arrow = to_arrow_schema(wire)
    table = pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(columns, arrow.types)], schema=arrow
    )
    df = spark.createDataFrame(table, wire)
    if flags:
        df = df.select(*[
            F.when(F.col(flags[n]), F.lit(None)).otherwise(F.col(n)).alias(n)
            if n in flags
            else F.col(n)
            for n in schema.names
        ])
    return df


class WideColumnTable:
    """One wide-column table: append/upsert writes, pruned reads."""

    def __init__(
        self,
        spark: SparkSession,
        keyspace: Keyspace,
        spec: TableSpec,
        n_buckets: int = 16,
        guard=None,
    ):
        self.spark = spark
        self.keyspace = keyspace
        self.spec = spec
        self.n_buckets = n_buckets
        # opt-in write-path guardrails (plans.guardrails.Guardrails):
        # when set, append() warns if ONE BATCH carries more than
        # large_partition_bytes for a single partition key (the
        # unlogged-batch fan-out warn, cassandra.yaml:1161) and
        # compact() warns per oversized LIVE partition (the
        # compaction_large_partition_warning_threshold_mb: 100 analogue,
        # cassandra.yaml:1164 — SURVEY §4's 100 TB hot-partition canary).
        # None (default) = zero extra work on the write path.
        self.guard = guard

    @property
    def path(self) -> str:
        return self.keyspace.table_path(self.spec.name)

    # ---- write path (W1-W3, server.py:131-139, 191-207) -------------------

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        key_cols = [F.col(c) for c in self.spec.partition_keys]
        return df.withColumn(
            _BUCKET, F.pmod(F.hash(*key_cols), F.lit(self.n_buckets))
        )

    def _route(self, key: list) -> int:
        """The bucket of one partition key (values in partition-key
        order): pure driver-side arithmetic (hashing.py is a bit-exact
        mirror of F.hash), no Spark job per point request. The DECLARED
        column types drive the hash dispatch."""
        types = {f.name: f.dataType.simpleString() for f in self.spec.schema.fields}
        return bucket_of(
            key, self.n_buckets, dtypes=[types[k] for k in self.spec.partition_keys]
        )

    def _warn_large_partitions(self, df: DataFrame, where: str) -> None:
        """Opt-in large-partition canary (no-op when ``self.guard`` is
        unset): one distributed aggregate over ``df``, driver sees a
        single top-1 row. Warns through ``guard.warn`` so callers
        collect layout warnings the same way skew_report emits them."""
        if self.guard is None:
            return
        from cassandrastack_spark.plans.guardrails import partition_stats

        top = partition_stats(
            df, list(self.spec.partition_keys), top_n=1
        ).head()
        if (
            top is not None
            and top.approx_bytes is not None
            and top.approx_bytes > self.guard.large_partition_bytes
        ):
            key = ", ".join(
                f"{c}={top[c]!r}" for c in self.spec.partition_keys
            )
            self.guard.warn(
                f"large partition in {self.spec.name} ({where}): key "
                f"({key}) holds ~{int(top.approx_bytes)} bytes across "
                f"{top.n_rows} rows (> {self.guard.large_partition_bytes} "
                f"threshold) — split the partition key or bound its "
                f"time range"
            )

    def append(
        self,
        df: DataFrame,
        ttl_seconds: int | None = None,
        timestamp_micros: int | None = None,
        cells: list[str] | None = None,
        row_marker: bool = False,
    ) -> None:
        """Atomic multi-row upsert-append (W1/W2/W3), optional row TTL.

        ``cells`` lists the payload columns this write EXPLICITLY sets
        (a partial CQL INSERT / UPDATE): reconciliation then resolves
        those cells last-writer-wins and leaves the others untouched —
        Cassandra's cell-level upsert. ``None`` = all columns (full-row
        write). The input frame still carries the full declared schema
        (unset cells as null placeholders); ``cells`` is what separates
        "set to null" from "not written".

        Enforces schema-on-write (SURVEY.md §1.3): input columns must
        match the declared schema exactly (names + order coerced here,
        extra/missing columns error).

        ``ttl_seconds`` is CQL's ``USING TTL``, and like Cassandra's it
        is per-WRITE, hence per-cell: a full-row write's TTL expires
        the row marker (the key disappears unless some cell outlives
        it), while a ``cells`` write's TTL expires only those cells —
        the rest of the row stays. Expiry never resurrects an older
        un-TTL'd version (upsert reconciliation happens BEFORE expiry
        filtering on the read path), and ``compact()`` physically drops
        dead cells/keys (tombstone GC, ``cassandra.yaml:1150``).
        Documented divergence: tables with collection columns keep
        row-level expiry (deltas carry no TTL), and their ``compact()``
        (like statics/counters tables') coarsens surviving per-cell
        TTLs to the row marker's — run it after expiries you care
        about have passed. Plain tables compact fragment-preserving
        (``_fragmented_cells``): per-cell TTLs and writetimes survive
        exactly.

        The write also propagates to this table's materialized views
        (Cassandra updates views on the write path): each view appends
        the same rows under its own bucket routing. An upsert that
        CHANGES a view-key column strands the old view row until
        ``MaterializedView.refresh()`` — Cassandra pays a read-before-
        write per update to generate the view tombstone; a bulk engine
        takes the rebuild instead (SURVEY.md §7.1 trade-off).
        """
        self._check_write(ttl_seconds, cells)
        declared = [f.name for f in self.spec.schema.fields]
        missing = set(declared) - set(df.columns)
        extra = set(df.columns) - set(declared)
        if missing or extra:
            raise ValueError(
                f"schema mismatch for {self.spec.name}: missing={sorted(missing)} "
                f"extra={sorted(extra)} (schema-on-write, declared DDL wins)"
            )
        out = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in self.spec.schema.fields]
        )
        writetime, expires = _stamp(ttl_seconds, timestamp_micros)
        out = (
            self._with_bucket(out)
            .withColumn(_WRITETIME, F.lit(writetime))
            .withColumn(_EXPIRES, F.lit(expires).cast("long"))
            .withColumn(_TOMBSTONE, F.lit(False))
            .withColumn(
                _CELLS,
                F.array(
                    *[F.lit(c) for c in cells],
                    *([F.lit("")] if row_marker else []),
                ).cast("array<string>")
                if cells is not None
                else F.lit(None).cast("array<string>"),
            )
        )
        self._warn_large_partitions(out, "append batch")
        # one file per touched bucket; a small batch runs as one
        # AQE-coalesced write task, not one task per bucket
        self._write_buckets(out, "append")
        for view_name in self.keyspace.views.get(self.spec.name, ()):
            view = WideColumnTable(
                self.spark,
                self.keyspace,
                self.keyspace.tables[view_name],
                n_buckets=self.n_buckets,
            )
            # a base payload column can be part of the VIEW's key (2i
            # tables key on the indexed column): key columns are always
            # written, so they drop out of the propagated cell set
            view.append(
                df,
                ttl_seconds=ttl_seconds,
                timestamp_micros=timestamp_micros,
                cells=None
                if cells is None
                else [c for c in cells if c not in view.spec.primary_key],
                row_marker=row_marker,
            )

    def _check_write(self, ttl_seconds: int | None, cells: list[str] | None) -> None:
        if ttl_seconds is not None and self.spec.properties.get("counter_columns"):
            raise ValueError("counter tables do not support TTL (CQL rule)")
        if cells is not None:
            nonkey = {
                f.name for f in self.spec.schema.fields
                if f.name not in self.spec.primary_key
            }
            bad = set(cells) - nonkey
            if bad:
                raise ValueError(
                    f"cells must name non-key payload columns, got {sorted(bad)}"
                )

    @property
    def point_local(self) -> bool:
        """Whether single-partition requests on this table run on the
        driver (``read_partition_rows``, ``write_rows``): a plain table
        of atomic columns, with no statics, collections, counters,
        materialized views (as base or view) or ``guard``. Every other
        table keeps the Spark path, whose reconciliation and write
        propagation those features need."""
        props = self.spec.properties
        return (
            self.guard is None
            and not props.get("static_columns")
            and not props.get("collection_columns")
            and not props.get("counter_columns")
            and not props.get("materialized_view_of")
            and not self.keyspace.views.get(self.spec.name)
            and all(
                isinstance(f.dataType, _POINT_TYPES)
                for f in self.spec.schema.fields
            )
        )

    def write_rows(
        self,
        rows: list,
        cells: list[str] | None = None,
        row_marker: bool = False,
        ttl_seconds: int | None = None,
        timestamp_micros: int | None = None,
    ) -> None:
        """``append`` for driver-built rows (one tuple per row, in
        schema order), with ``append``'s meaning for every argument.

        On a ``point_local`` table no Spark job runs: the rows pass
        ``_internal_rows``, take one ``_stamp``, and each touched bucket
        gets one Parquet file, clustering-sorted, written under a hidden
        ``.`` name and renamed into place once every file is written.
        The file holds what ``append`` writes (timestamps as UTC micros,
        ``_cells``, no ``_bucket`` column), so ``_raw()`` reads both
        alike. Other tables append the rows as a local relation.
        """
        if not self.point_local:
            self.append(
                _local_frame(self.spark, rows, self.spec.schema),
                ttl_seconds=ttl_seconds,
                timestamp_micros=timestamp_micros,
                cells=cells,
                row_marker=row_marker,
            )
            return
        self._check_write(ttl_seconds, cells)
        schema = self.spec.schema
        internal = _internal_rows(rows, schema)
        writetime, expires = _stamp(ttl_seconds, timestamp_micros)
        written = (
            None if cells is None else [*cells, *([""] if row_marker else [])]
        )
        pk_at = [schema.names.index(k) for k in self.spec.partition_keys]
        buckets: dict[int, list[tuple]] = {}
        for r in internal:
            buckets.setdefault(self._route([r[i] for i in pk_at]), []).append(r)
        file_schema = pa.schema(list(to_arrow_schema(schema)) + _ARROW_META)
        renames = []
        try:
            for b, part in sorted(buckets.items()):
                self._sort_rows(part)
                n = len(part)
                columns = [list(c) for c in zip(*part)] + [
                    [writetime] * n, [expires] * n, [False] * n, [written] * n,
                ]
                table = pa.Table.from_arrays(
                    [pa.array(c, type=f.type) for c, f in zip(columns, file_schema)],
                    schema=file_schema,
                )
                bucket_dir = os.path.join(self.path, f"{_BUCKET}={b}")
                os.makedirs(bucket_dir, exist_ok=True)
                name = f"part-{uuid.uuid4().hex}.snappy.parquet"
                hidden = os.path.join(bucket_dir, "." + name)
                renames.append((hidden, os.path.join(bucket_dir, name)))
                pq.write_table(table, hidden)
            for hidden, visible in renames:
                os.replace(hidden, visible)
        except BaseException:
            for hidden, _ in renames:
                if os.path.exists(hidden):
                    os.remove(hidden)
            raise

    def _sort_rows(self, rows: list) -> None:
        """Sort one partition's rows (internal values, schema order) in
        place into the clustering order ``_sort_cols`` gives Spark."""
        keys = self.spec.clustering_keys
        if not keys:
            return
        at = [self.spec.schema.names.index(k) for k in keys]
        rows.sort(
            key=lambda r: tuple(_sort_key(r[i]) for i in at),
            reverse=self.spec.clustering_desc,
        )

    def insert_if_not_exists(self, df: DataFrame) -> DataFrame:
        """CQL lightweight transaction: ``INSERT ... IF NOT EXISTS``.

        Applies each candidate row only if its primary key has no live
        version, and returns the LWT response — one row per candidate:
        the key columns, ``applied`` (CQL's ``[applied]``), and the
        existing payload values for rejected rows (what Cassandra
        returns so the caller sees what won).

        Scale shape: the current-state probe semi-joins the raw log on
        the candidate keys BEFORE reconciliation, so the groupBy
        reconciles only contested keys (candidate-batch-sized work, not
        a table scan reshuffle); the winners append as one atomic batch.
        The pre-insert state is pinned with ``localCheckpoint`` before
        the append — lazy plans re-list parquet files, so an unpinned
        probe would read back the very rows this call writes.

        Candidate batches must not contain two different rows for the
        same key (exact duplicate rows collapse first): CQL evaluates
        batch conditions against pre-batch state, which makes
        conflicting same-key rows order-undefined — this engine makes
        that an error instead.
        """
        if self.spec.properties.get("counter_columns"):
            raise ValueError(
                "IF NOT EXISTS is not supported on counter tables (CQL rule)"
            )
        pk = self.spec.primary_key
        cand = df.dropDuplicates()
        conflicted = (
            cand.groupBy(*pk).count().filter(F.col("count") > 1).limit(1).count()
        )
        if conflicted:
            raise ValueError(
                "conflicting rows for the same primary key in one "
                "IF NOT EXISTS batch (CQL pre-batch condition semantics "
                "make the outcome order-undefined)"
            )
        contested = self._raw().join(cand.select(*pk), pk, "left_semi")
        existing = self._reconciled(contested).select(
            *[f.name for f in self.spec.schema.fields]
        )
        payload = [f.name for f in self.spec.schema.fields if f.name not in pk]
        report = (
            cand.select(*pk)
            .join(existing.withColumn("_found", F.lit(True)), list(pk), "left")
            .select(
                *pk,
                (~F.coalesce(F.col("_found"), F.lit(False))).alias("applied"),
                *payload,
            )
            .localCheckpoint(eager=True)
        )
        winners = report.filter(F.col("applied")).select(*pk)
        to_apply = cand.join(winners, list(pk), "left_semi").localCheckpoint(eager=True)
        self.append(to_apply)
        return report

    def _current_row(self, keys: dict):
        """The live row for one FULL primary key, or None — a pruned
        point read (driver-side bucket arithmetic + clustering-equality
        filters), the probe under every single-key LWT. Driver-local on
        a ``point_local`` table."""
        pk = self.spec.primary_key
        if set(keys) != set(pk):
            raise ValueError(f"need the full primary key {pk}, got {sorted(keys)}")
        partition = {k: keys[k] for k in self.spec.partition_keys}
        if self.point_local:
            for row in self.read_partition_rows(**partition):
                if all(row[c] == keys[c] for c in self.spec.clustering_keys):
                    return row
            return None
        df = self.read_partition(**partition)
        for c in self.spec.clustering_keys:
            df = df.filter(F.col(c) == keys[c])
        rows = df.limit(1).collect()
        return rows[0] if rows else None

    def _lwt_check(self, keys: dict, conditions: dict | None, if_exists: bool):
        """Shared LWT condition evaluation: returns (applied, response).

        CQL semantics: a condition on an absent row is not met (and
        ``IF EXISTS`` obviously isn't); when not applied, the response
        carries ``[applied] = false`` plus the CURRENT values of the
        condition columns (what Cassandra returns so the caller sees
        what won). Counter tables refuse conditions (CQL rule).
        """
        if self.spec.properties.get("counter_columns"):
            raise ValueError(
                "conditions are not supported on counter tables (CQL rule)"
            )
        if not if_exists and not conditions:
            raise ValueError("LWT needs IF EXISTS or at least one condition")
        known = {f.name for f in self.spec.schema.fields}
        for c in conditions or {}:
            if c not in known:
                raise ValueError(f"unknown condition column {c!r}")
            if c in self.spec.primary_key:
                raise ValueError(
                    f"condition on primary-key column {c!r} is not valid CQL"
                )
        cur = self._current_row(keys)
        if cur is None:
            return False, {"[applied]": False}
        for c, want in (conditions or {}).items():
            if cur[c] != want:
                return False, {
                    "[applied]": False,
                    **{c: cur[c] for c in (conditions or {})},
                }
        return True, {"[applied]": True}

    def conditional_update(
        self,
        keys: dict,
        assignments: dict,
        conditions: dict | None = None,
        if_exists: bool = False,
        ttl_seconds: int | None = None,
        timestamp_micros: int | None = None,
    ) -> dict:
        """CQL conditional update: ``UPDATE t SET c = v WHERE <full pk>
        IF [EXISTS | c2 = v2 AND ...]`` — the read-check-write LWT.

        Applies the assignments as a cell-level upsert only when the
        row exists and every condition column equals its expected
        value; returns the CQL LWT response row. The probe is the same
        single-partition point read as ``read_partition`` (Cassandra
        pays a Paxos round here; this engine's single-writer log makes
        the check-then-append race-free within a session — documented
        divergence for concurrent writers).
        """
        bad = set(assignments) & set(self.spec.primary_key)
        if bad:
            raise ValueError(f"cannot SET key columns {sorted(bad)}")
        applied, resp = self._lwt_check(keys, conditions, if_exists)
        if not applied:
            return resp
        row = dict(keys)
        row.update(assignments)
        full = {f.name: row.get(f.name) for f in self.spec.schema.fields}
        self.append(
            _local_frame(self.spark, [tuple(full.values())], self.spec.schema),
            cells=list(assignments),
            ttl_seconds=ttl_seconds,
            timestamp_micros=timestamp_micros,
        )
        return resp

    def conditional_delete(
        self,
        keys: dict,
        conditions: dict | None = None,
        if_exists: bool = False,
        timestamp_micros: int | None = None,
    ) -> dict:
        """CQL conditional delete: ``DELETE FROM t WHERE <full pk>
        IF [EXISTS | c = v AND ...]`` — whole-row tombstone, applied
        only when the conditions hold against the live row."""
        applied, resp = self._lwt_check(keys, conditions, if_exists)
        if not applied:
            return resp
        pk = self.spec.primary_key
        schema = StructType([self.spec.schema[k] for k in pk])
        self.delete(
            _local_frame(self.spark, [tuple(keys[k] for k in pk)], schema),
            timestamp_micros=timestamp_micros,
        )
        return resp

    def delete(self, keys: DataFrame, timestamp_micros: int | None = None) -> None:
        """CQL ``DELETE`` by primary key: appends tombstone markers.
        ``timestamp_micros`` is ``USING TIMESTAMP``: the tombstone
        slots at the client-supplied writetime, so a backdated delete
        cannot shadow rows written after that instant (idempotent
        replay semantics, same scaling rule as ``append``).

        The newest write for a key being a tombstone removes the key on
        read (reconciliation happens first, so the delete shadows every
        older version); ``compact()`` drops the key and its history
        physically — tombstone GC with gc_grace = one compaction cycle
        (single-log engine: no replica replay to guard against,
        ``cassandra.yaml:1150`` context).

        Counter tables refuse deletes — CQL itself documents
        counter-column deletion as unsafe (re-increments after a delete
        are unpredictable); this engine makes the footgun an error.

        Deletes do NOT propagate to materialized views: a view key can
        include a non-key base column whose value a key-only delete
        does not know (Cassandra pays a read-before-write to build view
        tombstones); run ``refresh_view()`` to reconverge views.
        """
        if self.spec.properties.get("counter_columns"):
            raise ValueError(
                "DELETE on counter tables is not supported (CQL counter "
                "deletion is unsafe by design)"
            )
        pk = self.spec.primary_key
        if set(keys.columns) != set(pk):
            raise ValueError(f"delete needs exactly the primary key columns {pk}")
        types = {f.name: f.dataType for f in self.spec.schema.fields}
        out = keys.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in pk
                else F.lit(None).cast(types[f.name]).alias(f.name)
                for f in self.spec.schema.fields
            ]
        )
        writetime, _ = _stamp(None, timestamp_micros)
        out = (
            self._with_bucket(out)
            .withColumn(_WRITETIME, F.lit(writetime))
            .withColumn(_EXPIRES, F.lit(None).cast("long"))
            .withColumn(_TOMBSTONE, F.lit(True))
        )
        self._write_buckets(out, "append")

    def update_collection(self, df: DataFrame, column: str, op: str) -> None:
        """CQL collection mutation: ``UPDATE t SET c = c + ... WHERE pk``.

        ``df`` carries the primary-key columns plus ``column`` holding
        the delta payload per key (elements to add/remove/append for
        set/list; a map of entries for map-put, or a map whose KEYS name
        the entries to drop for map-remove). The write appends delta
        rows — no read-before-write, like Cassandra's — marked with
        ``(_coll_col, _coll_op)``; the read path folds every key's
        deltas over its last full assignment in writetime order
        (``_reconciled``), and ``compact()`` materializes the folded
        value so op-chains never grow past one compaction cycle.

        A delta on a key with no prior row creates it (CQL UPDATE
        upserts); scalar columns of such a row read as NULL.
        """
        collections = dict(self.spec.properties.get("collection_columns") or {})
        if column not in collections:
            raise ValueError(
                f"{column!r} is not a declared collection column "
                f"(collection_columns={sorted(collections)})"
            )
        kind = collections[column]
        if op not in _COLL_OPS[kind]:
            raise ValueError(
                f"op {op!r} invalid for {kind} column {column!r} "
                f"(allowed: {sorted(_COLL_OPS[kind])})"
            )
        if self.keyspace.views.get(self.spec.name):
            raise ValueError(
                "collection deltas do not propagate to materialized views "
                "(a delta row lacks the view's non-key columns); drop the "
                "view or refresh_view() after bulk updates"
            )
        pk = self.spec.primary_key
        need = set(pk) | {column}
        if set(df.columns) != need:
            raise ValueError(
                f"update_collection needs exactly {sorted(need)}, "
                f"got {sorted(df.columns)}"
            )
        types = {f.name: f.dataType for f in self.spec.schema.fields}
        out = df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in need
                else F.lit(None).cast(types[f.name]).alias(f.name)
                for f in self.spec.schema.fields
            ]
        )
        out = (
            self._with_bucket(out)
            .withColumn(_WRITETIME, F.lit(_next_writetime()))
            .withColumn(_EXPIRES, F.lit(None).cast("long"))
            .withColumn(_TOMBSTONE, F.lit(False))
            .withColumn(_COLL_COL, F.lit(column))
            .withColumn(_COLL_OP, F.lit(op))
        )
        self._write_buckets(out, "append")

    def _write_buckets(self, out: DataFrame, mode: str) -> None:
        """Write ``out`` (which carries ``_bucket``) under this table's
        bucket directories, clustering-sorted inside each file.

        The shuffle is keyed on ``_bucket`` with no fixed partition
        count: each bucket still hashes to exactly one shuffle
        partition, so a write makes at most one file per touched
        bucket, while AQE coalesces a small batch to one task instead
        of ``n_buckets`` mostly empty ones. A large write (``compact``)
        therefore runs at most ``spark.sql.shuffle.partitions`` tasks,
        which ``session.py`` sizes to the cluster.
        """
        (
            out.repartition(F.col(_BUCKET))
            # _BUCKET leads the sort: the partitioned-file writer requires
            # task rows ordered by the partition dirs and would otherwise
            # insert its own (non-stable) sort, destroying the clustering
            # order inside each file.
            .sortWithinPartitions(F.col(_BUCKET), *self._sort_cols())
            .write.mode(mode)
            .partitionBy(_BUCKET)
            .parquet(self.path)
        )

    def _sort_cols(self):
        cols = []
        for c in self.spec.clustering_keys:
            cols.append(F.desc(c) if self.spec.clustering_desc else F.asc(c))
        return cols or [F.asc(self.spec.partition_keys[0])]

    # ---- read path (R1-R4) -------------------------------------------------

    def _raw(self) -> DataFrame:
        read_schema = StructType(
            list(self.spec.schema.fields)
            + [
                StructField(_BUCKET, IntegerType()),
                StructField(_WRITETIME, LongType()),
                StructField(_EXPIRES, LongType()),  # null on pre-TTL files
                StructField(_TOMBSTONE, BooleanType()),  # null on old files
                StructField(_COLL_COL, StringType()),  # null on full writes
                StructField(_COLL_OP, StringType()),
                # null on full writes and legacy files = "all columns set"
                StructField(_CELLS, ArrayType(StringType())),
            ]
        )
        return self.spark.read.schema(read_schema).parquet(self.path)

    def _reconciled(
        self,
        raw: DataFrame,
        keep_writetime: bool = False,
        cell_meta: bool = False,
        as_of_micros: int | None = None,
        keep_marker: bool = False,
    ) -> DataFrame:
        """Newest row per primary key, expired keys dropped.

        One groupBy — one shuffle, map-side combinable, no window-sort.
        Each winner is the ``max`` of one ordered struct led by the
        writetime, so a writetime tie resolves by content as Cassandra
        resolves it (see ``_reconcile_rows``), never by read order.
        Shadowed (overwritten) rows drop out exactly as Cassandra's
        read-path reconciliation does. Expiry filtering runs AFTER
        reconciliation: an expired newest version removes the key
        (TTL tombstone semantics) instead of resurrecting older data.
        Keeps ``_expires`` so ``compact()`` can carry live TTLs through
        the rewrite; plain reads drop it.

        ``keep_writetime`` retains each key's newest ``_writetime`` —
        ``compact()``/``refresh_view()`` rewrite with it so cell
        timestamps survive compaction (Cassandra preserves writetimes
        through compaction; stamping rewrites with a fresh time would
        make a later USING TIMESTAMP backfill with a newer client
        timestamp lose last-writer-wins against old data).

        ``cell_meta`` additionally emits ``__wt_<col>`` per scalar cell
        (the winning write's timestamp, engine units) — the backing for
        CQL's ``WRITETIME(col)`` selector.
        """
        statics = list(self.spec.properties.get("static_columns") or [])
        if statics:
            return self._with_statics(
                raw, statics, keep_writetime, cell_meta, as_of_micros,
                keep_marker,
            )
        return self._reconcile_rows(
            raw, keep_writetime, cell_meta, as_of_micros, keep_marker
        )

    def _with_statics(
        self,
        raw: DataFrame,
        statics: list[str],
        keep_writetime: bool = False,
        cell_meta: bool = False,
        as_of_micros: int | None = None,
        keep_marker: bool = False,
    ) -> DataFrame:
        """CQL static columns: one shared cell per PARTITION, above the
        clustering rows.

        The static value is the newest non-null write across ANY row of
        the partition (at a writetime tie, the greater value) — resolved
        by a groupBy on the partition keys alone (a tiny frame: one row
        per partition) and left-joined back onto the row-level
        reconciliation, which runs with the static columns stripped so
        last-writer-wins never sees them. Writing a static via any
        clustering row updates it for the whole partition; null statics
        on a write mean "not written" (CQL UPDATEs name only the cells
        they set — this engine's full-row appends encode absence as
        null). Divergence from Cassandra, documented: statics live only
        while the partition has at least one live row (Cassandra keeps a
        rowless static row; a reconciling engine would need a phantom
        row to carry it).
        """
        pkeys = self.spec.partition_keys
        aggs = []
        for c in statics:
            wrap, unwrap = _orderable(self.spec.schema[c].dataType.simpleString())
            newest = (
                f"max(CASE WHEN {_q(c)} IS NOT NULL THEN struct("
                f"{_q(_WRITETIME)} AS w, {wrap.format(_q(c))} AS v) END).v"
            )
            aggs.append(F.expr(f"{unwrap.format(newest)} AS {_q(c)}"))
        stat = raw.groupBy(*pkeys).agg(*aggs)
        rows = self._reconcile_rows(
            raw.drop(*statics), keep_writetime, cell_meta, as_of_micros,
            keep_marker,
        )
        # keep_marker's __marker_live rides the row side through the
        # static join untouched — compact()/refresh_view() on a statics
        # table preserve INSERT row markers exactly like the plain path
        return rows.join(stat, pkeys, "left")

    def _reconcile_rows(
        self,
        raw: DataFrame,
        keep_writetime: bool = False,
        cell_meta: bool = False,
        as_of_micros: int | None = None,
        keep_marker: bool = False,
    ) -> DataFrame:
        """Row-level reconciliation of every table kind, one groupBy.

        The tie rule: a cell takes the ``max`` of ``struct(w, v IS NULL,
        v, e)`` over the writes that set it — the newest writetime, then
        at equal writetimes a named-null cell delete over a value, then
        the greater value (Spark's order: UTF-8 bytes for text, numbers
        by value with NaN greatest, ``false < true``, timestamps by
        instant), then the later expiry (no TTL first). The row marker
        takes ``max(struct(w, e))``. A key whose newest write is a
        DELETE is gone, and a DELETE wins a tie with any write.

        Counters sum their increments. Collection columns collect their
        (writetime, op, payload) cells and fold them in writetime order,
        an assign before a delta at one writetime (``_fold_collection``).
        Full writes of one collection at one writetime merge as
        Cassandra's cells do: a set takes the union, a map the entry
        union with the greater value at a key tie (the scalar cell rule
        above). Lists diverge, documented: their assigns at one
        writetime, like any two ops at one writetime, fold in read order
        and the last one read wins. Only
        full writes (``_coll_col`` null — every write, on a table without
        collections) feed the scalar, counter and marker races. Op-chains
        are bounded by writes-per-key since the last ``compact()``, which
        materializes folds back to one cell. A map outside the op chain
        (a view's copy of a map collection) orders by its entries.

        Liveness divergence on collection tables, documented: the key
        lives while it is not deleted and the newest full write's expiry
        has not passed, whatever its cells' liveness (more lenient than
        the plain path's marker-OR-live-cell model), and scalar cells
        carry that row-level expiry instead of their own. ``keep_marker``
        still tracks the marker honestly — compact()'s rewrite preserves
        INSERT row markers (the "" sentinel) so a later schema evolution
        dropping the collection columns does not silently lose
        primary-key liveness history.

        The plan is built from SQL text, not Column objects: each Column
        call is a py4j round-trip and this plan is rebuilt on every
        point read. ``now`` is a literal of this call, so nothing built
        here may be reused by a later call.
        """
        pk = self.spec.primary_key
        props = self.spec.properties
        counters = set(props.get("counter_columns", ()))
        collections = dict(props.get("collection_columns") or {})
        types = {f.name: f.dataType.simpleString() for f in self.spec.schema.fields}
        # TTL expiry is evaluated at the snapshot instant for as-of
        # reads: a row that expired AFTER the snapshot was live then
        now = as_of_micros if as_of_micros is not None else int(time.time() * 1_000_000)
        meta = (_BUCKET, _COLL_COL, _COLL_OP, _CELLS, _WRITETIME, _EXPIRES, _TOMBSTONE)
        data_cols = [c for c in raw.columns if c not in pk and c not in meta]
        wt, ex, tomb, cells, coll = map(
            _q, (_WRITETIME, _EXPIRES, _TOMBSTONE, _CELLS, _COLL_COL)
        )
        is_tomb = f"coalesce({tomb}, false)"
        full = f"{coll} IS NULL"
        aggs = []
        for c in data_cols:
            qc = _q(c)
            # the write SET the cell: _cells null (a full-row write) or
            # naming it; unset cells drop out of the race
            sets_c = (
                f"{full} AND ({cells} IS NULL OR array_contains({cells}, {_s(c)}))"
            )
            if c in counters:
                # CQL counter semantics: the SUM of increments; nulls
                # (unset) don't contribute
                aggs.append(
                    f"CAST(sum(CASE WHEN {full} THEN {qc} END) AS {types[c]}) AS {qc}"
                )
            elif c in collections:
                # a full write's value joins the op-chain as an
                # ``assign`` only if the write SET the cell (else a
                # partial INSERT's null placeholder would clear the
                # collection); deltas name their column via _coll_col.
                # The comparator orders on writetime, then an assign
                # before a delta (a map payload is not orderable).
                aggs.append(
                    f"array_sort(collect_list(CASE WHEN ({sets_c}) OR {coll} = "
                    f"{_s(c)} THEN struct({wt} AS w, coalesce({_q(_COLL_OP)}, "
                    f"'assign') AS op, {qc} AS v) END), (l, r) -> CASE WHEN "
                    "l.w < r.w THEN -1 WHEN l.w > r.w THEN 1 WHEN l.op = r.op "
                    "THEN 0 WHEN l.op = 'assign' THEN -1 WHEN r.op = 'assign' "
                    f"THEN 1 ELSE 0 END) AS {_q('__ops_' + c)}"
                )
            else:
                # the winning write's writetime (tombstone cut) and
                # expiry (per-cell TTL, like Cassandra's) ride along
                wrap = _orderable(types[c])[0]
                aggs.append(
                    f"max(CASE WHEN {sets_c} THEN struct({wt} AS w, {qc} IS NULL "
                    f"AS d, {wrap.format(qc)} AS v, {ex} AS e) END) "
                    f"AS {_q('__sv_' + c)}"
                )
        # the row MARKER is the newest full-row write (CQL INSERT): its
        # TTL governs the row's own liveness, while a cells-write's TTL
        # expires only its cells — Cassandra's row-marker model. Marker
        # writes: _cells null (full-row INSERT), EMPTY (a key-only
        # INSERT, and compact()'s rewrite of an all-null row), or
        # carrying the "" sentinel (a named-columns INSERT — CQL INSERTs
        # always deposit the marker, UPDATEs never do); the same rule as
        # _is_marker. The null test is explicit: size(NULL) is NULL
        # under ANSI mode but -1 without it.
        is_marker = (
            f"{full} AND ({cells} IS NULL OR size({cells}) = 0 "
            f"OR array_contains({cells}, '')) AND NOT {is_tomb}"
        )
        aggs += [
            f"max(CASE WHEN {is_marker} THEN struct({wt} AS w, {ex} AS e) END) "
            "AS `__marker`",
            f"max(CASE WHEN {is_tomb} THEN {wt} END) AS `__tomb_w`",
            f"max({wt}) AS {wt}",
        ]
        if collections:
            # TTL rides on full rows only — a delta carries no expiry
            aggs.append(
                f"max(CASE WHEN {full} THEN struct({wt} AS w, {ex} AS e) END).e "
                f"AS {ex}"
            )
        grouped = raw.groupBy(*pk).agg(*[F.expr(a) for a in aggs])
        # cells at or before the newest DELETE are dead: a later partial
        # write revives the key without resurrecting pre-delete cells
        tomb_w = "coalesce(`__tomb_w`, -1)"
        sel = [_q(c) for c in pk]
        live_terms = []
        for c in data_cols:
            qc = _q(c)
            if c in counters or c in collections:
                if c in counters:
                    sel.append(qc)
                    live_terms.append(f"{qc} IS NOT NULL")
                else:
                    fold = self._fold_collection(
                        collections[c], _q("__ops_" + c), types[c], tomb_w
                    )
                    sel.append(f"{fold} AS {qc}")
                if cell_meta:
                    # multi-cell values: CQL errors on WRITETIME/TTL of
                    # them (the front-end enforces)
                    sel += [
                        f"CAST(NULL AS BIGINT) AS {_q('__wt_' + c)}",
                        f"CAST(NULL AS BIGINT) AS {_q('__ex_' + c)}",
                    ]
                continue
            sv = _q("__sv_" + c)
            vis = f"{sv}.w > {tomb_w}"
            if not collections:
                vis = f"({vis} AND ({sv}.e IS NULL OR {sv}.e > {now}))"
            value = _orderable(types[c])[1].format(f"{sv}.v")
            sel.append(f"CAST(CASE WHEN {vis} THEN {value} END AS {types[c]}) AS {qc}")
            live_terms.append(f"({vis} AND {sv}.v IS NOT NULL)")
            if cell_meta:
                sel += [
                    f"CASE WHEN {vis} THEN {sv}.w END AS {_q('__wt_' + c)}",
                    f"CASE WHEN {vis} THEN {sv}.e END AS {_q('__ex_' + c)}",
                ]
        if keep_marker:
            # compact() preserves the marker through the rewrite: a row
            # whose lineage has a live marker keeps primary-key liveness
            # after materialization (the "" sentinel _materialized_cells
            # appends), like Cassandra carrying the marker through
            # compaction
            sel.append(f"`__marker`.w > {tomb_w} AS `__marker_live`")
            if cell_meta:
                # the fragment-preserving rewrite additionally needs the
                # marker's own writetime to stamp its fragment
                sel.append("`__marker`.w AS `__marker_w`")
        if collections:
            row_live = f"({ex} IS NULL OR {ex} > {now})"
            sel.append(ex)
        else:
            # a key stays live while its marker is live OR any cell is
            # live
            row_live = " OR ".join([
                f"(`__marker`.w > {tomb_w} AND (`__marker`.e IS NULL "
                f"OR `__marker`.e > {now}))",
                *live_terms,
            ])
            # a marker at or before the newest DELETE is dead lineage:
            # its TTL must not ride through (compact() would otherwise
            # stamp a revived row with the dead marker's expiry and the
            # row would vanish when that old TTL passed)
            sel.append(f"CASE WHEN `__marker`.w > {tomb_w} THEN `__marker`.e END AS {ex}")
        if keep_writetime:
            sel.append(wt)
        # a key whose NEWEST write is a DELETE (a tie included) is gone;
        # an expiry-dead key likewise — both checked after
        # reconciliation so they shadow (never resurrect) older versions
        return grouped.where(f"{tomb_w} < {wt} AND ({row_live})").selectExpr(*sel)

    @staticmethod
    def _fold_collection(kind: str, ops: str, sql_type: str, tomb_w: str) -> str:
        """SQL folding a key's sorted (w, op, v) cells into the live value.

        Pure JVM higher-order functions — no Python in the loop. Cells
        at or before the newest tombstone are dead (filtered first);
        ``assign`` restarts the fold, deltas mutate the accumulator. The
        accumulator carries the writetime of the op that made it, so a
        set or map assign at the writetime of the assign before it
        merges with it instead (``_reconcile_rows`` states the rule).
        Empty results read as NULL (CQL: empty collections are null).
        """
        empty = f"CAST({'map()' if kind == 'map' else 'array()'} AS {sql_type})"
        v, acc = f"coalesce(o.v, {empty})", f"coalesce(acc.v, {empty})"
        res = "array_sort(acc.v)" if kind == "set" else "acc.v"
        # each op's new accumulator; the last one is the ELSE. ``tie``
        # merges an assign into the assign before it at one writetime.
        if kind == "set":
            union = f"array_union({acc}, {v})"
            assign, tie = f"array_distinct({v})", union
            deltas = [("add", union), ("remove", f"array_except({acc}, {v})")]
        elif kind == "list":
            assign, tie = v, None
            deltas = [("append", f"concat({acc}, {v})"),
                      ("prepend", f"concat({v}, {acc})")]
        else:
            # map: put overrides existing keys, remove drops by key
            dropped = f"map_filter({acc}, (k, x) -> NOT array_contains(map_keys({v}), k))"
            assign = v
            tie = f"map_zip_with({acc}, {v}, (k, x, y) -> greatest(x, y))"
            deltas = [("put", f"map_concat({dropped}, {v})"), ("remove", dropped)]
        if tie is not None:
            assign = f"CASE WHEN acc.w = o.w THEN {tie} ELSE {assign} END"
        ops_sql = [("assign", assign), *deltas]
        step = " ".join(f"WHEN '{op}' THEN {e}" for op, e in ops_sql[:-1])
        return (
            f"aggregate(filter({ops}, o -> o.w > {tomb_w}), "
            f"struct({empty} AS v, CAST(NULL AS BIGINT) AS w), "
            f"(acc, o) -> struct(CASE o.op {step} ELSE {ops_sql[-1][1]} END AS v, "
            "o.w AS w), "
            f"acc -> CASE WHEN size({res}) > 0 THEN {res} END)"
        )

    def read(self) -> DataFrame:
        """Full table with upsert semantics: newest live row per key."""
        return self._reconciled(self._raw()).select(
            *[f.name for f in self.spec.schema.fields]
        )

    def read_as_of(self, timestamp_micros: int) -> DataFrame:
        """Snapshot read: the table's live state as of a past instant —
        writes after ``timestamp_micros`` (CQL writetime units) are
        invisible, deletes after it un-happen, and TTL expiry is
        evaluated at the snapshot time, so a row that expired later is
        visible again.

        The append-log layout gives this for free: filter the raw log
        to writes at or before the snapshot, reconcile as usual. The
        reproducibility primitive for training-data pipelines ("the
        corpus exactly as the March run saw it") without copying data.
        History reaches back to the last ``compact()`` — compaction
        materializes current state and drops shadowed versions, so it
        is also the snapshot-retention knob (run it when snapshots
        older than X are no longer needed).
        """
        # engine units are micros*1000+seq: include every write inside
        # the snapshot microsecond
        cutoff = (timestamp_micros + 1) * 1000
        raw = self._raw().filter(F.col(_WRITETIME) < cutoff)
        return self._reconciled(raw, as_of_micros=timestamp_micros).select(
            *[f.name for f in self.spec.schema.fields]
        )

    def read_changes(self, since_timestamp_micros: int) -> DataFrame:
        """CDC read: the current state of every key touched AFTER the
        checkpoint — ``(spec columns..., _op)`` with ``_op`` =
        ``upsert`` (live row, current reconciled state) or ``delete``
        (key's newest post-checkpoint state is dead: tombstoned or
        expired). Payload columns are NULL on deletes.

        Feed ``since`` from the previous run's max ``WRITETIME`` and a
        downstream incremental pipeline processes only what changed.
        Scale shape: the changed-key probe filters the raw log on
        ``_writetime`` FIRST (at 100 TB the log would be partitioned by
        write-era, making this a pruned scan), then reconciliation runs
        on the semi-joined history of changed keys only — work scales
        with the delta, not the table.
        """
        cutoff = (since_timestamp_micros + 1) * 1000
        pk = self.spec.primary_key
        raw = self._raw()
        changed_keys = (
            raw.filter(F.col(_WRITETIME) >= cutoff).select(*pk).distinct()
        )
        history = raw.join(changed_keys, pk, "left_semi")
        live = self._reconciled(history).select(
            *[f.name for f in self.spec.schema.fields]
        )
        deletes = (
            changed_keys.join(live.select(*pk), pk, "left_anti")
            .select(
                *[F.col(k) for k in pk],
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in self.spec.schema.fields
                    if f.name not in pk
                ],
            )
            .select(*[f.name for f in self.spec.schema.fields])
        )
        return live.withColumn("_op", F.lit("upsert")).union(
            deletes.withColumn("_op", F.lit("delete"))
        )

    def _partition_bucket(self, key_values: dict) -> int:
        """The bucket of the one partition ``key_values`` names; it must
        name exactly the partition key. Routes on the internal values,
        which Spark's ``hash`` reads (a timestamp as its micros)."""
        pkeys = self.spec.partition_keys
        if set(key_values) != set(pkeys):
            raise ValueError(f"partition read needs exactly {pkeys}")
        schema = self.spec.schema
        return self._route(
            [schema[k].dataType.toInternal(key_values[k]) for k in pkeys]
        )

    def _partition_raw(self, key_values: dict) -> DataFrame:
        """The raw rows of one partition: the scan pruned to its bucket
        directory, filtered on the key."""
        raw = self._raw().filter(F.col(_BUCKET) == self._partition_bucket(key_values))
        for k, v in key_values.items():
            raw = raw.filter(F.col(k) == v)
        return raw

    def read_cell_meta(self, **key_values) -> DataFrame:
        """Reconciled rows plus per-cell metadata: ``__wt_<col>`` (the
        winning write's timestamp for each scalar cell, engine units =
        micros*1000+seq) and the row's ``_expires`` — the backing for
        CQL's ``WRITETIME(col)`` / ``TTL(col)`` selectors.

        With ``key_values`` (the full partition key) the scan prunes to
        one bucket directory and the one partition is sorted inside one
        task, exactly like ``read_partition``; without, it is a full
        reconciled scan under a global sort. Rows come back in clustering
        order either way.
        """
        raw = self._partition_raw(key_values) if key_values else self._raw()
        rec = self._reconciled(raw, cell_meta=True).drop(_WRITETIME)
        order = [*self.spec.partition_keys, *self._sort_cols()]
        if key_values:
            return rec.coalesce(1).sortWithinPartitions(*order)
        return rec.orderBy(*order)

    def read_partition(self, **key_values) -> DataFrame:
        """R1: partition-key-equality read, pruned to one bucket directory.

        The bucket is computed driver-side with the same Murmur3 hash
        the writer used, so Catalyst prunes the scan to a single
        ``_bucket=k`` directory — the single-token-range read of
        ``server.py:98``. Results come back in clustering order
        (``server.py:185``): the reconciled rows are one Cassandra
        partition (the unit the large-partition guard warns on), so
        they are sorted in one task (``coalesce(1)`` after the
        reconciliation shuffle) instead of by a global sort's range
        exchange and its sampling job. The scan and the
        reconciliation's partial aggregate stay parallel.
        """
        return (
            self._reconciled(self._partition_raw(key_values))
            .select(*[f.name for f in self.spec.schema.fields])
            .coalesce(1)
            .sortWithinPartitions(*self._sort_cols())
        )

    def read_partition_rows(self, **key_values) -> list:
        """``read_partition(**key_values).collect()``, served on the
        driver for a ``point_local`` table (no Spark job; other tables
        collect the Spark read).

        The driver routes with ``bucket_of``, reads the one
        ``_bucket=k`` directory with ``pyarrow.dataset`` filtered on the
        key (hidden ``.``/``_`` files skipped, columns a file lacks read
        as null), reconciles with ``_reconcile_rows``' plain-path rules
        in ``_reconcile_partition``, sorts into clustering order and
        converts through the schema's ``fromInternal`` — the same Rows,
        in the same order, that ``collect()`` returns.
        """
        if not self.point_local:
            return self.read_partition(**key_values).collect()
        bucket = self._partition_bucket(key_values)
        schema = self.spec.schema
        key = {k: schema[k].dataType.toInternal(v) for k, v in key_values.items()}
        bucket_dir = os.path.join(self.path, f"{_BUCKET}={bucket}")
        if not os.path.isdir(bucket_dir):
            return []
        arrow = to_arrow_schema(schema)
        read_schema = pa.schema(
            [f.with_nullable(True) for f in arrow] + _ARROW_META
        )
        match = None
        for k, v in key.items():
            term = pc.field(k) == pa.scalar(v, type=arrow.field(k).type)
            match = term if match is None else match & term
        table = ds.dataset(bucket_dir, schema=read_schema, format=_PARQUET).to_table(
            filter=match
        )
        columns = {}
        for f in read_schema:
            col = table.column(f.name)
            if pa.types.is_timestamp(f.type):
                col = col.cast(pa.int64())  # internal micros
            columns[f.name] = col.to_pylist()
        names = read_schema.names
        raw = [dict(zip(names, vals)) for vals in zip(*(columns[n] for n in names))]
        rows = self._reconcile_partition(raw, int(time.time() * 1_000_000))
        self._sort_rows(rows)
        return [schema.fromInternal(r) for r in rows]

    def _reconcile_partition(self, raw: list[dict], now_micros: int) -> list[tuple]:
        """``_reconcile_rows``' plain path over one partition's raw rows
        (internal values), in Python; returns live rows as internal
        tuples in schema order. Same rules, same names:

        - each payload cell takes the greatest ``_cell_order`` among the
          writes that set it (``_cells`` null or naming it);
        - the row marker is the greatest (writetime, expiry) among the
          non-tombstone marker writes (``_is_marker``);
        - cells and markers at or before the newest tombstone are dead,
          so a key whose newest write is a tombstone (a tie included)
          has nothing left to live on;
        - expiry is applied after reconciliation: a key lives while its
          marker or any non-null cell is live at ``now_micros``.
        """
        pk = self.spec.primary_key
        data_cols = [n for n in self.spec.schema.names if n not in pk]
        groups: dict[tuple, dict] = {}
        for r in raw:
            w, cells, e = r[_WRITETIME], r[_CELLS], r[_EXPIRES]
            g = groups.setdefault(
                tuple(r[k] for k in pk),
                {"row": r, "sv": {}, "marker": None, "tomb_w": -1},
            )
            for c in data_cols:
                if cells is None or c in cells:
                    order = _cell_order(w, r[c], e)
                    sv = g["sv"].get(c)
                    if sv is None or order > sv[0]:
                        g["sv"][c] = (order, r[c], e)
            if r[_TOMBSTONE]:
                g["tomb_w"] = max(g["tomb_w"], w)
            elif _is_marker(cells):
                order = (w, _sort_key(e))
                if g["marker"] is None or order > g["marker"][0]:
                    g["marker"] = (order, e)
        out = []
        for g in groups.values():
            tomb_w = g["tomb_w"]
            marker = g["marker"]
            live = (
                marker is not None
                and marker[0][0] > tomb_w
                and (marker[1] is None or marker[1] > now_micros)
            )
            values = {}
            for c in data_cols:
                sv = g["sv"].get(c)
                visible = (
                    sv is not None
                    and sv[0][0] > tomb_w
                    and (sv[2] is None or sv[2] > now_micros)
                )
                values[c] = sv[1] if visible else None
                live = live or (visible and sv[1] is not None)
            if live:
                out.append(tuple(
                    values[n] if n in values else g["row"][n]
                    for n in self.spec.schema.names
                ))
        return out

    def read_partitions(self, keys: list[dict]) -> DataFrame:
        """CQL ``WHERE pk IN (...)``: a multi-partition read, pruned to
        exactly the buckets the listed keys hash to.

        Buckets are computed driver-side (same arithmetic as
        ``read_partition``) and deduplicated, so N keys cost
        ``|distinct buckets|`` directory scans — never a full-table
        scan — plus one IN filter on the key tuples inside them. The
        CQL manuals warn that IN fans a coordinator out to many
        token ranges; here that is the (pruned) parallel scan itself,
        which is exactly what a bulk engine is good at.
        """
        pkeys = self.spec.partition_keys
        if not keys:
            raise ValueError("read_partitions needs at least one key dict")
        for kv in keys:
            if set(kv) != set(pkeys):
                raise ValueError(f"each key needs exactly {pkeys}, got {sorted(kv)}")
        buckets = sorted({self._route([kv[k] for k in pkeys]) for kv in keys})
        raw = self._raw().filter(F.col(_BUCKET).isin(buckets))
        key_tuples = sorted({tuple(kv[k] for k in pkeys) for kv in keys})
        if len(pkeys) == 1:
            raw = raw.filter(F.col(pkeys[0]).isin([t[0] for t in key_tuples]))
        else:
            # OR of per-tuple conjunctions: unlike a struct IN (which
            # Spark's isin rejects for struct literals), each leg is a
            # plain column-equality AND, so the parquet scan can still
            # push the per-column predicates down
            import functools
            import operator

            legs = [
                functools.reduce(
                    operator.and_,
                    [F.col(k) == v for k, v in zip(pkeys, t)],
                )
                for t in key_tuples
            ]
            raw = raw.filter(functools.reduce(operator.or_, legs))
        deduped = self._reconciled(raw)
        order = self._sort_cols()
        return deduped.select(*[f.name for f in self.spec.schema.fields]).orderBy(
            *[F.col(k) for k in pkeys], *order
        )

    def read_per_partition_limit(self, n: int) -> DataFrame:
        """CQL ``PER PARTITION LIMIT n``: the first n clustering rows of
        EVERY partition — e.g. the newest n messages of every channel
        under a DESC clustering order (the reference's read pattern,
        ``server.py:185``, generalized from one channel to all).

        The classic top-n-per-key plan: one shuffle on the partition
        keys, per-key sort in clustering order, row_number <= n — and
        Catalyst turns the rank filter into a per-partition top-n sort
        (WindowGroupLimit), so no partition is fully sorted when n is
        small. Requires clustering columns (without them every
        partition is a single row and the limit is a no-op).
        """
        return self.limit_per_partition(self.read(), n)

    def limit_per_partition(self, df: DataFrame, n: int) -> DataFrame:
        """Apply ``PER PARTITION LIMIT n`` to an already-read frame.

        Split out from ``read_per_partition_limit`` so the CQL front-end
        can stack the limit on top of a WHERE-restricted read (CQL
        evaluates the limit after the predicate).
        """
        from pyspark.sql import Window

        if n < 1:
            raise ValueError("PER PARTITION LIMIT must be >= 1")
        if not self.spec.clustering_keys:
            raise ValueError(
                "PER PARTITION LIMIT needs clustering columns (single-row "
                "partitions have nothing to limit)"
            )
        w = Window.partitionBy(*self.spec.partition_keys).orderBy(
            *self._sort_cols()
        )
        # preserve whatever columns arrived (cell-meta reads carry
        # __wt_/__ex_ columns the WRITETIME()/TTL() projection needs) —
        # only the rank helper is engine-internal
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n)
            .drop("__rn")
            .orderBy(*self.spec.partition_keys, *self._sort_cols())
        )

    def read_split(self, split_id: int) -> DataFrame:
        """Bulk-export split: the live rows of ONE hash bucket.

        The Cassandra bulk-read model: connectors (including the
        spark-cassandra-connector) parallelize full-table reads by
        splitting the token ring and scanning each token range
        independently. This engine's ring unit is the bucket —
        ``pmod(hash(pk), n_buckets)`` — so split k is the pruned scan of
        the ``_bucket=k`` directory: splits are disjoint, their union is
        the full table, and every split reconciles independently
        (upsert/tombstone resolution never crosses buckets, because a
        key's every version routes to the same bucket). A 1000-executor
        export runs n_buckets of these concurrently with zero overlap.
        """
        if not 0 <= split_id < self.n_buckets:
            raise ValueError(f"split_id must be in [0, {self.n_buckets})")
        raw = self._raw().filter(F.col(_BUCKET) == int(split_id))
        return self._reconciled(raw).select(
            *[f.name for f in self.spec.schema.fields]
        )

    # ---- paged reads (driver fetch_size / paging-state parity) -------------

    def _page_order(self) -> list:
        """The paging total order: (partition token, partition key,
        clustering order) — each element (column, ascending?). Token
        first mirrors Cassandra's ring iteration; the raw pk columns
        break 32-bit hash-collision ties deterministically."""
        order = [("_token", True)]
        order += [(c, True) for c in self.spec.partition_keys]
        order += [
            (c, not self.spec.clustering_desc)
            for c in self.spec.clustering_keys
        ]
        return order

    def paging_state(self, row) -> dict:
        """The paging cursor for the NEXT page: the last returned row's
        key columns, as ``read_page`` expects them."""
        return {
            c: row[c]
            for c in self.spec.partition_keys + self.spec.clustering_keys
        }

    def read_page(self, page_size: int, paging_state: dict | None = None) -> DataFrame:
        """One page of the full table — the engine analogue of the
        Cassandra driver's automatic query paging (``fetch_size`` +
        opaque paging state), which the reference's full-table SELECTs
        ride implicitly (``server.py:149,217``).

        Keyset pagination, not OFFSET: the cursor is the previous
        page's last primary key (``paging_state()``), and each page
        filters strictly-after-cursor in the total order (partition
        token ASC — Cassandra's ring order, realized with the same
        Murmur3 the bucket router uses — then partition key, then
        clustering order). OFFSET would re-scan and re-sort every
        preceding page; the keyset filter keeps page N the same cost
        as page 1. The plan is a global top-``page_size``
        (TakeOrderedAndProject): per-partition heaps of ``page_size``
        rows merged on the driver — no full sort, no full shuffle,
        at any table size. Pages are consistent for a static table;
        like Cassandra, concurrent writers make no cross-page
        snapshot promise.
        """
        if page_size <= 0:
            raise ValueError("page_size must be positive")
        pk = self.spec.partition_keys
        df = self.read().withColumn(
            "_token", F.hash(*[F.col(c) for c in pk])
        )
        order = self._page_order()
        if paging_state is not None:
            key_cols = pk + self.spec.clustering_keys
            missing = [c for c in key_cols if c not in paging_state]
            if missing:
                raise ValueError(f"paging_state missing key columns: {missing}")
            types = {
                f.name: f.dataType.simpleString()
                for f in self.spec.schema.fields
            }
            cursor = dict(paging_state)
            cursor["_token"] = spark_hash(
                *[paging_state[c] for c in pk],
                dtypes=[types[c] for c in pk],
            )
            # lexicographic strictly-after predicate down the total order
            after = F.lit(False)
            prefix_eq = F.lit(True)
            for col, asc in order:
                v = F.lit(cursor[col])
                step = F.col(col) > v if asc else F.col(col) < v
                after = after | (prefix_eq & step)
                prefix_eq = prefix_eq & (F.col(col) == v)
            df = df.filter(after)
        sort = [
            F.asc(c) if asc else F.desc(c) for c, asc in order
        ]
        return (
            df.orderBy(*sort)
            .limit(page_size)
            .select(*[f.name for f in self.spec.schema.fields])
        )

    # ---- JSON surface (CQL INSERT JSON / SELECT JSON) ----------------------

    def append_json(
        self,
        json_rows: DataFrame,
        column: str = "json",
        cells: list[str] | None = None,
        row_marker: bool = False,
    ) -> None:
        """CQL ``INSERT INTO t JSON '...'``: parse JSON strings against
        the DECLARED schema (schema-on-write — unknown fields rejected,
        missing fields become NULL exactly like CQL's JSON insert with
        its ``DEFAULT NULL``) and upsert-append. ``from_json`` is a JVM
        expression: parsing happens distributed, inside codegen, not on
        the driver. ``cells`` implements ``DEFAULT UNSET``: only the
        listed payload columns are written; the rest stay untouched
        under cell-level reconciliation.
        """
        parsed = json_rows.select(
            F.from_json(
                F.col(column),
                self.spec.schema,
                {"mode": "FAILFAST"},  # malformed JSON is an error, not a NULL row
            ).alias("r")
        ).select("r.*")
        self.append(parsed, cells=cells, row_marker=row_marker)

    def read_as_json(self) -> DataFrame:
        """CQL ``SELECT JSON * FROM t``: each live row as one JSON
        string (reconciled read, then a codegen'd ``to_json`` over the
        full row struct)."""
        cols = [f.name for f in self.spec.schema.fields]
        return self.read().select(
            F.to_json(F.struct(*[F.col(c) for c in cols])).alias("json")
        )

    def read_by_index(self, column: str, value) -> DataFrame:
        """Secondary-index read: equality probe on a non-key column,
        routed through the ``create_index`` view — a one-bucket pruned
        scan on the index (the 2i analogue of ``server.py:98``'s
        single-token-range read) instead of a full base scan.
        """
        idx_name = f"{self.spec.name}_{column}_idx"
        idx_spec = self.keyspace.tables.get(idx_name)
        if idx_spec is None:
            raise ValueError(
                f"no index on {self.spec.name}.{column}; "
                f"create_index({self.spec.name!r}, {column!r}) first"
            )
        idx = WideColumnTable(
            self.spark, self.keyspace, idx_spec, n_buckets=self.n_buckets
        )
        return idx.read_partition(**{column: value}).select(
            *[f.name for f in self.spec.schema.fields]
        )

    # ---- maintenance -------------------------------------------------------

    def _materialized_cells(self, df: DataFrame) -> DataFrame:
        """``_cells`` for a materialized (reconciled) rewrite: the
        non-null payload columns. A null cell in a materialized row
        means ABSENT, not "explicitly null": the rewrite garbage-
        collects cell tombstones (like Cassandra compaction after
        gc_grace), so an old-timestamp backfill may rewrite a cell the
        compaction found empty. Granularity note: this merged rewrite
        collapses per-cell writetimes to the row's newest and per-cell
        TTLs to the row MARKER's expiry — row-level metadata after the
        rewrite. Since round 5, ``compact()`` uses it ONLY for
        statics/collections/counters tables (whose reconciliation is
        not cell-granular — documented divergence from Cassandra);
        plain tables compact via ``_fragmented_cells``, which preserves
        per-cell writetimes and TTLs exactly. ``refresh_view()`` still
        uses the merged rewrite for every view (a rebuild is a fresh
        materialization; its writetime note is documented there). On
        the coarsened paths, schedule the rewrite after expiries you
        care about have passed (the common time-series pattern: TTL'd
        writes age out of the window a range compaction walks)."""
        nonkey = [
            f.name for f in self.spec.schema.fields
            if f.name not in self.spec.primary_key
        ]
        has_marker = "__marker_live" in df.columns
        if not nonkey:
            out = df.withColumn(_CELLS, F.lit(None).cast("array<string>"))
            return out.drop("__marker_live") if has_marker else out
        marked = F.array(
            *[F.when(F.col(c).isNotNull(), F.lit(c)) for c in nonkey],
            # preserve primary-key liveness through the rewrite: rows
            # whose lineage had a live row marker keep the "" sentinel
            *(
                [F.when(F.col("__marker_live"), F.lit(""))]
                if has_marker
                else []
            ),
        )
        out = df.withColumn(
            _CELLS, F.filter(marked, lambda x: x.isNotNull())
        )
        return out.drop("__marker_live") if has_marker else out

    def _fragmented_cells(self, df: DataFrame) -> DataFrame:
        """``_cells`` rewrite that PRESERVES per-cell metadata: instead
        of collapsing a key's history into one row stamped with the
        row's newest writetime and the marker's expiry
        (``_materialized_cells`` — the documented coarsening), emit one
        "write fragment" per distinct (writetime, expiry) among the
        key's live cells (plus the row marker's), each a cells-write
        naming exactly the cells that share that metadata. The normal
        read-path reconciliation already merges such rows per cell, so
        nothing on the read side changes — and per-cell ``USING
        TIMESTAMP`` backfill resolution and per-cell TTLs now survive
        compaction exactly, like Cassandra.

        Row-count bound: fragments per key <= live cells + 1, and the
        common case — a key written by full-row INSERTs — still
        produces ONE row, because the marker and every cell share the
        winning write's (w, e) and land in the same fragment. Only
        keys whose cells genuinely carry divergent metadata (partial
        writes at different times, per-cell TTLs) fragment, which is
        precisely when the metadata is worth the rows. Used by
        ``compact()`` for plain tables; statics/collections/counters
        keep the merged rewrite (their reconciliation is not
        cell-granular), documented at ``_materialized_cells``.

        Expects ``_reconciled(cell_meta=True, keep_marker=True)`` input
        (``__wt_<c>``/``__ex_<c>`` per cell, ``__marker_live`` +
        ``__marker_w``, marker expiry in ``_expires``).
        """
        nonkey = [
            f.name for f in self.spec.schema.fields
            if f.name not in self.spec.primary_key
        ]
        cell_frags = [
            F.when(
                F.col(c).isNotNull(),
                F.struct(
                    F.col(f"__wt_{c}").alias("w"), F.col(f"__ex_{c}").alias("e")
                ),
            )
            for c in nonkey
        ]
        marker_frag = F.when(
            F.col("__marker_live"),
            F.struct(
                F.col("__marker_w").alias("w"), F.col(_EXPIRES).alias("e")
            ),
        )
        frags = F.array_distinct(
            F.filter(
                F.array(*cell_frags, marker_frag), lambda x: x.isNotNull()
            )
        )
        df = df.withColumn("__frag", F.explode(frags))
        in_frag = {
            c: (
                F.col(c).isNotNull()
                & F.col(f"__wt_{c}").eqNullSafe(F.col("__frag.w"))
                & F.col(f"__ex_{c}").eqNullSafe(F.col("__frag.e"))
            )
            for c in nonkey
        }
        marker_in = (
            F.col("__marker_live")
            & F.col("__marker_w").eqNullSafe(F.col("__frag.w"))
            & F.col(_EXPIRES).eqNullSafe(F.col("__frag.e"))
        )
        marked = F.array(
            *[F.when(in_frag[c], F.lit(c)) for c in nonkey],
            F.when(marker_in, F.lit("")),
        )
        sel = [F.col(c) for c in self.spec.primary_key]
        sel += [F.when(in_frag[c], F.col(c)).alias(c) for c in nonkey]
        sel += [
            F.col("__frag.w").alias(_WRITETIME),
            F.col("__frag.e").alias(_EXPIRES),
            F.lit(False).alias(_TOMBSTONE),
            F.filter(marked, lambda x: x.isNotNull()).alias(_CELLS),
        ]
        return df.select(*sel)

    def refresh_view(self) -> None:
        """Rebuild a materialized view from its base table.

        The bulk-engine answer to Cassandra's per-write view tombstones
        (and its ``nodetool`` view rebuild): one job reads the base's
        live reconciled rows and overwrites the view under the view's
        own bucket routing and clustering order. Removes rows stranded
        by base upserts that moved a view-key column; carries live TTLs
        through. Reads the BASE and writes the VIEW, so no staging copy
        is needed (never reads its own output).
        """
        base_name = self.spec.properties.get("materialized_view_of")
        if not base_name:
            raise ValueError(f"{self.spec.name} is not a materialized view")
        base = WideColumnTable(
            self.spark,
            self.keyspace,
            self.keyspace.tables[base_name],
            n_buckets=self.n_buckets,
        )
        # spec cols + _expires + _writetime: the rebuild keeps each row's
        # reconciled writetime so later USING TIMESTAMP writes still
        # resolve last-writer-wins against rebuilt view rows
        live = base._reconciled(
            base._raw(), keep_writetime=True, keep_marker=True
        )
        out = self._with_bucket(self._materialized_cells(live))
        self._write_buckets(out, "overwrite")

    def compact(self, buckets: list[int] | None = None) -> None:
        """Rewrite the table dropping shadowed rows and small files.

        The engine's analogue of Cassandra compaction
        (``cassandra.yaml:818``): read → dedup → rewrite bucketed +
        sorted. ``buckets`` bounds one run to a slice of the ring — THE
        100 TB shape: a scheduler walks bucket ranges so each job reads
        and rewrites a bounded number of directories (pruned scan in,
        dynamic overwrite of only those directories out), instead of
        one table-sized job. Buckets are disjoint by construction, so
        range jobs can run concurrently.

        Commits through ``sources.io.staged_partition_overwrite``
        (object-store-safe, no local-FS calls) with ``buckets`` as its
        scope: the rewritten rows are staged next to the table, each
        ``_bucket=k`` directory is replaced in its own commit, so
        concurrent readers always see a complete table, and an
        in-scope bucket left with no live row is deleted. The staging
        directory is unique PER RUN, so concurrent range jobs never
        clobber each other's staged buckets.
        """
        from cassandrastack_spark.sources.io import staged_partition_overwrite

        if buckets is not None:
            bad = [b for b in buckets if not (0 <= int(b) < self.n_buckets)]
            if bad:
                raise ValueError(f"bucket ids out of range: {bad}")
            buckets = sorted({int(b) for b in buckets})
        # partition-pruned slice: only these directories are read
        in_scope = F.lit(True) if buckets is None else F.col(_BUCKET).isin(buckets)
        raw = self._raw().filter(in_scope)
        # reconcile keeps _expires (live TTLs survive the rewrite; rows
        # already expired, and rows they shadowed, are physically gone)
        # and _writetime: Cassandra preserves cell writetimes through
        # compaction, so a USING TIMESTAMP backfill newer than the
        # original write still wins after a compaction ran in between.
        # Plain tables rewrite via _fragmented_cells: per-cell
        # writetimes AND per-cell TTLs ride through exactly (one write
        # fragment per distinct cell metadata — Cassandra-grade).
        # Statics/collections/counters keep the merged rewrite with the
        # documented row-granularity coarsening (_materialized_cells):
        # their reconciliation is not cell-granular.
        props = self.spec.properties
        if (
            props.get("static_columns")
            or props.get("collection_columns")
            or props.get("counter_columns")
        ):
            live = self._reconciled(raw, keep_writetime=True, keep_marker=True)
            out = self._with_bucket(self._materialized_cells(live))
        else:
            live = self._reconciled(
                raw, keep_writetime=True, cell_meta=True, keep_marker=True
            )
            out = self._with_bucket(self._fragmented_cells(live))
        staged_partition_overwrite(
            out, self.path, _BUCKET, [F.col(_BUCKET), *self._sort_cols()],
            scope=buckets,
        )
        # post-reconciliation = true partition size: exactly where
        # Cassandra's compaction warning fires (re-reads the rewritten
        # parquet, not the reconciliation plan)
        if self.guard is not None:
            self._warn_large_partitions(self._raw().filter(in_scope), "compact")
