"""File / connector sources and scale-aware sinks.

Rules (100 TB discipline):

- **Explicit schema always.** ``inferSchema`` means an extra full pass
  over the data and type drift between runs; every reader here takes or
  derives a StructType (schema-on-write is the engine's contract,
  SURVEY.md §1.3).
- **Columnar first.** Parquet/ORC scans get vectorized readers, predicate
  pushdown, and column pruning for free; CSV/JSON are ingest formats —
  land them to Parquet before analytics.
- **Write sorted + sized.** The sink controls downstream scan efficiency:
  hash-distribute on the partition key, sort within partitions
  (clustering order), cap file sizes via maxRecordsPerFile so a
  1000-executor scan gets even splits.
- **One lifecycle for the persisted indexes** (the MinHash band,
  BM25 postings, fuzzy deletion-variant and IVF-PQ codes indexes).
  Each index module has one function that writes a generation's rows;
  ``build_*`` trains or validates, calls it with mode ``overwrite``
  (which clears the whole index directory) as generation 0, and writes
  the index's ``_meta`` LAST. ``_meta`` is written once: no extend
  rewrites it, and an index is built exactly when its ``_meta`` reads,
  so a crash anywhere in a build, an interrupted ``_meta`` write
  included, reads as "not built" and the next build overwrites it.
  ``extend_*`` reads ``_meta`` and calls the same function with mode
  ``append``. The epoch-stamped indexes (BM25, fuzzy, IVF-PQ) stamp a
  generation's rows with ``epoch``; the generation COMMITS when
  ``commit_generation`` appends its row to the append-only ``_epochs``
  table, after its data, and ``next_epoch`` is the newest committed
  generation + 1. A crashed extend never committed, so its replay
  re-lands the batch at the same stamp; probes resolve each identity
  to its newest stamp, so a byte-identical replay collapses and a
  changed re-ingest supersedes. Extends are single-writer: two
  concurrent extends would share a stamp, so serialize them per index
  (the streaming ingest loops, ``foreachBatch`` sinks, already do).
  Compactions rewrite through ``staged_partition_overwrite`` and keep
  every stamp.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructType

# The events table's ``ts`` physical type has varied across testdata
# generations: TIMESTAMP(NANOS) (Spark's vectorized reader rejects it
# unless spark.sql.legacy.parquet.nanosAsLong reads it as long nanos)
# vs plain TIMESTAMP(MICROS) (reads natively as timestamp_ntz). Branch
# on the type that actually ARRIVED, never on an assumption about the
# file — the round-1 unconditional conversion broke the moment the
# data was regenerated with micros.
_NANOS_TABLES = {"events"}


# Per-session PLAN memo for read_table: building a parquet reader costs
# ~80-100 ms of driver work (file listing + footer/schema read) and the
# bench constructs each base table hundreds of times per sweep. The memo
# holds the LOGICAL PLAN only — no rows, no results; every action still
# computes from the parquet files. Keyed by the session's applicationId
# so a stopped/recreated session (tests) never serves a dead plan.
#
# Contract shared with table_artifact below: the testdata directories
# are immutable within a process (the driver regenerates them only
# between rounds, i.e. between processes). No data fingerprint backs
# either memo, and one could not help: a memoized plan keeps the file
# listing it was built with, so after an in-place rewrite under sf_dir
# its reads fail (FILE_NOT_EXIST) before any artifact could roll.
_READ_TABLE_PLANS: dict[tuple, DataFrame] = {}

# table_artifact's entries and the per-process root of their directories
_ARTIFACTS: dict[tuple[str, str], str] = {}
_ARTIFACT_ROOT_PREFIX = "cs_q_"
_artifact_root: str | None = None


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Canonical testdata reader: parquet + per-table normalization."""
    if name in _NANOS_TABLES:
        # Runtime-settable; must be on whatever session calls us (a host
        # harness builds its own SparkSession without our factory confs).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    hit = _READ_TABLE_PLANS.get(key)
    if hit is not None:
        return hit
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name in _NANOS_TABLES:
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # Long nanos -> timestamp. Integer division preserves
            # microsecond precision (double math would not at 1.7e18).
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        else:
            # Native micros arrive as timestamp_ntz; normalize to
            # TimestampType so every downstream consumer (unix_micros,
            # watermarks, window()) sees ONE type regardless of the
            # file's encoding. Session tz is UTC (factory-pinned; the
            # container default for external sessions), so the cast is
            # wall-clock identical to DuckDB's naive read.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _READ_TABLE_PLANS[key] = df
    return df


def table_artifact(
    sf_dir: str, kind: str, build: Callable[[str], object]
) -> str:
    """Directory of the ``kind`` artifact derived from ``sf_dir`` (a
    persisted index, an accumulated monitor state table), built once
    per process: rebuilding it per call would price the build, not the
    probe. Keyed by ``(kind, abspath(sf_dir))`` under the contract
    stated at ``_READ_TABLE_PLANS``.

    On a miss, ``build(path)`` writes into a fresh, empty subdirectory
    of one per-process root, and the entry is recorded only when it
    returns. If it raises, the subdirectory is removed and the error
    propagates, so the next call builds again. The root is removed at
    process exit.
    """
    global _artifact_root
    key = (kind, os.path.abspath(sf_dir))
    hit = _ARTIFACTS.get(key)
    if hit is not None:
        return hit
    if _artifact_root is None:
        _artifact_root = tempfile.mkdtemp(prefix=_ARTIFACT_ROOT_PREFIX)
        atexit.register(shutil.rmtree, _artifact_root, ignore_errors=True)
    path = tempfile.mkdtemp(prefix=f"{kind}_", dir=_artifact_root)
    try:
        build(path)
    except BaseException:
        shutil.rmtree(path, ignore_errors=True)
        raise
    _ARTIFACTS[key] = path
    return path


def widen_for_compute(df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Spread compute-heavy per-row work across all cores.

    A small parquet file scans as ONE partition (maxPartitionBytes),
    which serializes expensive per-row stages (shingling, hashing,
    vector math) onto a single task. Repartition up to the session's
    parallelism ONLY when the input is narrower — on a real cluster a
    100 TB scan already has thousands of partitions and this is a no-op.

    Width is estimated from the scan's file list (``inputFiles`` reads
    the plan's FileIndex driver-side — no job, no RDD conversion, unlike
    ``df.rdd.getNumPartitions()`` which forced plan analysis on every
    call). Files is a lower bound on scan partitions (large files split
    by maxPartitionBytes), so this only ever widens, never narrows.

    ``key_cols``: explicit hash columns for the spread. The whole-row
    hash default CO-LOCATES duplicate rows — fine for every current
    call site (distinct-id table scans), a skew hazard for a frame
    with heavy exact duplication (a dedup corpus, the one domain this
    engine is about): every copy of a duplicated row lands on one
    task. Callers widening such a frame pass a high-cardinality key
    (the id column) — or any column set whose distinct count spreads —
    and the hash still needs no retry-unsafe randomness.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        est_partitions = len(df.inputFiles())
    except Exception:  # non-file-backed plans: assume narrow, widen
        est_partitions = 0
    if est_partitions < target:
        # HASH repartition on the given key (or the whole row), not
        # round-robin: a keyless repartition(n) locally sorts every
        # input row first (spark.sql.execution.sortBeforeRepartition,
        # required so task retries reproduce the same row placement —
        # SPARK-23207); a deterministic hash of the row needs no such
        # sort and is equally retry-safe. Distinct rows spread
        # near-uniformly; see the key_cols note for duplicate-heavy
        # frames. Map-typed columns are not hashable (UNHASHABLE_TYPE)
        # — skip them; a frame of ONLY maps falls back to round-robin.
        hashable = key_cols or [c for c, t in df.dtypes if "map<" not in t]
        if hashable:
            return df.repartition(target, F.xxhash64(*hashable))
        return df.repartition(target)
    return df


#: Inputs above this many bytes must not be eagerly localCheckpoint-ed
#: as a whole-corpus intermediate: the blocks pin executor storage and
#: are NOT fault-tolerant (executor loss = job failure) — at that size
#: recomputing the narrow branch is the safer trade (guide §5).
#: Local default comfortably covers the test fixtures; clusters size it
#: via the environment like every other scale knob in session.py.
CHECKPOINT_MAX_INPUT_BYTES = int(
    os.environ.get(
        "SPARK_GRAFT_CHECKPOINT_MAX_INPUT_BYTES", str(1024 * 1024 * 1024)
    )
)


def resolved_input_files(df: DataFrame) -> list[str]:
    """Sorted file URIs of ``df``'s file-source relations, read from
    the ANALYZED plan (raises if the plan cannot be read).

    Not ``df.inputFiles()``: that walks the OPTIMIZED plan, and once a
    logically identical frame is cached and materialized, CacheManager
    substitution rewrites the optimized plan to read the
    InMemoryRelation — no file scan survives and inputFiles() returns
    []. Analysis never substitutes the cache, so the analyzed plan's
    ``LogicalRelation(HadoopFsRelation)`` leaves keep their resolved
    file lists whatever is cached. Plans with no file source (local
    relations, RDDs, checkpointed frames) list nothing."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        rel = leaf.relation()
        if rel.getClass().getSimpleName() == "HadoopFsRelation":
            files.extend(rel.location().inputFiles())
    return sorted(files)


def checkpoint_if_small(df: DataFrame) -> DataFrame:
    """Eagerly localCheckpoint ``df`` ONLY when its resolved file
    inputs are provably under ``CHECKPOINT_MAX_INPUT_BYTES``.

    The convenience-barrier pattern (materialize a frame two branches
    read) is a local-scale win but a 100 TB hazard: localCheckpoint
    blocks are unreplicated executor storage — pinning every row of an
    unbounded corpus there trades one recompute for a job that dies on
    any executor loss. Gate: local ``file:`` inputs are stat-ed and
    summed; unknown sizes (remote URIs, stat failures, non-file plans)
    conservatively count as LARGE → no checkpoint (the caller's plan
    must already be recompute-tolerant). An empty file list is unknown
    too, not zero: local relations, RDD or JDBC sources list no files.
    The files come from ``resolved_input_files`` (the analyzed plan),
    so a small file input that a cached frame replaced in the
    optimized plan is still sized, not read as unknown.
    """
    total = 0
    try:
        files = resolved_input_files(df)
        if not files:
            return df
        for u in files:
            if not u.startswith("file:"):
                return df
            total += os.stat(unquote(urlparse(u).path)).st_size
    except Exception:
        return df
    if total <= CHECKPOINT_MAX_INPUT_BYTES:
        return df.localCheckpoint(eager=True)
    return df


def read_file(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | None = None,
    **options,
) -> DataFrame:
    """Format-dispatched read with explicit schema (never inferSchema).

    CSV defaults: header on. JSON: one object per line (jsonlines).
    """
    if fmt not in {"parquet", "orc", "csv", "json"}:
        raise ValueError(f"unsupported source format: {fmt}")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in {"csv", "json"}:
        raise ValueError(f"{fmt} requires an explicit schema (no inference)")
    if fmt == "csv":
        reader = reader.option("header", options.pop("header", "true"))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_file(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    **options,
) -> None:
    """Format-dispatched write (parquet/orc/csv/json)."""
    if fmt not in {"parquet", "orc", "csv", "json"}:
        raise ValueError(f"unsupported sink format: {fmt}")
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", options.pop("header", "true"))
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def write_sorted_bucketed(
    df: DataFrame,
    path: str,
    partition_col: str,
    sort_cols: list,
    n_partitions: int = 32,
    max_records_per_file: int = 5_000_000,
    mode: str = "overwrite",
) -> None:
    """Scale-aware sink: hash-distribute on the key, sort within
    partitions (clustering order), cap per-file row counts.

    This is the layout the wide-column storage engine relies on
    (storage.py) generalized to any table: downstream equality reads
    prune on the directory column; range scans ride Parquet min/max
    stats of the sort columns.
    """
    (
        # Sort leads with the partition column: FileFormatWriter requires
        # task rows ordered by the partition dirs and would otherwise
        # insert its own (non-stable) sort, destroying the clustering
        # order inside each file.
        df.repartition(n_partitions, F.col(partition_col))
        .sortWithinPartitions(F.col(partition_col), *sort_cols)
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(partition_col)
        .parquet(path)
    )


def cassandra_write(
    df: DataFrame,
    keyspace: str,
    table: str,
    consistency_level: str = "ONE",
    **options,
) -> None:
    """Append a DataFrame to a real Cassandra table via the connector.

    ``consistency_level`` maps the reference's per-batch consistency
    selection (W4, ``BatchStatement(consistency_level=ONE)``,
    ``server.py:137,279``; QUORUM variant commented out at
    ``server.py:136``) onto the connector's
    ``spark.cassandra.output.consistency.level`` option — the only
    place per-request consistency is meaningful in a Spark engine
    (SURVEY.md §7.4). Requires the connector jar; clear error without.
    """
    writer = (
        df.write.format("org.apache.spark.sql.cassandra")
        .option("keyspace", keyspace)
        .option("table", table)
        .option("spark.cassandra.output.consistency.level", consistency_level)
        .mode("append")
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    try:
        writer.save()
    except Exception as e:  # noqa: BLE001 — connector/classpath absence
        raise RuntimeError(
            "spark-cassandra-connector not available on this session's "
            "classpath; add spark.jars.packages and "
            "spark.cassandra.connection.host to use Cassandra sinks"
        ) from e


def cassandra_table(
    spark: SparkSession, keyspace: str, table: str, **options
) -> DataFrame:
    """Read a real Cassandra table via the spark-cassandra-connector
    (format ``org.apache.spark.sql.cassandra``) — the batch-analytics
    seam over the reference's actual store. Partition-key equality
    predicates push down to token-range-local reads, mirroring the
    reference's single-partition routing (``server.py:98``).

    Requires the connector jar on the session classpath
    (``spark.jars.packages=com.datastax.spark:spark-cassandra-connector_2.13:...``)
    and ``spark.cassandra.connection.host``; raises a clear error when
    absent (this container has no Cassandra — the seam is the contract).
    """
    reader = (
        spark.read.format("org.apache.spark.sql.cassandra")
        .option("keyspace", keyspace)
        .option("table", table)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as e:  # noqa: BLE001 — connector/classpath absence
        raise RuntimeError(
            "spark-cassandra-connector not available on this session's "
            "classpath; add spark.jars.packages and "
            "spark.cassandra.connection.host to use Cassandra sources"
        ) from e


def _corrupt_policy(
    schema: StructType, bad_records: str
) -> tuple[StructType, str]:
    """Shared malformed-record policy for the corpus readers: maps the
    policy name to Spark's parser mode and, for ``quarantine``, extends
    the read schema with the ``_corrupt_record`` column."""
    modes = {
        "drop": "DROPMALFORMED",
        "quarantine": "PERMISSIVE",
        "fail": "FAILFAST",
    }
    if bad_records not in modes:
        raise ValueError(f"bad_records must be one of {sorted(modes)}")
    read_schema = schema
    if bad_records == "quarantine":
        from pyspark.sql.types import StringType, StructField

        read_schema = StructType(
            list(schema.fields) + [StructField("_corrupt_record", StringType())]
        )
    return read_schema, modes[bad_records]


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: StructType,
    bad_records: str = "drop",
) -> DataFrame:
    """JSON-lines corpus ingest with an explicit malformed-line policy —
    the standard LLM-pipeline input format, where a 100 TB crawl drop
    ALWAYS contains broken lines and the policy must be a decision, not
    an accident.

    - ``drop`` (default): DROPMALFORMED — broken lines vanish; pair
      with a count check when loss must be bounded.
    - ``quarantine``: PERMISSIVE with a ``_corrupt_record`` column —
      broken lines survive as raw text for a side-channel audit sink;
      well-formed rows have it null.
    - ``fail``: FAILFAST — any broken line kills the job (ingest
      contracts where silence is worse than failure).

    Schema is mandatory (schema-on-read, never inference — inference
    is a full extra pass at this scale and nondeterministic under
    corruption).
    """
    read_schema, mode = _corrupt_policy(schema, bad_records)
    return (
        spark.read.schema(read_schema)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_csv_corpus(
    spark: SparkSession,
    path: str,
    schema: StructType,
    bad_records: str = "drop",
    **options,
) -> DataFrame:
    """CSV corpus ingest with the same explicit malformed-line policies
    as ``read_jsonl_corpus`` (drop / quarantine / fail) — tabular
    metadata drops (URL lists, quality scores, license tables) arrive
    as CSV at least as often as JSONL, and the same rule applies: the
    policy is a decision, not an accident. Schema mandatory, header on
    by default, no inference.
    """
    read_schema, mode = _corrupt_policy(schema, bad_records)
    return (
        spark.read.schema(read_schema)
        .option("header", options.pop("header", "true"))
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .options(**options)
        .csv(path)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int = 64,
    seed: str = "seed42",
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Export a corpus as deterministically shuffled training shards:
    shard = seeded digest of the id, rows ordered by digest within each
    shard — a reproducible global permutation (same seed → same byte
    layout) with NO global sort. One shuffle on the shard key, one
    in-partition sort; readers stream ``_shard=k`` directories in any
    order and still see a seed-stable permutation. The write-side twin
    of the ``corpus_shard_shuffle`` query.
    """
    sharded = df.withColumn(
        "_h", F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    ).withColumn(
        "_shard",
        F.pmod(
            F.conv(F.substring("_h", 1, 8), 16, 10).cast("long"),
            F.lit(n_shards),
        ).cast("int"),
    )
    (
        sharded.repartition(n_shards, F.col("_shard"))
        .sortWithinPartitions(F.col("_shard"), F.col("_h"))
        .drop("_h")
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("_shard")
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list,
    n_buckets: int = 32,
    sort_cols: list | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Catalog-registered BUCKETED table (``CLUSTERED BY (cols) [SORTED
    BY ...] INTO n BUCKETS``) — the co-located-join layout for 100 TB
    fact-to-fact joins.

    ``write_sorted_bucketed`` above gives directory pruning for
    key-equality reads; THIS writer additionally records the bucket
    spec in the session catalog, which lets Catalyst prove both sides
    of an equi-join on the bucket columns are already hash-distributed
    the same way and ELIDE the shuffle entirely (SortMergeJoin with
    zero Exchange — asserted in tests/test_plans.py). The standard
    pattern for a recurring big-big join (lineitem ⋈ orders on
    orderkey): pay the distribution once at write, join shuffle-free
    forever after. Both sides must use the SAME n_buckets (or an
    integer multiple, with bucket coalescing). ``path`` makes it an
    external table; without it the session warehouse hosts the data.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def write_zordered(
    df: DataFrame,
    path: str,
    zcols: list,
    n_files: int = 32,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) file layout: cluster rows so that EVERY
    ``zcols`` dimension gets tight per-file min/max ranges — the
    multi-dimensional answer to "sorted by ts prunes ts scans but not
    user scans". Each column is min-max scaled to ``bits`` bits (one
    bounded stats job), the per-row z-value interleaves the bit planes
    (pure JVM fold — no UDF), and files are range-partitioned + sorted
    by it. Parquet row-group/file skipping then prunes point and range
    predicates on ANY of the dimensions (asserted in
    tests/test_sources.py by comparing per-file spreads against a
    one-column sort). The standard lakehouse layout move for 100 TB
    fact tables scanned along several axes; re-run on the compaction
    cadence as data arrives. Numeric/timestamp columns only."""
    if len(zcols) < 2:
        raise ValueError("z-ordering needs >= 2 columns (else just sort)")
    if len(zcols) * bits > 63:
        # shift b*nd+i must stay below the bigint sign bit; Java shifts
        # wrap mod 64 past it, silently mixing unrelated bit planes
        raise ValueError(
            f"{len(zcols)} columns x {bits} bits = "
            f"{len(zcols) * bits} z-value bits; a 64-bit signed z-value "
            f"holds 63 — lower bits (e.g. bits={63 // len(zcols)})"
        )
    dtypes = dict(df.dtypes)

    def _num(c: str) -> str:
        t = dtypes[c]
        if t.startswith("timestamp"):
            # timestamp_ntz casts to double only via micros
            return f"cast(unix_micros(cast(`{c}` AS timestamp)) AS double)"
        if t == "date":
            return f"cast(datediff(`{c}`, DATE'1970-01-01') AS double)"
        return f"cast(`{c}` AS double)"

    stats = df.agg(
        *[F.expr(f"min({_num(c)})").alias(f"mn_{i}") for i, c in enumerate(zcols)],
        *[F.expr(f"max({_num(c)})").alias(f"mx_{i}") for i, c in enumerate(zcols)],
    ).head()
    top = (1 << bits) - 1
    out = df
    for i, c in enumerate(zcols):
        mn, mx = stats[f"mn_{i}"], stats[f"mx_{i}"]
        span = (mx - mn) or 1.0
        out = out.withColumn(
            f"_zn_{i}",
            F.expr(
                f"cast(least(greatest(({_num(c)} - {mn!r}D) "
                f"/ {span!r}D, 0D), 1D) * {top} AS bigint)"
            ),
        )
    nd = len(zcols)
    planes = " + ".join(
        f"shiftleft(shiftright(_zn_{i}, b) & 1, b * {nd} + {i})"
        for i in range(nd)
    )
    zval = (
        f"aggregate(sequence(0, {bits - 1}), 0L, "
        f"(acc, b) -> acc + {planes})"
    )
    (
        out.withColumn("_zval", F.expr(zval))
        .repartitionByRange(n_files, F.col("_zval"))
        .sortWithinPartitions("_zval")
        .drop("_zval", *[f"_zn_{i}" for i in range(nd)])
        .write.mode(mode)
        .parquet(path)
    )


def newest_generation(spark: SparkSession, path: str, schema: str = "epoch long"):
    """The ``_epochs`` row of the newest committed generation of the
    index at ``path`` (lifecycle: module docstring). ``schema`` names
    the columns to read, so the read runs no schema-inference job; the
    row comes back in one job over the one-row-per-generation table."""
    return (
        spark.read.schema(schema)
        .parquet(path + "/_epochs")
        .orderBy(F.desc("epoch"))
        .head()
    )


def next_epoch(spark: SparkSession, path: str) -> int:
    """The stamp of the next generation of the index at ``path``: its
    newest committed generation + 1."""
    return newest_generation(spark, path).epoch + 1


def commit_generation(
    spark: SparkSession, path: str, epoch: int, mode: str,
    stats: DataFrame | None = None,
) -> None:
    """Commit generation ``epoch`` of the index at ``path``: write its
    row to ``_epochs`` (mode ``overwrite`` for the build's generation 0,
    ``append`` after). Call it after the generation's data is written.
    ``stats`` is an optional one-row frame of scalars the generation
    carries (BM25's ``n_docs``, ``avgdl``)."""
    row = (
        spark.createDataFrame([(epoch,)], "epoch long")
        if stats is None
        else stats.select(F.lit(epoch).cast("long").alias("epoch"), "*")
    )
    row.coalesce(1).write.mode(mode).parquet(path + "/_epochs")


def staged_partition_overwrite(
    df: DataFrame, path: str, partition_col: str, sort_cols: list, scope=None
) -> None:
    """Object-store-safe rewrite of the partitions in ``scope`` (None:
    every partition) of a parquet table partitioned by
    ``partition_col``: the one commit protocol of
    ``WideColumnTable.compact`` (``scope`` is its ``buckets``) and the
    four index compactors. ``df`` holds the rows the rewritten
    partitions keep.

    1. Write ``df`` unpartitioned to a run-unique staging dir NEXT to
       the target: one all-or-nothing Spark commit and no shuffle;
       concurrent maintenance jobs never share a stage.
    2. Re-read the staged rows and dynamic-overwrite the target, each
       file ordered by ``sort_cols`` (led by ``partition_col``): every
       partition the staged rows hold is replaced in its own commit, so
       concurrent readers always see a complete partition.
    3. Delete the in-scope partition directories the staged rows no
       longer hold (every row in them was dropped), reclaiming their
       space; a partition outside ``scope`` is never touched.
    4. Drop staging via the Hadoop FileSystem API (s3a/gs/abfs/hdfs/file
       alike), in a ``finally`` so a failed overwrite doesn't leak the
       stage dir.
    """
    import uuid as _uuid

    spark = df.sparkSession
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    stage = f"{path}.compacting-{_uuid.uuid4().hex[:12]}"
    fs = hadoop_path(stage).getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        df.write.mode("overwrite").parquet(stage)
        staged = spark.read.parquet(stage)
        conf = spark.conf
        prev = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                staged.repartition(F.col(partition_col))
                .sortWithinPartitions(*sort_cols)
                .write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(path)
            )
        finally:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        kept = {
            str(r[0]) for r in staged.select(partition_col).distinct().collect()
        }
        in_scope = None if scope is None else {str(v) for v in scope}
        for status in fs.listStatus(hadoop_path(path)):
            name = status.getPath().getName()
            if not name.startswith(f"{partition_col}="):
                continue
            value = name.split("=", 1)[1]
            if value not in kept and (in_scope is None or value in in_scope):
                fs.delete(status.getPath(), True)
    finally:
        fs.delete(hadoop_path(stage), True)
