"""SparkSession factory with scale-oriented defaults.

The reference opens a new Cassandra session per request
(``server.py:51-62``) — an anti-pattern we do not copy: the engine holds
one SparkSession. Config choices mirror the survey's scale pass
(SURVEY.md §7.2 step 7): AQE on (runtime re-planning, skew-join
handling, partition coalescing), Arrow for any Pandas-UDF exchange,
shuffle partitions sized for the local harness but overridable for a
real cluster via environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults are for the local[32] test harness. On a 1000-executor
# cluster you would set SPARK_GRAFT_MASTER / SHUFFLE_PARTITIONS from
# the environment (shuffle partitions ~ 2-3x total cores, and AQE
# coalesces down from there).
DEFAULT_MASTER = os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")


def get_spark(app_name: str = "cassandrastack-spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession from ``spark_builder``."""
    return spark_builder(app_name).getOrCreate()


def spark_builder(app_name: str = "cassandrastack-spark") -> SparkSession.Builder:
    """The engine's configured session builder; a tool adds its own
    confs on top before ``getOrCreate()``.

    Every setting here is a plain public Spark conf:

    - AQE: coalesces post-shuffle partitions and splits skewed ones at
      runtime — the engine's answer to the reference's guardrails
      (tombstone/large-partition warnings, ``cassandra.yaml:1150-1164``).
    - ``autoBroadcastJoinThreshold`` raised to 64 MB: the star-schema
      dims (region/nation/supplier/part/customer) stay broadcast-able
      well past sf1, avoiding shuffles on the fact-table side.
    - Arrow enabled: any Pandas-UDF operator (minhash, multimodal)
      moves data in columnar batches, never row-at-a-time pickle.
    - ``spark.python.sql.dataFrameDebugging.enabled`` off: with it on
      (PySpark's default), every Column function walks the Python stack
      and makes about four extra py4j round-trips to record its call
      site, which roughly doubles plan-building time for a point read
      (the wide-column store's per-request cost). Trade-off: an error
      raised by a failing Column no longer carries its Python call site
      in the query context; the JVM error still names the expression.
      PySpark reads this once per process, so it is set here on the
      builder, not later through ``spark.conf.set``.
    """
    return (
        SparkSession.builder.appName(app_name)
        .master(DEFAULT_MASTER)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): an r16 A/B of
        # size-based coalescing (parallelismFirst=false, 64m advisory)
        # regressed the 14-query probe set 79s -> 131s — the dedup/ANN
        # verification stages are CPU-bound per shuffled byte (array
        # intersections, cosine math on KB-scale exchanges), and
        # size-based coalescing serialized them onto 1 task. See
        # OPTIMIZATION_r16.md "measured negatives".
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Local-harness default 16 MB: the test files are single-digit-MB,
        # and 128 MB splits would hand a whole table to ONE task (measured:
        # the dedup shingle stage ran 1-of-32 cores). On a real cluster
        # with TB-scale inputs set 128-256 MB via the environment.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
        # Some testdata generations carry TIMESTAMP(NANOS), which Spark's
        # vectorized reader rejects; with this conf they read as long nanos
        # and read_table converts (current generations are plain micros,
        # for which the conf is a no-op).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the driver parquet tables as temp views; return dict of DataFrames.

    Load pattern per TESTDATA.md; one parquet file per table.
    """
    all_names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for name in names or all_names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
