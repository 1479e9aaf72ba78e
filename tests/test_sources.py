"""Source/sink surface tests: format round-trips with explicit schemas,
the scale-aware sorted/bucketed sink layout, and the Cassandra seam."""

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cassandrastack_spark.sources.io import (
    cassandra_table,
    read_file,
    read_table,
    write_file,
    write_sorted_bucketed,
)

SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("name", StringType()),
        StructField("v", DoubleType()),
    ]
)

ROWS = [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)]


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_roundtrip_all_formats(spark, tmp_path, fmt):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / fmt)
    write_file(df, path, fmt)
    back = read_file(spark, path, fmt, schema=SCHEMA)
    assert sorted((r.k, r.name, r.v) for r in back.collect()) == ROWS
    assert back.schema == SCHEMA, "explicit schema round-trips exactly"


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_text_formats_require_schema(spark, tmp_path, fmt):
    with pytest.raises(ValueError, match="explicit schema"):
        read_file(spark, str(tmp_path), fmt)


def test_unsupported_format_rejected(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    with pytest.raises(ValueError, match="unsupported"):
        write_file(df, str(tmp_path / "x"), "avro")
    with pytest.raises(ValueError, match="unsupported"):
        read_file(spark, str(tmp_path), "xml", schema=SCHEMA)


def test_read_table_events_ts_is_timestamp(spark):
    e = read_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(e.dtypes)["ts"] == "timestamp", (
        "events ts must be normalized to TimestampType regardless of the "
        "file's physical encoding (long nanos or native micros)"
    )
    assert e.count() > 0


def test_read_table_events_both_physical_encodings(spark, tmp_path):
    """The driver's testdata generator has shipped events.ts as BOTH
    TIMESTAMP(NANOS) (round 1) and TIMESTAMP(MICROS) (round 2); an
    unconditional conversion for either encoding breaks the moment the
    data is regenerated with the other. Pin: identical values and the
    same TimestampType out of read_table for both."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5]),
        "props": pa.array(["{}", "{}"]),
    }
    stamps = [
        dt.datetime(2024, 1, 1, 12, 0, 0, 123456),
        dt.datetime(2024, 3, 5, 7, 30, 1, 654321),
    ]
    out = {}
    for enc, arrow_t in [("nanos", pa.timestamp("ns")), ("micros", pa.timestamp("us"))]:
        d = tmp_path / enc
        d.mkdir()
        tbl = pa.table({**rows, "ts": pa.array(stamps, arrow_t)})
        pq.write_table(tbl, str(d / "events.parquet"), version="2.6")
        e = read_table(spark, str(d), "events")
        assert dict(e.dtypes)["ts"] == "timestamp", enc
        out[enc] = [r["ts"] for r in e.orderBy("event_id").collect()]
    assert out["nanos"] == out["micros"] == stamps


def test_write_sorted_bucketed_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [(i % 4, i, float(i)) for i in range(100)],
        "part long, seq long, v double",
    )
    path = str(tmp_path / "bucketed")
    write_sorted_bucketed(df, path, "part", [F.desc("seq")], n_partitions=4)
    dirs = sorted(d for d in os.listdir(path) if d.startswith("part="))
    assert dirs == ["part=0", "part=1", "part=2", "part=3"], (
        "one directory per partition-key value -> equality reads prune"
    )
    back = spark.read.parquet(path)
    assert back.count() == 100
    # rows inside each file are stored newest-first (clustering order):
    # reading a single partition directory without a sort returns the
    # file order, which must be seq DESC.
    one = spark.read.parquet(os.path.join(path, "part=0")).select("seq").collect()
    seqs = [r.seq for r in one]
    assert seqs == sorted(seqs, reverse=True)


def test_cassandra_seam_raises_clearly_without_connector(spark):
    with pytest.raises(RuntimeError, match="spark-cassandra-connector"):
        cassandra_table(spark, "ks", "tbl")


def test_jsonl_corpus_malformed_line_policies(spark, tmp_path):
    """The three malformed-line policies: drop loses exactly the broken
    lines, quarantine keeps them as raw text in _corrupt_record, fail
    raises. Schema inference is refused by design (explicit schema)."""
    import pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cassandrastack_spark.sources.io import read_jsonl_corpus

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good one"}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "another good"}\n'
        '{"doc_id": broken\n'
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    dropped = read_jsonl_corpus(spark, str(p), schema, bad_records="drop")
    assert {r.doc_id for r in dropped.collect()} == {1, 2}
    quarantined = read_jsonl_corpus(spark, str(p), schema, bad_records="quarantine")
    rows = quarantined.collect()
    assert len(rows) == 4
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 2 and all(r.doc_id is None for r in bad)
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_jsonl_corpus(spark, str(p), schema, bad_records="fail").collect()
    with pytest.raises(ValueError, match="bad_records"):
        read_jsonl_corpus(spark, str(p), schema, bad_records="nope")


def test_read_csv_corpus_policies(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cassandrastack_spark.sources.io import read_csv_corpus

    p = tmp_path / "c.csv"
    p.write_text(
        "doc_id,text\n"
        "1,alpha\n"
        "not_a_number,beta\n"
        "3,gamma\n"
    )
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    ok = read_csv_corpus(spark, str(p), schema, bad_records="drop")
    assert sorted(r.doc_id for r in ok.collect()) == [1, 3]
    q = read_csv_corpus(spark, str(p), schema, bad_records="quarantine")
    rows = q.collect()
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(rows) == 3 and len(bad) == 1
    assert "not_a_number" in bad[0]._corrupt_record
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_csv_corpus(spark, str(p), schema, bad_records="fail").collect()


def test_write_training_shards_reproducible_permutation(spark, tmp_path):
    from cassandrastack_spark.sources.io import read_table, write_training_shards

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    out1, out2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(docs, out1, "doc_id", n_shards=4)
    write_training_shards(docs, out2, "doc_id", n_shards=4)
    a = spark.read.parquet(out1)
    b = spark.read.parquet(out2)
    # complete: every doc exactly once across shards
    assert a.count() == docs.count()
    assert a.select("doc_id").distinct().count() == docs.count()
    # deterministic: same seed -> identical shard assignment
    pa = {r.doc_id: r._shard for r in a.collect()}
    pb = {r.doc_id: r._shard for r in b.collect()}
    assert pa == pb
    # different seed -> a different permutation (with 500 docs the
    # chance of identical assignment is ~0)
    out3 = str(tmp_path / "s3")
    write_training_shards(docs, out3, "doc_id", n_shards=4, seed="other")
    pc = {r.doc_id: r._shard
          for r in spark.read.parquet(out3).collect()}
    assert pc != pa
    # shards are directory-pruned: reading one shard touches one dir
    one = spark.read.parquet(out1).filter(F.col("_shard") == 2)
    assert 0 < one.count() < docs.count()


def test_zorder_layout_tightens_both_dimensions(spark, tmp_path):
    """write_zordered on (user_id, ts): per-file value spreads must be
    small on BOTH dimensions, while a ts-sorted layout leaves user_id
    spreads at ~the global range — the property that makes row-group
    skipping work for predicates on either column."""
    from pyspark.sql import functions as F

    from cassandrastack_spark.sources.io import write_zordered

    ev = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    ).select("user_id", "ts", "value")

    def mean_norm_spread(path, col):
        df = spark.read.parquet(path).withColumn("f", F.input_file_name())
        numeric = (
            F.unix_micros(F.col(col).cast("timestamp")).cast("double")
            if dict(df.dtypes)[col].startswith("timestamp")
            else F.col(col).cast("double")
        )
        df = df.withColumn(col, numeric)
        g = F.col("gmx") - F.col("gmn")
        per = (
            df.groupBy("f")
            .agg((F.max(col) - F.min(col)).alias("spread"))
            .crossJoin(
                F.broadcast(
                    df.agg(F.min(col).alias("gmn"), F.max(col).alias("gmx"))
                )
            )
            .select((F.col("spread") / g).alias("ns"))
        )
        return per.agg(F.avg("ns")).head()[0]

    z = str(tmp_path / "z")
    write_zordered(ev, z, ["user_id", "ts"], n_files=16)
    s = str(tmp_path / "s")
    (
        ev.repartitionByRange(16, F.col("ts"))
        .sortWithinPartitions("ts")
        .write.parquet(s)
    )
    z_user, z_ts = mean_norm_spread(z, "user_id"), mean_norm_spread(z, "ts")
    s_user = mean_norm_spread(s, "user_id")
    assert z_user < 0.6 and z_ts < 0.6, (z_user, z_ts)
    assert s_user > 0.8, s_user  # single-dim sort leaves the other dim wide
    assert z_user < s_user / 1.5
    # same rows either way
    assert spark.read.parquet(z).count() == ev.count()

    with pytest.raises(ValueError, match=">= 2 columns"):
        write_zordered(ev, str(tmp_path / "bad"), ["ts"])


def test_zorder_rejects_bit_overflow(spark, tmp_path):
    """Review-fix regression: nd * bits > 63 would push bit planes into
    (or past) the sign bit — must fail loud, not corrupt the layout."""
    from cassandrastack_spark.sources.io import write_zordered

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    with pytest.raises(ValueError, match="63"):
        write_zordered(
            ev, str(tmp_path / "zz"),
            ["user_id", "ts", "value", "event_id"], bits=16)


class _RecordingWriter:
    """Duck-typed DataFrameWriter: records the format string, option
    map, and mode that cassandra_write builds, instead of saving."""

    def __init__(self, rec):
        self.rec = rec
        self.rec["options"] = {}

    def format(self, fmt):
        self.rec["format"] = fmt
        return self

    def option(self, k, v):
        self.rec["options"][k] = v
        return self

    def mode(self, m):
        self.rec["mode"] = m
        return self

    def save(self):
        self.rec["saved"] = True


class _RecordingReader(_RecordingWriter):
    def load(self):
        self.rec["loaded"] = True
        return "SENTINEL_DF"


def test_cassandra_write_option_map_contract():
    """The connector seam can't drift (W4): cassandra_write must hand
    the connector format string, keyspace/table, and the consistency
    level (server.py:137's BatchStatement consistency selection mapped
    onto spark.cassandra.output.consistency.level) VERBATIM — asserted
    against a recording writer, no server needed."""
    import types

    from cassandrastack_spark.sources.io import cassandra_write

    rec = {}
    fake_df = types.SimpleNamespace(write=_RecordingWriter(rec))
    cassandra_write(
        fake_df, "socialmessage", "messages",
        consistency_level="QUORUM",
        **{"spark.cassandra.connection.host": "c1.example"},
    )
    assert rec["format"] == "org.apache.spark.sql.cassandra"
    assert rec["mode"] == "append"
    assert rec["saved"] is True
    assert rec["options"] == {
        "keyspace": "socialmessage",
        "table": "messages",
        "spark.cassandra.output.consistency.level": "QUORUM",
        "spark.cassandra.connection.host": "c1.example",
    }


def test_cassandra_read_option_map_contract():
    """Read side of the seam: format string + keyspace/table + caller
    options land verbatim on the reader, and the loaded frame is
    returned untouched."""
    import types

    from cassandrastack_spark.sources.io import cassandra_table

    rec = {}
    fake_spark = types.SimpleNamespace(read=_RecordingReader(rec))
    out = cassandra_table(
        fake_spark, "socialmessage", "users",
        **{"spark.cassandra.input.split.sizeInMB": "64"},
    )
    assert out == "SENTINEL_DF"
    assert rec["format"] == "org.apache.spark.sql.cassandra"
    assert rec["loaded"] is True
    assert rec["options"] == {
        "keyspace": "socialmessage",
        "table": "users",
        "spark.cassandra.input.split.sizeInMB": "64",
    }


def test_widen_for_compute_key_cols_spreads_duplicate_heavy_frames(
    spark, tmp_path
):
    """The whole-row-hash default CO-LOCATES duplicate rows (every copy
    hashes identically), which skews the widened stage on exactly the
    frames this engine is about — dedup corpora with heavy exact
    duplication. This test documents that behavior and pins the fix:
    an explicit high-cardinality ``key_cols`` spreads the same frame
    near-uniformly. Single-file input so the widen path actually
    fires (inputFiles < defaultParallelism)."""
    from pyspark.sql import functions as F

    from cassandrastack_spark.sources.io import widen_for_compute

    # 4000 rows, only 2 distinct payloads — worst-case duplication;
    # unique ids alongside (the dedup-corpus shape: distinct doc_id,
    # duplicated text)
    p = str(tmp_path / "dups.parquet")
    (
        spark.range(4000)
        .select(
            F.col("id"),
            (F.col("id") % 2).cast("string").alias("payload"),
        )
        .coalesce(1)
        .write.parquet(p)
    )
    df = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism

    def occupancy(frame):
        rows = (
            frame.select(F.spark_partition_id().alias("p"))
            .groupBy("p")
            .count()
            .collect()
        )
        return len(rows), max(r["count"] for r in rows)

    # whole-row hash: duplicates co-locate — at most 2 non-empty
    # partitions no matter the target (the documented skew hazard)
    n_row, _ = occupancy(widen_for_compute(df.select("payload")))
    assert n_row <= 2

    # explicit key on the unique id: near-uniform spread
    n_key, mx_key = occupancy(
        widen_for_compute(df.select("id", "payload"), key_cols=["id"])
    )
    assert n_key > 2
    assert mx_key < 4000  # no single task holds the whole frame
    # and the spread approaches the session's parallelism
    assert n_key >= min(target, 4) // 2


def test_checkpoint_if_small_fails_closed_on_unknown_size(spark, tmp_path):
    """The size gate checkpoints only inputs it can size. A local
    relation lists no input files — its size is unknown, not zero — so
    it must come back un-checkpointed, while a small parquet-backed
    frame is still materialized."""
    from cassandrastack_spark.sources.io import checkpoint_if_small

    local = spark.createDataFrame(ROWS, SCHEMA)
    assert local.inputFiles() == []
    assert checkpoint_if_small(local) is local

    p = str(tmp_path / "small.parquet")
    local.write.parquet(p)
    small = spark.read.parquet(p)
    done = checkpoint_if_small(small)
    assert done is not small
    assert done.inputFiles() == []  # scans replaced by checkpoint blocks
    assert sorted(map(tuple, done.collect())) == ROWS


def test_checkpoint_if_small_sizes_cache_substituted_input(spark, tmp_path):
    """A small parquet frame that is persisted and materialized lists no
    files in its optimized plan (the cache replaced the scan); the gate
    sizes it from the analyzed plan and still checkpoints it."""
    from cassandrastack_spark.sources.io import checkpoint_if_small

    p = str(tmp_path / "cached.parquet")
    spark.createDataFrame(ROWS, SCHEMA).write.parquet(p)
    cached = spark.read.parquet(p).persist()
    try:
        cached.count()
        again = spark.read.parquet(p)
        assert again.inputFiles() == []  # cache substitution hides the scan
        done = checkpoint_if_small(again)
        assert done is not again
        assert sorted(map(tuple, done.collect())) == ROWS
    finally:
        cached.unpersist()


def test_table_artifact_builds_once_per_directory(tmp_path):
    """One build per (kind, absolute sf_dir): a trailing slash names the
    same directory, another kind or directory builds its own."""
    from cassandrastack_spark.sources.io import table_artifact

    sf = tmp_path / "sf"
    sf.mkdir()
    built = []

    def build(path):
        assert os.listdir(path) == []
        built.append(path)
        open(os.path.join(path, "part-0"), "w").close()

    first = table_artifact(str(sf), "t_once", build)
    assert table_artifact(str(sf) + "/", "t_once", build) == first
    assert built == [first]
    assert os.path.exists(os.path.join(first, "part-0"))
    other = table_artifact(str(sf), "t_once_other", build)
    assert other != first and built == [first, other]


def test_table_artifact_failed_build_leaves_nothing(tmp_path):
    """A build that raises records no entry and leaves no directory; the
    next call builds again."""
    from cassandrastack_spark.sources import io

    made = []

    def failing(path):
        made.append(path)
        raise RuntimeError("ingest did not finish")

    with pytest.raises(RuntimeError):
        io.table_artifact(str(tmp_path), "t_fail", failing)
    assert not os.path.exists(made[0])
    assert ("t_fail", str(tmp_path)) not in io._ARTIFACTS

    path = io.table_artifact(str(tmp_path), "t_fail", lambda p: None)
    assert path != made[0] and os.path.isdir(path)


def test_table_artifact_root_removed_at_exit(tmp_path):
    """A process that built an artifact and exits normally leaves no
    artifact root behind."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os, sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from cassandrastack_spark.sources.io import table_artifact\n"
        f"p = table_artifact({str(tmp_path)!r}, 'child', "
        "lambda d: open(os.path.join(d, 'f'), 'w').close())\n"
        "assert os.path.exists(os.path.join(p, 'f'))\n"
        "print(os.path.dirname(p))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, check=True,
    )
    root = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(root).startswith("cs_q_")
    assert not os.path.exists(root)
