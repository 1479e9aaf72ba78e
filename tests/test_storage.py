"""Reference-parity tests for the wide-column storage layer.

Asserts the observable semantics catalogued in SURVEY.md §5.1: seed
counts, clustering DESC order (server.py:185), single-partition reads
(server.py:98), upsert on primary key (server.py:307-308), idempotent
DDL, schema-on-write enforcement.
"""

import datetime as dt
import gc
import os
import re
import threading

import pytest
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F

from cassandrastack_spark import schemas
from cassandrastack_spark.catalog import Keyspace
from cassandrastack_spark.hashing import bucket_of
from cassandrastack_spark.storage import WideColumnTable

AUTHOR_A = "a8098c1a-f86e-11da-bd1a-00112444be1e"
AUTHOR_B = "ab398c12-f86e-23da-bd1a-aabb2233be1e"


def seed_messages(spark):
    """15-row seed mirroring the reference batch shape: channel 1 has 13
    messages, channels 2 and 3 one each (server.py:192-206), two author
    uuids, monotonically increasing timestamps."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(13):
        rows.append((1, base + dt.timedelta(seconds=i), f"m-ch1-{i:02d}",
                     AUTHOR_A if i % 2 == 0 else AUTHOR_B, f"channel1 message {i}"))
    rows.append((2, base + dt.timedelta(seconds=20), "m-ch2-00", AUTHOR_A, "channel2 message"))
    rows.append((3, base + dt.timedelta(seconds=21), "m-ch3-00", AUTHOR_B, "channel3 message"))
    return spark.createDataFrame(rows, schemas.MESSAGES)


@pytest.fixture()
def ks(spark, tmp_warehouse):
    ks = Keyspace(spark, "socialmessage", tmp_warehouse).create()
    yield ks
    ks.drop()


def make_messages(spark, ks):
    spec = ks.create_table(
        "messages", schemas.MESSAGES,
        partition_keys=["channel_id"],
        clustering_keys=["message_ts", "message_id"],
        clustering_desc=True,
    )
    return WideColumnTable(spark, ks, spec, n_buckets=4)


def make_users(spark, ks):
    spec = ks.create_table("users", schemas.USERS, partition_keys=["username"])
    return WideColumnTable(spark, ks, spec, n_buckets=4)


def test_seed_counts_and_full_scan(spark, ks):
    t = make_messages(spark, ks)
    t.append(seed_messages(spark))
    assert t.read().count() == 15  # R2: full scan returns all 15


def test_single_partition_read_clustering_desc(spark, ks):
    # R1 (server.py:98): one channel, newest-first (server.py:185)
    t = make_messages(spark, ks)
    t.append(seed_messages(spark))
    rows = t.read_partition(channel_id=1).collect()
    assert len(rows) == 13
    ts = [r.message_ts for r in rows]
    assert ts == sorted(ts, reverse=True), "clustering order must be DESC"
    assert rows[0].message == "channel1 message 12"


def test_partition_read_prunes_to_one_bucket(spark, ks):
    t = make_messages(spark, ks)
    t.append(seed_messages(spark))
    plan = t.read_partition(channel_id=1)._jdf.queryExecution().executedPlan().toString()
    # Catalyst partition pruning: the scan's partition filter pins the
    # one _bucket directory the key hashes to
    bucket = bucket_of([1], t.n_buckets, dtypes=["bigint"])
    filters = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert re.search(rf"\(_bucket#\d+ = {bucket}\)", filters), filters


def test_upsert_last_writer_wins(spark, ks):
    # CQL INSERT is an upsert (server.py:307-308 re-seed overwrites)
    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Alex", "uuid-1", "a@mail.de", "alex")], schemas.USERS))
    t.append(spark.createDataFrame(
        [("Alex", "uuid-2", "a2@mail.de", "alex2"),
         ("Bianca", "uuid-3", "b@mail.de", "bianca")], schemas.USERS))
    out = {r.username: r for r in t.read().collect()}
    assert len(out) == 2, "re-seeding upserts; count stays stable"
    assert out["Alex"].user_id == "uuid-2", "last writer wins"
    assert out["Alex"].email == "a2@mail.de"


def test_schema_on_write_rejects_mismatch(spark, ks):
    t = make_users(spark, ks)
    bad = spark.createDataFrame([("Alex", "x")], "username string, wrong_col string")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(bad)


def test_ddl_idempotent(spark, ks):
    # IF NOT EXISTS semantics: re-create is a no-op, not an error
    s1 = ks.create_table("users", schemas.USERS, partition_keys=["username"])
    s2 = ks.create_table("users", schemas.USERS, partition_keys=["username"])
    assert s1 is s2
    ks2 = Keyspace(spark, "socialmessage", ks.warehouse).create()  # D1 re-run
    assert ks2.path == ks.path


def test_partition_reads_route_a_timestamp_key(spark, ks):
    """A timestamp partition key routes through its internal micros, as
    Spark's hash reads it: the Spark partition read and the driver read
    both find the row."""
    from pyspark.sql.types import (
        StringType, StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("day", TimestampType(), False),
        StructField("v", StringType()),
    ])
    t = WideColumnTable(spark, ks, ks.create_table("days", schema, ["day"]),
                        n_buckets=4)
    day = dt.datetime(2024, 3, 1, 12, 0)
    t.append(spark.createDataFrame([(day, "x"), (dt.datetime(2024, 3, 2), "y")],
                                   schema))
    assert [r.v for r in t.read_partition(day=day).collect()] == ["x"]
    assert [r.v for r in t.read_partition_rows(day=day)] == ["x"]


def test_driver_side_hash_matches_jvm(spark):
    """hashing.py must be bit-exact vs F.hash for every partition-key
    type — the point-lookup bucket route depends on it."""
    from pyspark.sql import functions as F

    from cassandrastack_spark.hashing import bucket_of, spark_hash

    cases = [
        (0,), (1,), (-7,), (2**31 - 1,), (-(2**31),),       # ints
        (2**31,), (-(2**35),), (2**62,),                     # longs
        ("",), ("alice",), ("abcd",), ("héllo wörld",), ("日本語",),
        (True,), (False,), (0.5,), (-0.0,), (None,),
        (1, "user42"), ("alice", 7, "x"),                    # chained seeds
    ]
    for vals in cases:
        cols = []
        for v in vals:
            if v is None:
                cols.append(F.lit(None).cast("string"))
            elif isinstance(v, int) and not isinstance(v, bool) and not (
                -(2**31) <= v < 2**31
            ):
                cols.append(F.lit(v).cast("long"))
            else:
                cols.append(F.lit(v))
        jvm = spark.range(1).select(F.hash(*cols).alias("h")).head().h
        assert spark_hash(*vals) == jvm, f"hash mismatch for {vals}"
        assert bucket_of(list(vals), 16) == (jvm % 16 + 16) % 16
    # declared-type dispatch: a BIGINT column holding a small value must
    # hash as a long (this is the case magnitude-guessing gets wrong)
    for v, dtype in [(1, "bigint"), (0, "bigint"), (-3, "bigint"),
                     (7, "int"), (2.5, "float"), (2.5, "double")]:
        jvm = spark.range(1).select(
            F.hash(F.lit(v).cast(dtype)).alias("h")
        ).head().h
        assert spark_hash(v, dtypes=[dtype]) == jvm, f"{v}:{dtype}"


def test_point_lookup_runs_no_extra_jobs(spark, ks):
    """Building the point-read PLAN must not launch a Spark job — the
    bucket is driver-side arithmetic now (one job per lookup before)."""
    t = make_messages(spark, ks)
    t.append(seed_messages(spark))
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = t.read_partition(channel_id=1)  # plan only, no action
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "planning a point lookup launched a Spark job"
    assert df.count() == 13  # the action itself still works


def test_point_read_and_small_append_job_budget(spark, ks):
    """A point read is one shuffle job plus the result job: its one
    partition is sorted inside one task, with no range exchange and no
    sampling job. A multi-bucket append writes one file per bucket."""
    t = make_messages(spark, ks)
    t.append(seed_messages(spark))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = t.read_partition(channel_id=1)
    rows = df.collect()
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(rows) == 13
    assert len(jobs) <= 2, f"point read ran {len(jobs)} jobs"
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" not in plan
    touched = {
        f"_bucket={bucket_of([c], t.n_buckets, dtypes=['bigint'])}"
        for c in (1, 2, 3)
    }
    assert len(touched) > 1, "seed must span several buckets"
    dirs = {d for d in os.listdir(t.path) if d.startswith("_bucket=")}
    assert dirs == touched
    for d in dirs:
        files = [
            f for f in os.listdir(os.path.join(t.path, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, f"{d} holds {files}"


def test_point_requests_run_no_spark_job(spark, tmp_warehouse):
    """Every request that names one partition of a plain table runs on
    the driver: no Spark job for a REST post, register, channel read or
    login, nor for a CQL INSERT, keyed SELECT or BATCH INSERT. A write
    leaves exactly one new visible part file in the touched bucket and
    no hidden temp file. A table with a static column keeps the Spark
    path."""
    from cassandrastack_spark.api import SocialMessageAPI
    from cassandrastack_spark.cql import CqlSession

    tracker = spark.sparkContext.statusTracker()

    def jobs_of(request):
        before = set(tracker.getJobIdsForGroup(None))
        out = request()
        return out, len(set(tracker.getJobIdsForGroup(None)) - before)

    def files(path):
        return set(os.listdir(path)) if os.path.isdir(path) else set()

    def new_files(bucket_dir, request):
        before = files(bucket_dir)
        out, jobs = jobs_of(request)
        assert jobs == 0, f"{jobs} Spark jobs"
        added = files(bucket_dir) - before
        assert not [f for f in os.listdir(bucket_dir) if f.startswith(".")]
        visible = [f for f in added if not f.startswith((".", "_"))]
        assert len(visible) == 1 and re.fullmatch(
            r"part-.*\.parquet", visible[0]), added
        return out

    api = SocialMessageAPI(spark, tmp_warehouse, n_buckets=4)
    api.create()
    api.messages_create()
    api.users_create()
    channel_dir = os.path.join(
        api.keyspace.table_path("messages"),
        f"_bucket={bucket_of([1], 4, dtypes=['bigint'])}",
    )
    user_dir = os.path.join(
        api.keyspace.table_path("users"),
        f"_bucket={bucket_of(['zoe'], 4, dtypes=['string'])}",
    )
    _, code = new_files(channel_dir, lambda: api.post_channel_message(
        1, {"author_id": "u-1", "message": "hi"}))
    assert code == 201
    _, code = new_files(user_dir, lambda: api.register(
        {"username": "zoe", "email": "z@x", "password": "pw"}))
    assert code == 201
    messages, jobs = jobs_of(lambda: api.get_channel_messages(1))
    assert jobs == 0 and len(messages) == 14 and messages[0]["message"] == "hi"
    (_, code), jobs = jobs_of(
        lambda: api.login({"username": "zoe", "password": "pw"}))
    assert jobs == 0 and code == 200

    cql = CqlSession(spark, tmp_warehouse, n_buckets=4)
    cql.execute(
        "CREATE KEYSPACE pj WITH replication = "
        "{'class': 'SimpleStrategy', 'replication_factor': '1'}")
    cql.execute("USE pj")
    cql.execute("CREATE TABLE kv (k bigint, v text, PRIMARY KEY (k))")
    kv_dir = os.path.join(
        cql.current.table_path("kv"), f"_bucket={bucket_of([7], 4, dtypes=['bigint'])}")
    new_files(kv_dir, lambda: cql.execute(
        "INSERT INTO kv (k, v) VALUES (%s, %s)", (7, "a")))
    rows, jobs = jobs_of(lambda: cql.execute("SELECT * FROM kv WHERE k = %s", (7,)))
    assert jobs == 0 and rows == [{"k": 7, "v": "a"}]
    rows, jobs = jobs_of(
        lambda: cql.execute("SELECT v FROM kv WHERE k = %s LIMIT 1", (7,)))
    assert jobs == 0 and rows == [{"v": "a"}]
    # a second key in the same bucket: the batch still adds one file
    k2 = next(k for k in range(8, 100) if bucket_of([k], 4, dtypes=["bigint"])
              == bucket_of([7], 4, dtypes=["bigint"]))
    new_files(kv_dir, lambda: cql.execute(
        "BEGIN BATCH INSERT INTO kv (k, v) VALUES (%s, 'b'); "
        "INSERT INTO kv (k, v) VALUES (%s, 'c'); APPLY BATCH", (7, k2)))
    assert cql.execute("SELECT v FROM kv WHERE k = 7") == [{"v": "b"}]
    assert cql.execute("SELECT v FROM kv WHERE k = %s", (k2,)) == [{"v": "c"}]
    # one key twice in one write: both rows share a writetime, and the
    # greater value wins (Cassandra's tie rule) on the driver read and
    # the Spark scan alike, whatever the statement order
    cql.execute("BEGIN BATCH INSERT INTO kv (k, v) VALUES (9, 'b'); "
                "INSERT INTO kv (k, v) VALUES (9, 'a'); APPLY BATCH")
    assert cql.execute("SELECT * FROM kv WHERE k = 9") == [{"k": 9, "v": "b"}]
    assert [r for r in cql.execute("SELECT * FROM kv") if r["k"] == 9] == [
        {"k": 9, "v": "b"}]
    cql.execute("BEGIN BATCH INSERT INTO kv (k, v) VALUES (11, 'b'); "
                "INSERT INTO kv (k, v) VALUES (11, 'c'); "
                "INSERT INTO kv (k, v) VALUES (11, 'a'); APPLY BATCH")
    assert cql.execute("SELECT v FROM kv WHERE k = 11") == [{"v": "c"}]
    assert [r["v"] for r in cql.execute("SELECT * FROM kv") if r["k"] == 11] == [
        "c"]

    cql.execute(
        "CREATE TABLE st (k int, c int, s text static, v text, PRIMARY KEY (k, c))")
    _, jobs = jobs_of(lambda: cql.execute(
        "INSERT INTO st (k, c, s, v) VALUES (1, 1, 'x', 'y')"))
    assert jobs > 0
    rows, jobs = jobs_of(lambda: cql.execute("SELECT * FROM st WHERE k = 1"))
    assert jobs > 0 and rows == [{"k": 1, "c": 1, "s": "x", "v": "y"}]


def test_row_marker_rule_ignores_ansi_mode(spark, ks):
    """A full-row write deposits the row marker under either setting of
    ``spark.sql.ansi.enabled`` (``size(NULL)`` is NULL with it and -1
    without), so nulling the row's only payload cell leaves the key
    live, on the Spark read and the driver read alike."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType([
        StructField("id", IntegerType()), StructField("v", StringType()),
    ])
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            spec = ks.create_table(f"ansi_{ansi}", schema, ["id"])
            t = WideColumnTable(spark, ks, spec, n_buckets=4)
            t.append(spark.createDataFrame([(1, "x")], schema))
            # UPDATE t SET v = null WHERE id = 1
            t.append(spark.createDataFrame([(1, None)], schema), cells=["v"])
            want = [{"id": 1, "v": None}]
            assert [r.asDict() for r in t.read().collect()] == want, ansi
            assert [r.asDict() for r in t.read_partition_rows(id=1)] == want
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_local_frame_stores_what_create_dataframe_stores(spark):
    """The write-row helper returns the same schema and values as
    ``createDataFrame`` over every column type the store declares,
    nulls inside collections and null timestamp maps included, and an
    empty frame for no rows."""
    from pyspark.sql.types import (
        ArrayType, BinaryType, BooleanType, DateType, DoubleType, FloatType,
        IntegerType, LongType, MapType, StringType, StructField, StructType,
        TimestampType,
    )

    from cassandrastack_spark.storage import _local_frame

    udt = StructType([
        StructField("a", IntegerType()), StructField("t", TimestampType()),
    ])
    schema = StructType([
        StructField("k", LongType(), False), StructField("i", IntegerType()),
        StructField("d", DoubleType()), StructField("f", FloatType()),
        StructField("b", BooleanType()), StructField("s", StringType()),
        StructField("ts", TimestampType()),
        StructField("l", ArrayType(TimestampType())),
        StructField("m", MapType(StringType(), TimestampType())),
        StructField("mi", MapType(StringType(), IntegerType())),
        StructField("u", udt), StructField("bin", BinaryType()),
        StructField("day", DateType()),
    ])
    ts = dt.datetime(2024, 7, 1, 12, 34, 56, 789012)
    rows = [
        (1, 2, 3.5, 1.25, True, "x", ts, [ts, None], {"a": ts}, {"x": 1},
         (7, ts), b"ab", dt.date(2024, 1, 2)),
        (2,) + (None,) * 12,
        (3, None, None, None, None, "", None, [], {}, {}, (None, None), b"",
         None),
    ]
    df = _local_frame(spark, rows, schema)
    assert df.schema == schema
    assert df.collect() == spark.createDataFrame(rows, schema).collect()
    assert df.collect()[1]["m"] is None
    empty = _local_frame(spark, [], schema)
    assert empty.schema == schema and empty.collect() == []


def make_channel_feed(spark, ks):
    """A table with a static column and set and map collections."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, MapType, StringType, StructField,
        StructType,
    )

    schema = StructType([
        StructField("channel", LongType(), False),
        StructField("msg_id", LongType(), False),
        StructField("channel_name", StringType(), True),
        StructField("tags", ArrayType(StringType()), True),
        StructField("reactions", MapType(StringType(), IntegerType()), True),
    ])
    spec = ks.create_table(
        "feed", schema, ["channel"], clustering_keys=["msg_id"],
        clustering_desc=True, static_columns=["channel_name"],
        collection_columns={"tags": "set", "reactions": "map"},
    )
    t = WideColumnTable(spark, ks, spec, n_buckets=4)
    t.append(spark.createDataFrame(
        [(1, 10, "general", ["a"], {"x": 1}), (1, 11, None, None, None)],
        schema,
    ))
    return t, "channel"


def make_seeded_messages(spark, ks):
    t = make_messages(spark, ks)
    t.append(seed_messages(spark))
    return t, "channel_id"


@pytest.mark.parametrize("make", [make_seeded_messages, make_channel_feed],
                         ids=["plain", "statics_collections"])
def test_point_read_plan_build_py4j_ceiling(spark, ks, monkeypatch, make):
    """Building a point read's plan is a bounded number of py4j
    round-trips, on a plain table and on one with statics and
    collections: Column call-site capture is off in the session, and
    every reconciliation is built from SQL text. About 1,500 calls
    otherwise."""
    t, key = make(spark, ks)
    t.read_partition(**{key: 1})  # the first build pays one-time lookups
    gc.collect()
    calls = []
    send = GatewayClient.send_command
    build_thread = threading.get_ident()

    def counting(self, *args, **kwargs):
        # only the building thread's calls: py4j releases dead Java
        # proxies from its own thread, whenever Python frees them
        if threading.get_ident() == build_thread:
            calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    t.read_partition(**{key: 1})  # plan only, no action
    monkeypatch.undo()
    assert len(calls) <= 150, f"{len(calls)} py4j calls to build a point read"


def test_compact_preserves_current_state(spark, ks):
    t = make_users(spark, ks)
    t.append(spark.createDataFrame([("Alex", "u1", "a@x", "p")], schemas.USERS))
    t.append(spark.createDataFrame([("Alex", "u2", "a@x", "p")], schemas.USERS))
    t.compact()
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].user_id == "u2"


def test_login_flow_point_lookup(spark, ks):
    # R4 (server.py:250-259) with the empty-result bug fixed: wrong user
    # or wrong password -> empty result, not an exception
    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Alex", "u1", "a@mail.de", "alex")], schemas.USERS))
    users = t.read()
    ok = users.filter((F.col("username") == "Alex") & (F.col("password") == "alex"))
    assert ok.select("user_id", "username", "email").count() == 1
    bad_pw = users.filter((F.col("username") == "Alex") & (F.col("password") == "no"))
    assert bad_pw.count() == 0
    unknown = users.filter((F.col("username") == "Zoe") & (F.col("password") == "x"))
    assert unknown.count() == 0


def test_row_ttl_expiry_and_compaction(spark, ks):
    """TTL semantics: expired rows vanish from reads, expired newest
    versions remove the key rather than resurrect older data, compact()
    physically drops them while carrying live TTLs through."""
    t = make_users(spark, ks)
    rows = spark.createDataFrame(
        [("alex", "u1", "a@x", "pw"), ("bianca", "u2", "b@x", "pw")],
        schemas.USERS,
    )
    t.append(rows)
    # overwrite alex with a short-TTL version and let it expire (TTL
    # counts from server-now; TTL 0 is CQL's "no TTL", not instant death)
    t.append(
        spark.createDataFrame([("alex", "u1b", "a2@x", "pw2")], schemas.USERS),
        ttl_seconds=1,
    )
    import time as _time

    _time.sleep(1.2)
    live = {r.username for r in t.read().collect()}
    assert live == {"bianca"}, "expired newest version must kill the key"
    # a FUTURE ttl stays readable and survives compaction
    t.append(
        spark.createDataFrame([("carol", "u3", "c@x", "pw")], schemas.USERS),
        ttl_seconds=3600,
    )
    t.compact()
    live = {r.username for r in t.read().collect()}
    assert live == {"bianca", "carol"}
    # compaction physically dropped the expired + shadowed alex rows
    raw = spark.read.parquet(t.path)
    assert raw.filter(F.col("username") == "alex").count() == 0
    # and carol's TTL survived the rewrite
    carol = raw.filter(F.col("username") == "carol").head()
    assert carol._expires is not None


def test_materialized_view_propagation_and_refresh(spark, ks):
    """C* 3.0 materialized views: write-path propagation, alternate-key
    pruned reads, PK-superset validation, refresh after key-move."""
    t = make_messages(spark, ks)

    # C* rule: view PK must contain every base PK column
    with pytest.raises(ValueError, match="must include all base"):
        ks.create_materialized_view(
            "messages", "bad_mv", partition_keys=["author_id"]
        )

    spec = ks.create_materialized_view(
        "messages", "messages_by_author",
        partition_keys=["author_id"],
        clustering_keys=["channel_id", "message_ts", "message_id"],
        clustering_desc=True,
    )
    mv = WideColumnTable(spark, ks, spec, n_buckets=4)
    t.append(seed_messages(spark))

    # the view answers the by-author access path with the same rows
    by_a = mv.read_partition(author_id=AUTHOR_A).collect()
    assert {r.author_id for r in by_a} == {AUTHOR_A}
    assert len(by_a) == 8  # 7 even-index ch1 rows + ch2 seed
    base_a = [r for r in t.read().collect() if r.author_id == AUTHOR_A]
    assert len(base_a) == len(by_a)

    # views of views are rejected
    with pytest.raises(ValueError, match="views of views"):
        ks.create_materialized_view(
            "messages_by_author", "mv2",
            partition_keys=["author_id", "channel_id", "message_ts", "message_id"],
        )

    # upsert that MOVES the view key strands the old view row until refresh
    moved = spark.createDataFrame(
        [(2, dt.datetime(2024, 1, 1, 12, 0, 20), "m-ch2-00", AUTHOR_B, "re-authored")],
        schemas.MESSAGES,
    )
    t.append(moved)
    assert {r.message for r in mv.read_partition(author_id=AUTHOR_B).collect()} >= {"re-authored"}
    stale = [r for r in mv.read_partition(author_id=AUTHOR_A).collect() if r.channel_id == 2]
    assert stale, "pre-refresh: old-key row still visible (documented)"
    mv.refresh_view()
    assert not [r for r in mv.read_partition(author_id=AUTHOR_A).collect() if r.channel_id == 2]
    assert len(mv.read().collect()) == len(t.read().collect())


def test_secondary_index_pruned_probe(spark, ks):
    """CREATE INDEX on a non-key column: probe prunes to one index
    bucket; results match a full-scan filter; upserts propagate."""
    t = make_messages(spark, ks)
    ks.create_index("messages", "author_id")
    t.append(seed_messages(spark))

    got = t.read_by_index("author_id", AUTHOR_B).collect()
    want = [r for r in t.read().collect() if r.author_id == AUTHOR_B]
    assert {r.message_id for r in got} == {r.message_id for r in want}
    assert len(got) == 7

    # the probe's scan is pruned to ONE bucket directory of the index
    plan = t.read_by_index("author_id", AUTHOR_B)._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[[^\]]*_bucket", plan)
    assert m, f"expected a _bucket partition filter in:\n{plan[:2000]}"

    # write-path propagation keeps the index current
    t.append(spark.createDataFrame(
        [(9, dt.datetime(2024, 1, 2), "m-new", AUTHOR_B, "fresh")],
        schemas.MESSAGES,
    ))
    assert "fresh" in {r.message for r in t.read_by_index("author_id", AUTHOR_B).collect()}


def test_counter_table_sums_increments(spark, ks):
    """CQL counter semantics: appends are increments merged by SUM per
    key (not last-writer-wins); negatives decrement; compaction folds
    increments into one row without changing totals; DDL rules hold."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("page", StringType(), False),
        StructField("hits", LongType(), True),
        StructField("errors", LongType(), True),
    ])
    with pytest.raises(ValueError, match="cannot be key"):
        ks.create_table("bad1", schema, ["page"], counter_columns=["page"])
    with pytest.raises(ValueError, match="must all be counters"):
        ks.create_table("bad2", schema, ["page"], counter_columns=["hits"])

    spec = ks.create_table(
        "page_counters", schema, ["page"], counter_columns=["hits", "errors"]
    )
    t = WideColumnTable(spark, ks, spec, n_buckets=4)
    with pytest.raises(ValueError, match="TTL"):
        t.append(spark.createDataFrame([("a", 1, 0)], schema), ttl_seconds=10)

    t.append(spark.createDataFrame([("a", 3, 1), ("b", 2, 0)], schema))
    t.append(spark.createDataFrame([("a", 4, 0), ("c", 1, 1)], schema))
    t.append(spark.createDataFrame([("a", -2, 1)], schema))  # decrement
    got = {r.page: (r.hits, r.errors) for r in t.read().collect()}
    assert got == {"a": (5, 2), "b": (2, 0), "c": (1, 1)}

    t.compact()
    got = {r.page: (r.hits, r.errors) for r in t.read().collect()}
    assert got == {"a": (5, 2), "b": (2, 0), "c": (1, 1)}
    # compaction folded a's three increment rows into one physical row
    raw = spark.read.parquet(t.path)
    assert raw.filter(F.col("page") == "a").count() == 1
    # further increments after compaction keep accumulating
    t.append(spark.createDataFrame([("a", 10, 0)], schema))
    assert {r.hits for r in t.read().filter(F.col("page") == "a").collect()} == {15}


def test_delete_tombstones_and_schema_evolution(spark, ks):
    """CQL DELETE: tombstone shadows every older version on read and is
    physically dropped by compact(); ALTER TABLE ADD materializes the
    new column as NULL on pre-existing rows."""
    from pyspark.sql.types import StringType, StructField

    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("alex", "u1", "a@x", "pw"), ("bianca", "u2", "b@x", "pw")],
        schemas.USERS,
    ))
    with pytest.raises(ValueError, match="exactly the primary key"):
        t.delete(spark.createDataFrame([("alex", "u1")], "username string, user_id string"))

    t.delete(spark.createDataFrame([("alex",)], "username string"))
    assert {r.username for r in t.read().collect()} == {"bianca"}
    # re-insert after delete: newest write wins again
    t.append(spark.createDataFrame([("alex", "u9", "a9@x", "pw9")], schemas.USERS))
    assert {r.user_id for r in t.read().filter(F.col("username") == "alex").collect()} == {"u9"}
    # delete once more, then compact: key and history physically gone
    t.delete(spark.createDataFrame([("alex",)], "username string"))
    t.compact()
    raw = spark.read.parquet(t.path)
    assert raw.filter(F.col("username") == "alex").count() == 0
    assert {r.username for r in t.read().collect()} == {"bianca"}

    # ALTER TABLE ADD: old rows read the new column as NULL, new writes fill it
    ks.alter_table_add_column("users", StructField("display_name", StringType(), True))
    t2 = WideColumnTable(spark, ks, ks.tables["users"], n_buckets=4)
    assert t2.read().filter(F.col("username") == "bianca").head().display_name is None
    from pyspark.sql.types import StructType
    new_schema = ks.tables["users"].schema
    t2.append(spark.createDataFrame([("carol", "u3", "c@x", "pw", "Carol C")], new_schema))
    got = {r.username: r.display_name for r in t2.read().collect()}
    assert got == {"bianca": None, "carol": "Carol C"}

    # counter tables refuse DELETE (CQL: counter deletion is unsafe)
    from pyspark.sql.types import LongType
    cspec = ks.create_table(
        "cnt", StructType([StructField("k", StringType(), False),
                           StructField("n", LongType(), True)]),
        ["k"], counter_columns=["n"],
    )
    ct = WideColumnTable(spark, ks, cspec, n_buckets=2)
    with pytest.raises(ValueError, match="counter"):
        ct.delete(spark.createDataFrame([("a",)], "k string"))


def test_insert_if_not_exists_lwt(spark, ks):
    # CQL lightweight transaction: INSERT ... IF NOT EXISTS applies only
    # absent keys and reports [applied] + the existing row for losers
    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Alex", "uuid-1", "a@mail.de", "alex")], schemas.USERS))

    report = t.insert_if_not_exists(spark.createDataFrame(
        [("Alex", "uuid-9", "new@mail.de", "nope"),      # key exists -> rejected
         ("Bianca", "uuid-3", "b@mail.de", "bianca")],   # absent -> applied
        schemas.USERS))
    rep = {r.username: r for r in report.collect()}
    assert rep["Alex"].applied is False
    assert rep["Alex"].user_id == "uuid-1", "LWT response carries the existing row"
    assert rep["Bianca"].applied is True
    assert rep["Bianca"].user_id is None, "no prior row for applied keys"

    out = {r.username: r for r in t.read().collect()}
    assert out["Alex"].user_id == "uuid-1", "existing row NOT overwritten"
    assert out["Bianca"].user_id == "uuid-3", "absent key inserted"

    # losing candidates leave no trace: retrying after a DELETE applies
    t.delete(spark.createDataFrame([("Alex",)], "username string"))
    r2 = t.insert_if_not_exists(spark.createDataFrame(
        [("Alex", "uuid-9", "new@mail.de", "nope")], schemas.USERS))
    assert r2.collect()[0].applied is True
    assert t.read().filter(F.col("username") == "Alex").collect()[0].user_id == "uuid-9"


def test_insert_if_not_exists_rejects_conflicting_batch(spark, ks):
    t = make_users(spark, ks)
    dup = spark.createDataFrame(
        [("Alex", "uuid-1", "a@mail.de", "x"),
         ("Alex", "uuid-2", "b@mail.de", "y")], schemas.USERS)
    with pytest.raises(ValueError, match="conflicting rows"):
        t.insert_if_not_exists(dup)


def test_read_split_partitions_the_table(spark, ks):
    # connector-style bulk export: disjoint per-bucket splits whose
    # union is exactly the reconciled table
    t = make_messages(spark, ks)
    t.append(seed_messages(spark))
    t.append(seed_messages(spark))  # upsert shadow: reconciliation is per-split
    full = {tuple(r) for r in t.read().collect()}
    parts = []
    for b in range(t.n_buckets):
        rows = t.read_split(b).collect()
        parts.append({tuple(r) for r in rows})
        plan = t.read_split(b)._jdf.queryExecution().executedPlan().toString()
        assert "_bucket" in plan, "split scan must prune to one bucket dir"
    assert set().union(*parts) == full
    assert sum(len(p) for p in parts) == len(full), "splits are disjoint"
    with pytest.raises(ValueError, match="split_id"):
        t.read_split(t.n_buckets)


def test_json_insert_and_select_roundtrip(spark, ks):
    # CQL INSERT JSON / SELECT JSON against the declared schema
    t = make_users(spark, ks)
    t.append_json(spark.createDataFrame(
        [('{"username": "Alex", "user_id": "u1", "email": "a@mail.de", "password": "pw"}',),
         ('{"username": "Bianca", "user_id": "u2"}',)],  # missing fields -> NULL
        "json string"))
    out = {r.username: r for r in t.read().collect()}
    assert out["Alex"].email == "a@mail.de"
    assert out["Bianca"].email is None, "missing JSON fields are NULL like CQL"

    js = sorted(r.json for r in t.read_as_json().collect())
    assert all(j.startswith('{"username"') or '"username"' in j for j in js)
    import json as _json
    decoded = {d["username"]: d for d in map(_json.loads, js)}
    assert decoded["Alex"]["user_id"] == "u1"

    with pytest.raises(Exception):
        t.append_json(spark.createDataFrame([('{"username": broken',)], "json string"))
        t.read().collect()  # FAILFAST surfaces on action


def test_alter_drop_column(spark, ks):
    # CQL ALTER TABLE DROP: metadata-only removal from the read path;
    # bytes reclaimed at compact() (declared schema drives the rewrite)
    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Alex", "u1", "a@mail.de", "pw")], schemas.USERS))
    ks.alter_table_drop_column("users", "password")
    assert "password" not in t.read().columns
    t.compact()
    import pyarrow.parquet as pq
    import glob
    files = glob.glob(t.path + "/_bucket=*/*.parquet")
    cols = set().union(*(set(pq.read_schema(f).names) for f in files))
    assert "password" not in cols, "compact() physically reclaims dropped columns"

    with pytest.raises(ValueError, match="primary key"):
        ks.alter_table_drop_column("users", "username")
    ks.create_index("users", "email")
    with pytest.raises(ValueError, match="views"):
        ks.alter_table_drop_column("users", "user_id")


def test_collection_columns_fold_semantics(spark, ks):
    """CQL collection columns: set add/remove, list append/prepend, map
    put/remove fold over the last full assignment in writetime order;
    a delta revives a deleted key WITHOUT resurrecting its pre-delete
    scalar cells; compact() materializes folds and preserves reads."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType([
        StructField("uid", StringType(), False),
        StructField("bio", StringType(), True),
        StructField("tags", ArrayType(StringType()), True),
        StructField("history", ArrayType(StringType()), True),
        StructField("prefs", MapType(StringType(), IntegerType()), True),
    ])
    with pytest.raises(ValueError, match="key columns"):
        ks.create_table(
            "badc", schema, ["uid"], collection_columns={"uid": "set"}
        )
    with pytest.raises(ValueError, match="unknown collection kinds"):
        ks.create_table(
            "badk", schema, ["uid"], collection_columns={"tags": "bag"}
        )
    spec = ks.create_table(
        "profiles",
        schema,
        ["uid"],
        collection_columns={"tags": "set", "history": "list", "prefs": "map"},
    )
    t = WideColumnTable(spark, ks, spec, n_buckets=4)

    t.append(
        spark.createDataFrame(
            [("u1", "hi", ["a", "b"], ["v1"], {"x": 1})], schema
        )
    )

    def delta(uid, col, val, op):
        field = schema[col]
        one = spark.createDataFrame(
            [(uid, val)],
            StructType([schema["uid"], StructField(col, field.dataType, True)]),
        )
        t.update_collection(one, col, op)

    with pytest.raises(ValueError, match="not a declared collection"):
        delta("u1", "bio", ["x"], "add")
    with pytest.raises(ValueError, match="invalid for set"):
        delta("u1", "tags", ["x"], "append")

    delta("u1", "tags", ["c", "b"], "add")        # {a,b,c}
    delta("u1", "tags", ["a"], "remove")          # {b,c}
    delta("u1", "history", ["v2"], "append")      # [v1,v2]
    delta("u1", "history", ["v0"], "prepend")     # [v0,v1,v2]
    delta("u1", "prefs", {"y": 2, "x": 9}, "put") # {x:9,y:2}
    delta("u1", "prefs", {"x": 0}, "remove")      # {y:2}
    delta("u2", "tags", ["z"], "add")             # new key via UPDATE

    def snap():
        rows = {r["uid"]: r for r in t.read().collect()}
        return rows

    for label in ("pre-compact", "post-compact"):
        rows = snap()
        u1, u2 = rows["u1"], rows["u2"]
        assert u1["bio"] == "hi", label
        assert sorted(u1["tags"]) == ["b", "c"], label
        assert u1["history"] == ["v0", "v1", "v2"], label
        assert u1["prefs"] == {"y": 2}, label
        assert u2["bio"] is None and u2["tags"] == ["z"], label
        if label == "pre-compact":
            t.compact()

    # delete then delta: key revives with ONLY the new collection cell
    t.delete(spark.createDataFrame([("u1",)], "uid string"))
    assert "u1" not in snap()
    delta("u1", "tags", ["fresh"], "add")
    u1 = snap()["u1"]
    assert u1["tags"] == ["fresh"]
    assert u1["bio"] is None and u1["history"] is None and u1["prefs"] is None


def test_static_columns_shared_per_partition(spark, ks):
    """CQL static columns: one cell per partition shared by all
    clustering rows; newest non-null write via ANY row wins; statics
    survive individual row deletes; compaction preserves reads."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("channel", LongType(), False),
        StructField("msg_id", LongType(), False),
        StructField("body", StringType(), True),
        StructField("channel_name", StringType(), True),  # static
    ])
    with pytest.raises(ValueError, match="require clustering"):
        ks.create_table(
            "bads", schema, ["channel"], static_columns=["channel_name"]
        )
    with pytest.raises(ValueError, match="key columns"):
        ks.create_table(
            "bads2", schema, ["channel"], clustering_keys=["msg_id"],
            static_columns=["msg_id"],
        )
    spec = ks.create_table(
        "chat", schema, ["channel"], clustering_keys=["msg_id"],
        clustering_desc=True, static_columns=["channel_name"],
    )
    t = WideColumnTable(spark, ks, spec, n_buckets=4)

    t.append(spark.createDataFrame(
        [(1, 10, "hi", "general"), (1, 11, "yo", None), (2, 20, "x", "random")],
        schema,
    ))
    # write via a DIFFERENT row renames channel 1 for every row
    t.append(spark.createDataFrame([(1, 12, "new", "announcements")], schema))

    def by_msg():
        return {
            (r.channel, r.msg_id): (r.body, r.channel_name)
            for r in t.read().collect()
        }

    got = by_msg()
    assert got[(1, 10)] == ("hi", "announcements")
    assert got[(1, 11)] == ("yo", "announcements")
    assert got[(1, 12)] == ("new", "announcements")
    assert got[(2, 20)] == ("x", "random")

    # deleting the row that LAST wrote the static keeps the static
    t.delete(spark.createDataFrame([(1, 12)], "channel long, msg_id long"))
    got = by_msg()
    assert (1, 12) not in got
    assert got[(1, 10)] == ("hi", "announcements")

    t.compact()
    assert by_msg()[(1, 11)] == ("yo", "announcements")


def test_read_partitions_in_clause(spark, ks):
    """CQL IN multi-partition read: results equal a full-scan filter,
    and the scan is pruned to the listed keys' buckets (a _bucket
    partition filter in the plan), never the whole table."""
    import re

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("channel", LongType(), False),
        StructField("msg_id", LongType(), False),
        StructField("body", StringType(), True),
    ])
    spec = ks.create_table(
        "inbox", schema, ["channel"], clustering_keys=["msg_id"],
        clustering_desc=True,
    )
    t = WideColumnTable(spark, ks, spec, n_buckets=8)
    t.append(spark.createDataFrame(
        [(c, m, f"c{c}m{m}") for c in range(6) for m in range(4)], schema
    ))

    with pytest.raises(ValueError, match="exactly"):
        t.read_partitions([{"nope": 1}])

    got = t.read_partitions([{"channel": 1}, {"channel": 4}]).collect()
    assert {r.channel for r in got} == {1, 4}
    assert len(got) == 8
    # clustering order within each partition (DESC)
    for c in (1, 4):
        ms = [r.msg_id for r in got if r.channel == c]
        assert ms == sorted(ms, reverse=True)

    plan = (
        t.read_partitions([{"channel": 1}, {"channel": 4}])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert re.search(r"PartitionFilters: \[[^\]]*_bucket", plan), plan[:2000]


def test_read_per_partition_limit(spark, ks):
    """PER PARTITION LIMIT: newest n clustering rows of every partition
    under DESC clustering order; upserts and deletes reconcile first;
    the plan uses a window group limit, not a full per-partition sort."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("channel", LongType(), False),
        StructField("msg_id", LongType(), False),
        StructField("body", StringType(), True),
    ])
    spec = ks.create_table(
        "feed", schema, ["channel"], clustering_keys=["msg_id"],
        clustering_desc=True,
    )
    t = WideColumnTable(spark, ks, spec, n_buckets=4)
    t.append(spark.createDataFrame(
        [(c, m, f"c{c}m{m}") for c in (1, 2) for m in range(5)], schema
    ))
    t.delete(spark.createDataFrame([(1, 4)], "channel long, msg_id long"))

    with pytest.raises(ValueError, match=">= 1"):
        t.read_per_partition_limit(0)

    got = t.read_per_partition_limit(2).collect()
    by_c = {}
    for r in got:
        by_c.setdefault(r.channel, []).append(r.msg_id)
    # channel 1's newest (4) is deleted -> 3,2; channel 2 -> 4,3
    assert by_c == {1: [3, 2], 2: [4, 3]}

    plan = (
        t.read_per_partition_limit(2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_describe_table_ddl_roundtrip(spark, ks):
    """cqlsh DESCRIBE analogue: the emitted DDL names every column with
    its CQL type, marks statics/counters/collections, and carries the
    compound primary key + clustering order clause."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        MapType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType([
        StructField("channel", LongType(), False),
        StructField("msg_id", LongType(), False),
        StructField("channel_name", StringType(), True),
        StructField("tags", ArrayType(StringType()), True),
        StructField("reactions", MapType(StringType(), IntegerType()), True),
    ])
    ks.create_table(
        "descme", schema, ["channel"], clustering_keys=["msg_id"],
        clustering_desc=True, static_columns=["channel_name"],
        collection_columns={"tags": "set", "reactions": "map"},
    )
    ddl = ks.describe_table("descme")
    assert "channel bigint" in ddl
    assert "channel_name text static" in ddl
    assert "tags set<text>" in ddl
    assert "reactions map<text, int>" in ddl
    assert "PRIMARY KEY ((channel), msg_id)" in ddl
    assert "CLUSTERING ORDER BY (msg_id DESC)" in ddl
    with pytest.raises(ValueError, match="unknown table"):
        ks.describe_table("nope")


def test_read_partitions_compound_partition_key(spark, ks):
    """IN-clause reads with a COMPOUND partition key: tuples prune to
    their buckets and only the listed (tenant, shard) pairs return."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("tenant", StringType(), False),
        StructField("shard", LongType(), False),
        StructField("seq", LongType(), False),
        StructField("v", StringType(), True),
    ])
    spec = ks.create_table(
        "multi", schema, ["tenant", "shard"], clustering_keys=["seq"],
    )
    t = WideColumnTable(spark, ks, spec, n_buckets=8)
    t.append(spark.createDataFrame(
        [(f"t{i%3}", i % 2, i, f"v{i}") for i in range(12)], schema
    ))
    got = t.read_partitions(
        [{"tenant": "t0", "shard": 0}, {"tenant": "t1", "shard": 1}]
    ).collect()
    pairs = {(r.tenant, r.shard) for r in got}
    assert pairs == {("t0", 0), ("t1", 1)}
    want = {(f"t{i%3}", i % 2, i) for i in range(12)
            if (f"t{i%3}", i % 2) in {("t0", 0), ("t1", 1)}}
    assert {(r.tenant, r.shard, r.seq) for r in got} == want


def test_compound_partition_key_point_ops(spark, ks):
    """Point read, delete, and INSERT IF NOT EXISTS all route correctly
    when the partition key spans multiple columns (driver-side Murmur3
    over the column tuple must match the writer's bucket)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("tenant", StringType(), False),
        StructField("shard", LongType(), False),
        StructField("seq", LongType(), False),
        StructField("v", StringType(), True),
    ])
    spec = ks.create_table(
        "multi2", schema, ["tenant", "shard"], clustering_keys=["seq"],
    )
    t = WideColumnTable(spark, ks, spec, n_buckets=8)
    t.append(spark.createDataFrame(
        [("a", 1, 1, "x"), ("a", 1, 2, "y"), ("b", 2, 1, "z")], schema
    ))

    got = t.read_partition(tenant="a", shard=1).collect()
    assert [(r.seq, r.v) for r in got] == [(1, "x"), (2, "y")]
    assert t.read_partition(tenant="a", shard=2).count() == 0

    rep = t.insert_if_not_exists(
        spark.createDataFrame([("a", 1, 1, "CLOBBER"), ("c", 3, 1, "new")], schema)
    ).collect()
    applied = {(r.tenant, r.shard, r.seq): r.applied for r in rep}
    assert applied == {("a", 1, 1): False, ("c", 3, 1): True}
    assert t.read_partition(tenant="a", shard=1).collect()[0].v == "x"
    assert t.read_partition(tenant="c", shard=3).collect()[0].v == "new"

    t.delete(spark.createDataFrame(
        [("a", 1, 2)], "tenant string, shard long, seq long"
    ))
    assert [r.seq for r in t.read_partition(tenant="a", shard=1).collect()] == [1]


def test_compact_preserves_writetimes_for_backfill(spark, ks):
    """ADVICE round-2: compact() must carry stored writetimes through the
    rewrite (Cassandra preserves cell writetimes through compaction). A
    USING TIMESTAMP backfill whose client timestamp is NEWER than the
    original write must still win after a compaction ran in between —
    with a fresh rewrite stamp it would wrongly lose to compacted data."""
    t = make_users(spark, ks)
    t.append(
        spark.createDataFrame([("Alex", "u1", "old@x", "p")], schemas.USERS),
        timestamp_micros=1_000_000,
    )
    t.compact()
    # backfill: newer client timestamp than the original write, but far
    # older than the compaction's wall-clock time
    t.append(
        spark.createDataFrame([("Alex", "u2", "new@x", "p")], schemas.USERS),
        timestamp_micros=2_000_000,
    )
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].email == "new@x", (
        "backfill newer than the original write lost against compacted data"
    )
    # and the reverse still holds: an OLDER backfill loses post-compaction
    t.compact()
    t.append(
        spark.createDataFrame([("Alex", "u0", "stale@x", "p")], schemas.USERS),
        timestamp_micros=1_500_000,
    )
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].email == "new@x"


def test_cell_level_last_writer_wins(spark, ks):
    """Cassandra reconciles per CELL: a partial write (cells=[...])
    updates only the named columns; unnamed cells keep their older
    values; a named-but-null cell is an explicit cell delete."""
    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Alex", "u1", "a@x", "pw1")], schemas.USERS))
    # partial write: only email - user_id/password must survive
    t.append(
        spark.createDataFrame([("Alex", None, "new@x", None)], schemas.USERS),
        cells=["email"],
    )
    row = t.read().collect()[0]
    assert (row.email, row.user_id, row.password) == ("new@x", "u1", "pw1")
    # explicit cell delete: email named and null
    t.append(
        spark.createDataFrame([("Alex", None, None, None)], schemas.USERS),
        cells=["email"],
    )
    row = t.read().collect()[0]
    assert row.email is None and row.user_id == "u1" and row.password == "pw1"
    # cells must be payload columns
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-key"):
        t.append(
            spark.createDataFrame([("Alex", None, None, None)], schemas.USERS),
            cells=["username"],
        )


def test_partial_write_does_not_resurrect_predelete_cells(spark, ks):
    """A partial write after a DELETE revives the key but must not
    resurrect cells from before the tombstone (Cassandra's row tombstone
    shadows every older cell)."""
    from pyspark.sql.types import StringType, StructField, StructType

    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Alex", "u1", "a@x", "pw1")], schemas.USERS))
    t.delete(spark.createDataFrame(
        [("Alex",)], StructType([StructField("username", StringType())])))
    t.append(
        spark.createDataFrame([("Alex", None, "back@x", None)], schemas.USERS),
        cells=["email"],
    )
    row = t.read().collect()[0]
    assert row.email == "back@x"
    assert row.user_id is None and row.password is None, (
        "pre-delete cells resurrected through the tombstone"
    )


def test_cell_writes_survive_compaction(spark, ks):
    """Compaction materializes cell-reconciled rows; cell history folds
    into one row whose non-null columns are its cell set."""
    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Alex", "u1", "a@x", "pw1")], schemas.USERS))
    t.append(
        spark.createDataFrame([("Alex", None, "new@x", None)], schemas.USERS),
        cells=["email"],
    )
    t.compact()
    row = t.read().collect()[0]
    assert (row.email, row.user_id, row.password) == ("new@x", "u1", "pw1")
    # post-compaction partial writes still reconcile per cell
    t.append(
        spark.createDataFrame([("Alex", None, None, "pw2")], schemas.USERS),
        cells=["password"],
    )
    row = t.read().collect()[0]
    assert (row.email, row.user_id, row.password) == ("new@x", "u1", "pw2")


def test_clustering_range_pushes_through_reconciliation(spark, ks):
    """A clustering-column range filter on a reconciled read must reach
    the parquet scan (PushedFilters): clustering columns are grouping
    keys, so Catalyst pushes the predicate below the reconcile groupBy,
    where the per-file clustering sort turns it into row-group min/max
    pruning — the property that makes slice reads cheap at 100 TB."""
    from pyspark.sql import functions as F  # noqa: F811

    t = make_messages(spark, ks)
    t.append(seed_messages(spark))
    sliced = t.read_partition(channel_id=1).filter(
        F.col("message_id") >= "m-ch1-10"
    )
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = sliced._jdf.queryExecution().explainString(mode)
    assert "GreaterThanOrEqual(message_id,m-ch1-10" in plan, plan
    assert [r.message_id for r in sliced.collect()] == [
        "m-ch1-12", "m-ch1-11", "m-ch1-10",
    ]


def test_read_as_of_snapshot(spark, ks):
    """Snapshot reads: writes after the snapshot vanish, deletes after
    it un-happen, and rows that expired after it are visible again."""
    from pyspark.sql.types import StringType, StructField, StructType

    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Alex", "u1", "v1@x", "p")], schemas.USERS), timestamp_micros=1_000_000)
    t.append(spark.createDataFrame(
        [("Bianca", "u2", "b@x", "p")], schemas.USERS), timestamp_micros=2_000_000)
    t.append(spark.createDataFrame(
        [("Alex", "u1", "v2@x", "p")], schemas.USERS), timestamp_micros=3_000_000)
    # at t=1.5s: only Alex v1
    snap = {r.username: r.email for r in t.read_as_of(1_500_000).collect()}
    assert snap == {"Alex": "v1@x"}
    # at t=2.5s: Alex v1 + Bianca
    snap = {r.username: r.email for r in t.read_as_of(2_500_000).collect()}
    assert snap == {"Alex": "v1@x", "Bianca": "b@x"}
    # delete Alex now (wall-clock writetime >> 3s): old snapshots keep him
    t.delete(spark.createDataFrame(
        [("Alex",)], StructType([StructField("username", StringType())])))
    assert {r.username for r in t.read().collect()} == {"Bianca"}
    snap = {r.username: r.email for r in t.read_as_of(3_500_000).collect()}
    assert snap == {"Alex": "v2@x", "Bianca": "b@x"}


def test_read_changes_cdc(spark, ks):
    """Changes-since read: only post-checkpoint keys appear; an upsert
    carries current state, a tombstoned key comes back as a delete."""
    from pyspark.sql.types import StringType, StructField, StructType

    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Alex", "u1", "a@x", "p"), ("Bianca", "u2", "b@x", "p")],
        schemas.USERS), timestamp_micros=1_000_000)
    # checkpoint after the seed; then one update + one delete
    t.append(spark.createDataFrame(
        [("Bianca", None, "b2@x", None)], schemas.USERS),
        cells=["email"], timestamp_micros=2_000_000)
    t.delete(spark.createDataFrame(
        [("Alex",)], StructType([StructField("username", StringType())])))
    changes = {r.username: (r._op, r.email) for r in t.read_changes(1_000_000).collect()}
    assert changes == {
        "Bianca": ("upsert", "b2@x"),  # current state incl. pre-checkpoint cells
        "Alex": ("delete", None),
    }
    # checkpoint after everything (far-future wall clock): empty delta
    assert t.read_changes(4_000_000_000_000_000).count() == 0


def test_incremental_rollup_matches_full_recompute(spark, ks):
    """Continuous-aggregate refresh: recompute only the delta-touched
    (bucket, key) groups and graft onto the prior rollup — result must
    equal a from-scratch rollup of current state, including a deleted
    row retracting a bucket max."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )

    from cassandrastack_spark.operators.rollup_ts import (
        refresh_rollup_incremental, rollup_events,
    )

    schema = StructType([
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ])
    spec = ks.create_table("tsraw", schema, partition_keys=["user_id"],
                           clustering_keys=["ts"])
    t = WideColumnTable(spark, ks, spec, n_buckets=4)
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    t.append(spark.createDataFrame(
        [
            (1, base + dt.timedelta(minutes=5), 10.0),
            (1, base + dt.timedelta(minutes=40), 99.0),   # hour-0 max
            (2, base + dt.timedelta(minutes=10), 7.0),
            (1, base + dt.timedelta(hours=2, minutes=1), 3.0),
        ],
        schema,
    ), timestamp_micros=1_000_000)
    prior = rollup_events(t.read(), "ts", ["user_id"], "value", "1 hour")
    prior = prior.localCheckpoint(eager=True)

    # post-checkpoint delta: new row in a fresh bucket, an update in
    # hour 0, and DELETE the hour-0 max (forces retraction)
    t.append(spark.createDataFrame(
        [
            (2, base + dt.timedelta(hours=1, minutes=3), 5.0),
            (1, base + dt.timedelta(minutes=5), 11.0),
        ],
        schema,
    ), timestamp_micros=2_000_000)
    t.delete(spark.createDataFrame(
        [(1, base + dt.timedelta(minutes=40))],
        StructType([StructField("user_id", LongType()),
                    StructField("ts", TimestampType())]),
    ))

    changes = t.read_changes(1_000_000)
    got = refresh_rollup_incremental(
        prior, t.read(), changes, "ts", ["user_id"], "value", "1 hour"
    )
    want = rollup_events(t.read(), "ts", ["user_id"], "value", "1 hour")
    key = lambda r: (r["user_id"], r["bucket_start"])
    got_rows = sorted([r.asDict() for r in got.collect()], key=key)
    want_rows = sorted([r.asDict() for r in want.collect()], key=key)
    assert got_rows == want_rows
    # the retraction really happened: hour-0 max for user 1 is now 11
    h0 = [r for r in got_rows if r["user_id"] == 1
          and r["bucket_start"] == base][0]
    assert h0["max_v"] == 11.0 and h0["n"] == 1


def test_per_cell_ttl_expires_only_its_cells(spark, ks):
    """A TTL'd cells-write expires just those cells (Cassandra's
    per-cell TTL); the row marker and other cells survive. A row whose
    only content was a TTL'd UPDATE disappears entirely."""
    import time as _time

    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Alex", "u1", "a@x", "pw")], schemas.USERS))
    # TTL'd update of ONE cell (1s, counts from server-now), plus a row
    # whose only content is the same short-TTL'd cells-write
    t.append(spark.createDataFrame(
        [("Alex", None, "tmp@x", None)], schemas.USERS),
        cells=["email"], ttl_seconds=1)
    t.append(spark.createDataFrame(
        [("Ghost", None, "g@x", None)], schemas.USERS),
        cells=["email"], ttl_seconds=1)
    _time.sleep(1.2)
    [row] = t.read().filter(F.col("username") == "Alex").collect()
    # email cell expired -> gone; shadowed older value NOT resurrected
    assert row.email is None
    # other cells and the row itself survive
    assert row.username == "Alex" and row.password == "pw"
    # row created only by a TTL'd cells-write: no marker, no live cell
    assert t.read().filter(F.col("username") == "Ghost").count() == 0
    # whereas an unexpired cells-write row lives
    t.append(spark.createDataFrame(
        [("Live", None, "l@x", None)], schemas.USERS),
        cells=["email"], ttl_seconds=3600)
    assert t.read().filter(F.col("username") == "Live").count() == 1


def test_key_only_insert_creates_row_marker(spark, ks):
    """INSERT of just the primary key (empty cell set) creates a live
    row with all-null payload — the CQL row marker — and it survives
    compaction."""
    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Marker", None, None, None)], schemas.USERS), cells=[])
    [row] = t.read().collect()
    assert row.username == "Marker" and row.email is None
    t.compact()
    [row] = t.read().collect()
    assert row.username == "Marker" and row.email is None


def test_key_only_marker_survives_compact_on_statics_and_collections(spark, ks):
    """Round-4 regression (keep_marker threaded through _with_statics
    and the collection path): a key-only INSERT's row marker
    must survive compact() on STATICS and COLLECTIONS tables too — the
    "" sentinel is preserved through the materialized rewrite, not only
    on plain tables (test_key_only_insert_creates_row_marker)."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    s_schema = StructType([
        StructField("channel", LongType(), False),
        StructField("msg_id", LongType(), False),
        StructField("body", StringType(), True),
        StructField("channel_name", StringType(), True),  # static
    ])
    s_spec = ks.create_table(
        "chat_marker", s_schema, ["channel"], clustering_keys=["msg_id"],
        clustering_desc=True, static_columns=["channel_name"],
    )
    st = WideColumnTable(spark, ks, s_spec, n_buckets=4)
    st.append(
        spark.createDataFrame([(1, 10, None, None)], s_schema), cells=[]
    )
    [row] = st.read().collect()
    assert (row.channel, row.msg_id) == (1, 10) and row.body is None
    st.compact()
    [row] = st.read().collect()
    assert (row.channel, row.msg_id) == (1, 10) and row.body is None
    # a second compact reads its own materialized output — the marker
    # sentinel must round-trip, not just survive one rewrite
    st.compact()
    assert st.read().count() == 1

    c_schema = StructType([
        StructField("uid", StringType(), False),
        StructField("bio", StringType(), True),
        StructField("tags", ArrayType(StringType()), True),
    ])
    c_spec = ks.create_table(
        "profiles_marker", c_schema, ["uid"],
        collection_columns={"tags": "set"},
    )
    ct = WideColumnTable(spark, ks, c_spec, n_buckets=4)
    ct.append(
        spark.createDataFrame([("u1", None, None)], c_schema), cells=[]
    )
    [row] = ct.read().collect()
    assert row.uid == "u1" and row.bio is None
    ct.compact()
    [row] = ct.read().collect()
    assert row.uid == "u1" and row.bio is None
    ct.compact()
    assert ct.read().count() == 1


def test_compact_bucket_range_is_bounded_and_safe(spark, ks):
    """Range compaction rewrites only the listed bucket directories;
    out-of-scope buckets keep their (uncompacted) history and reads
    stay correct across the mix."""
    t = make_users(spark, ks)
    # two versions of several users -> every bucket holds shadowed rows
    for ver in ("v1", "v2"):
        t.append(spark.createDataFrame(
            [(f"user{i}", ver, f"{i}@x", "p") for i in range(12)],
            schemas.USERS))
    before = {r.username: r.user_id for r in t.read().collect()}
    assert set(before.values()) == {"v2"}

    half = list(range(t.n_buckets // 2))
    t.compact(buckets=half)
    after = {r.username: r.user_id for r in t.read().collect()}
    assert after == before, "range compaction must not change results"
    # compacted buckets hold exactly one file-version per key; an
    # out-of-scope bucket still carries its shadowed history
    raw = spark.read.parquet(t.path)
    per_bucket = {
        r["_bucket"]: r["n"]
        for r in raw.groupBy("_bucket").count().withColumnRenamed("count", "n").collect()
    }
    keys_per_bucket = {
        r["_bucket"]: r["n"]
        for r in raw.select("_bucket", "username").distinct()
        .groupBy("_bucket").count().withColumnRenamed("count", "n").collect()
    }
    for b, n in per_bucket.items():
        if b in half:
            assert n == keys_per_bucket[b], f"bucket {b} not compacted"
        else:
            assert n == 2 * keys_per_bucket[b], f"bucket {b} was touched"
    with pytest.raises(ValueError, match="out of range"):
        t.compact(buckets=[99])


def test_read_page_keyset_pagination(spark, ks):
    """Driver-paging parity (fetch_size + paging state): pages are
    disjoint, in the (token, pk, clustering) total order, and their
    concatenation is exactly the full reconciled table; page N is a
    keyset filter + global top-k, never an OFFSET re-scan."""
    t = make_messages(spark, ks)
    t.append(seed_messages(spark))
    t.append(seed_messages(spark))  # upsert shadow: pages read reconciled state

    pages, state = [], None
    while True:
        rows = t.read_page(4, state).collect()
        if not rows:
            break
        pages.append(rows)
        state = t.paging_state(rows[-1])
    flat = [tuple(r) for p in pages for r in p]
    assert len(flat) == 15 and len(set(flat)) == 15, "disjoint, complete"
    assert all(len(p) == 4 for p in pages[:3]) and len(pages[-1]) == 3

    # the concatenation follows one global total order: rebuild it.
    # clustering is DESC on (message_ts, message_id): invert both.
    from cassandrastack_spark.hashing import spark_hash

    def key(r):
        return (spark_hash(r[0], dtypes=["bigint"]), r[0],
                -r[1].timestamp(), tuple(-b for b in r[2].encode()))

    assert flat == sorted(flat, key=key)

    # cursor filter must reject a partial paging state
    with pytest.raises(ValueError, match="paging_state missing"):
        t.read_page(4, {"channel_id": 1})
    with pytest.raises(ValueError, match="page_size"):
        t.read_page(0)


def test_read_page_no_clustering_table(spark, ks):
    """Single-row-partition tables (users) page in pure token order."""
    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [(f"user{i}", f"u-{i}", f"{i}@mail.de", "pw") for i in range(7)],
        schemas.USERS))
    seen, state = [], None
    while True:
        rows = t.read_page(3, state).collect()
        if not rows:
            break
        seen.extend(r.username for r in rows)
        state = t.paging_state(rows[-1])
    assert sorted(seen) == [f"user{i}" for i in range(7)]
    assert len(seen) == len(set(seen))


def test_conditional_update_lwt(spark, ks):
    """UPDATE ... IF col = v / IF EXISTS: read-check-write against the
    live row; rejected updates report [applied]=false plus the current
    condition values (CQL LWT response shape)."""
    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Alex", "u-1", "a@mail.de", "pw1")], schemas.USERS))

    # condition holds -> applied, cell updated
    r = t.conditional_update(
        {"username": "Alex"}, {"email": "new@mail.de"},
        conditions={"password": "pw1"})
    assert r == {"[applied]": True}
    assert t.read().collect()[0].email == "new@mail.de"

    # condition fails -> not applied, current value reported, no write
    r = t.conditional_update(
        {"username": "Alex"}, {"email": "evil@mail.de"},
        conditions={"password": "wrong"})
    assert r == {"[applied]": False, "password": "pw1"}
    assert t.read().collect()[0].email == "new@mail.de"

    # IF EXISTS on an absent row -> not applied, nothing written
    r = t.conditional_update(
        {"username": "Nobody"}, {"email": "x@mail.de"}, if_exists=True)
    assert r == {"[applied]": False}
    assert t.read().count() == 1

    # guards: key columns cannot be SET; key must be complete;
    # conditions on key columns are invalid CQL
    with pytest.raises(ValueError, match="key columns"):
        t.conditional_update({"username": "Alex"}, {"username": "B"},
                             if_exists=True)
    with pytest.raises(ValueError, match="full primary key"):
        t.conditional_update({}, {"email": "x"}, if_exists=True)
    with pytest.raises(ValueError, match="primary-key column"):
        t.conditional_update({"username": "Alex"}, {"email": "x"},
                             conditions={"username": "Alex"})


def test_conditional_delete_lwt(spark, ks):
    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Alex", "u-1", "a@mail.de", "pw1"),
         ("Bianca", "u-2", "b@mail.de", "pw2")], schemas.USERS))
    # failed condition leaves the row
    r = t.conditional_delete({"username": "Alex"},
                             conditions={"password": "nope"})
    assert r["[applied]"] is False and t.read().count() == 2
    # met condition tombstones it
    r = t.conditional_delete({"username": "Alex"},
                             conditions={"password": "pw1"})
    assert r == {"[applied]": True}
    assert [x.username for x in t.read().collect()] == ["Bianca"]
    # IF EXISTS after the delete: gone -> false
    r = t.conditional_delete({"username": "Alex"}, if_exists=True)
    assert r == {"[applied]": False}


def test_compact_preserves_per_cell_writetimes_for_backfill(spark, ks):
    """Round-5 parity fix (fragment-preserving compact): per-CELL
    writetime resolution must survive compaction on plain tables. Cell
    email written at t=100, cell password at t=300, compact, then a
    USING TIMESTAMP t=200 backfill of email must WIN (200 > 100) —
    under the old merged rewrite the whole row was stamped t=300 and
    the backfill wrongly lost."""
    t = make_users(spark, ks)
    t.append(
        spark.createDataFrame([("Alex", "u1", "old@x", None)], schemas.USERS),
        timestamp_micros=100, cells=["user_id", "email"], row_marker=True,
    )
    t.append(
        spark.createDataFrame([("Alex", None, None, "pw300")], schemas.USERS),
        timestamp_micros=300, cells=["password"],
    )
    t.compact()
    # the compacted table holds per-cell metadata: backfill between the
    # two original writetimes resolves per cell, not per row
    t.append(
        spark.createDataFrame([("Alex", None, "mid@x", None)], schemas.USERS),
        timestamp_micros=200, cells=["email"],
    )
    [row] = t.read().collect()
    assert row.email == "mid@x", (
        "t=200 backfill must beat the t=100 email cell even though the "
        f"row's newest cell was t=300; got {row.email}"
    )
    assert row.password == "pw300" and row.user_id == "u1"
    # and a backfill OLDER than the cell's own writetime still loses
    t.compact()
    t.append(
        spark.createDataFrame([("Alex", None, "stale@x", None)], schemas.USERS),
        timestamp_micros=150, cells=["email"],
    )
    [row] = t.read().collect()
    assert row.email == "mid@x" and row.password == "pw300"


def test_compact_preserves_per_cell_ttls(spark, ks):
    """Round-5 parity fix: a cell's own TTL survives compaction on
    plain tables — it neither inherits the marker's (absent) expiry nor
    becomes immortal. The short-TTL cell expires AFTER the compact ran;
    the row and its un-TTL'd cells live on."""
    import time as _time

    t = make_users(spark, ks)
    t.append(spark.createDataFrame(
        [("Bea", "u1", None, "pw")], schemas.USERS))
    # TTL sized so append+compact+read comfortably finish inside it
    # even on a loaded host (a 2s budget flaked when the compact run
    # alone crossed it); the expiry side below POLLS instead of
    # sleeping a fixed margin, so the common case stays fast.
    ttl = 15
    t0 = _time.monotonic()
    t.append(
        spark.createDataFrame([("Bea", None, "fleeting@x", None)], schemas.USERS),
        cells=["email"], ttl_seconds=ttl,
    )
    t.compact()
    [row] = t.read().collect()
    assert _time.monotonic() - t0 < ttl, (
        "host too slow for the liveness assertion to be meaningful — "
        "raise ttl"
    )
    assert row.email == "fleeting@x", "TTL'd cell still live right after compact"
    # the compacted files carry the CELL's expiry, not the marker's null
    raw = spark.read.parquet(t.path)
    frag = raw.filter(F.array_contains(F.col("_cells"), "email")).head()
    assert frag is not None and frag._expires is not None, (
        "compact must persist the email cell's own expiry"
    )
    # poll until the cell's own expiry passes (bounded wait)
    deadline = t0 + ttl + 10
    while _time.monotonic() < deadline:
        [row] = t.read().collect()
        if row.email is None:
            break
        _time.sleep(0.5)
    assert row.email is None, (
        "cell TTL written BEFORE the compact must still expire AFTER it"
    )
    assert row.password == "pw" and row.user_id == "u1", (
        "un-TTL'd cells and the row marker survive the cell's expiry"
    )


def test_large_partition_guardrail_fires_on_hot_partition(spark, ks):
    """SURVEY §4's 100 TB hot-partition canary, wired into the write
    path (cassandra.yaml:1164 compaction_large_partition_warning_
    threshold_mb, re-interpreted): with a Guardrails attached and a
    tiny threshold, appending a hot partition warns once on the append
    batch and once more at compact (true partition size, post-
    reconciliation). A table without a guard pays nothing and a
    within-threshold write stays silent."""
    from cassandrastack_spark.plans.guardrails import Guardrails

    t = make_messages(spark, ks)
    t.guard = Guardrails(large_partition_bytes=1_000)
    t.append(seed_messages(spark))  # channel 1 holds 13 of 15 rows
    assert len(t.guard.warnings) == 1, t.guard.warnings
    assert "large partition in messages (append batch)" in t.guard.warnings[0]
    assert "channel_id=1" in t.guard.warnings[0]
    t.compact()
    assert len(t.guard.warnings) == 2, t.guard.warnings
    assert "large partition in messages (compact)" in t.guard.warnings[1]
    # a generous threshold stays silent
    t.guard = Guardrails()  # default 100 MB
    t.append(seed_messages(spark))
    t.compact()
    assert t.guard.warnings == []
