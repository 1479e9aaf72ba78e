"""CQL front-end tests: the reference's literal statements (cited from
server.py via SURVEY.md §1/§2) run unchanged against the engine, plus
the extension statements (TTL, LWT, counters, collection deltas,
statics, IN, PER PARTITION LIMIT)."""

import pytest

from cassandrastack_spark.cql import CqlSession


@pytest.fixture()
def cql(spark, tmp_path):
    return CqlSession(spark, str(tmp_path / "wh"), n_buckets=4)


def _bootstrap(cql):
    # server.py:76-79 / 178-186 verbatim shapes
    cql.execute("""
        CREATE KEYSPACE IF NOT EXISTS socialmessagekeyspace
        WITH replication = { 'class': 'SimpleStrategy', 'replication_factor': '2' }
    """)
    cql.execute("USE socialmessagekeyspace")
    cql.execute("""
        CREATE TABLE IF NOT EXISTS messages (
            channel_id bigint,
            message_id uuid,
            author_id  uuid,
            message    text,
            PRIMARY KEY (channel_id, message_id)
        ) WITH CLUSTERING ORDER BY (message_id DESC)
    """)
    cql.execute("""
        CREATE TABLE IF NOT EXISTS users (
            user_id  uuid,
            username text,
            email    text,
            password text,
            PRIMARY KEY (username)
        )
    """)


def test_reference_message_flow(cql):
    _bootstrap(cql)
    # prepared INSERT with now() (server.py:131-139 shape)
    cql.execute(
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        "VALUES (%s, now(), %s, %s)",
        (7, "a" * 36, "hello"),
    )
    # logged batch (server.py:191-207 shape)
    cql.execute(
        "BEGIN BATCH "
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        "VALUES (%s, now(), %s, %s); "
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        "VALUES (%s, now(), %s, %s); "
        "APPLY BATCH",
        (7, "b" * 36, "zweite", 8, "c" * 36, "andere"),
    )
    # single-partition read (server.py:98)
    rows = cql.execute("SELECT * FROM messages WHERE channel_id = %s", (7,))
    assert len(rows) == 2
    assert {r["message"] for r in rows} == {"hello", "zweite"}
    # full scan (server.py:149)
    assert len(cql.execute("SELECT * FROM messages")) == 3


def test_reference_user_flow(cql):
    _bootstrap(cql)
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s)",
        ("Alex", "alex@example.com", "pw1"),
    )
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s)",
        ("Bianca", "bianca@example.com", "pw2"),
    )
    # projection scan (server.py:217)
    rows = cql.execute("SELECT user_id, username, email FROM users")
    assert {r["username"] for r in rows} == {"Alex", "Bianca"}
    assert all("password" not in r for r in rows)
    # point lookup (server.py:250)
    row = cql.execute(
        "SELECT user_id, username, email, password FROM users "
        "WHERE username = %s",
        ("Alex",),
    )
    assert len(row) == 1 and row[0]["password"] == "pw1"
    # upsert semantics: PRIMARY KEY implies overwrite (server.py:307-308)
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s)",
        ("Alex", "new@example.com", "pw9"),
    )
    row = cql.execute(
        "SELECT email FROM users WHERE username = %s", ("Alex",)
    )
    assert row[0]["email"] == "new@example.com"


def test_extension_statements(cql):
    _bootstrap(cql)
    # LWT
    rep = cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s) IF NOT EXISTS",
        ("Cleo", "c@example.com", "x"),
    )
    assert rep[0]["applied"] is True
    rep = cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s) IF NOT EXISTS",
        ("Cleo", "other@example.com", "y"),
    )
    assert rep[0]["applied"] is False
    # DELETE
    cql.execute("DELETE FROM users WHERE username = %s", ("Cleo",))
    assert cql.execute(
        "SELECT username FROM users WHERE username = %s", ("Cleo",)
    ) == []

    # counters
    cql.execute("""
        CREATE TABLE page_counters (
            page text,
            hits counter,
            PRIMARY KEY (page)
        )
    """)
    cql.execute("UPDATE page_counters SET hits = hits + 3 WHERE page = %s", ("idx",))
    cql.execute("UPDATE page_counters SET hits = hits + 2 WHERE page = %s", ("idx",))
    cql.execute("UPDATE page_counters SET hits = hits - 1 WHERE page = %s", ("idx",))
    rows = cql.execute("SELECT page, hits FROM page_counters WHERE page = %s", ("idx",))
    assert rows[0]["hits"] == 4

    # collections + statics
    cql.execute("""
        CREATE TABLE profiles (
            uid text,
            seq bigint,
            plan text static,
            tags set<text>,
            prefs map<text, int>,
            PRIMARY KEY ((uid), seq)
        )
    """)
    cql.execute(
        "INSERT INTO profiles (uid, seq, plan, tags, prefs) "
        "VALUES (%s, %s, %s, {'a', 'b'}, {'x': 1})",
        ("u1", 1, "free"),
    )
    cql.execute("UPDATE profiles SET tags = tags + {'c'} WHERE uid = %s AND seq = %s", ("u1", 1))
    cql.execute("UPDATE profiles SET tags = tags - {'a'} WHERE uid = %s AND seq = %s", ("u1", 1))
    cql.execute("UPDATE profiles SET prefs = prefs + {'y': 2} WHERE uid = %s AND seq = %s", ("u1", 1))
    cql.execute(
        "INSERT INTO profiles (uid, seq, plan, tags, prefs) "
        "VALUES (%s, %s, %s, {'z'}, {'k': 9})",
        ("u1", 2, "pro"),
    )
    rows = cql.execute("SELECT * FROM profiles WHERE uid = %s", ("u1",))
    by_seq = {r["seq"]: r for r in rows}
    assert sorted(by_seq[1]["tags"]) == ["b", "c"]
    assert by_seq[1]["prefs"] == {"x": 1, "y": 2}
    # static shared across clustering rows: last write wins partition-wide
    assert by_seq[1]["plan"] == "pro" and by_seq[2]["plan"] == "pro"

    # IN multi-partition read + PER PARTITION LIMIT
    rows = cql.execute("SELECT uid, seq FROM profiles WHERE uid IN (%s)", ("u1",))
    assert len(rows) == 2
    rows = cql.execute("SELECT uid, seq FROM profiles PER PARTITION LIMIT 1")
    assert [r["seq"] for r in rows] == [1]  # no ORDER clause -> ASC default


def test_unsupported_statements_fail_loud(cql):
    _bootstrap(cql)
    with pytest.raises(ValueError, match="unsupported CQL"):
        cql.execute("GRANT SELECT ON messages TO somebody")
    with pytest.raises(ValueError, match="full primary key"):
        cql.execute("DELETE FROM messages WHERE channel_id = %s", (1,))
    with pytest.raises(ValueError, match="no keyspace selected"):
        CqlSession(cql.spark, cql.warehouse).execute("SELECT * FROM messages")


def test_ddl_maintenance_statements(cql):
    _bootstrap(cql)
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s)",
        ("Dana", "d@example.com", "p"),
    )
    # ALTER TABLE ADD: new column reads as NULL on old rows
    cql.execute("ALTER TABLE users ADD bio text")
    row = cql.execute("SELECT username, bio FROM users WHERE username = %s", ("Dana",))
    assert row[0]["bio"] is None
    cql.execute("ALTER TABLE users DROP bio")
    with pytest.raises(Exception):
        cql.execute("SELECT bio FROM users WHERE username = %s", ("Dana",))

    # CREATE INDEX routes equality probes through the index view
    cql.execute("CREATE INDEX ON users (email)")
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s)",
        ("Ed", "ed@example.com", "p2"),
    )
    rows = cql.execute("SELECT username FROM users WHERE email = %s",
                       ("ed@example.com",))
    assert [r["username"] for r in rows] == ["Ed"]

    # TRUNCATE drops data, keeps schema
    cql.execute("TRUNCATE messages")
    assert cql.execute("SELECT * FROM messages") == []
    cql.execute(
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        "VALUES (%s, now(), %s, %s)",
        (1, "a" * 36, "back"),
    )
    assert len(cql.execute("SELECT * FROM messages")) == 1


def test_using_timestamp_backfill(cql):
    """USING TIMESTAMP: client-supplied writetimes order last-writer-wins
    regardless of arrival order — a backdated backfill cannot clobber a
    newer row, and replaying the same backfill is idempotent."""
    _bootstrap(cql)
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s) USING TIMESTAMP %s",
        ("Finn", "current@example.com", "p", 2_000_000),
    )
    # backdated write arrives LATER but must lose
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s) USING TIMESTAMP %s",
        ("Finn", "stale@example.com", "old", 1_000_000),
    )
    row = cql.execute("SELECT email FROM users WHERE username = %s", ("Finn",))
    assert row[0]["email"] == "current@example.com"
    # a newer client timestamp wins over both
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s) USING TIMESTAMP %s",
        ("Finn", "newest@example.com", "p2", 3_000_000),
    )
    row = cql.execute("SELECT email FROM users WHERE username = %s", ("Finn",))
    assert row[0]["email"] == "newest@example.com"


def test_select_order_by_clustering(cql):
    """CQL ORDER BY reverses the stored clustering order within a
    partition read; arbitrary columns are refused like Cassandra does."""
    _bootstrap(cql)
    for i, mid in enumerate(["m1", "m2", "m3"]):
        cql.execute(
            "INSERT INTO messages (channel_id, message_id, author_id, message) "
            "VALUES (%s, %s, %s, %s)",
            (5, mid * 12, "a" * 36, f"msg{i}"),
        )
    # stored order is DESC; ASC reverses
    rows = cql.execute(
        "SELECT message_id FROM messages WHERE channel_id = %s "
        "ORDER BY message_id ASC",
        (5,),
    )
    ids = [r["message_id"] for r in rows]
    assert ids == sorted(ids)
    rows = cql.execute(
        "SELECT message_id FROM messages WHERE channel_id = %s "
        "ORDER BY message_id DESC LIMIT 2",
        (5,),
    )
    ids = [r["message_id"] for r in rows]
    assert ids == sorted(ids, reverse=True)[:2]
    with pytest.raises(ValueError, match="clustering column"):
        cql.execute(
            "SELECT * FROM messages WHERE channel_id = %s ORDER BY message ASC",
            (5,),
        )


def test_collection_delta_edge_statements(cql):
    """The remaining delta spellings: set reassignment, list prepend
    ([..] + col), map key removal (m - {keys}), and USING TTL via text."""
    import time

    _bootstrap(cql)
    cql.execute("""
        CREATE TABLE sess (
            sid text,
            seq bigint,
            log list<text>,
            tags set<text>,
            attrs map<text, int>,
            PRIMARY KEY ((sid), seq)
        )
    """)
    cql.execute(
        "INSERT INTO sess (sid, seq, log, tags, attrs) "
        "VALUES (%s, %s, ['b'], {'x'}, {'k1': 1, 'k2': 2})",
        ("s1", 1),
    )
    cql.execute("UPDATE sess SET log = log + ['c'] WHERE sid = %s AND seq = %s", ("s1", 1))
    cql.execute("UPDATE sess SET log = ['a'] + log WHERE sid = %s AND seq = %s", ("s1", 1))
    cql.execute("UPDATE sess SET tags = {'y', 'z'} WHERE sid = %s AND seq = %s", ("s1", 1))
    cql.execute("UPDATE sess SET attrs = attrs - {'k1'} WHERE sid = %s AND seq = %s", ("s1", 1))
    row = cql.execute("SELECT * FROM sess WHERE sid = %s", ("s1",))[0]
    assert row["log"] == ["a", "b", "c"]
    assert sorted(row["tags"]) == ["y", "z"]
    assert row["attrs"] == {"k2": 2}

    # USING TTL through the text surface: a 1s TTL row vanishes after
    # expiry (TTL counts from server-now; TTL 0 is CQL's "no TTL")
    cql.execute(
        "INSERT INTO sess (sid, seq, log, tags, attrs) "
        "VALUES (%s, %s, ['gone'], {'t'}, {'q': 1}) USING TTL 1",
        ("s2", 1),
    )
    time.sleep(1.2)
    assert cql.execute("SELECT * FROM sess WHERE sid = %s", ("s2",)) == []


def test_collection_full_writes_at_one_writetime_merge(cql):
    """Two full writes of one collection at the same USING TIMESTAMP
    merge as Cassandra's cells do, whichever file is read last: a set
    takes the union, a map the entry union with the greater value at a
    key tie."""
    cql.execute(
        "CREATE KEYSPACE IF NOT EXISTS ks WITH replication = "
        "{'class': 'SimpleStrategy', 'replication_factor': '1'}"
    )
    cql.execute("USE ks")
    cql.execute(
        "CREATE TABLE t (id int, tags set<text>, m map<text, int>, "
        "PRIMARY KEY (id))"
    )
    writes = [
        (1, "tags", ["{'b'}", "{'a'}"]),
        (2, "tags", ["{'a'}", "{'b'}"]),
        (3, "m", ["{'x': 1}", "{'x': 2, 'y': 0}"]),
        (4, "m", ["{'x': 2, 'y': 0}", "{'x': 1}"]),
    ]
    for key, col, values in writes:
        for value in values:
            cql.execute(
                f"INSERT INTO t (id, {col}) VALUES ({key}, {value}) "
                "USING TIMESTAMP 5000"
            )
    rows = {r["id"]: r for r in cql.execute("SELECT * FROM t")}
    assert sorted(rows[1]["tags"]) == ["a", "b"]
    assert sorted(rows[2]["tags"]) == ["a", "b"]
    assert rows[3]["m"] == {"x": 2, "y": 0}
    assert rows[4]["m"] == {"x": 2, "y": 0}


def test_describe_table_statement(cql):
    _bootstrap(cql)
    ddl = cql.execute("DESCRIBE TABLE messages")
    assert "channel_id bigint" in ddl
    assert "CLUSTERING ORDER BY (message_id DESC)" in ddl


def test_now_ids_cluster_in_insertion_order(cql):
    """ADVICE round-2 (high): now() ids must sort lexically in insertion
    order so CLUSTERING ORDER BY (message_id DESC) gives newest-first
    channel reads, the property the reference builds its message feed on
    (server.py:185)."""
    _bootstrap(cql)
    for i in range(8):
        cql.execute(
            "INSERT INTO messages (channel_id, message_id, author_id, message) "
            "VALUES (%s, now(), %s, %s)",
            (9, "a" * 36, f"msg{i}"),
        )
    rows = cql.execute("SELECT message FROM messages WHERE channel_id = %s", (9,))
    # stored clustering order is message_id DESC -> newest message first
    assert [r["message"] for r in rows] == [f"msg{i}" for i in range(7, -1, -1)]


def test_reference_seed_batch_verbatim(cql):
    """The reference's seed batch runs unchanged: bare uuid literals
    (server.py:191-207) parse, now() orders, and the channel-1 feed reads
    back newest-first."""
    _bootstrap(cql)
    author_a = "a8098c1a-f86e-11da-bd1a-00112444be1e"
    author_b = "ab398c12-f86e-23da-bd1a-aabb2233be1e"
    texts_ch1 = [
        "Hi there", "Someone in here", "Hey, yeah sure",
        "Cool :) What is up man?", "I am writing a little API...",
    ]
    stmts = [
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        f"VALUES (1, now(), {author_a if i % 2 == 0 else author_b}, '{t}')"
        for i, t in enumerate(texts_ch1)
    ]
    stmts.append(
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        f"VALUES (2, now(), {author_a}, 'Hey, someone in this channel?')"
    )
    cql.execute("BEGIN BATCH " + "; ".join(stmts) + "; APPLY BATCH")
    rows = cql.execute("SELECT author_id, message FROM messages WHERE channel_id = 1")
    assert [r["message"] for r in rows] == list(reversed(texts_ch1))
    assert rows[-1]["author_id"] == author_a  # bare literal round-trips
    assert len(cql.execute("SELECT * FROM messages WHERE channel_id = 2")) == 1


def test_where_with_per_partition_limit(cql):
    """ADVICE round-2: PER PARTITION LIMIT must apply ON TOP of the WHERE
    restriction, not silently replace it with an all-partitions read."""
    _bootstrap(cql)
    for ch in (11, 12):
        for i in range(4):
            cql.execute(
                "INSERT INTO messages (channel_id, message_id, author_id, message) "
                "VALUES (%s, now(), %s, %s)",
                (ch, "a" * 36, f"c{ch}-m{i}"),
            )
    rows = cql.execute(
        "SELECT message FROM messages WHERE channel_id = %s "
        "PER PARTITION LIMIT 2",
        (11,),
    )
    # only channel 11 (the WHERE), only its newest 2 (the limit, DESC order)
    assert [r["message"] for r in rows] == ["c11-m3", "c11-m2"]
    # without WHERE the limit still applies per partition, all partitions
    rows = cql.execute("SELECT message FROM messages PER PARTITION LIMIT 1")
    assert sorted(r["message"] for r in rows) == ["c11-m3", "c12-m3"]


def test_truncate_clears_views_and_indexes(cql):
    """ADVICE round-2: TRUNCATE drops materialized-view / secondary-index
    rows with the base table (Cassandra truncates them together) so an
    indexed SELECT cannot resurrect truncated data."""
    _bootstrap(cql)
    cql.execute("CREATE INDEX ON users (email)")
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s)",
        ("Greta", "greta@example.com", "pw"),
    )
    assert len(cql.execute("SELECT * FROM users WHERE email = %s",
                           ("greta@example.com",))) == 1
    cql.execute("TRUNCATE users")
    assert cql.execute("SELECT * FROM users") == []
    # the indexed probe routes through the index table - must be empty too
    assert cql.execute("SELECT * FROM users WHERE email = %s",
                       ("greta@example.com",)) == []


def test_reference_bootstrap_route_replay(cql):
    """End-to-end replay of the reference's documented bootstrap
    /create -> /messages/create -> /users/create (server.py:18-20) purely
    through its verbatim CQL statements (server.py:76-79, 178-207,
    250-311), then every read route's statement on top: 15/2-row seeds,
    clustering-DESC channel feeds, login point lookup, register write,
    and the drop route."""
    KEYSPACE = "socialmessagekeyspace"
    # /create (server.py:76-79 - %-interpolated keyspace name)
    cql.execute("""
        CREATE KEYSPACE IF NOT EXISTS %s
        WITH replication = { 'class': 'SimpleStrategy', 'replication_factor': '2' }
        """ % KEYSPACE)
    cql.execute(f"USE {KEYSPACE}")
    # /messages/create DDL (server.py:178-186)
    cql.execute("""
        CREATE TABLE IF NOT EXISTS messages (
            channel_id bigint,
            message_id uuid,
            author_id uuid,
            message text,
            PRIMARY KEY (channel_id, message_id)
        ) WITH CLUSTERING ORDER BY (message_id DESC)
        """)
    # /messages/create seed batch (server.py:191-207): 15 messages,
    # bare uuid author literals, now() message ids
    a = "a8098c1a-f86e-11da-bd1a-00112444be1e"
    b = "ab398c12-f86e-23da-bd1a-aabb2233be1e"
    seed = [
        (1, a, "Hi there"),
        (1, a, "Someone in here"),
        (1, b, "Hey, yeah sure"),
        (1, a, "Cool :) What is up man?"),
        (1, b, "I am writing a little API..."),
        (1, a, "What is the API about?"),
        (1, b, "Connecting to a Cassandra Database"),
        (1, a, "Oh wow sound interesting!"),
        (1, b, "Yeah, it is a bit different but I am slowly getting it"),
        (1, a, "Is it very different?"),
        (1, b, "From the outside no, but if you get deeper it is very different."),
        (2, a, "Hey, someone in this channel?"),
        (1, b, "But you get it eventually!"),
        (1, a, "Looks like no one is in here..."),
        (3, b, "Hey, what is this channel about?"),
    ]
    batch = "BEGIN BATCH " + "; ".join(
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        f"VALUES ({ch}, now(), {auth}, '{msg}')"
        for ch, auth, msg in seed
    ) + "; APPLY BATCH"
    cql.execute(batch)
    # /users/create DDL + 2-row seed (server.py:289-311)
    cql.execute("""
        CREATE TABLE IF NOT EXISTS users (
            user_id uuid,
            username text,
            email text,
            password text,
            PRIMARY KEY (username)
        )
        """)
    cql.execute(
        "BEGIN BATCH "
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), 'Alex', 'a.scholli@mail.de', 'alex'); "
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), 'Bianca','b.name@mail.de', 'bianca'); "
        "APPLY BATCH"
    )

    # /messages full scan (server.py:149)
    assert len(cql.execute("SELECT * FROM messages")) == 15
    # /channels/1/messages (server.py:98): 13 rows, newest-first per
    # CLUSTERING ORDER BY (message_id DESC)
    ch1 = cql.execute("SELECT * FROM messages WHERE channel_id=%s", (1,))
    assert len(ch1) == 13
    assert ch1[0]["message"] == "Looks like no one is in here..."
    assert ch1[-1]["message"] == "Hi there"
    assert len(cql.execute("SELECT * FROM messages WHERE channel_id=%s", (2,))) == 1
    # /users (server.py:210-232: projection excludes password)
    users = cql.execute("SELECT user_id, username, email FROM users")
    assert {u["username"] for u in users} == {"Alex", "Bianca"}
    assert all("password" not in u for u in users)
    # /users/login (server.py:250-259: point lookup by username)
    row = cql.execute(
        "SELECT user_id, username, email, password FROM users WHERE username=%s",
        ("Alex",),
    )
    assert row[0]["password"] == "alex" and row[0]["email"] == "a.scholli@mail.de"
    # /users/register (server.py:278-287: prepared insert with now())
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s)",
        ("Chris", "c@mail.de", "pw"),
    )
    assert len(cql.execute("SELECT * FROM users")) == 3
    # /channels/<id>/messages POST (server.py:113-139 shape): the new
    # message lands at the TOP of the DESC feed
    cql.execute(
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        "VALUES (%s, now(), %s, %s)",
        (1, a, "brand new"),
    )
    ch1 = cql.execute("SELECT message FROM messages WHERE channel_id=%s", (1,))
    assert ch1[0]["message"] == "brand new" and len(ch1) == 14
    # /drop (server.py:83-89)
    cql.execute("DROP KEYSPACE IF EXISTS " + KEYSPACE)
    with pytest.raises(ValueError, match="no keyspace"):
        cql.execute("SELECT * FROM messages")


def test_partial_insert_and_plain_update_are_cell_upserts(cql):
    """CQL INSERT writes only the named cells and UPDATE of a plain
    column upserts exactly that cell — unnamed columns keep their
    values (Cassandra cell-level reconciliation, not row overwrite)."""
    _bootstrap(cql)
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s)",
        ("Dana", "d@mail.de", "pw1"),
    )
    # partial INSERT: email only - password must survive
    cql.execute(
        "INSERT INTO users (username, email) VALUES (%s, %s)",
        ("Dana", "d2@mail.de"),
    )
    row = cql.execute("SELECT * FROM users WHERE username = %s", ("Dana",))[0]
    assert row["email"] == "d2@mail.de" and row["password"] == "pw1"
    # UPDATE of a plain column: SET param binds before WHERE param
    cql.execute(
        "UPDATE users SET password = %s WHERE username = %s",
        ("pw2", "Dana"),
    )
    row = cql.execute("SELECT * FROM users WHERE username = %s", ("Dana",))[0]
    assert row["password"] == "pw2" and row["email"] == "d2@mail.de"
    # explicit null in a named column deletes that cell only
    cql.execute(
        "INSERT INTO users (username, email) VALUES (%s, null)", ("Dana",)
    )
    row = cql.execute("SELECT * FROM users WHERE username = %s", ("Dana",))[0]
    assert row["email"] is None and row["password"] == "pw2"


def test_clustering_range_slice(cql):
    """WHERE pk = ? AND ck >= ? AND ck < ? — the canonical wide-column
    slice read; the range must compose with partition routing and with
    LIMIT, and push through reconciliation to the scan."""
    _bootstrap(cql)
    for mid in ["m1", "m3", "m5", "m7"]:
        cql.execute(
            "INSERT INTO messages (channel_id, message_id, author_id, message) "
            "VALUES (%s, %s, %s, %s)",
            (21, mid * 12, "a" * 36, f"text-{mid}"),
        )
    rows = cql.execute(
        "SELECT message_id FROM messages WHERE channel_id = %s "
        "AND message_id >= %s AND message_id < %s",
        (21, "m3" * 12, "m7" * 12),
    )
    assert [r["message_id"][:2] for r in rows] == ["m5", "m3"]  # DESC order
    rows = cql.execute(
        "SELECT message_id FROM messages WHERE channel_id = %s "
        "AND message_id > %s LIMIT 1",
        (21, "m3" * 12),
    )
    assert [r["message_id"][:2] for r in rows] == ["m7"]
    # range on a non-key column falls back to the filtered scan
    rows = cql.execute(
        "SELECT message FROM messages WHERE message >= %s AND message <= %s",
        ("text-m5", "text-m5"),
    )
    assert [r["message"] for r in rows] == ["text-m5"]


def test_writetime_ttl_selectors_and_count(cql):
    """CQL WRITETIME()/TTL() selectors and COUNT(*): a USING TIMESTAMP
    write reads its exact client timestamp back; cell-level writes show
    per-cell writetimes; TTL counts down from the row expiry."""
    _bootstrap(cql)
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s) USING TIMESTAMP %s",
        ("Hans", "h@mail.de", "pw", 5_000_000),
    )
    cql.execute(
        "UPDATE users SET email = %s WHERE username = %s", ("h2@mail.de", "Hans")
    )
    row = cql.execute(
        "SELECT writetime(password), writetime(email) FROM users "
        "WHERE username = %s",
        ("Hans",),
    )[0]
    assert row["writetime(password)"] == 5_000_000
    assert row["writetime(email)"] > 5_000_000, "cell write must carry its own time"
    # TTL: null without a TTL; positive and <= the requested TTL with one
    assert cql.execute(
        "SELECT ttl(email) FROM users WHERE username = %s", ("Hans",)
    )[0]["ttl(email)"] is None
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s) USING TTL 600",
        ("Ines", "i@mail.de", "pw"),
    )
    remaining = cql.execute(
        "SELECT ttl(email) FROM users WHERE username = %s", ("Ines",)
    )[0]["ttl(email)"]
    assert remaining is not None and 0 < remaining <= 600
    # COUNT(*) with and without predicates
    assert cql.execute("SELECT count(*) FROM users")[0]["count"] == 2
    assert cql.execute(
        "SELECT count(*) FROM users WHERE username = %s", ("Hans",)
    )[0]["count"] == 1
    # CQL rule: WRITETIME on a key column is an error
    with pytest.raises(ValueError, match="not defined"):
        cql.execute("SELECT writetime(username) FROM users")


def test_select_distinct_and_native_aggregates(cql):
    """SELECT DISTINCT lists partitions (partition key only, CQL rule);
    native aggregates min/max/sum/avg/count run as one partial-agg'd
    pass over the routed rows."""
    _bootstrap(cql)
    for ch, n in [(31, 2), (32, 3), (33, 1)]:
        for i in range(n):
            cql.execute(
                "INSERT INTO messages (channel_id, message_id, author_id, message) "
                "VALUES (%s, now(), %s, %s)",
                (ch, "a" * 36, f"c{ch}-m{i}"),
            )
    rows = cql.execute("SELECT DISTINCT channel_id FROM messages")
    assert [r["channel_id"] for r in rows] == [31, 32, 33]
    with pytest.raises(ValueError, match="partition"):
        cql.execute("SELECT DISTINCT message_id FROM messages")
    agg = cql.execute(
        "SELECT min(channel_id), max(channel_id), count(channel_id) FROM messages"
    )[0]
    assert (agg["min(channel_id)"], agg["max(channel_id)"],
            agg["count(channel_id)"]) == (31, 33, 6)
    agg = cql.execute(
        "SELECT count(*) , max(message) FROM messages WHERE channel_id = %s", (32,)
    )
    # mixed count(*)+agg goes through the aggregate path, not the count one
    assert agg[0]["count"] == 3 and agg[0]["max(message)"] == "c32-m2"


def test_group_by_primary_key_prefix(cql):
    """CQL 3.10 GROUP BY: group columns must be a prefix of the primary
    key; aggregates compose with WHERE routing and plain group columns."""
    _bootstrap(cql)
    for ch, n in [(41, 2), (42, 3)]:
        for i in range(n):
            cql.execute(
                "INSERT INTO messages (channel_id, message_id, author_id, message) "
                "VALUES (%s, now(), %s, %s)",
                (ch, "a" * 36, f"c{ch}-m{i}"),
            )
    rows = cql.execute(
        "SELECT channel_id, count(*), max(message) FROM messages "
        "GROUP BY channel_id"
    )
    got = {r["channel_id"]: (r["count"], r["max(message)"]) for r in rows}
    assert got == {41: (2, "c41-m1"), 42: (3, "c42-m2")}
    # WHERE + GROUP BY composes
    rows = cql.execute(
        "SELECT channel_id, count(*) FROM messages WHERE channel_id = %s "
        "GROUP BY channel_id",
        (42,),
    )
    assert rows == [{"channel_id": 42, "count": 3}]
    with pytest.raises(ValueError, match="prefix"):
        cql.execute("SELECT author_id, count(*) FROM messages GROUP BY author_id")
    with pytest.raises(ValueError, match="GROUP BY column"):
        cql.execute("SELECT message, count(*) FROM messages GROUP BY channel_id")


def test_token_function_and_ring_ranges(cql):
    from cassandrastack_spark.hashing import spark_hash

    _bootstrap(cql)
    for ch in (1, 2, 3):
        cql.execute(
            "INSERT INTO messages (channel_id, message_id, author_id, message) "
            "VALUES (%s, now(), %s, %s)",
            (ch, "a" * 36, f"msg-{ch}"),
        )
    # token() projection matches the driver-side ring function
    rows = cql.execute(
        "SELECT channel_id, token(channel_id) FROM messages WHERE channel_id = %s",
        (2,),
    )
    assert rows == [
        {"channel_id": 2, "token(channel_id)": spark_hash(2, dtypes=["bigint"])}
    ]
    # a disjoint token-range cover partitions the table (bulk-export
    # contract): every row lands in exactly one of the two ranges
    lo = cql.execute(
        "SELECT channel_id FROM messages WHERE token(channel_id) < %s "
        "ALLOW FILTERING",
        (0,),
    )
    hi = cql.execute(
        "SELECT channel_id FROM messages WHERE token(channel_id) >= %s "
        "ALLOW FILTERING",
        (0,),
    )
    assert sorted(r["channel_id"] for r in lo + hi) == [1, 2, 3]
    # token() must name the full partition key
    with pytest.raises(ValueError, match="full partition key"):
        cql.execute("SELECT token(message_id) FROM messages")
    with pytest.raises(ValueError, match="full partition key"):
        cql.execute(
            "SELECT channel_id FROM messages WHERE token(message_id) > %s",
            (0,),
        )


def test_allow_filtering_suffix_accepted(cql):
    _bootstrap(cql)
    cql.execute(
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        "VALUES (%s, now(), %s, %s)",
        (5, "a" * 36, "findme"),
    )
    rows = cql.execute(
        "SELECT channel_id, message FROM messages WHERE message = %s "
        "ALLOW FILTERING",
        ("findme",),
    )
    assert rows == [{"channel_id": 5, "message": "findme"}]


def test_contains_predicates_on_collections(cql):
    _bootstrap(cql)
    cql.execute("""
        CREATE TABLE tagged (
            uid text,
            seq bigint,
            tags set<text>,
            attrs map<text, int>,
            PRIMARY KEY ((uid), seq)
        )
    """)
    cql.execute(
        "INSERT INTO tagged (uid, seq, tags, attrs) "
        "VALUES (%s, %s, {'red', 'blue'}, {'a': 1, 'b': 2})",
        ("u1", 1),
    )
    cql.execute(
        "INSERT INTO tagged (uid, seq, tags, attrs) "
        "VALUES (%s, %s, {'green'}, {'c': 3})",
        ("u1", 2),
    )
    # set CONTAINS value
    rows = cql.execute(
        "SELECT seq FROM tagged WHERE uid = %s AND tags CONTAINS %s",
        ("u1", "red"),
    )
    assert [r["seq"] for r in rows] == [1]
    # map CONTAINS KEY
    rows = cql.execute(
        "SELECT seq FROM tagged WHERE attrs CONTAINS KEY %s ALLOW FILTERING",
        ("c",),
    )
    assert [r["seq"] for r in rows] == [2]
    # map CONTAINS (matches VALUES, per CQL)
    rows = cql.execute(
        "SELECT seq FROM tagged WHERE attrs CONTAINS %s ALLOW FILTERING",
        (2,),
    )
    assert [r["seq"] for r in rows] == [1]


def test_delete_cell_and_map_element(cql):
    _bootstrap(cql)
    cql.execute("""
        CREATE TABLE prof2 (
            uid text,
            seq bigint,
            note text,
            score int,
            attrs map<text, int>,
            PRIMARY KEY ((uid), seq)
        )
    """)
    cql.execute(
        "INSERT INTO prof2 (uid, seq, note, score, attrs) "
        "VALUES (%s, %s, %s, %s, {'a': 1, 'b': 2})",
        ("u1", 1, "keep-or-kill", 7),
    )
    # cell delete: note nulled, score and attrs untouched
    cql.execute("DELETE note FROM prof2 WHERE uid = %s AND seq = %s", ("u1", 1))
    [row] = cql.execute("SELECT * FROM prof2 WHERE uid = %s", ("u1",))
    assert row["note"] is None and row["score"] == 7
    assert row["attrs"] == {"a": 1, "b": 2}
    # map element delete: entry 'a' dropped, 'b' stays
    cql.execute(
        "DELETE attrs[%s] FROM prof2 WHERE uid = %s AND seq = %s",
        ("a", "u1", 1),
    )
    [row] = cql.execute("SELECT * FROM prof2 WHERE uid = %s", ("u1",))
    assert row["attrs"] == {"b": 2} and row["score"] == 7
    # whole-row delete still works
    cql.execute("DELETE FROM prof2 WHERE uid = %s AND seq = %s", ("u1", 1))
    assert cql.execute("SELECT * FROM prof2 WHERE uid = %s", ("u1",)) == []
    # guard rails
    with pytest.raises(ValueError, match="key column"):
        cql.execute("DELETE seq FROM prof2 WHERE uid = %s AND seq = %s", ("u1", 1))
    with pytest.raises(ValueError, match="map column"):
        cql.execute("DELETE note['x'] FROM prof2 WHERE uid = %s AND seq = %s", ("u1", 1))


def test_insert_and_select_json(cql):
    _bootstrap(cql)
    # INSERT JSON, DEFAULT NULL semantics: omitted author_id nulls out
    cql.execute(
        "INSERT INTO messages JSON %s",
        ('{"channel_id": 9, "message_id": "m1", "message": "json row"}',),
    )
    [row] = cql.execute("SELECT * FROM messages WHERE channel_id = %s", (9,))
    assert row["message"] == "json row" and row["author_id"] is None
    # DEFAULT UNSET: a partial JSON write touches only named cells
    cql.execute(
        "INSERT INTO messages JSON %s DEFAULT UNSET",
        ('{"channel_id": 9, "message_id": "m1", "author_id": "' + "a" * 36 + '"}',),
    )
    [row] = cql.execute("SELECT * FROM messages WHERE channel_id = %s", (9,))
    assert row["message"] == "json row" and row["author_id"] == "a" * 36
    # unknown fields rejected (schema-on-write)
    with pytest.raises(ValueError, match="not in declared"):
        cql.execute("INSERT INTO messages JSON %s", ('{"channel_id": 1, "nope": 2}',))
    # SELECT JSON *
    import json as _json

    [out] = cql.execute("SELECT JSON * FROM messages WHERE channel_id = %s", (9,))
    parsed = _json.loads(out["[json]"])
    assert parsed["message"] == "json row" and parsed["channel_id"] == 9
    # SELECT JSON with a projection
    [out] = cql.execute(
        "SELECT JSON channel_id, message FROM messages WHERE channel_id = %s", (9,)
    )
    assert _json.loads(out["[json]"]) == {"channel_id": 9, "message": "json row"}


def test_mixed_batch_insert_update_delete(cql):
    _bootstrap(cql)
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s)",
        ("Carol", "c@x", "pw"),
    )
    # one batch: two inserts, an update of an existing row's cell, and
    # a delete of one of the batch's own inserts (statement order holds)
    cql.execute(
        "BEGIN BATCH "
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s); "
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s); "
        "UPDATE users SET email = %s WHERE username = %s; "
        "DELETE FROM users WHERE username = %s; "
        "APPLY BATCH",
        ("Dave", "d@x", "pw", "Eve", "e@x", "pw",
         "c2@x", "Carol",
         "Dave"),
    )
    rows = {r["username"]: r for r in cql.execute("SELECT * FROM users")}
    assert set(rows) == {"Carol", "Eve"}
    assert rows["Carol"]["email"] == "c2@x"
    with pytest.raises(ValueError, match="INSERT/UPDATE/DELETE"):
        cql.execute("BEGIN BATCH TRUNCATE users; APPLY BATCH")


def test_describe_keyspaces_and_tables(cql):
    _bootstrap(cql)
    assert "socialmessagekeyspace" in cql.execute("DESCRIBE KEYSPACES")
    tables = cql.execute("DESC TABLES")
    assert "messages" in tables and "users" in tables


def test_update_using_ttl_is_per_cell(cql):
    import time as _time

    _bootstrap(cql)
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s)",
        ("Tess", "t@x", "pw"),
    )
    # TTL 0 is CQL's explicit "no TTL": the cell persists
    cql.execute(
        "UPDATE users USING TTL 0 SET email = %s WHERE username = %s",
        ("keep@x", "Tess"),
    )
    [row] = cql.execute("SELECT * FROM users WHERE username = %s", ("Tess",))
    assert row["email"] == "keep@x"
    # literal 1s TTL: after expiry only the email cell dies
    cql.execute(
        "UPDATE users USING TTL 1 SET email = %s WHERE username = %s",
        ("gone@x", "Tess"),
    )
    _time.sleep(1.2)
    [row] = cql.execute("SELECT * FROM users WHERE username = %s", ("Tess",))
    assert row["email"] is None and row["password"] == "pw"
    # parameterized TTL, unexpired: cell lives, TTL(col) reports it
    cql.execute(
        "UPDATE users USING TTL %s SET email = %s WHERE username = %s",
        (3600, "ttl@x", "Tess"),
    )
    [row] = cql.execute(
        "SELECT TTL(email) FROM users WHERE username = %s", ("Tess",)
    )
    assert row["ttl(email)"] is not None and 0 < row["ttl(email)"] <= 3600


def test_like_predicate_and_batch_variants(cql):
    _bootstrap(cql)
    cql.execute(
        "BEGIN UNLOGGED BATCH "
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        "VALUES (%s, now(), %s, %s); "
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        "VALUES (%s, now(), %s, %s); "
        "APPLY BATCH",
        (1, "a" * 36, "hello world", 1, "b" * 36, "goodbye moon"),
    )
    rows = cql.execute(
        "SELECT message FROM messages WHERE channel_id = %s "
        "AND message LIKE %s ALLOW FILTERING",
        (1, "hello%"),
    )
    assert [r["message"] for r in rows] == ["hello world"]
    rows = cql.execute(
        "SELECT message FROM messages WHERE message LIKE %s ALLOW FILTERING",
        ("%moon",),
    )
    assert [r["message"] for r in rows] == ["goodbye moon"]
    # counter batches admit only counter updates
    with pytest.raises(ValueError, match="COUNTER BATCH"):
        cql.execute(
            "BEGIN COUNTER BATCH "
            "INSERT INTO messages (channel_id, message_id, author_id, message) "
            "VALUES (%s, now(), %s, %s); "
            "APPLY BATCH",
            (1, "c" * 36, "x"),
        )


def test_clustering_key_in_clause(cql):
    _bootstrap(cql)
    cql.execute("""
        CREATE TABLE series (
            k text,
            seq bigint,
            v int,
            PRIMARY KEY ((k), seq)
        )
    """)
    for i in range(5):
        cql.execute(
            "INSERT INTO series (k, seq, v) VALUES (%s, %s, %s)",
            ("a", i, i * 10),
        )
    rows = cql.execute(
        "SELECT seq, v FROM series WHERE k = %s AND seq IN (%s, %s, %s)",
        ("a", 1, 3, 9),
    )
    assert sorted((r["seq"], r["v"]) for r in rows) == [(1, 10), (3, 30)]


def test_create_type_udt_columns(cql):
    _bootstrap(cql)
    cql.execute("CREATE TYPE address (street text, city text, zip int)")
    cql.execute("CREATE TYPE IF NOT EXISTS address (street text, city text, zip int)")
    with pytest.raises(ValueError, match="exists"):
        cql.execute("CREATE TYPE address (street text)")
    cql.execute("""
        CREATE TABLE contacts (
            username text,
            home frozen<address>,
            work address,
            PRIMARY KEY (username)
        )
    """)
    # UDT literal with bare field names; partial struct via %s dict
    cql.execute(
        "INSERT INTO contacts (username, home, work) "
        "VALUES (%s, {street: 'Hauptstr. 1', city: 'Jena', zip: 7743}, %s)",
        ("Alex", {"street": "Campus 2", "city": "Jena", "zip": None}),
    )
    [row] = cql.execute("SELECT * FROM contacts WHERE username = %s", ("Alex",))
    assert row["home"] == {"street": "Hauptstr. 1", "city": "Jena", "zip": 7743}
    assert row["work"]["street"] == "Campus 2" and row["work"]["zip"] is None
    # whole-struct cell upsert (frozen semantics): UPDATE replaces home
    cql.execute(
        "UPDATE contacts SET home = %s WHERE username = %s",
        ({"street": "Neu 9", "city": "Weimar", "zip": 99423}, "Alex"),
    )
    [row] = cql.execute("SELECT * FROM contacts WHERE username = %s", ("Alex",))
    assert row["home"] == {"street": "Neu 9", "city": "Weimar", "zip": 99423}
    assert row["work"]["city"] == "Jena", "other cells untouched"


def test_order_by_multiple_clustering_columns(cql):
    _bootstrap(cql)
    cql.execute("""
        CREATE TABLE multi_ck (
            k text,
            a bigint,
            b bigint,
            v int,
            PRIMARY KEY ((k), a, b)
        )
    """)
    for a, b, v in [(1, 2, 10), (1, 1, 11), (2, 1, 20), (2, 2, 21)]:
        cql.execute(
            "INSERT INTO multi_ck (k, a, b, v) VALUES (%s, %s, %s, %s)",
            ("x", a, b, v),
        )
    rows = cql.execute(
        "SELECT a, b FROM multi_ck WHERE k = %s ORDER BY a DESC, b DESC",
        ("x",),
    )
    assert [(r["a"], r["b"]) for r in rows] == [(2, 2), (2, 1), (1, 2), (1, 1)]
    rows = cql.execute(
        "SELECT a, b FROM multi_ck WHERE k = %s ORDER BY a ASC, b ASC",
        ("x",),
    )
    assert [(r["a"], r["b"]) for r in rows] == [(1, 1), (1, 2), (2, 1), (2, 2)]
    with pytest.raises(ValueError, match="prefix of the clustering"):
        cql.execute("SELECT a FROM multi_ck WHERE k = %s ORDER BY b ASC", ("x",))
    with pytest.raises(ValueError, match="directions must all match"):
        cql.execute(
            "SELECT a FROM multi_ck WHERE k = %s ORDER BY a ASC, b DESC", ("x",)
        )


def test_production_ddl_with_options_parses(cql):
    """A real-world cqlsh schema dump (storage-tuning WITH options)
    must parse unchanged; options are recorded, not executed."""
    _bootstrap(cql)
    cql.execute("""
        CREATE TABLE tuned (
            pk bigint,
            ck bigint,
            v text,
            PRIMARY KEY (pk, ck)
        ) WITH CLUSTERING ORDER BY (ck DESC)
          AND bloom_filter_fp_chance = 0.01
          AND caching = {'keys': 'ALL', 'rows_per_partition': 'NONE'}
          AND comment = 'tuned table'
          AND compaction = {'class': 'SizeTieredCompactionStrategy',
                            'max_threshold': '32'}
          AND gc_grace_seconds = 864000
          AND default_time_to_live = 0
    """)
    cql.execute("INSERT INTO tuned (pk, ck, v) VALUES (%s, %s, %s)", (1, 1, "a"))
    cql.execute("INSERT INTO tuned (pk, ck, v) VALUES (%s, %s, %s)", (1, 2, "b"))
    rows = cql.execute("SELECT ck FROM tuned WHERE pk = %s", (1,))
    assert [r["ck"] for r in rows] == [2, 1], "clustering DESC still applies"
    ks = cql.current
    opts = ks.tables["tuned"].properties["table_options"]
    assert opts["gc_grace_seconds"] == "864000"
    assert "SizeTieredCompactionStrategy" in opts["compaction"]


def test_update_delete_using_timestamp_backfill(cql):
    _bootstrap(cql)
    # live row written at engine time (far future vs these client ts)
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (now(), %s, %s, %s)",
        ("Kim", "k@x", "pw"),
    )
    # a backdated UPDATE cannot clobber the newer cell
    cql.execute(
        "UPDATE users USING TIMESTAMP 1000000 SET email = %s "
        "WHERE username = %s",
        ("old@x", "Kim"),
    )
    [row] = cql.execute("SELECT * FROM users WHERE username = %s", ("Kim",))
    assert row["email"] == "k@x", "backdated update must lose LWW"
    # a backdated DELETE cannot shadow the newer row
    cql.execute(
        "DELETE FROM users USING TIMESTAMP %s WHERE username = %s",
        (2000000, "Kim"),
    )
    [row] = cql.execute("SELECT * FROM users WHERE username = %s", ("Kim",))
    assert row["email"] == "k@x", "backdated delete must not remove newer row"


def test_conditional_update_and_delete_if(cql):
    """CQL LWT statements: UPDATE/DELETE ... IF EXISTS / IF col = v —
    applied only when the live row meets the condition; the response is
    the CQL [applied] row with current values on rejection. Placeholders
    bind SET -> WHERE -> IF in statement order."""
    _bootstrap(cql)
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (%s, %s, %s, %s)", ("u-1", "Alex", "a@mail.de", "pw1"))

    # literal condition holds
    r = cql.execute(
        "UPDATE users SET email = 'n@mail.de' WHERE username = 'Alex' "
        "IF password = 'pw1'")
    assert r == [{"[applied]": True}]
    # bound params: SET, WHERE, IF order
    r = cql.execute(
        "UPDATE users SET email = %s WHERE username = %s IF password = %s",
        ("evil@mail.de", "Alex", "wrong"))
    assert r == [{"[applied]": False, "password": "pw1"}]
    rows = cql.execute("SELECT email FROM users WHERE username = 'Alex'")
    assert rows == [{"email": "n@mail.de"}]

    # IF EXISTS forms
    r = cql.execute(
        "UPDATE users SET email = 'x@mail.de' WHERE username = 'Ghost' "
        "IF EXISTS")
    assert r == [{"[applied]": False}]
    r = cql.execute("DELETE FROM users WHERE username = 'Alex' IF EXISTS")
    assert r == [{"[applied]": True}]
    assert cql.execute("SELECT count(*) FROM users") == [{"count": 0}]

    # conditional delete with a failed condition leaves the row
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (%s, %s, %s, %s)", ("u-2", "Bianca", "b@mail.de", "pw2"))
    r = cql.execute(
        "DELETE FROM users WHERE username = %s IF password = %s",
        ("Bianca", "nope"))
    assert r == [{"[applied]": False, "password": "pw2"}]
    assert cql.execute("SELECT count(*) FROM users") == [{"count": 1}]


def test_prepare_and_execute_async_driver_parity(cql):
    """The reference's driver idioms run unchanged: session.prepare with
    ? markers (server.py:131-133), prepared.bind / (prepared, values)
    execution, and execute_async(...).result() (server.py:98-101)."""
    _bootstrap(cql)
    ins = cql.prepare(
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        "VALUES (?, now(), ?, ?)")
    cql.execute(ins, (1, "a8098c1a-f86e-11da-bd1a-00112444be1e", "hi"))
    cql.execute(ins.bind((1, "a8098c1a-f86e-11da-bd1a-00112444be1e", "again")))
    # ? inside a string literal must NOT become a placeholder
    lit = cql.prepare("INSERT INTO messages (channel_id, message_id, author_id, message) "
                      "VALUES (?, now(), ?, 'really?')")
    cql.execute(lit, (2, "ab398c12-f86e-23da-bd1a-aabb2233be1e"))
    fut = cql.execute_async("SELECT message FROM messages WHERE channel_id = %s", (1,))
    rows = fut.result()
    assert sorted(r["message"] for r in rows) == ["again", "hi"]
    assert cql.execute_async(
        "SELECT message FROM messages WHERE channel_id = 2").result() \
        == [{"message": "really?"}]


def test_create_and_drop_materialized_view_statements(cql):
    """CREATE MATERIALIZED VIEW ... PRIMARY KEY ((..),..) WITH CLUSTERING
    ORDER BY: built from existing base data, maintained by the write
    path, addressable by its own partition key; DROP TABLE refuses while
    views depend on the base (Cassandra rule); DROP MATERIALIZED VIEW /
    DROP INDEX detach and remove."""
    _bootstrap(cql)
    cql.execute(
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        "VALUES (%s, now(), %s, %s)",
        (1, "a8098c1a-f86e-11da-bd1a-00112444be1e", "pre-existing"))
    cql.execute("""
        CREATE MATERIALIZED VIEW messages_by_author AS
        SELECT * FROM messages
        WHERE author_id IS NOT NULL AND channel_id IS NOT NULL
          AND message_id IS NOT NULL
        PRIMARY KEY ((author_id), channel_id, message_id)
    """)
    # MV build covers pre-existing rows; write-path covers new ones
    cql.execute(
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        "VALUES (%s, now(), %s, %s)",
        (2, "a8098c1a-f86e-11da-bd1a-00112444be1e", "after-create"))
    rows = cql.execute(
        "SELECT message FROM messages_by_author WHERE author_id = %s",
        ("a8098c1a-f86e-11da-bd1a-00112444be1e",))
    assert sorted(r["message"] for r in rows) == ["after-create", "pre-existing"]

    # invalid WHERE term and drop-ordering rules
    with pytest.raises(ValueError, match="IS NOT NULL"):
        cql.execute(
            "CREATE MATERIALIZED VIEW bad AS SELECT * FROM messages "
            "WHERE channel_id = 5 PRIMARY KEY ((channel_id), message_id)")
    with pytest.raises(ValueError, match="depend on it"):
        cql.execute("DROP TABLE messages")
    with pytest.raises(ValueError, match="use DROP TABLE"):
        cql.execute("DROP MATERIALIZED VIEW messages")

    cql.execute("DROP MATERIALIZED VIEW messages_by_author")
    assert "messages_by_author" not in cql.execute("DESCRIBE TABLES")
    cql.execute("DROP TABLE messages")  # no dependents left now
    assert "messages" not in cql.execute("DESCRIBE TABLES")
    cql.execute("DROP TABLE IF EXISTS messages")  # idempotent form

    # index lifecycle through statements
    cql.execute("CREATE INDEX ON users (email)")
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (%s, %s, %s, %s)", ("u1", "Alex", "a@mail.de", "pw"))
    assert cql.execute(
        "SELECT username FROM users_email_idx WHERE email = 'a@mail.de'"
    ) == [{"username": "Alex"}]
    cql.execute("DROP INDEX users_email_idx")
    cql.execute("DROP TABLE users")


def test_mv_if_not_exists_and_drop_index_guards(cql):
    """Review-fix regressions: CREATE MV IF NOT EXISTS is a true no-op
    on an existing MV, refuses to repurpose a plain table, and DROP
    INDEX cannot delete a regular table that merely ends in _idx."""
    _bootstrap(cql)
    mv = ("CREATE MATERIALIZED VIEW IF NOT EXISTS msgs_by_author AS "
          "SELECT * FROM messages WHERE author_id IS NOT NULL "
          "PRIMARY KEY ((author_id), channel_id, message_id)")
    cql.execute(mv)
    cql.execute(mv)  # no-op, no rebuild, no error
    with pytest.raises(ValueError, match="cannot repurpose"):
        cql.execute(
            "CREATE MATERIALIZED VIEW IF NOT EXISTS users AS "
            "SELECT * FROM messages WHERE author_id IS NOT NULL "
            "PRIMARY KEY ((author_id), channel_id, message_id)")
    cql.execute("CREATE TABLE audit_idx (k text, v int, PRIMARY KEY (k))")
    with pytest.raises(ValueError, match="not a secondary index"):
        cql.execute("DROP INDEX audit_idx")
    assert "audit_idx" in cql.execute("DESCRIBE TABLES")


def test_index_of_a_map_collection_table_reads_its_maps(cql):
    """An index copies its base's columns, and a map collection is a
    plain cell there: last-writer-wins on a map compares its entries,
    since Spark has no order on maps. A map nested in a plain column
    has no order at all, so the catalog refuses it."""
    _bootstrap(cql)
    cql.execute("CREATE TABLE prof (uid text, plan text, prefs map<text, int>, "
                "PRIMARY KEY (uid))")
    cql.execute("CREATE INDEX ON prof (plan)")
    cql.execute("INSERT INTO prof (uid, plan, prefs) VALUES ('u1', 'free', {'x': 1})")
    cql.execute("INSERT INTO prof (uid, plan, prefs) VALUES ('u1', 'free', {'y': 2})")
    assert cql.execute("SELECT uid, prefs FROM prof_plan_idx WHERE plan = 'free'") == [
        {"uid": "u1", "prefs": {"y": 2}}]
    from pyspark.sql.types import (
        ArrayType, IntegerType, MapType, StringType, StructField, StructType,
    )

    nested = StructType([
        StructField("k", StringType(), False),
        StructField("m", ArrayType(MapType(StringType(), IntegerType()))),
    ])
    with pytest.raises(ValueError, match="no order"):
        cql.current.create_table("nested", nested, ["k"])


def test_insert_row_marker_survives_cell_delete(cql):
    """Cassandra parity: INSERT always deposits the row marker, so a
    row created by a partial INSERT survives deletion of its only cell
    (returns with nulls); an UPDATE-created row has NO marker and
    vanishes when its last cell dies — including after compaction."""
    _bootstrap(cql)
    # INSERT with a named subset, then delete the named cell
    cql.execute(
        "INSERT INTO users (username, email) VALUES (%s, %s)", ("X", "e@x"))
    cql.execute("DELETE email FROM users WHERE username = %s", ("X",))
    [row] = cql.execute("SELECT * FROM users WHERE username = %s", ("X",))
    assert row["email"] is None and row["user_id"] is None, (
        "the INSERT's marker keeps the key alive with null cells")
    # the marker survives compaction too
    t = cql._table("users")
    t.compact()
    assert cql.execute(
        "SELECT count(*) FROM users WHERE username = %s", ("X",)
    ) == [{"count": 1}]
    # an UPDATE-created row has no marker: deleting its cell kills it
    cql.execute(
        "UPDATE users SET email = %s WHERE username = %s", ("u@x", "Y"))
    assert cql.execute("SELECT count(*) FROM users") == [{"count": 2}]
    cql.execute("DELETE email FROM users WHERE username = %s", ("Y",))
    assert cql.execute(
        "SELECT * FROM users WHERE username = %s", ("Y",)) == []


def test_writetime_composes_with_per_partition_limit(cql):
    """Review-fix regression: WRITETIME()/TTL() selectors must survive
    PER PARTITION LIMIT (the limit used to project away the cell-meta
    columns the selectors need)."""
    _bootstrap(cql)
    for i in range(3):
        cql.execute(
            "INSERT INTO messages (channel_id, message_id, author_id, message) "
            "VALUES (%s, now(), %s, %s)", (1, "a" * 36, f"m{i}"))
    rows = cql.execute(
        "SELECT message, WRITETIME(message) FROM messages "
        "PER PARTITION LIMIT 2")
    assert len(rows) == 2
    assert all(r["writetime(message)"] is not None for r in rows)


def test_where_literals_containing_keywords_parse_quote_aware(cql):
    """Round-3 advice regression (cql.py UPDATE/DELETE parsing): string
    literals containing bare ` if ` / ` and ` / ` where ` tokens must
    not split the statement — clause boundaries are found quote-aware,
    not by `\\s+if\\s+` regex."""
    _bootstrap(cql)
    tricky = "check if exists"       # ` if ` inside a WHERE literal
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (%s, %s, %s, %s)",
        ("a" * 36, tricky, "t@x", "pw"),
    )
    # inline literal (no placeholder): the raw statement text carries
    # ' if ' and the UPDATE must still bind WHERE correctly
    cql.execute(
        "UPDATE users SET email = 'a where b' "
        "WHERE username = 'check if exists'"
    )
    [row] = cql.execute(
        "SELECT email FROM users WHERE username = %s", (tricky,))
    assert row["email"] == "a where b"
    # ` and ` inside a quoted IF condition value must not split the
    # condition list
    res = cql.execute(
        "UPDATE users SET password = 'n' "
        "WHERE username = 'check if exists' IF email = 'bread and butter'"
    )
    assert res[0]["[applied]"] is False
    res = cql.execute(
        "UPDATE users SET password = 'n2' "
        "WHERE username = 'check if exists' IF email = 'a where b'"
    )
    assert res[0]["[applied]"] is True
    # DELETE with the same hazard: literal ` if ` stays in the WHERE
    res = cql.execute(
        "DELETE FROM users WHERE username = 'check if exists' IF EXISTS"
    )
    assert res[0]["[applied]"] is True
    assert cql.execute(
        "SELECT * FROM users WHERE username = %s", (tricky,)) == []


def test_async_pool_is_eager_and_shutdown_idempotent(cql):
    """Round-3 advice regression: the async pool is built in __init__
    (no lazy double-build race) and shutdown() drains it; sync API
    keeps working after."""
    assert cql._async_pool is not None
    _bootstrap(cql)
    cql.execute(
        "INSERT INTO users (user_id, username, email, password) "
        "VALUES (%s, %s, %s, %s)", ("b" * 36, "A", "a@x", "p"))
    fut = cql.execute_async("SELECT username FROM users")
    assert [r["username"] for r in fut.result(timeout=120)] == ["A"]
    cql.shutdown()
    cql.shutdown()  # idempotent
    with pytest.raises(RuntimeError):
        cql.execute_async("SELECT username FROM users")
    # synchronous execution is unaffected by pool shutdown
    assert len(cql.execute("SELECT username FROM users")) == 1


# -- pure-parser property tests (no Spark session needed) ----------------


from hypothesis import given, strategies as st

from cassandrastack_spark.cql import _find_top_keyword, _split_top_keyword

_tricky_literals = st.sampled_from([
    "x if y", "a and b", "where clause", "if", "and", " if ",
    "check if exists", "bread and butter", "it''s quoted",
    "mixed IF AND where", "trailing if", "if leading", "plain",
])


@given(st.lists(_tricky_literals, min_size=1, max_size=4))
def test_split_top_keyword_never_splits_inside_literals(parts):
    """Property: splitting `c0 = '<lit>' and c1 = '<lit>' ...` on AND
    yields exactly one segment per condition, no matter what keywords
    the quoted literals contain."""
    clause = " and ".join(f"c{i} = '{p}'" for i, p in enumerate(parts))
    segs = _split_top_keyword(clause, "and")
    assert len(segs) == len(parts), (clause, segs)
    for i, seg in enumerate(segs):
        assert seg.startswith(f"c{i} ="), (clause, segs)


@given(_tricky_literals, _tricky_literals)
def test_find_top_keyword_if_boundary_ignores_quoted_text(w_lit, if_lit):
    """Property: in `pk = '<lit>' if c = '<lit>'`, the IF boundary found
    is always the structural one after the WHERE literal — never a
    keyword inside either quoted literal."""
    where_part = f"pk = '{w_lit}'"
    stmt = f"{where_part} if c = '{if_lit}'"
    i = _find_top_keyword(stmt, "if")
    assert i == len(where_part) + 1, (stmt, i)
    # and with no structural IF present, nothing is found
    assert _find_top_keyword(where_part, "if") == -1, where_part


def test_batchstatement_driver_object_seed_replay(cql):
    """The reference's DRIVER-OBJECT batch construction runs unchanged
    (server.py:136-139, 189-207): BatchStatement(consistency_level=
    ConsistencyLevel.ONE) + batch.add(SimpleStatement(...)) per row,
    then session.execute(batch) — same rows, ordering, and uuid
    round-trip as the text-form twin, because execute() lowers the
    object onto the SAME _batch machinery."""
    from cassandrastack_spark.cql import (
        BatchStatement,
        ConsistencyLevel,
        SimpleStatement,
    )

    _bootstrap(cql)
    author_a = "a8098c1a-f86e-11da-bd1a-00112444be1e"
    author_b = "ab398c12-f86e-23da-bd1a-aabb2233be1e"
    texts_ch1 = [
        "Hi there", "Someone in here", "Hey, yeah sure",
        "Cool :) What is up man?", "I am writing a little API...",
    ]
    batch = BatchStatement(consistency_level=ConsistencyLevel.ONE)
    for i, t in enumerate(texts_ch1):
        batch.add(SimpleStatement(
            "INSERT INTO messages (channel_id, message_id, author_id, "
            f"message) VALUES (1, now(), "
            f"{author_a if i % 2 == 0 else author_b}, '{t}')"
        ))
    batch.add(
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        f"VALUES (2, now(), {author_a}, 'Hey, someone in this channel?')"
    )
    assert len(batch) == 6
    cql.execute(batch)
    assert cql.last_consistency_level == ConsistencyLevel.ONE
    rows = cql.execute(
        "SELECT author_id, message FROM messages WHERE channel_id = 1"
    )
    assert [r["message"] for r in rows] == list(reversed(texts_ch1))
    assert rows[-1]["author_id"] == author_a
    assert len(
        cql.execute("SELECT * FROM messages WHERE channel_id = 2")
    ) == 1


def test_batchstatement_prepared_params_and_clear(cql):
    """Bound PreparedStatements and per-add parameter tuples compose in
    add-order (the text form consumes %s strictly left-to-right);
    clear() empties the batch for reuse."""
    from cassandrastack_spark.cql import BatchStatement

    _bootstrap(cql)
    ins = cql.prepare(
        "INSERT INTO messages (channel_id, message_id, author_id, message) "
        "VALUES (?, now(), a8098c1a-f86e-11da-bd1a-00112444be1e, ?)"
    )
    batch = BatchStatement()
    batch.add(ins.bind((7, "first")))
    batch.add(ins, (7, "second"))
    cql.execute(batch)
    rows = cql.execute("SELECT message FROM messages WHERE channel_id = 7")
    assert sorted(r["message"] for r in rows) == ["first", "second"]
    batch.clear()
    assert len(batch) == 0


def test_batchstatement_counter_type_enforced(cql):
    """A COUNTER-typed driver batch inherits the text form's CQL rule:
    only counter UPDATEs are admitted; unknown batch types fail at
    construction."""
    import pytest as _pytest

    from cassandrastack_spark.cql import BatchStatement, BatchType

    _bootstrap(cql)
    bad = BatchStatement(batch_type=BatchType.COUNTER)
    bad.add("INSERT INTO messages (channel_id, message_id, author_id, "
            "message) VALUES (9, now(), "
            "a8098c1a-f86e-11da-bd1a-00112444be1e, 'nope')")
    with _pytest.raises(ValueError, match="COUNTER BATCH"):
        cql.execute(bad)
    with _pytest.raises(ValueError, match="unknown batch type"):
        BatchStatement(batch_type="QUORUM")


def test_keyed_writetime_read_sorts_in_one_task(cql, spark, monkeypatch):
    """A WRITETIME()/TTL() read pinned to one partition key reads one
    Cassandra partition: it is sorted inside one task, like a point
    read, with no range exchange and no sampling job."""
    from cassandrastack_spark.storage import WideColumnTable

    _bootstrap(cql)
    for i in range(3):
        cql.execute(
            "INSERT INTO messages (channel_id, message_id, author_id, message) "
            "VALUES (%s, now(), %s, %s)", (5, "a" * 36, f"m{i}"))
    built = []
    meta = WideColumnTable.read_cell_meta

    def capture(self, **key):
        df = meta(self, **key)
        built.append(df)
        return df

    monkeypatch.setattr(WideColumnTable, "read_cell_meta", capture)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    rows = cql.execute(
        "SELECT message, writetime(message) FROM messages "
        "WHERE channel_id = %s", (5,))
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert [r["message"] for r in rows] == ["m2", "m1", "m0"], "clustering DESC"
    assert len(jobs) <= 2, f"keyed WRITETIME read ran {len(jobs)} jobs"
    (df,) = built
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" not in plan


def test_rejected_values_fail_as_before(cql):
    """Per-value schema checks on every write: a string bound into a
    bigint column, an out-of-range int and an INSERT that leaves a
    NOT NULL key column out are rejected with PySpark's verifier errors,
    and nothing is written."""
    from pyspark.errors import PySparkTypeError, PySparkValueError

    from cassandrastack_spark.api import KEYSPACE, SocialMessageAPI

    cql.execute(
        "CREATE KEYSPACE vk "
        "WITH replication = {'class': 'SimpleStrategy', 'replication_factor': '1'}")
    cql.execute("USE vk")
    cql.execute(
        "CREATE TABLE nums (k text, c int, n bigint, i int, PRIMARY KEY (k, c))")
    for stmt, params in (
        ("INSERT INTO nums (k, c, n) VALUES (%s, %s, %s)", ("a", 1, "x")),
        ("UPDATE nums SET n = %s WHERE k = %s AND c = %s", ("x", "a", 1)),
        ("BEGIN BATCH INSERT INTO nums (k, c, n) VALUES (%s, %s, %s); "
         "APPLY BATCH", ("a", 1, "x")),
    ):
        with pytest.raises(PySparkTypeError) as e:
            cql.execute(stmt, params)
        assert type(e.value) is PySparkTypeError
        assert e.value.getCondition() == "FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME"
    with pytest.raises(PySparkValueError) as e:
        cql.execute(
            "INSERT INTO nums (k, c, i) VALUES (%s, %s, %s)", ("a", 1, 2**31))
    assert type(e.value) is PySparkValueError
    assert e.value.getCondition() == "VALUE_OUT_OF_BOUNDS"
    assert cql.execute("SELECT * FROM nums") == []
    # the REST tables declare their key columns NOT NULL
    api = SocialMessageAPI(cql.spark, cql.warehouse, n_buckets=4)
    api.create()
    api.users_create()
    cql.keyspaces[KEYSPACE] = api.keyspace
    cql.execute(f"USE {KEYSPACE}")
    with pytest.raises(PySparkValueError) as e:
        cql.execute(
            "INSERT INTO users (user_id, email, password) VALUES (now(), %s, %s)",
            ("z@mail.de", "pw"))
    assert type(e.value) is PySparkValueError
    assert e.value.getCondition() == "FIELD_NOT_NULLABLE_WITH_NAME"
    assert len(api.get_users()) == 2


def test_insert_without_a_key_or_with_a_count_mismatch_is_rejected(cql):
    """CQL-created key columns are nullable, so the schema verifier does
    not catch an INSERT that leaves one out or binds it to null; the
    session rejects it as Cassandra does, and a BATCH INSERT whose
    column and value counts differ fails like a single INSERT. Nothing
    is written, including the valid rows of the same batch."""
    cql.execute(
        "CREATE KEYSPACE nk "
        "WITH replication = {'class': 'SimpleStrategy', 'replication_factor': '1'}")
    cql.execute("USE nk")
    cql.execute("CREATE TABLE t (k text, c int, v text, PRIMARY KEY (k, c))")
    ok = "INSERT INTO t (k, c, v) VALUES ('a', 1, 'x'); "
    for stmt, params, msg in (
        ("INSERT INTO t (c, v) VALUES (%s, %s)", (1, "x"),
         "partition key parts are missing: k"),
        ("INSERT INTO t (k, c, v) VALUES (%s, %s, %s)", (None, 1, "x"),
         "partition key parts are missing: k"),
        ("INSERT INTO t (k, v) VALUES (%s, %s) IF NOT EXISTS", ("a", "x"),
         "clustering keys are missing: c"),
        ("INSERT INTO t JSON %s", ('{"k": "a", "v": "x"}',),
         "clustering keys are missing: c"),
        ("BEGIN BATCH " + ok + "INSERT INTO t (k, c) VALUES ('b', null); "
         "APPLY BATCH", (), "clustering keys are missing: c"),
        ("BEGIN BATCH " + ok + "INSERT INTO t (k, v) VALUES ('b', 'y'); "
         "APPLY BATCH", (), "clustering keys are missing: c"),
        ("BEGIN BATCH " + ok + "INSERT INTO t (k, c, v) VALUES ('b', 2); "
         "APPLY BATCH", (), "column/value count mismatch"),
        ("BEGIN BATCH " + ok + "INSERT INTO t (k, c) VALUES ('b', 2, 'y'); "
         "APPLY BATCH", (), "column/value count mismatch"),
    ):
        with pytest.raises(ValueError, match=msg):
            cql.execute(stmt, params)
    assert cql.execute("SELECT * FROM t") == []
