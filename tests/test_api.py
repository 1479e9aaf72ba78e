"""REST-surface parity tests: the reference's 11 routes (SURVEY.md §2.5)
replayed in docstring bootstrap order /create -> /messages/create ->
/users/create (server.py:18-20), asserting the observable semantics."""

import calendar
import datetime as dt
import time

import pytest

from cassandrastack_spark.api import SocialMessageAPI


@pytest.fixture()
def api(spark, tmp_warehouse):
    a = SocialMessageAPI(spark, tmp_warehouse, n_buckets=4)
    a.create()
    yield a
    a.drop()


def test_index_liveness(api):
    assert api.index() == "Hello World!"


def test_bootstrap_and_reads(api):
    assert api.messages_create()["seeded"] == 15
    assert api.users_create()["seeded"] == 2

    # R2 full scan: all 15 seed messages
    assert len(api.get_messages()) == 15

    # R1 single-partition read: channel 1 has 13, newest-first
    ch1 = api.get_channel_messages(1)
    assert len(ch1) == 13
    ts = [m["message_ts"] for m in ch1]
    assert ts == sorted(ts, reverse=True), "clustering DESC (server.py:185)"
    assert len(api.get_channel_messages(2)) == 1
    assert len(api.get_channel_messages(3)) == 1

    # R3 projection: password never leaves the engine (server.py:217)
    users = api.get_users()
    assert len(users) == 2
    assert all(set(u) == {"user_id", "username", "email"} for u in users)


def test_post_message_validation_and_write(api):
    api.messages_create()
    bad, code = api.post_channel_message(1, {"message": "no author"})
    assert code == 400 and "error" in bad

    ok, code = api.post_channel_message(1, {"author_id": "u-1", "message": "hi"})
    assert code == 201
    ch1 = api.get_channel_messages(1)
    assert len(ch1) == 14
    assert ch1[0]["message"] == "hi", "new message is newest-first"


def test_login_success_wrong_pw_unknown_user(api):
    api.users_create()
    ok, code = api.login({"username": "Alex", "password": "alex"})
    assert code == 200 and ok["username"] == "Alex" and "password" not in ok

    _, code = api.login({"username": "Alex", "password": "wrong"})
    assert code == 401

    # reference bug fixed: unknown user -> 401, not IndexError (server.py:250-254)
    _, code = api.login({"username": "Zoe", "password": "x"})
    assert code == 401

    _, code = api.login({"username": "Alex"})
    assert code == 400


def test_register_then_login_and_upsert(api):
    api.users_create()
    created, code = api.register(
        {"username": "Cora", "email": "c@mail.de", "password": "pw"}
    )
    assert code == 201
    ok, code = api.login({"username": "Cora", "password": "pw"})
    assert code == 200 and ok["user_id"] == created["user_id"]

    # INSERT is an upsert on the primary key: re-registering the same
    # username overwrites (server.py:307-308 re-seed semantics)
    again, _ = api.register(
        {"username": "Cora", "email": "c2@mail.de", "password": "pw2"}
    )
    assert len(api.get_users()) == 3, "no duplicate row"
    ok, code = api.login({"username": "Cora", "password": "pw2"})
    assert code == 200 and ok["email"] == "c2@mail.de"
    assert ok["user_id"] == again["user_id"], "last writer wins"


def test_reseed_users_is_upsert_not_duplicate(api):
    api.users_create()
    api.users_create()  # re-running the seed endpoint must not duplicate
    assert len(api.get_users()) == 2


def test_drop_then_recreate(api):
    api.messages_create()
    api.drop()
    api.create()
    assert api.get_messages() == [], "drop removed all data"
    api.messages_create()
    assert len(api.get_messages()) == 15


def test_flask_cql_route(spark, tmp_warehouse):
    """The /cql extension route executes statements over the same
    warehouse as the parity routes, with parser errors as 400s."""
    pytest.importorskip("flask")
    from cassandrastack_spark.api import create_app

    app = create_app(spark, tmp_warehouse)
    c = app.test_client()
    assert c.post("/cql", json={}).status_code == 400
    for stmt in (
        "CREATE KEYSPACE IF NOT EXISTS ws "
        "WITH replication = {'class': 'SimpleStrategy', 'replication_factor': '1'}",
        "USE ws",
        "CREATE TABLE kv (k text, v int, PRIMARY KEY (k))",
    ):
        r = c.post("/cql", json={"statement": stmt})
        assert r.status_code == 200, r.get_json()
    c.post("/cql", json={
        "statement": "INSERT INTO kv (k, v) VALUES (%s, %s)",
        "params": ["a", 7],
    })
    r = c.post("/cql", json={
        "statement": "SELECT * FROM kv WHERE k = %s", "params": ["a"],
    })
    assert r.get_json() == {"rows": [{"k": "a", "v": 7}]}
    r = c.post("/cql", json={"statement": "GRANT ALL TO nobody"})
    assert r.status_code == 400 and "unsupported" in r.get_json()["error"]


def test_messages_route_pages_with_keyset_cursor(spark, tmp_warehouse):
    """GET /messages?page_size=N&after=<json cursor>: keyset paging over
    the seeded 15 messages — pages are disjoint, total 15, and the ISO
    timestamp in the JSON cursor round-trips."""
    pytest.importorskip("flask")
    import json

    from cassandrastack_spark.api import create_app

    app = create_app(spark, tmp_warehouse)
    c = app.test_client()
    c.get("/create")
    c.get("/messages/create")
    seen, after = [], None
    while True:
        url = "/messages?page_size=6"
        if after:
            url += "&after=" + json.dumps(after)
        rows = c.get(url).get_json()
        if not rows:
            break
        seen.extend(rows)
        last = rows[-1]
        after = {
            "channel_id": last["channel_id"],
            "message_ts": last["message_ts"],
            "message_id": last["message_id"],
        }
    assert len(seen) == 15
    assert len({r["message_id"] for r in seen}) == 15
    c.get("/drop")


@pytest.fixture()
def berlin_tz(monkeypatch):
    """The Python process runs in Europe/Berlin while the Spark session
    time zone stays UTC: naive datetimes are process-local time."""
    monkeypatch.setenv("TZ", "Europe/Berlin")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


_SUMMER = dt.datetime(2024, 7, 1, 12, 34, 56, 789012)
_WINTER = dt.datetime(2024, 1, 15, 8, 0, 0, 1)


def test_posted_message_ts_round_trips_in_process_time_zone(
    api, berlin_tz, monkeypatch
):
    assert time.localtime(calendar.timegm(_SUMMER.timetuple())).tm_gmtoff == 7200
    monkeypatch.setattr(
        SocialMessageAPI, "_now", staticmethod(lambda: (_SUMMER, "m-summer"))
    )
    _, code = api.post_channel_message(4, {"author_id": "u-1", "message": "hi"})
    assert code == 201
    (row,) = api.get_channel_messages(4)
    assert row["message_ts"] == _SUMMER
    assert row["message_id"] == "m-summer"


def test_cql_timestamps_round_trip_in_process_time_zone(
    spark, tmp_warehouse, berlin_tz
):
    """Top-level and collection-nested timestamps, through a full-row
    INSERT and through a collection delta."""
    from cassandrastack_spark.cql import CqlSession

    cql = CqlSession(spark, tmp_warehouse, n_buckets=4)
    cql.execute(
        "CREATE KEYSPACE tz "
        "WITH replication = {'class': 'SimpleStrategy', 'replication_factor': '1'}"
    )
    cql.execute("USE tz")
    cql.execute(
        "CREATE TABLE events (k text, at timestamp, seen list<timestamp>, "
        "PRIMARY KEY (k))"
    )
    cql.execute(
        "INSERT INTO events (k, at, seen) VALUES (%s, %s, %s)",
        ("e", _SUMMER, [_SUMMER, _WINTER]),
    )
    assert cql.execute("SELECT * FROM events WHERE k = %s", ("e",)) == [
        {"k": "e", "at": _SUMMER, "seen": [_SUMMER, _WINTER]}
    ]
    cql.execute("UPDATE events SET seen = seen + %s WHERE k = %s", ([_WINTER], "e"))
    assert cql.execute("SELECT seen FROM events WHERE k = %s", ("e",)) == [
        {"seen": [_SUMMER, _WINTER, _WINTER]}
    ]
