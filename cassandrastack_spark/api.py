"""REST API surface parity — the reference's 11 routes as engine calls.

Every route from the reference's module docstring (``server.py:4-17``,
SURVEY.md §2.5) is a method on :class:`SocialMessageAPI`, returning
JSON-ready dicts, backed by the wide-column storage layer. A Flask app
factory is provided behind an import guard (Flask is the reference's
web layer, ``requirements.txt:2``; not required for the engine itself).

Reference bugs deliberately FIXED here (SURVEY.md §0):
- login on unknown user returns 401, not IndexError (``server.py:250-254``);
- validation errors return a (payload, 400) tuple instead of the
  un-imported ``abort`` (``server.py:124,243,267``).

Semantics deliberately KEPT:
- seed data: 15 messages / 3 channels / 2 authors (``server.py:192-206``),
  2 users (``server.py:307-308``);
- newest-first message ordering from the clustering order
  (``server.py:185``);
- ``/users`` projects the password column away (``server.py:217``);
- INSERT-is-upsert on primary key (re-seeding users overwrites);
- timeuuid ``now()`` becomes (current_timestamp, uuid4) — SURVEY.md §7.4.
"""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import SparkSession

from cassandrastack_spark import schemas
from cassandrastack_spark.catalog import Keyspace
from cassandrastack_spark.storage import WideColumnTable

KEYSPACE = "socialmessagekeyspace"

# Seed constants mirroring server.py:192-206 / 307-308 (content, not code:
# the reference hardcodes 15 German sample messages and users Alex/Bianca).
_SEED_AUTHOR_A = "a8098c1a-f86e-11da-bd1a-00112444be1e"
_SEED_AUTHOR_B = "ab398c12-f86e-23da-bd1a-aabb2233be1e"


class SocialMessageAPI:
    """The engine-backed equivalent of the reference's Flask handlers."""

    def __init__(self, spark: SparkSession, warehouse: str, n_buckets: int = 16):
        self.spark = spark
        self.warehouse = warehouse
        self.n_buckets = n_buckets
        self.keyspace = Keyspace(spark, KEYSPACE, warehouse)

    # -- internals -----------------------------------------------------------

    def _table(self, name: str) -> WideColumnTable:
        if name not in self.keyspace.tables:
            schema = schemas.MESSAGES if name == "messages" else schemas.USERS
            pk, ck, desc = schemas.TABLE_KEYS[name]
            self.keyspace.create_table(name, schema, pk, ck, desc)
        return WideColumnTable(
            self.spark, self.keyspace, self.keyspace.tables[name], self.n_buckets
        )

    @staticmethod
    def _now() -> tuple[dt.datetime, str]:
        """timeuuid now() analogue: (wall-clock ts, uuid4) — SURVEY.md §7.4."""
        return dt.datetime.now(), str(uuid.uuid4())

    # -- GET / ----------------------------------------------------------------

    def index(self) -> str:
        """Liveness (server.py:64-66)."""
        return "Hello World!"

    # -- GET /create (D1) ------------------------------------------------------

    def create(self) -> dict:
        self.keyspace.create()
        return {"keyspace": KEYSPACE, "created": True}

    # -- GET /drop (D2) --------------------------------------------------------

    def drop(self) -> dict:
        self.keyspace.drop()
        return {"keyspace": KEYSPACE, "dropped": True}

    # -- GET /messages/create (D4 + W3: 15-row seed batch) ----------------------

    def messages_create(self) -> dict:
        t = self._table("messages")
        base = dt.datetime(2024, 1, 1, 12, 0, 0)
        rows = []
        for i in range(13):  # channel 1: 13 messages, alternating authors
            rows.append((
                1, base + dt.timedelta(seconds=i), str(uuid.uuid4()),
                _SEED_AUTHOR_A if i % 2 == 0 else _SEED_AUTHOR_B,
                f"Nachricht {i + 1} in Kanal 1",
            ))
        rows.append((2, base + dt.timedelta(seconds=20), str(uuid.uuid4()),
                     _SEED_AUTHOR_A, "Nachricht 1 in Kanal 2"))
        rows.append((3, base + dt.timedelta(seconds=21), str(uuid.uuid4()),
                     _SEED_AUTHOR_B, "Nachricht 1 in Kanal 3"))
        t.write_rows(rows)
        return {"table": "messages", "seeded": len(rows)}

    # -- GET /messages (R2: full scan) ------------------------------------------

    def get_messages(
        self, page_size: int | None = None, after: dict | None = None
    ) -> list[dict]:
        """Full scan; with ``page_size`` the response is one keyset page
        (``storage.py read_page``) — the cassandra-driver pages this
        route's unbounded SELECT transparently (fetch_size); here the
        client passes the previous page's last key as ``after``."""
        t = self._table("messages")
        if page_size is not None:
            if after:
                # JSON cursors carry timestamp keys as strings — ISO, or
                # the RFC-822 form Flask's jsonify emits (clients echo the
                # previous page's values back verbatim). Normalized to the
                # storage's naive-UTC timestamps.
                def _ts(v: str) -> dt.datetime:
                    try:
                        # accept the 'Z' suffix on any interpreter
                        parsed = dt.datetime.fromisoformat(
                            v[:-1] + "+00:00" if v.endswith("Z") else v
                        )
                    except ValueError:
                        from email.utils import parsedate_to_datetime

                        try:
                            parsed = parsedate_to_datetime(v)
                        except (TypeError, ValueError):
                            raise ValueError(
                                f"unparseable timestamp in paging cursor: {v!r}"
                            ) from None
                    if parsed.tzinfo is not None:
                        parsed = parsed.astimezone(dt.timezone.utc).replace(
                            tzinfo=None
                        )
                    return parsed

                types = {f.name: f.dataType for f in t.spec.schema.fields}
                unknown = set(after) - set(types)
                if unknown:
                    raise ValueError(
                        f"unknown paging-cursor columns: {sorted(unknown)}"
                    )
                after = {
                    k: (
                        _ts(v)
                        if isinstance(v, str)
                        and types[k].typeName().startswith("timestamp")
                        else v
                    )
                    for k, v in after.items()
                }
            return [r.asDict() for r in t.read_page(page_size, after).collect()]
        return [r.asDict() for r in t.read().collect()]

    # -- GET /channels/<id>/messages (R1: one partition, newest first) -----------

    def get_channel_messages(self, channel_id: int) -> list[dict]:
        t = self._table("messages")
        return [r.asDict() for r in t.read_partition_rows(channel_id=channel_id)]

    # -- POST /channels/<id>/messages (W1 + W3 + W4) ------------------------------

    def post_channel_message(self, channel_id: int, body: dict):
        if not body or "author_id" not in body or "message" not in body:
            return {"error": "author_id and message are required"}, 400
        ts, mid = self._now()
        t = self._table("messages")
        t.write_rows(
            [(int(channel_id), ts, mid, body["author_id"], body["message"])]
        )
        return {"channel_id": channel_id, "message_id": mid}, 201

    # -- GET /users (R3: projection excludes password) ----------------------------

    def get_users(self) -> list[dict]:
        t = self._table("users")
        return [
            r.asDict()
            for r in t.read().select("user_id", "username", "email").collect()
        ]

    # -- GET /users/create (D5 + W3: 2-row seed) -----------------------------------

    def users_create(self) -> dict:
        t = self._table("users")
        _, ua = self._now()
        _, ub = self._now()
        t.write_rows([
            ("Alex", ua, "alex@mail.de", "alex"),
            ("Bianca", ub, "bianca@mail.de", "bianca"),
        ])
        return {"table": "users", "seeded": 2}

    # -- POST /users/login (R4: point lookup + predicate, bug fixed) ---------------

    def login(self, body: dict):
        if not body or "username" not in body or "password" not in body:
            return {"error": "username and password are required"}, 400
        t = self._table("users")
        rows = [
            r for r in t.read_partition_rows(username=body["username"])
            # SQL equality: a null password matches nothing
            if r.password is not None and r.password == body["password"]
        ]
        if not rows:  # unknown user OR wrong password -> 401 (not IndexError)
            return {"error": "unauthorized"}, 401
        return {c: rows[0][c] for c in ("user_id", "username", "email")}, 200

    # -- POST /users/register (W2 + W3 + W4) ----------------------------------------

    def register(self, body: dict):
        if not body or not all(k in body for k in ("username", "email", "password")):
            return {"error": "username, email and password are required"}, 400
        _, uid = self._now()
        t = self._table("users")
        t.write_rows([(body["username"], uid, body["email"], body["password"])])
        return {"user_id": uid, "username": body["username"]}, 201


def create_app(spark: SparkSession, warehouse: str):
    """Flask app factory wiring the 11 reference routes (SURVEY.md §2.5)
    to the engine. Import-guarded: the engine works without Flask."""
    try:
        from flask import Flask, jsonify, request
    except ImportError as e:  # pragma: no cover
        raise ImportError("flask is not installed; use SocialMessageAPI directly") from e

    api = SocialMessageAPI(spark, warehouse)
    app = Flask(__name__)

    app.add_url_rule("/", "index", lambda: api.index())
    app.add_url_rule("/create", "create", lambda: jsonify(api.create()))
    app.add_url_rule("/drop", "drop", lambda: jsonify(api.drop()))
    app.add_url_rule(
        "/messages/create", "messages_create", lambda: jsonify(api.messages_create())
    )
    def _messages():
        import json as _json

        page_size = request.args.get("page_size", type=int)
        after = request.args.get("after")
        try:
            cursor = _json.loads(after) if after else None
            if cursor is not None and not isinstance(cursor, dict):
                raise ValueError("paging cursor must be a JSON object")
            return jsonify(api.get_messages(page_size, cursor))
        except ValueError as e:
            # malformed client cursors are client errors, not 500s
            return jsonify({"error": str(e)}), 400

    app.add_url_rule("/messages", "messages", _messages)
    app.add_url_rule(
        "/channels/<int:channel_id>/messages", "channel_messages",
        lambda channel_id: jsonify(api.get_channel_messages(channel_id)),
    )

    def _post_message(channel_id):
        payload, code = api.post_channel_message(channel_id, request.get_json(silent=True))
        return jsonify(payload), code

    app.add_url_rule(
        "/channels/<int:channel_id>/messages", "post_message",
        _post_message, methods=["POST"],
    )
    app.add_url_rule("/users", "users", lambda: jsonify(api.get_users()))
    app.add_url_rule("/users/create", "users_create", lambda: jsonify(api.users_create()))

    def _login():
        payload, code = api.login(request.get_json(silent=True))
        return jsonify(payload), code

    def _register():
        payload, code = api.register(request.get_json(silent=True))
        return jsonify(payload), code

    app.add_url_rule("/users/login", "login", _login, methods=["POST"])
    app.add_url_rule("/users/register", "register", _register, methods=["POST"])

    # Engine extension (not a reference route): cqlsh-over-HTTP. One
    # CqlSession per app, same warehouse as the parity routes; errors
    # from the statement parser come back as 400s with the message.
    from cassandrastack_spark.cql import CqlSession

    cql = CqlSession(spark, warehouse)

    def _cql():
        body = request.get_json(silent=True) or {}
        stmt = body.get("statement")
        if not stmt:
            return jsonify({"error": "statement is required"}), 400
        try:
            rows = cql.execute(stmt, tuple(body.get("params") or ()))
        except ValueError as e:
            return jsonify({"error": str(e)}), 400
        return jsonify({"rows": rows}), 200

    app.add_url_rule("/cql", "cql", _cql, methods=["POST"])
    return app
