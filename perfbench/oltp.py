"""``oltp_social``: the reference's own REST + CQL traffic, one client.

A closed loop drives ``api.create_app(...).test_client()`` (no network).
Keys are drawn with a seeded Zipf skew; the mix is about 70% partition
reads, 25% writes and 5% paged full-table scans. Every response is checked
against a client-side model of every row the client has written.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import uuid

import numpy as np

CHANNELS = 300
USERS = 1000
SEED_MESSAGES = 600
KV_ROWS = 100
PAGE_SIZE = 25
# Nominal pass seconds on the reference host: the number of passes is
# sized from ``--seconds`` with it, so one ``--seconds`` value always means
# the same requests, however fast the code runs.
NOMINAL_PASS_S = 10.0
ZIPF_S = 1.1

# One pass: (kind, class, requests). 6 reads, 3 writes, 1 scan — near the
# 70/25/5 mix at ten requests, with every kind in every pass; the order is
# shuffled per pass.
MIX = [
    ("channel_read", "read", 3), ("login", "read", 1), ("cql_select", "read", 2),
    ("post", "write", 1), ("register", "write", 1), ("cql_insert", "write", 1),
    ("scan", "scan", 1),
]
KIND_CLASS = {k: c for k, c, _ in MIX}


def n_passes(seconds: int) -> int:
    return 1 + max(1, round(seconds / NOMINAL_PASS_S))


class _Zipf:
    """Bounded Zipf over ``n`` keys; a seeded permutation picks the hot ones."""

    def __init__(self, rng, n):
        w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        self.cdf = np.cumsum(w) / w.sum()
        self.perm = rng.permutation(n)
        self.rng = rng

    def draw(self) -> int:
        return int(self.perm[np.searchsorted(self.cdf, self.rng.random())])


class Workload:
    # Set-ups per run: the first launches the JVM, the second is timed (a
    # seed load costs about 6 s, so more would not fit the run).
    setups = 2

    def __init__(self, seed: int, seconds: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.passes = n_passes(seconds)
        rng = np.random.default_rng(seed)
        self.rng = rng
        base = dt.datetime(2024, 1, 1)
        offs = rng.permutation(SEED_MESSAGES * 10)[:SEED_MESSAGES]
        chan = rng.integers(1, CHANNELS + 1, SEED_MESSAGES)
        self.seed_messages = [
            (int(c), base + dt.timedelta(seconds=int(o)), str(uuid.UUID(int=int(rng.integers(0, 2**62)) << 64 | i)),
             f"author-{int(rng.integers(0, 50))}", f"seed message {i} of channel {int(c)}")
            for i, (c, o) in enumerate(zip(chan, offs))
        ]
        self.seed_users = [(f"user{i:05d}", f"u-{seed}-{i}", f"user{i}@mail.test", f"pw{int(rng.integers(0, 10**6))}")
                           for i in range(USERS)]
        self.kv = {int(k): f"v{int(rng.integers(0, 10**6))}" for k in rng.choice(10_000, KV_ROWS, replace=False)}
        self.pass_kinds = [k for k, _, n in MIX for _ in range(n)]
        self.hot_channel = _Zipf(rng, CHANNELS)
        self.hot_user = _Zipf(rng, USERS)
        self.hot_kv = _Zipf(rng, KV_ROWS)
        self.loads = 0

    # -- set-up: keyspace creation and seed load through the engine's API ----

    def load(self, spark) -> None:
        from cassandrastack_spark import schemas
        from cassandrastack_spark.api import KEYSPACE, create_app
        from cassandrastack_spark.catalog import Keyspace
        from cassandrastack_spark.storage import WideColumnTable

        self.loads += 1
        self.warehouse = os.path.join(self.work_dir, f"warehouse{self.loads}")
        self.app = create_app(spark, self.warehouse)
        self.client = self.app.test_client()
        if self.client.get("/create").status_code != 200:
            raise RuntimeError("keyspace creation failed")
        ks = Keyspace(spark, KEYSPACE, self.warehouse)
        for name, rows in (("messages", self.seed_messages), ("users", self.seed_users)):
            schema = schemas.MESSAGES if name == "messages" else schemas.USERS
            pk, ck, desc = schemas.TABLE_KEYS[name]
            spec = ks.create_table(name, schema, pk, ck, desc)
            WideColumnTable(spark, ks, spec).append(spark.createDataFrame(rows, schema))
        for stmt in ("CREATE KEYSPACE IF NOT EXISTS bench WITH replication = "
                     "{'class': 'SimpleStrategy', 'replication_factor': '1'}",
                     "USE bench", "CREATE TABLE kv (k bigint, v text, PRIMARY KEY (k))"):
            self._cql(stmt)
        batch = "BEGIN BATCH " + " ".join(
            "INSERT INTO kv (k, v) VALUES (%s, %s);" for _ in self.kv) + " APPLY BATCH"
        self._cql(batch, [x for kv in self.kv.items() for x in kv])
        self._reset_model()

    def _reset_model(self) -> None:
        self.channels: dict[int, list[tuple]] = {}
        for c, ts, mid, author, text in sorted(self.seed_messages, key=lambda r: (r[1], r[2]), reverse=True):
            self.channels.setdefault(c, []).append((mid, author, text))
        self.users = {u: (uid, email, pw) for u, uid, email, pw in self.seed_users}
        self.user_names = [u for u, *_ in self.seed_users]  # logins draw seed users
        self.model_kv = dict(self.kv)
        self.kv_keys = list(self.kv)  # the Zipf-drawn keys; new keys are only written
        self.cursor = None
        self.registered = 0
        self.user_bytes = (sum(8 + 8 + len(m) + len(a) + len(t) for _, _, m, a, t in self.seed_messages)
                           + sum(len(u) + len(i) + len(e) + len(p) for u, i, e, p in self.seed_users)
                           + sum(8 + len(v) for v in self.kv.values()))

    def _cql(self, stmt, params=None):
        r = self.client.post("/cql", json={"statement": stmt, "params": params or []})
        if r.status_code != 200:
            raise RuntimeError(f"CQL set-up failed: {r.get_json()}")
        return r.get_json()

    # -- one pass: a block of requests ----------------------------------------

    def ops(self):
        """The request kinds of one pass, in a seeded order."""
        return [self.pass_kinds[i] for i in self.rng.permutation(len(self.pass_kinds))]

    def request(self, kind: str):
        """Issue one request; ``(seconds, 0.0, check)`` where ``check()``
        updates the client model and says whether the response was right."""
        lat, r, check = getattr(self, "_" + kind)()
        return lat, 0.0, lambda: check(r)

    def _timed(self, fn, *a, **kw):
        t0 = time.perf_counter()
        r = fn(*a, **kw)
        return time.perf_counter() - t0, r

    def _channel_read(self):
        c = self.hot_channel.draw() + 1

        def check(r):
            got = [(m["message_id"], m["author_id"], m["message"]) for m in r.get_json()]
            return r.status_code == 200 and got == self.channels.get(c, [])

        return *self._timed(self.client.get, f"/channels/{c}/messages"), check

    def _login(self):
        u = self.user_names[self.hot_user.draw()]
        uid, email, pw = self.users[u]
        roll = self.rng.random()
        if roll < 0.1:
            u, expect = f"nobody-{int(self.rng.integers(0, 10**9))}", 401
        elif roll < 0.2:
            pw, expect = pw + "x", 401
        else:
            expect = 200

        def check(r):
            if r.status_code != expect:
                return False
            return expect == 401 or r.get_json() == {"user_id": uid, "username": u, "email": email}

        return *self._timed(self.client.post, "/users/login",
                            json={"username": u, "password": pw}), check

    def _cql_select(self):
        k = self.kv_keys[self.hot_kv.draw()]

        def check(r):
            return r.status_code == 200 and r.get_json() == {"rows": [{"k": k, "v": self.model_kv[k]}]}

        return *self._timed(self.client.post, "/cql", json={
            "statement": "SELECT * FROM kv WHERE k = %s", "params": [k]}), check

    def _post(self):
        c = self.hot_channel.draw() + 1
        body = {"author_id": f"author-{int(self.rng.integers(0, 50))}",
                "message": f"post {int(self.rng.integers(0, 10**9))} to {c}"}

        def check(r):
            if r.status_code != 201:
                return False
            self.channels.setdefault(c, []).insert(
                0, (r.get_json()["message_id"], body["author_id"], body["message"]))
            self.user_bytes += 16 + 36 + len(body["author_id"]) + len(body["message"])
            return True

        return *self._timed(self.client.post, f"/channels/{c}/messages", json=body), check

    def _register(self):
        self.registered += 1
        u = f"new-{self.seed}-{self.registered}"
        body = {"username": u, "email": f"{u}@mail.test", "password": f"pw-{self.registered}"}

        def check(r):
            if r.status_code != 201 or r.get_json().get("username") != u:
                return False
            self.users[u] = (r.get_json()["user_id"], body["email"], body["password"])
            self.user_bytes += len(u) + 36 + len(body["email"]) + len(body["password"])
            return True

        return *self._timed(self.client.post, "/users/register", json=body), check

    def _cql_insert(self):
        k = (self.kv_keys[self.hot_kv.draw()] if self.rng.random() < 0.5
             else int(self.rng.integers(10_000, 10**9)))
        v = f"v{int(self.rng.integers(0, 10**6))}"

        def check(r):
            if r.status_code != 200:
                return False
            self.model_kv[k] = v
            self.user_bytes += 8 + len(v)
            return True

        return *self._timed(self.client.post, "/cql", json={
            "statement": "INSERT INTO kv (k, v) VALUES (%s, %s)", "params": [k, v]}), check

    def _scan(self):
        url = f"/messages?page_size={PAGE_SIZE}"
        first = self.cursor is None
        if not first:
            url += "&after=" + json.dumps(self.cursor)

        def check(r):
            rows = r.get_json() if r.status_code == 200 else None
            if rows is None:
                return False
            known = {mid: (c, a, t) for c, msgs in self.channels.items() for mid, a, t in msgs}
            ok = (len(rows) == PAGE_SIZE or not first) and len(rows) <= PAGE_SIZE
            ok = ok and len({m["message_id"] for m in rows}) == len(rows)
            ok = ok and all(known.get(m["message_id"]) == (m["channel_id"], m["author_id"], m["message"])
                            for m in rows)
            if len(rows) < PAGE_SIZE:
                self.cursor = None
            else:
                self.cursor = {k: rows[-1][k] for k in ("channel_id", "message_ts", "message_id")}
            return ok

        return *self._timed(self.client.get, url), check

    # -- end-of-run storage shape ---------------------------------------------

    def storage_shape(self) -> dict[str, float]:
        files, size = 0, 0
        for root, _, names in os.walk(self.warehouse):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        return {"storage.files_total": files,
                "storage.bytes_per_user_byte": size / max(1, self.user_bytes)}
