"""CQL text front-end: execute the reference's literal statements.

The reference speaks CQL strings through the python driver
(``server.py:76-79`` CREATE KEYSPACE, ``server.py:178-186`` CREATE
TABLE, ``server.py:131-139`` prepared INSERT with ``now()``,
``server.py:98`` SELECT-by-partition-key, ``server.py:191-207``
BEGIN BATCH). This module parses that subset — plus the engine's
extensions (TTL, IF NOT EXISTS, conditional UPDATE/DELETE LWT with
IF EXISTS / IF col = v, counters, collection deltas, static columns,
IN reads, PER PARTITION LIMIT, CREATE/DROP MATERIALIZED VIEW,
DROP TABLE/INDEX, prepared statements with ``?`` markers and
``execute_async``) — and routes each statement to the catalog/storage
layer, so a reference user can paste their CQL unchanged.

Deliberately NOT a full CQL grammar: statements are dispatched by
regex, values by a small literal reader. Anything outside the
supported subset raises with the offending statement — loud beats
wrong for a storage front-end.

Parameters use the python-driver convention: ``%s`` placeholders bound
positionally from ``params`` (``server.py:133``). ``now()`` generates
the engine's timeuuid analogue: a zero-padded decimal prefix from the
engine's monotonic write sequence plus a random suffix, so the STRING
clustering order of ``now()``-keyed columns equals insertion order —
the property the reference leans on when it declares
``CLUSTERING ORDER BY (message_id DESC)`` (``server.py:185``) and
expects channel reads to come back newest-first.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import SparkSession, functions as F
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
)

from cassandrastack_spark.catalog import Keyspace
from cassandrastack_spark.storage import (
    WideColumnTable,
    _internal_rows,
    _local_frame,
    _next_writetime,
)

_UUID_RE = re.compile(
    r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
)


def cql_now_id() -> str:
    """timeuuid ``now()`` analogue with time-ordering that survives the
    uuid→string mapping: ``<020d write-sequence>-<12 hex random>``.

    Cassandra's timeuuid sorts by embedded timestamp; this engine maps
    uuid/timeuuid to StringType, so ordering must hold LEXICALLY. A
    fixed-width zero-padded decimal prefix from the monotonic write
    sequence sorts strings exactly like the numbers, so ASC/DESC
    clustering on a ``now()`` column reproduces chronological /
    newest-first reads (``server.py:185`` relies on DESC).
    """
    return f"{_next_writetime():020d}-{uuid.uuid4().hex[:12]}"

_SIMPLE_TYPES = {
    "bigint": LongType(),
    "int": IntegerType(),
    "double": DoubleType(),
    "float": FloatType(),
    "boolean": BooleanType(),
    "text": StringType(),
    "varchar": StringType(),
    "ascii": StringType(),
    "uuid": StringType(),  # no Spark UUID type; canonical 36-char form
    "timeuuid": StringType(),
    "timestamp": TimestampType(),
    "counter": LongType(),
    "blob": StringType(),
}


def _cql_type(t: str, udts: dict | None = None):
    t = t.strip().lower()
    m = re.fullmatch(r"(set|list)\s*<\s*(\w+)\s*>", t)
    if m:
        return ArrayType(_SIMPLE_TYPES[m.group(2)]), m.group(1)
    m = re.fullmatch(r"map\s*<\s*(\w+)\s*,\s*(\w+)\s*>", t)
    if m:
        return MapType(_SIMPLE_TYPES[m.group(1)], _SIMPLE_TYPES[m.group(2)]), "map"
    # user-defined types: bare name or frozen<name> -> StructType
    fm = re.fullmatch(r"frozen\s*<\s*(\w+)\s*>", t)
    un = fm.group(1) if fm else t
    if udts and un in udts:
        return udts[un], None
    if t not in _SIMPLE_TYPES:
        raise ValueError(f"unsupported CQL type: {t!r}")
    return _SIMPLE_TYPES[t], ("counter" if t == "counter" else None)


class _Literal:
    """Reads one CQL value from text: numbers, 'strings', now(), %s,
    {set/map} and [list] literals, true/false/null."""

    def __init__(self, params: tuple):
        self.params = list(params)

    def take_param(self):
        if not self.params:
            raise ValueError("more %s placeholders than params")
        return self.params.pop(0)

    def read(self, text: str):
        text = text.strip()
        if text == "%s":
            return self.take_param()
        if text.lower() == "now()":
            return cql_now_id()
        if text.lower() in ("true", "false"):
            return text.lower() == "true"
        if text.lower() == "null":
            return None
        if text.startswith("'") and text.endswith("'"):
            return text[1:-1].replace("''", "'")
        if text.startswith("[") and text.endswith("]"):
            return [self.read(p) for p in _split_top(text[1:-1])]
        if text.startswith("{") and text.endswith("}"):
            parts = _split_top(text[1:-1])
            if parts and ":" in parts[0]:
                out = {}
                for p in parts:
                    k, v = _split_kv(p)
                    ks = k.strip()
                    if re.fullmatch(r"[A-Za-z_]\w*", ks):
                        # bare identifier key = UDT literal field name
                        # (map literals quote their keys in CQL)
                        out[ks] = self.read(v)
                    else:
                        out[self.read(k)] = self.read(v)
                return out
            return [self.read(p) for p in parts]  # set literal -> array
        if re.fullmatch(r"-?\d+", text):
            return int(text)
        if re.fullmatch(r"-?\d*\.\d+", text):
            return float(text)
        if _UUID_RE.fullmatch(text):
            # bare uuid literal (CQL allows them unquoted — the
            # reference's seed batch uses them, server.py:191-207);
            # normalized to lowercase like cqlsh renders them
            return text.lower()
        raise ValueError(f"cannot parse CQL literal: {text!r}")


def _split_top(s: str) -> list[str]:
    """Split on top-level commas (not inside quotes/brackets)."""
    out, depth, quote, cur = [], 0, False, []
    i = 0
    while i < len(s):
        ch = s[i]
        if quote:
            cur.append(ch)
            if ch == "'":
                if i + 1 < len(s) and s[i + 1] == "'":
                    cur.append("'")
                    i += 1
                else:
                    quote = False
        elif ch == "'":
            quote = True
            cur.append(ch)
        elif ch in "([{<":  # < > nest generic types (map<text, int>)
            depth += 1
            cur.append(ch)
        elif ch in ")]}>":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _find_top_keyword(s: str, word: str) -> int:
    """Index of the first occurrence of ``word`` as a standalone
    top-level keyword — outside quotes and brackets, whitespace on both
    sides — or -1. Quote-aware so a WHERE string literal containing a
    bare `` if ``/`` and `` token never starts a clause (the regex
    ``\\s+if\\s+`` split was not; see round-3 advice on `_update`)."""
    low, w, n = s.lower(), word.lower(), len(s)
    quote, depth, i = False, 0, 0
    while i < n:
        ch = s[i]
        if quote:
            if ch == "'":
                if i + 1 < n and s[i + 1] == "'":
                    i += 1
                else:
                    quote = False
        elif ch == "'":
            quote = True
        elif ch in "([{":  # comparison < > appear in WHERE: not nesting
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif depth == 0 and low.startswith(w, i):
            j = i + len(w)
            if (i > 0 and s[i - 1].isspace()) and (j < n and s[j].isspace()):
                return i
        i += 1
    return -1


def _split_top_keyword(s: str, word: str) -> list[str]:
    """Split on every top-level standalone ``word`` (quote-aware
    replacement for ``re.split(r'\\s+word\\s+', ...)``)."""
    out, rest = [], s
    while True:
        i = _find_top_keyword(rest, word)
        if i < 0:
            out.append(rest.strip())
            return out
        out.append(rest[:i].strip())
        rest = rest[i + len(word):]


def _split_kv(s: str) -> tuple[str, str]:
    depth, quote = 0, False
    for i, ch in enumerate(s):
        if quote:
            quote = ch != "'"
        elif ch == "'":
            quote = True
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == ":" and depth == 0:
            return s[:i], s[i + 1:]
    raise ValueError(f"expected key:value, got {s!r}")


class PreparedStatement:
    """Parse-once bind-many statement, the python-driver shape the
    reference uses (``session.prepare(INSERT ... VALUES (?, now(), ?,
    ?))`` — ``server.py:131-133``, ``275``). ``?`` markers (the CQL
    prepared-statement convention) normalize to the session's ``%s``
    placeholders outside string literals; ``bind`` returns itself with
    values attached so ``session.execute(prepared.bind(vals))`` and
    ``session.execute(prepared, vals)`` both work."""

    def __init__(self, text: str):
        out, quote = [], False
        for ch in text:
            if quote:
                quote = ch != "'"
                out.append(ch)
            elif ch == "'":
                quote = True
                out.append(ch)
            elif ch == "?":
                out.append("%s")
            else:
                out.append(ch)
        self.text = "".join(out)
        self.values: tuple = ()

    def bind(self, values) -> "PreparedStatement":
        bound = PreparedStatement("")
        bound.text = self.text
        bound.values = tuple(values)
        return bound


class ConsistencyLevel:
    """python-driver parity constants (``cassandra.ConsistencyLevel``
    — the reference imports it at ``server.py:31`` and passes
    ``ConsistencyLevel.ONE`` to its batch, ``server.py:136-137``).
    Values are the public CQL native-protocol consistency codes. On
    this engine consistency selection is a SEAM (SURVEY §2 W4): there
    is no replica set in a Spark job, so the session records the
    requested level for connector passthrough (``sources/io.py``
    option maps) instead of coordinating quorums."""

    ANY = 0
    ONE = 1
    TWO = 2
    THREE = 3
    QUORUM = 4
    ALL = 5
    LOCAL_QUORUM = 6
    EACH_QUORUM = 7
    SERIAL = 8
    LOCAL_SERIAL = 9
    LOCAL_ONE = 10


class SimpleStatement:
    """``cassandra.query.SimpleStatement`` parity — a statement string
    plus per-statement options (the reference wraps every batched
    INSERT in one, ``server.py:192-207``). The engine executes the
    ``query_string`` through the same CQL front-end as a bare string;
    ``consistency_level`` rides along for the session to record (W4
    seam), never to change results."""

    def __init__(self, query_string: str, consistency_level=None):
        self.query_string = query_string
        self.consistency_level = consistency_level


class BatchType:
    """``cassandra.query.BatchType`` parity (LOGGED / UNLOGGED /
    COUNTER). String values double as the CQL keyword spliced into
    the text form."""

    LOGGED = "LOGGED"
    UNLOGGED = "UNLOGGED"
    COUNTER = "COUNTER"


class BatchStatement:
    """``cassandra.query.BatchStatement`` parity — the driver-object
    batch API the reference builds its seed data with
    (``BatchStatement(consistency_level=ConsistencyLevel.ONE)`` then
    ``batch.add(SimpleStatement(...))`` x15, ``server.py:136-139,
    189-207``). ``session.execute(batch)`` lowers it onto the SAME
    text-form machinery as ``BEGIN [UNLOGGED|COUNTER] BATCH ... APPLY
    BATCH`` (``CqlSession._batch``), so both entry points share one
    atomicity/ordering semantics (and the text form's documented
    parsing caveat: a literal ``;`` inside a batched statement's
    string value is not supported — split happens at top level of the
    assembled body).

    ``add`` accepts a raw string, a ``SimpleStatement``, or a bound
    ``PreparedStatement``; per-statement ``parameters`` concatenate in
    add-order (the text form consumes ``%s`` placeholders strictly
    left-to-right, so per-statement tuples compose exactly).
    """

    def __init__(self, batch_type: str = BatchType.LOGGED,
                 consistency_level=None):
        if batch_type not in (
            BatchType.LOGGED, BatchType.UNLOGGED, BatchType.COUNTER
        ):
            raise ValueError(f"unknown batch type {batch_type!r}")
        self.batch_type = batch_type
        self.consistency_level = consistency_level
        self._statements: list[str] = []
        self._params: list = []

    def add(self, statement, parameters=()) -> "BatchStatement":
        if isinstance(statement, SimpleStatement):
            text = statement.query_string
        elif isinstance(statement, PreparedStatement):
            text = statement.text
            if statement.values and not parameters:
                parameters = statement.values
        elif isinstance(statement, str):
            text = statement
        else:
            raise TypeError(
                "BatchStatement.add takes a str, SimpleStatement, or "
                f"PreparedStatement, got {type(statement).__name__}"
            )
        self._statements.append(text.strip().rstrip(";"))
        self._params.extend(parameters)
        return self

    def clear(self) -> None:
        self._statements.clear()
        self._params.clear()

    def __len__(self) -> int:
        return len(self._statements)

    def _as_cql(self) -> tuple[str, tuple]:
        """The equivalent text-form batch + flattened params."""
        kind = (
            "" if self.batch_type == BatchType.LOGGED
            else self.batch_type + " "
        )
        body = ";\n".join(self._statements)
        return (
            f"BEGIN {kind}BATCH\n{body};\nAPPLY BATCH",
            tuple(self._params),
        )


class CqlSession:
    """Statement-string session over the wide-column engine."""

    def __init__(self, spark: SparkSession, warehouse: str, n_buckets: int = 16):
        from concurrent.futures import ThreadPoolExecutor

        self.spark = spark
        self.warehouse = warehouse
        self.n_buckets = n_buckets
        self.keyspaces: dict[str, Keyspace] = {}
        self.current: Keyspace | None = None
        # newest consistency level any statement object requested —
        # the W4 seam's observable (there is no replica set to
        # coordinate; sources/io.py carries the level to the real
        # Cassandra connector)
        self.last_consistency_level = None
        # built eagerly (not lazily on first execute_async) so two
        # threads racing the first submit can't each build a pool;
        # shutdown() releases the workers deterministically
        self._async_pool = ThreadPoolExecutor(
            max_workers=4, thread_name_prefix="cql-async"
        )

    def shutdown(self) -> None:
        """Drain and stop the async-execution pool (``cluster
        .shutdown()`` parity, server.py's driver teardown). Idempotent;
        the session's synchronous API keeps working after."""
        self._async_pool.shutdown(wait=True)

    # -- driver-API parity (server.py:98-101, 131-139) -----------------------

    def prepare(self, stmt: str) -> PreparedStatement:
        """``session.prepare`` parity: returns a reusable statement with
        ``?`` markers normalized; the engine's analogue of the server's
        prepared-statement cache (``cassandra.yaml:266``) is Catalyst's
        plan cache for the repeated identical plans the statement
        produces."""
        return PreparedStatement(stmt)

    def execute_async(self, stmt, params: tuple = ()):
        """``session.execute_async(...) -> future`` parity (the
        reference submits every read async and blocks on
        ``future.result()``, ``server.py:98-101``). Spark actions are
        blocking per job, so async is a driver-side thread — the same
        job-level async the reference gets from the python driver."""
        return self._async_pool.submit(self.execute, stmt, params)

    # -- plumbing ------------------------------------------------------------

    def _ks(self) -> Keyspace:
        if self.current is None:
            raise ValueError("no keyspace selected (USE <keyspace> first)")
        return self.current

    def _table(self, name: str) -> WideColumnTable:
        ks = self._ks()
        if name not in ks.tables:
            raise ValueError(f"unknown table {name!r} in keyspace {ks.name!r}")
        return WideColumnTable(self.spark, ks, ks.tables[name], self.n_buckets)

    # -- entry point ---------------------------------------------------------

    def execute(self, stmt, params: tuple = ()):  # noqa: C901
        if isinstance(stmt, BatchStatement):
            # driver-object batch lowers onto the shared text-form
            # machinery — one batch semantics for both entry points
            if stmt.consistency_level is not None:
                self.last_consistency_level = stmt.consistency_level
            text, bparams = stmt._as_cql()
            return self._batch(text, tuple(params) or bparams)
        if isinstance(stmt, SimpleStatement):
            # consistency is a seam on this engine (W4): recorded for
            # connector passthrough, never result-changing
            if stmt.consistency_level is not None:
                self.last_consistency_level = stmt.consistency_level
            stmt = stmt.query_string
        if isinstance(stmt, PreparedStatement):
            stmt, params = stmt.text, tuple(params) or stmt.values
        s = stmt.strip().rstrip(";").strip()
        low = s.lower()
        if low.startswith("create keyspace"):
            return self._create_keyspace(s)
        if low.startswith("drop keyspace"):
            return self._drop_keyspace(s)
        if low.startswith("use "):
            name = s.split(None, 1)[1].strip()
            if name not in self.keyspaces:
                raise ValueError(f"unknown keyspace {name!r}")
            self.current = self.keyspaces[name]
            return None
        if low.startswith("create type"):
            return self._create_type(s)
        if low.startswith("create materialized view"):
            return self._create_mv(s)
        if low.startswith("create table"):
            return self._create_table(s)
        if low.startswith("drop materialized view"):
            return self._drop_mv(s)
        if low.startswith("drop table"):
            return self._drop_table(s)
        if low.startswith("drop index"):
            return self._drop_index(s)
        if low.startswith("begin batch") or low.startswith(
            "begin unlogged batch"
        ) or low.startswith("begin counter batch"):
            return self._batch(s, params)
        if low.startswith("insert into"):
            return self._insert(s, params)
        if low.startswith("select"):
            return self._select(s, params)
        if low.startswith("delete"):
            return self._delete(s, params)
        if low.startswith("update"):
            return self._update(s, params)
        if low.startswith("truncate"):
            return self._truncate(s)
        if low.startswith("alter table"):
            return self._alter_table(s)
        if low.startswith("create index"):
            return self._create_index(s)
        if low in ("describe keyspaces", "desc keyspaces"):
            return sorted(self.keyspaces)
        if low in ("describe tables", "desc tables"):
            return sorted(self._ks().tables)
        if low.startswith("describe table") or low.startswith("desc table"):
            name = s.split()[-1]
            return self._ks().describe_table(name)
        raise ValueError(f"unsupported CQL statement: {stmt[:80]!r}")

    def _truncate(self, s: str):
        """CQL TRUNCATE: drop all data, keep the schema. The engine's
        storage dir is removed and recreated empty; the catalog spec
        survives untouched."""
        import os
        import shutil

        m = re.match(r"truncate\s+(?:table\s+)?(\w+)\s*$", s, re.I)
        if not m:
            raise ValueError(f"cannot parse TRUNCATE: {s!r}")
        base = m.group(1)
        t = self._table(base)  # validates existence
        # Cassandra truncates a table's materialized views and 2i tables
        # with the base (they are write-path copies of the same rows);
        # leaving them populated would let indexed SELECTs resurrect
        # truncated data.
        names = [base, *self._ks().views.get(base, ())]
        for nm in names:
            path = self._table(nm).path
            if os.path.exists(path):
                shutil.rmtree(path)
            os.makedirs(path, exist_ok=True)
        return None

    def _alter_table(self, s: str):
        m = re.match(
            r"alter table\s+(\w+)\s+(add|drop)\s+(\w+)(?:\s+(.+))?\s*$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse ALTER TABLE: {s!r}")
        name, verb, col, typ = m.groups()
        ks = self._ks()
        if verb.lower() == "add":
            if not typ:
                raise ValueError("ALTER TABLE ADD needs a column type")
            dtype, kind = _cql_type(typ)
            if kind:
                raise ValueError(
                    "ALTER TABLE ADD of counter/collection columns is not "
                    "supported (declare them at CREATE TABLE)"
                )
            ks.alter_table_add_column(name, StructField(col, dtype, True))
        else:
            ks.alter_table_drop_column(name, col)
        return None

    def _create_mv(self, s: str):
        """``CREATE MATERIALIZED VIEW [IF NOT EXISTS] v AS SELECT *
        FROM base WHERE <key cols> IS NOT NULL ... PRIMARY KEY (...)
        [WITH CLUSTERING ORDER BY (...)]`` — Cassandra-3.0 MV DDL,
        routed to ``catalog.create_materialized_view`` (which enforces
        the PK-superset rules). The mandatory IS-NOT-NULL WHERE terms
        are validated as exactly that form and carry no extra
        filtering here: the engine's views materialize every base row
        whose view-key columns are non-null, same as Cassandra."""
        m = re.match(
            r"create materialized view\s+(if not exists\s+)?(\w+)\s+as\s+"
            r"select\s+\*\s+from\s+(\w+)"
            r"(?:\s+where\s+(.*?))?\s+primary\s+key\s*\(",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE MATERIALIZED VIEW: {s!r}")
        if_not_exists, view, base, where = m.groups()
        # balanced-paren scan for the PK list (composite partition keys
        # nest parens; a greedy regex would swallow the WITH tail)
        start = m.end()
        depth, end = 1, None
        for i in range(start, len(s)):
            if s[i] == "(":
                depth += 1
            elif s[i] == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
        if end is None:
            raise ValueError(f"unbalanced PRIMARY KEY parens: {s!r}")
        inner, tail = s[start:end].strip(), s[end + 1 :].strip()
        gm = re.match(r"\((.*?)\)\s*(?:,(.*))?$", inner, re.S)
        if gm:
            pk_part = [c.strip() for c in gm.group(1).split(",")]
            rest = gm.group(2) or ""
            pk_clust = [c.strip() for c in rest.split(",") if c.strip()]
        else:
            parts = [c.strip() for c in inner.split(",")]
            pk_part, pk_clust = [parts[0]], parts[1:]
        order_desc = False
        if tail:
            cm = re.fullmatch(
                r"with\s+clustering\s+order\s+by\s*\(\s*([\w\s,]+?)\s*\)",
                tail,
                re.I,
            )
            if not cm:
                raise ValueError(f"unsupported CREATE MV tail: {tail!r}")
            dirs = {
                (t.split()[1].lower() if len(t.split()) > 1 else "asc")
                for t in cm.group(1).split(",")
            }
            if len(dirs) > 1:
                raise ValueError("mixed clustering directions are not supported")
            order_desc = dirs == {"desc"}
        if where:
            for term in re.split(r"\s+and\s+", where.strip(), flags=re.I):
                if not re.fullmatch(r"\w+\s+is\s+not\s+null", term.strip(), re.I):
                    raise ValueError(
                        f"MV WHERE supports only '<col> IS NOT NULL' terms "
                        f"(CQL 3.0 rule), got {term!r}"
                    )
        ks = self._ks()
        if view in ks.tables:
            existing_base = ks.tables[view].properties.get(
                "materialized_view_of"
            )
            if not if_not_exists:
                raise ValueError(f"table or view {view!r} exists")
            if existing_base != base:
                raise ValueError(
                    f"{view!r} already exists and is "
                    f"{'a plain table' if not existing_base else f'a view of {existing_base!r}'}"
                    f" — IF NOT EXISTS cannot repurpose it"
                )
            return None  # true no-op: no re-validate, no rebuild
        ks.create_materialized_view(
            base, view, pk_part, clustering_keys=pk_clust,
            clustering_desc=order_desc,
        )
        # views start consistent with existing base data, like Cassandra's
        # MV build on creation (refresh_view reads the BASE, writes the
        # view; an empty base correctly writes an empty view)
        self._table(view).refresh_view()
        return None

    def _drop_mv(self, s: str):
        m = re.match(
            r"drop materialized view\s+(if exists\s+)?(\w+)\s*$", s, re.I
        )
        if not m:
            raise ValueError(f"cannot parse DROP MATERIALIZED VIEW: {s!r}")
        ks, name = self._ks(), m.group(2)
        spec = ks.tables.get(name)
        if spec is None:
            if m.group(1):
                return None
            raise ValueError(f"unknown materialized view {name!r}")
        base = spec.properties.get("materialized_view_of")
        if not base:
            raise ValueError(f"{name!r} is a table; use DROP TABLE")
        ks.views[base] = [v for v in ks.views.get(base, []) if v != name]
        ks.drop_table(name)
        return None

    def _drop_table(self, s: str):
        m = re.match(r"drop table\s+(if exists\s+)?(\w+)\s*$", s, re.I)
        if not m:
            raise ValueError(f"cannot parse DROP TABLE: {s!r}")
        ks, name = self._ks(), m.group(2)
        spec = ks.tables.get(name)
        if spec is None:
            if m.group(1):
                return None
            raise ValueError(f"unknown table {name!r}")
        if spec.properties.get("materialized_view_of"):
            raise ValueError(
                f"{name!r} is a materialized view; use DROP MATERIALIZED VIEW"
            )
        if ks.views.get(name):
            raise ValueError(
                f"cannot drop {name!r}: materialized views/indexes depend "
                f"on it ({sorted(ks.views[name])}) — drop them first "
                f"(Cassandra rule)"
            )
        ks.drop_table(name)
        return None

    def _drop_index(self, s: str):
        """``DROP INDEX [IF EXISTS] <base>_<col>_idx`` — the derived
        name ``create_index`` registers (CQL's default index naming)."""
        m = re.match(r"drop index\s+(if exists\s+)?(\w+)\s*$", s, re.I)
        if not m:
            raise ValueError(f"cannot parse DROP INDEX: {s!r}")
        ks, name = self._ks(), m.group(2)
        spec = ks.tables.get(name)
        if spec is None:
            if m.group(1):
                return None
            raise ValueError(f"unknown index {name!r}")
        base = spec.properties.get("materialized_view_of")
        # an index IS a view of its base with the derived _idx name —
        # a plain table that merely ends in '_idx' must not be droppable
        # through DROP INDEX
        if not base or not name.endswith("_idx"):
            raise ValueError(
                f"{name!r} is not a secondary index (use DROP TABLE / "
                f"DROP MATERIALIZED VIEW)"
            )
        ks.views[base] = [v for v in ks.views.get(base, []) if v != name]
        ks.drop_table(name)
        return None

    def _create_index(self, s: str):
        m = re.match(
            r"create index\s+(?:if not exists\s+)?(?:\w+\s+)?on\s+(\w+)\s*"
            r"\(\s*(\w+)\s*\)\s*$",
            s,
            re.I,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE INDEX: {s!r}")
        self._ks().create_index(m.group(1), m.group(2))
        return None

    # -- DDL -----------------------------------------------------------------

    def _create_keyspace(self, s: str):
        m = re.match(
            r"create keyspace\s+(if not exists\s+)?(\w+)"
            r"(?:\s+with\s+replication\s*=\s*(\{.*\}))?\s*$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE KEYSPACE: {s!r}")
        name = m.group(2)
        rf = 2
        if m.group(3):
            rep = _Literal(()).read(m.group(3))
            rf = int(rep.get("replication_factor", 2))
        if name in self.keyspaces:
            if not m.group(1):
                raise ValueError(f"keyspace {name!r} exists")
            return None
        ks = Keyspace(self.spark, name, self.warehouse, replication_factor=rf)
        ks.create()
        self.keyspaces[name] = ks
        return None

    def _drop_keyspace(self, s: str):
        m = re.match(r"drop keyspace\s+(if exists\s+)?(\w+)\s*$", s, re.I)
        if not m:
            raise ValueError(f"cannot parse DROP KEYSPACE: {s!r}")
        name = m.group(2)
        ks = self.keyspaces.pop(name, None)
        if ks is None:
            if m.group(1):
                return None
            raise ValueError(f"unknown keyspace {name!r}")
        ks.drop()
        if self.current is ks:
            self.current = None
        return None

    def _udts(self) -> dict:
        ks = self._ks()
        if not hasattr(ks, "udts"):
            ks.udts = {}
        return ks.udts

    def _create_type(self, s: str):
        """``CREATE TYPE [IF NOT EXISTS] name (field type, ...)`` —
        Cassandra UDT -> Spark StructType. Columns declared as ``name``
        or ``frozen<name>`` carry the struct through the storage layer
        like any scalar cell (one value, cell-level LWW applies to the
        whole struct — CQL's frozen semantics; non-frozen per-field
        updates are not supported, documented divergence)."""
        m = re.match(
            r"create type\s+(if not exists\s+)?(\w+)\s*\((.*)\)\s*$",
            s, re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE TYPE: {s!r}")
        name = m.group(2).lower()
        udts = self._udts()
        if name in udts:
            if m.group(1):
                return None
            raise ValueError(f"type {name!r} exists")
        fields = []
        for item in _split_top(m.group(3)):
            fm = re.match(r"(\w+)\s+(.+)$", item.strip(), re.S)
            if not fm:
                raise ValueError(f"cannot parse TYPE field: {item!r}")
            dtype, kind = _cql_type(fm.group(2), udts)
            if kind is not None:
                raise ValueError(
                    "counter/collection fields inside a TYPE are not "
                    "supported"
                )
            fields.append(StructField(fm.group(1), dtype, True))
        udts[name] = StructType(fields)
        return None

    def _create_table(self, s: str):
        m = re.match(r"create table\s+(if not exists\s+)?(\w+)\s*\(", s, re.I)
        if not m:
            raise ValueError(f"cannot parse CREATE TABLE: {s!r}")
        name = m.group(2)
        # balanced-paren scan for the column list (a greedy regex would
        # swallow the WITH CLUSTERING clause's parens)
        start = m.end()
        depth, end = 1, None
        for i in range(start, len(s)):
            if s[i] == "(":
                depth += 1
            elif s[i] == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
        if end is None:
            raise ValueError(f"unbalanced parens in CREATE TABLE: {s!r}")
        body, tail = s[start:end], s[end + 1:].strip()
        order_desc = False
        table_options: dict = {}
        if tail:
            wm = re.match(r"with\s+(.*)$", tail, re.I | re.S)
            if not wm:
                raise ValueError(f"unsupported CREATE TABLE tail: {tail!r}")
            # real-world DDL dumps carry storage-tuning options
            # (compaction/compression maps, gc_grace_seconds, comments,
            # read_repair_chance, ...). They are node-tuning knobs with
            # no analogue in a bulk engine: parse them, RECORD them on
            # the table spec (DESCRIBE-able, honest), execute none —
            # except CLUSTERING ORDER BY, which is layout semantics.
            for opt in re.split(r"\s+and\s+", wm.group(1).strip(), flags=re.I):
                cm = re.fullmatch(
                    r"clustering\s+order\s+by\s*\(\s*([\w\s,]+?)\s*\)",
                    opt.strip(), re.I,
                )
                if cm:
                    terms = [x.split() for x in cm.group(1).split(",")]
                    dirs = {
                        (t[1].lower() if len(t) > 1 else "asc") for t in terms
                    }
                    if len(dirs) > 1:
                        raise ValueError(
                            "mixed clustering directions are not supported"
                        )
                    order_desc = dirs == {"desc"}
                    continue
                om = re.match(r"(\w+)\s*=\s*(.*)$", opt.strip(), re.S)
                if not om:
                    raise ValueError(f"cannot parse table option: {opt!r}")
                table_options[om.group(1).lower()] = om.group(2).strip()
        cols, statics, counters, collections = [], [], [], {}
        pk_part, pk_clust = None, []
        for item in _split_top(body):
            pm = re.match(r"primary\s+key\s*\((.*)\)\s*$", item, re.I | re.S)
            if pm:
                inner = pm.group(1).strip()
                gm = re.match(r"\((.*?)\)\s*(?:,(.*))?$", inner, re.S)
                if gm:
                    pk_part = [c.strip() for c in gm.group(1).split(",")]
                    rest = gm.group(2) or ""
                    pk_clust = [c.strip() for c in rest.split(",") if c.strip()]
                else:
                    parts = [c.strip() for c in inner.split(",")]
                    pk_part, pk_clust = [parts[0]], parts[1:]
                continue
            cm = re.match(r"(\w+)\s+(.+?)(\s+static)?$", item.strip(), re.I | re.S)
            if not cm:
                raise ValueError(f"cannot parse column def: {item!r}")
            cname, ctype, is_static = cm.group(1), cm.group(2), bool(cm.group(3))
            dtype, kind = _cql_type(ctype, self._udts())
            cols.append(StructField(cname, dtype, True))
            if is_static:
                statics.append(cname)
            if kind == "counter":
                counters.append(cname)
            elif kind in ("set", "list", "map"):
                collections[cname] = kind
        if pk_part is None:
            raise ValueError("CREATE TABLE needs a PRIMARY KEY clause")
        ks = self._ks()
        if name in ks.tables and not m.group(1):
            raise ValueError(f"table {name!r} exists")
        spec = ks.create_table(
            name,
            StructType(cols),
            pk_part,
            clustering_keys=pk_clust,
            clustering_desc=order_desc,
            counter_columns=counters or None,
            collection_columns=collections or None,
            static_columns=statics or None,
        )
        if table_options:
            spec.properties["table_options"] = table_options
        return None

    # -- writes --------------------------------------------------------------

    @staticmethod
    def _require_keys(t: WideColumnTable, rows: list[dict]) -> None:
        """Reject an INSERT row that leaves out a primary-key column or
        binds it to null, as Cassandra does. A NOT NULL key column (the
        REST tables) is left to the write's schema verifier, which
        rejects it with PySpark's own error; CQL-created columns are all
        nullable, so only this catches them."""
        for row in rows:
            for kind, keys in (
                ("partition key parts", t.spec.partition_keys),
                ("clustering keys", t.spec.clustering_keys),
            ):
                missing = [
                    c for c in keys
                    if row.get(c) is None and t.spec.schema[c].nullable
                ]
                if missing:
                    raise ValueError(
                        f"Some {kind} are missing: {', '.join(missing)}")

    def _insert(self, s: str, params: tuple):
        jm = re.match(
            r"insert into\s+(\w+)\s+json\s+(.*?)"
            r"(?:\s+default\s+(unset|null))?\s*$",
            s,
            re.I | re.S,
        )
        if jm:
            # CQL INSERT ... JSON: parse against the declared schema
            # (schema-on-write; unknown fields rejected). DEFAULT NULL
            # (the CQL default) nulls omitted columns — a full-row
            # write; DEFAULT UNSET leaves them untouched — a cells
            # write of only the named payload columns.
            import json as _json

            t = self._table(jm.group(1))
            payload = _Literal(params).read(jm.group(2))
            obj = _json.loads(payload)
            declared = {f.name for f in t.spec.schema.fields}
            unknown = set(obj) - declared
            if unknown:
                raise ValueError(
                    f"JSON fields {sorted(unknown)} not in declared "
                    f"schema of {t.spec.name!r}"
                )
            self._require_keys(t, [obj])
            cells = None
            if (jm.group(3) or "").lower() == "unset":
                cells = [c for c in obj if c not in t.spec.primary_key]
            t.append_json(
                _local_frame(
                    self.spark,
                    [(payload,)],
                    StructType([StructField("json", StringType())]),
                ),
                cells=cells,
                row_marker=True,  # INSERT JSON deposits the marker too
            )
            return None
        m = re.match(
            r"insert into\s+(\w+)\s*\(([^)]*)\)\s*values\s*\((.*)\)"
            r"(\s+if not exists)?"
            r"(?:\s+using\s+(.*?))?\s*$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse INSERT: {s!r}")
        name = m.group(1)
        cols = [c.strip() for c in m.group(2).split(",")]
        lit = _Literal(params)
        vals = [lit.read(v) for v in _split_top(m.group(3))]
        if len(cols) != len(vals):
            raise ValueError("INSERT column/value count mismatch")
        ttl, ts_micros = None, None
        if m.group(5):
            # USING TTL n [AND TIMESTAMP t] in either order
            for opt in re.split(r"\s+and\s+", m.group(5).strip(), flags=re.I):
                om = re.match(r"(ttl|timestamp)\s+(\d+|%s)$", opt.strip(), re.I)
                if not om:
                    raise ValueError(f"unsupported USING option: {opt!r}")
                v = int(lit.read(om.group(2)))
                if om.group(1).lower() == "ttl":
                    ttl = v
                else:
                    ts_micros = v
        t = self._table(name)
        row = dict(zip(cols, vals))
        full = tuple(row.get(f.name) for f in t.spec.schema.fields)
        self._require_keys(t, [row])
        if m.group(4):
            if ts_micros is not None:
                raise ValueError("IF NOT EXISTS with USING TIMESTAMP is not supported")
            report = t.insert_if_not_exists(
                _local_frame(self.spark, [full], t.spec.schema)
            )
            return [r.asDict() for r in report.collect()]
        # cell-level upsert: only the NAMED payload columns are written
        # (Cassandra INSERT leaves unnamed cells untouched; a named
        # column with a null value is an explicit cell delete).
        # row_marker: every CQL INSERT deposits the primary-key row
        # marker — the row outlives later deletion of its cells, unlike
        # an UPDATE-created row
        cells = [c for c in cols if c not in t.spec.primary_key]
        t.write_rows(
            [full],
            ttl_seconds=ttl,
            timestamp_micros=ts_micros,
            cells=cells,
            row_marker=True,
        )
        return None

    def _batch(self, s: str, params: tuple):
        """``BEGIN BATCH ... APPLY BATCH`` with mixed INSERT / UPDATE /
        DELETE statements (Cassandra's logged-batch statement set).

        Contiguous INSERT runs group per (table, named-column set) into
        ONE atomic multi-row append (the engine's batch atomicity IS
        the write job, SURVEY.md §2.2 W3; the named columns become the
        write's cell set, so partial inserts stay cell-level upserts).
        An UPDATE/DELETE flushes pending inserts first, so statement
        order is preserved. Documented divergence: Cassandra applies a
        whole batch at one shared timestamp; here each flushed group /
        statement gets its own monotonic writetime in statement order.
        """
        body = re.match(
            r"begin\s+(unlogged\s+|counter\s+)?batch\s+(.*)\s+apply batch\s*$",
            s, re.I | re.S,
        )
        if not body:
            raise ValueError(f"cannot parse BATCH: {s!r}")
        kind = (body.group(1) or "").strip().lower()
        stmts = [x.strip() for x in body.group(2).split(";") if x.strip()]
        if kind == "counter":
            # CQL: counter batches may contain ONLY counter updates
            if not all(x.lower().startswith("update") for x in stmts):
                raise ValueError(
                    "COUNTER BATCH admits only counter UPDATEs (CQL rule)"
                )
        # unlogged batches execute identically here: the engine's
        # atomicity unit is the write job either way (Cassandra's
        # logged/unlogged split is about the batchlog replay guarantee
        # across partitions, a replica concern this engine doesn't have)
        lit = _Literal(params)
        per_group: dict[tuple[str, tuple[str, ...]], list[dict]] = {}

        def flush():
            # every group is checked before any is written (write_rows
            # checks its own rows again: microseconds a row)
            writes = []
            for (name, cols), rows in per_group.items():
                t = self._table(name)
                self._require_keys(t, rows)
                full = [
                    tuple(r.get(f.name) for f in t.spec.schema.fields)
                    for r in rows
                ]
                _internal_rows(full, t.spec.schema)
                cells = [c for c in cols if c not in t.spec.primary_key]
                writes.append((t, full, cells))
            for t, full, cells in writes:
                # INSERTs always deposit the marker
                t.write_rows(full, cells=cells, row_marker=True)
            per_group.clear()

        for sub in stmts:
            m = re.match(
                r"insert into\s+(\w+)\s*\(([^)]*)\)\s*values\s*\((.*)\)\s*$",
                sub,
                re.I | re.S,
            )
            if m:
                cols = tuple(c.strip() for c in m.group(2).split(","))
                vals = [lit.read(v) for v in _split_top(m.group(3))]
                if len(cols) != len(vals):
                    raise ValueError("INSERT column/value count mismatch")
                per_group.setdefault((m.group(1), cols), []).append(
                    dict(zip(cols, vals))
                )
                continue
            low = sub.lower()
            if low.startswith("update") or low.startswith("delete"):
                flush()
                sub_params = tuple(
                    lit.take_param() for _ in range(sub.count("%s"))
                )
                if low.startswith("update"):
                    self._update(sub, sub_params)
                else:
                    self._delete(sub, sub_params)
                continue
            raise ValueError(
                f"only INSERT/UPDATE/DELETE allowed in BATCH, got: {sub[:60]!r}"
            )
        flush()
        return None

    def _parse_if_clause(self, if_clause: str | None, lit: "_Literal"):
        """``IF EXISTS`` / ``IF c = v [AND ...]`` → (conditions, if_exists)."""
        if if_clause is None:
            return None, False
        if re.fullmatch(r"exists", if_clause.strip(), re.I):
            return None, True
        conditions = {}
        for term in _split_top_keyword(if_clause.strip(), "and"):
            tm = re.match(r"(\w+)\s*=\s*(.*)$", term.strip(), re.S)
            if not tm:
                raise ValueError(f"cannot parse IF condition {term!r}")
            conditions[tm.group(1)] = lit.read(tm.group(2).strip())
        return conditions, False

    def _update(self, s: str, params: tuple):
        m = re.match(
            r"update\s+(\w+)(?:\s+using\s+(.*?))?\s+set\s+(.*)$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse UPDATE: {s!r}")
        name, using, rest = m.groups()
        # SET / WHERE / IF boundaries are found quote-aware: a string
        # literal containing a bare ` where `/` if ` never splits the
        # statement (regex `\s+if\s+` did — round-3 advice, cql.py:927)
        wi = _find_top_keyword(rest, "where")
        if wi < 0:
            raise ValueError(f"cannot parse UPDATE (no WHERE): {s!r}")
        set_clause, tail = rest[:wi].rstrip(), rest[wi + 5:]
        ii = _find_top_keyword(tail, "if")
        if ii < 0:
            where, if_clause = tail.strip(), None
        else:
            where, if_clause = tail[:ii].strip(), tail[ii + 2:].strip()
        t = self._table(name)
        # positional params bind in statement order: USING options
        # first, then SET values, then WHERE values, then IF values
        # (the python-driver convention)
        params = list(params)
        ttl, ts_micros = None, None
        if using:
            for opt in re.split(r"\s+and\s+", using.strip(), flags=re.I):
                om = re.match(r"(ttl|timestamp)\s+(\d+|%s)$", opt.strip(), re.I)
                if not om:
                    raise ValueError(f"unsupported USING option: {opt!r}")
                v = int(params.pop(0) if om.group(2) == "%s" else om.group(2))
                if om.group(1).lower() == "ttl":
                    ttl = v
                else:
                    ts_micros = v
        n_set = set_clause.count("%s")
        n_where = where.count("%s")
        lit = _Literal(tuple(params[:n_set]))
        keys = self._parse_eq_where(
            where, _Literal(tuple(params[n_set : n_set + n_where]))
        )
        if_lit = _Literal(tuple(params[n_set + n_where :]))
        counters = set(t.spec.properties.get("counter_columns", ()))
        collections = dict(t.spec.properties.get("collection_columns") or {})
        assignments = _split_top(set_clause)
        if (ttl is not None or ts_micros is not None) and any(
            re.match(r"(\w+)", a.strip()).group(1) in counters
            for a in assignments
        ):
            raise ValueError(
                "USING TTL/TIMESTAMP on counter columns is not valid CQL"
            )
        if len(assignments) != 1:
            raise ValueError("one SET assignment per UPDATE is supported")
        a = assignments[0]
        cm = re.match(r"(\w+)\s*=\s*(.*)$", a.strip(), re.S)
        if not cm:
            raise ValueError(f"cannot parse SET: {a!r}")
        col, rhs = cm.group(1), cm.group(2).strip()
        if if_clause is not None and (col in counters or col in collections):
            raise ValueError(
                "IF conditions on counter/collection updates are not "
                "supported (counters: CQL rule; collection deltas: this "
                "engine's no-read-before-write path)"
            )
        if col in counters:
            im = re.match(rf"{col}\s*([+-])\s*(\d+|%s)$", rhs)
            if not im:
                raise ValueError(f"counter update must be {col} = {col} +/- n")
            delta = int(lit.read(im.group(2)))
            if im.group(1) == "-":
                delta = -delta
            row = dict(keys)
            row[col] = delta
            full = {f.name: row.get(f.name) for f in t.spec.schema.fields}
            t.append(_local_frame(self.spark, [tuple(full.values())], t.spec.schema))
            return None
        if col in collections:
            kind = collections[col]
            dm = re.match(rf"{col}\s*([+-])\s*(.*)$", rhs, re.S)
            pm = re.match(rf"(.*?)\s*\+\s*{col}$", rhs, re.S)
            if pm and kind == "list":
                op, payload = "prepend", lit.read(pm.group(1))
            elif dm:
                payload = lit.read(dm.group(2))
                if kind == "set":
                    op = "add" if dm.group(1) == "+" else "remove"
                elif kind == "list":
                    if dm.group(1) == "-":
                        raise ValueError("list element removal is not supported")
                    op = "append"
                else:  # map
                    if dm.group(1) == "+":
                        op = "put"
                    else:
                        op = "remove"
                        if isinstance(payload, list):
                            payload = {k: None for k in payload}
            else:
                op, payload = "assign", lit.read(rhs)
            field = t.spec.schema[col]
            delta_schema = StructType(
                [t.spec.schema[k] for k in t.spec.primary_key]
                + [StructField(col, field.dataType, True)]
            )
            if ttl is not None or ts_micros is not None:
                raise ValueError(
                    "USING TTL/TIMESTAMP on collection deltas is not "
                    "supported (deltas carry no expiry/client time here)"
                )
            row = tuple(keys[k] for k in t.spec.primary_key) + (payload,)
            t.update_collection(
                _local_frame(self.spark, [row], delta_schema), col, op
            )
            return None
        # plain column: CQL UPDATE is an upsert of exactly that cell —
        # a partial write naming one cell; other cells stay untouched
        # under cell-level reconciliation (storage.py _cells)
        if set(keys) != set(t.spec.primary_key):
            raise ValueError(
                f"UPDATE needs the full primary key {t.spec.primary_key}"
            )
        if col not in {f.name for f in t.spec.schema.fields}:
            raise ValueError(f"unknown column {col!r} in UPDATE")
        if if_clause is not None:
            # LWT: read-check-write; returns the CQL response row
            # ([applied] + current condition values on rejection)
            conditions, if_exists = self._parse_if_clause(if_clause, if_lit)
            return [
                t.conditional_update(
                    keys,
                    {col: lit.read(rhs)},
                    conditions=conditions,
                    if_exists=if_exists,
                    ttl_seconds=ttl,
                    timestamp_micros=ts_micros,
                )
            ]
        row = dict(keys)
        row[col] = lit.read(rhs)
        full = {f.name: row.get(f.name) for f in t.spec.schema.fields}
        t.append(
            _local_frame(self.spark, [tuple(full.values())], t.spec.schema),
            cells=[col],
            ttl_seconds=ttl,
            timestamp_micros=ts_micros,
        )
        return None

    def _delete(self, s: str, params: tuple):
        """``DELETE [targets] FROM t WHERE <full pk>``: whole-row
        tombstone with no targets; with targets, cell tombstones
        (``DELETE email FROM ...`` — a cells-write of named nulls under
        cell-level reconciliation) and map-element removal
        (``DELETE m['k'] FROM ...`` — the same no-read-before-write
        delta as ``UPDATE m = m - {...}``)."""
        m = re.match(
            r"delete\s+(?:(.*?)\s+)?from\s+(\w+)"
            r"(?:\s+using\s+timestamp\s+(\d+|%s))?"
            r"\s+where\s+(.*)$", s, re.I | re.S
        )
        if not m:
            raise ValueError(f"cannot parse DELETE: {s!r}")
        targets, name, ts_text, tail = m.groups()
        # quote-aware IF boundary (same hazard as UPDATE): a WHERE
        # string literal containing ` if ` must stay in the WHERE
        ii = _find_top_keyword(tail, "if")
        if ii < 0:
            where, if_clause = tail.strip(), None
        else:
            where, if_clause = tail[:ii].strip(), tail[ii + 2:].strip()
        t = self._table(name)
        # CQL order is DELETE targets FROM t USING TIMESTAMP n WHERE ...;
        # placeholders bind in that statement order: targets first, then
        # the timestamp, then WHERE, then IF
        params = list(params)
        ts_micros = None
        # positional params bind in statement order: element keys in the
        # target list first, then WHERE values (the python-driver
        # convention, same as UPDATE's SET-then-WHERE split)
        n_t = (targets or "").count("%s")
        lit = _Literal(tuple(params[:n_t]))
        rest = params[n_t:]
        if ts_text is not None:
            ts_micros = int(rest.pop(0) if ts_text == "%s" else ts_text)
        n_where = where.count("%s")
        keys = self._parse_eq_where(where, _Literal(tuple(rest[:n_where])))
        if_lit = _Literal(tuple(rest[n_where:]))
        if set(keys) != set(t.spec.primary_key):
            raise ValueError(
                f"DELETE needs the full primary key {t.spec.primary_key}"
            )
        if if_clause is not None:
            if targets:
                raise ValueError(
                    "IF conditions on cell/element DELETE targets are "
                    "not supported; use a whole-row conditional DELETE"
                )
            conditions, if_exists = self._parse_if_clause(if_clause, if_lit)
            return [
                t.conditional_delete(
                    keys,
                    conditions=conditions,
                    if_exists=if_exists,
                    timestamp_micros=ts_micros,
                )
            ]
        if not targets:
            schema = StructType([t.spec.schema[k] for k in t.spec.primary_key])
            t.delete(
                _local_frame(
                    self.spark, [tuple(keys[k] for k in t.spec.primary_key)], schema
                ),
                timestamp_micros=ts_micros,
            )
            return None
        collections = dict(t.spec.properties.get("collection_columns") or {})
        counters = set(t.spec.properties.get("counter_columns", ()))
        statics = set(t.spec.properties.get("static_columns") or ())
        colnames = {f.name for f in t.spec.schema.fields}
        plain_cells: list[str] = []
        for item in _split_top(targets):
            em = re.match(r"(\w+)\s*\[\s*(.*?)\s*\]$", item.strip(), re.S)
            if em:
                col, keyexpr = em.groups()
                if collections.get(col) != "map":
                    raise ValueError(
                        f"element deletion needs a map column, got {col!r}"
                    )
                payload = {lit.read(keyexpr): None}
                field = t.spec.schema[col]
                delta_schema = StructType(
                    [t.spec.schema[k] for k in t.spec.primary_key]
                    + [StructField(col, field.dataType, True)]
                )
                if ts_micros is not None:
                    raise ValueError(
                        "USING TIMESTAMP on collection-element deletes "
                        "is not supported"
                    )
                row = tuple(keys[k] for k in t.spec.primary_key) + (payload,)
                t.update_collection(
                    _local_frame(self.spark, [row], delta_schema), col, "remove"
                )
                continue
            col = item.strip()
            if col not in colnames:
                raise ValueError(f"unknown column {col!r} in DELETE")
            if col in t.spec.primary_key:
                raise ValueError(f"cannot DELETE key column {col!r} (CQL rule)")
            if col in counters or col in collections or col in statics:
                raise ValueError(
                    f"cell DELETE of counter/collection/static column "
                    f"{col!r} is not supported; use UPDATE deltas for "
                    f"collections"
                )
            plain_cells.append(col)
        if plain_cells:
            row = dict(keys)
            full = {f.name: row.get(f.name) for f in t.spec.schema.fields}
            t.append(
                _local_frame(self.spark, [tuple(full.values())], t.spec.schema),
                cells=plain_cells,
                timestamp_micros=ts_micros,
            )
        return None

    # -- reads ---------------------------------------------------------------

    _META_SEL = re.compile(r"(writetime|ttl)\s*\(\s*(\w+)\s*\)", re.I)
    _AGG_SEL = re.compile(r"(count|min|max|sum|avg)\s*\(\s*(\w+|\*)\s*\)", re.I)

    def _select(self, s: str, params: tuple):  # noqa: C901
        m = re.match(
            r"select\s+(.*?)\s+from\s+(\w+)"
            r"(?:\s+where\s+(.*?))?"
            r"(?:\s+group\s+by\s+([\w\s,]+?))?"
            r"(?:\s+order\s+by\s+([\w\s,]+?\s+(?:asc|desc)))?"
            r"(?:\s+per\s+partition\s+limit\s+(\d+))?"
            r"(?:\s+limit\s+(\d+))?"
            r"(?:\s+allow\s+filtering)?\s*$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse SELECT: {s!r}")
        proj, name, where, group_by, order_by, pp_limit, limit = m.groups()
        t = self._table(name)
        lit = _Literal(params)
        json_mode = False
        jm = re.match(r"json\s+(.*)$", proj.strip(), re.I | re.S)
        if jm:
            json_mode, proj = True, jm.group(1)
        distinct = False
        dm = re.match(r"distinct\s+(.*)$", proj.strip(), re.I | re.S)
        if dm:
            distinct, proj = True, dm.group(1)
        if json_mode and distinct:
            raise ValueError("SELECT JSON does not combine with DISTINCT")
        cols = [c.strip() for c in proj.split(",")]
        aggs = [self._AGG_SEL.fullmatch(c) for c in cols]
        is_agg = all(aggs) and len(cols) > 0
        is_count = len(cols) == 1 and re.fullmatch(
            r"count\s*\(\s*\*\s*\)", cols[0], re.I
        )
        needs_meta = any(self._META_SEL.fullmatch(c) for c in cols)
        if json_mode and (is_agg or needs_meta):
            raise ValueError("SELECT JSON supports plain column projections")
        if distinct:
            # CQL: SELECT DISTINCT is restricted to the partition key —
            # the "list the partitions" read (one row per partition
            # after reconciliation, no clustering rows)
            if set(cols) != set(t.spec.partition_keys):
                raise ValueError(
                    f"SELECT DISTINCT must name exactly the partition "
                    f"key columns {t.spec.partition_keys} (CQL rule)"
                )

        eq: dict = {}
        ranges: list = []
        token_ranges: list = []
        df = None
        if where:
            in_m = re.match(
                r"\s*(\w+)\s+in\s*\((.*)\)\s*$", where, re.I | re.S
            )
            if in_m and in_m.group(1) in t.spec.partition_keys:
                vals = [lit.read(v) for v in _split_top(in_m.group(2))]
                df = t.read_partitions([{in_m.group(1): v} for v in vals])
            else:
                eq, ranges, token_ranges = self._parse_where(
                    where, lit, tuple(t.spec.partition_keys)
                )
        ks = self._ks()
        has_pk = set(t.spec.partition_keys) <= set(eq)
        if df is None:
            if needs_meta:
                # WRITETIME/TTL need the cell-metadata read; partition
                # pruning still applies when the key is pinned
                df = t.read_cell_meta(
                    **{k: eq[k] for k in t.spec.partition_keys}
                    if has_pk
                    else {}
                )
                for k, v in eq.items():
                    if not (has_pk and k in t.spec.partition_keys):
                        df = df.filter(F.col(k) == v)
            elif has_pk:
                key = {k: eq[k] for k in t.spec.partition_keys}
                if t.point_local:
                    # the driver-read rows as a local relation: every
                    # step below runs on it unchanged, with no Spark job
                    # for filters, projections, JSON and LIMIT. Columns
                    # are nullable, as in Spark's own file reads.
                    df = _local_frame(
                        self.spark,
                        t.read_partition_rows(**key),
                        StructType([
                            StructField(f.name, f.dataType)
                            for f in t.spec.schema.fields
                        ]),
                    )
                else:
                    df = t.read_partition(**key)
                for k, v in eq.items():
                    if k not in t.spec.partition_keys:
                        df = df.filter(F.col(k) == v)
            elif (
                len(eq) == 1
                and not ranges
                and f"{name}_{next(iter(eq))}_idx" in ks.tables
            ):
                # secondary index: route the probe through the index
                # view — one pruned bucket instead of a full scan
                ((col, val),) = eq.items()
                df = t.read_by_index(col, val)
            elif eq or ranges:
                # non-key predicate: CQL would demand ALLOW FILTERING;
                # a bulk engine's full scan is the same thing, minus
                # the footgun ceremony
                df = t.read()
                for k, v in eq.items():
                    df = df.filter(F.col(k) == v)
            else:
                df = t.read().orderBy(
                    *t.spec.partition_keys, *t._sort_cols()
                )
        # clustering-range slice (WHERE pk = ? AND ck >= ? AND ck < ?):
        # the canonical wide-column time-series read. Range predicates
        # on grouping-key columns push through the reconciliation
        # groupBy to the parquet scan, where the per-file clustering
        # sort turns them into row-group min/max pruning.
        _OPS = {
            ">": lambda c, v: F.col(c) > v,
            ">=": lambda c, v: F.col(c) >= v,
            "<": lambda c, v: F.col(c) < v,
            "<=": lambda c, v: F.col(c) <= v,
            # CQL collection predicates (CONTAINS on set/list/map
            # values, CONTAINS KEY on map keys) — like ALLOW FILTERING
            # they are row filters over the routed read, not routing keys
            "contains": lambda c, v: F.array_contains(
                F.map_values(F.col(c))
                if dict(df.dtypes).get(c, "").startswith("map")
                else F.col(c),
                v,
            ),
            "contains key": lambda c, v: F.map_contains_key(F.col(c), v),
            # SASI LIKE: CQL wildcard % maps onto SQL LIKE directly
            "like": lambda c, v: F.col(c).like(v),
            "in": lambda c, v: F.col(c).isin(*v),
        }
        for col, op, val in ranges:
            df = df.filter(_OPS[op](col, val))
        if token_ranges:
            # token(pk) ring ranges: this engine's ring function is
            # Spark's Murmur3 hash (the same function _bucket routing
            # uses — see hashing.py), not Cassandra's Murmur3_128;
            # documented divergence. A disjoint cover of token ranges
            # partitions the table exactly like read_split's buckets —
            # the connector's parallel bulk-export contract.
            tok = F.hash(*[F.col(c) for c in t.spec.partition_keys])
            _TOPS = {
                ">": tok.__gt__, ">=": tok.__ge__,
                "<": tok.__lt__, "<=": tok.__le__, "=": tok.__eq__,
            }
            for op, val in token_ranges:
                df = df.filter(_TOPS[op](F.lit(val)))
        if pp_limit:
            # PER PARTITION LIMIT applies on top of the WHERE-restricted
            # rows (CQL evaluates the limit after the predicate; the
            # earlier pp_limit-first dispatch silently dropped WHERE)
            df = t.limit_per_partition(df, int(pp_limit))
        if order_by:
            # CQL: ORDER BY is restricted to clustering columns, in
            # declared order, within a partition read — it reverses (or
            # confirms) the stored clustering order, never sorts
            # arbitrary columns. Multi-column form: each term is
            # "col [asc|desc]"; a term without a direction inherits the
            # statement's last explicit one (CQL requires directions to
            # be all-forward or all-reversed; enforced below).
            t_spec = t.spec
            terms = []
            for part in order_by.split(","):
                tm = re.fullmatch(
                    r"\s*(\w+)(?:\s+(asc|desc))?\s*", part, re.I
                )
                if not tm:
                    raise ValueError(f"cannot parse ORDER BY term {part!r}")
                terms.append((tm.group(1), (tm.group(2) or "").lower()))
            # CQL: a term without a direction defaults to ASC (not to a
            # neighbor's direction) — so `ORDER BY a, b DESC` becomes
            # mixed-direction and is rejected below, exactly like
            # Cassandra rejects it, instead of silently flipping `a`
            terms = [(c, d or "asc") for c, d in terms]
            cols_named = [c for c, _ in terms]
            ck = list(t_spec.clustering_keys)
            if cols_named != ck[: len(cols_named)]:
                raise ValueError(
                    f"ORDER BY must name a prefix of the clustering "
                    f"columns {ck}, got {cols_named} (CQL rule)"
                )
            dirs = {d for _, d in terms}
            if len(dirs) > 1:
                raise ValueError(
                    "ORDER BY directions must all match (CQL: forward "
                    "or reversed clustering order, not mixed)"
                )
            df = df.orderBy(
                *[F.desc(c) if d == "desc" else F.asc(c) for c, d in terms]
            )
        if group_by:
            # CQL 3.10 GROUP BY: the group columns must be a PREFIX of
            # the primary key (partition keys, then clustering keys) —
            # groups are then contiguous in storage order, which is what
            # makes the operation cheap in Cassandra; here it is one
            # partial-agg'd groupBy either way, but the rule is enforced
            # for statement portability
            gcols = [c.strip() for c in group_by.split(",") if c.strip()]
            pk_order = list(t.spec.partition_keys) + list(t.spec.clustering_keys)
            if gcols != pk_order[: len(gcols)]:
                raise ValueError(
                    f"GROUP BY must be a prefix of the primary key "
                    f"{pk_order} (CQL rule), got {gcols}"
                )
            exprs = []
            for c in cols:
                am = self._AGG_SEL.fullmatch(c)
                if am:
                    fn, col = am.group(1).lower(), am.group(2)
                    if col == "*":
                        if fn != "count":
                            raise ValueError(f"{fn}(*) is not valid CQL")
                        exprs.append(F.count("*").alias("count"))
                    else:
                        exprs.append(
                            getattr(F, fn)(F.col(col)).alias(f"{fn}({col})")
                        )
                elif c not in gcols:
                    raise ValueError(
                        f"non-aggregate projection {c!r} must be a GROUP BY "
                        f"column"
                    )
            out = df.groupBy(*gcols).agg(*exprs).orderBy(*gcols)
            sel_order = [
                c if c in gcols else (
                    "count"
                    if re.fullmatch(r"count\s*\(\s*\*\s*\)", c, re.I)
                    else self._AGG_SEL.fullmatch(c).group(1).lower()
                    + "(" + self._AGG_SEL.fullmatch(c).group(2) + ")"
                )
                for c in cols
            ]
            out = out.select(*sel_order)
            if limit:
                out = out.limit(int(limit))
            return [r.asDict() for r in out.collect()]
        # CQL LIMIT caps RETURNED rows; an ungrouped aggregate returns
        # exactly one row, so LIMIT is a no-op on these paths (applying
        # it to the INPUT would aggregate an arbitrary subset — wrong)
        if is_count:
            return [{"count": df.count()}]
        if is_agg:
            # CQL native aggregates (3.3+): one aggregation over the
            # routed/filtered rows — partial-agg'd by Catalyst, so a
            # whole-table MAX is a map-side-combined scan, not a collect
            exprs = []
            for am in aggs:
                fn, col = am.group(1).lower(), am.group(2)
                if col == "*":
                    if fn != "count":
                        raise ValueError(f"{fn}(*) is not valid CQL")
                    exprs.append(F.count("*").alias("count"))
                else:
                    exprs.append(getattr(F, fn)(F.col(col)).alias(f"{fn}({col})"))
            return [r.asDict() for r in df.agg(*exprs).collect()]
        if json_mode:
            # CQL SELECT JSON: each row as one JSON string in a single
            # column named "[json]" (codegen'd to_json, not driver-side)
            sel = (
                [f.name for f in t.spec.schema.fields]
                if cols == ["*"]
                else cols
            )
            df = df.select(
                F.to_json(F.struct(*[F.col(c) for c in sel])).alias("[json]")
            )
        elif distinct:
            df = df.select(*cols).distinct().orderBy(*cols)
        elif cols != ["*"]:
            df = df.select(*self._projection(t, cols))
        if limit:
            df = df.limit(int(limit))
        return [r.asDict(recursive=True) for r in df.collect()]

    def _projection(self, t: WideColumnTable, cols: list[str]) -> list:
        """Projection items: plain columns, ``WRITETIME(col)`` (the
        winning cell write's timestamp in MICROSECONDS, like CQL — a
        ``USING TIMESTAMP ts`` write reads back exactly ``ts``), and
        ``TTL(col)`` (remaining seconds, null when no TTL; per-row
        expiry stands in for per-cell, documented)."""
        import time as _time

        spec = t.spec
        multi_cell = set(spec.properties.get("counter_columns", ())) | set(
            spec.properties.get("collection_columns") or ()
        ) | set(spec.properties.get("static_columns") or ())
        out = []
        for c in cols:
            km = re.fullmatch(r"token\s*\(\s*([\w\s,]+?)\s*\)", c, re.I)
            if km:
                tcols = [x.strip() for x in km.group(1).split(",")]
                if tcols != list(spec.partition_keys):
                    raise ValueError(
                        f"token() must name the full partition key "
                        f"{list(spec.partition_keys)}, got {tcols} (CQL rule)"
                    )
                out.append(
                    F.hash(*[F.col(x) for x in tcols]).alias(
                        f"token({', '.join(tcols)})"
                    )
                )
                continue
            sm = self._META_SEL.fullmatch(c)
            if not sm:
                out.append(F.col(c))
                continue
            fn, col = sm.group(1).lower(), sm.group(2)
            if col in spec.primary_key or col in multi_cell:
                raise ValueError(
                    f"{fn.upper()}() is not defined for key, counter, "
                    f"collection, or static columns ({col!r}) — CQL rule"
                )
            if fn == "writetime":
                out.append(
                    (F.col(f"__wt_{col}") / F.lit(1000)).cast("long")
                    .alias(f"writetime({col})")
                )
            else:
                # per-cell TTL: the winning cell write's own expiry
                # (__ex_<col>), not the row marker's
                now_us = int(_time.time() * 1_000_000)
                out.append(
                    F.when(
                        F.col(f"__ex_{col}").isNotNull(),
                        F.ceil(
                            (F.col(f"__ex_{col}") - F.lit(now_us)) / 1_000_000.0
                        ).cast("int"),
                    ).alias(f"ttl({col})")
                )
        return out

    _TOKEN_TERM = re.compile(
        r"token\s*\(\s*([\w\s,]+?)\s*\)\s*(>=|<=|=|>|<)\s*(.*)$", re.I | re.S
    )

    @staticmethod
    def _parse_where(
        where: str, lit: _Literal, partition_keys: tuple[str, ...] = ()
    ) -> tuple[dict, list[tuple[str, str, object]], list[tuple[str, int]]]:
        """AND-ed predicates: equality terms (routing keys), comparison
        terms ``(col, op, value)`` for clustering slices, and
        ``token(pk) <op> n`` ring-range terms (the connector's bulk-
        export split predicate). Clauses are read in statement order so
        ``%s`` parameters bind positionally."""
        eq: dict = {}
        ranges: list[tuple[str, str, object]] = []
        token_ranges: list[tuple[str, int]] = []
        for clause in re.split(r"\s+and\s+", where.strip(), flags=re.I):
            km = re.match(
                r"(\w+)\s+contains(\s+key)?\s+(.*)$", clause.strip(), re.I | re.S
            )
            if km:
                op = "contains key" if km.group(2) else "contains"
                ranges.append((km.group(1), op, lit.read(km.group(3))))
                continue
            im = re.match(r"(\w+)\s+in\s*\((.*)\)\s*$", clause.strip(), re.I | re.S)
            if im:
                # clustering-key (or general) IN among AND-ed terms:
                # a multi-value row filter on the routed read (the
                # single-clause partition-key IN keeps its dedicated
                # multi-bucket pruned path in _select)
                vals = [lit.read(v) for v in _split_top(im.group(2))]
                ranges.append((im.group(1), "in", vals))
                continue
            lm = re.match(r"(\w+)\s+like\s+(.*)$", clause.strip(), re.I | re.S)
            if lm:
                # SASI-style LIKE 'pre%' / '%mid%' — a row filter over
                # the routed read (prefix/contains matching)
                ranges.append((lm.group(1), "like", lit.read(lm.group(2))))
                continue
            tm = CqlSession._TOKEN_TERM.match(clause.strip())
            if tm:
                tcols = [c.strip() for c in tm.group(1).split(",")]
                if tcols != list(partition_keys):
                    raise ValueError(
                        f"token() must name the full partition key "
                        f"{list(partition_keys)}, got {tcols} (CQL rule)"
                    )
                token_ranges.append((tm.group(2), int(lit.read(tm.group(3)))))
                continue
            cm = re.match(r"(\w+)\s*(>=|<=|=|>|<)\s*(.*)$", clause.strip(), re.S)
            if not cm:
                raise ValueError(
                    f"only =/range/token predicates supported: {clause!r}"
                )
            col, op, rhs = cm.groups()
            val = lit.read(rhs)
            if op == "=":
                eq[col] = val
            else:
                ranges.append((col, op, val))
        return eq, ranges, token_ranges

    @staticmethod
    def _parse_eq_where(where: str, lit: _Literal) -> dict:
        out = {}
        for clause in _split_top_keyword(where.strip(), "and"):
            cm = re.match(r"(\w+)\s*=\s*(.*)$", clause.strip(), re.S)
            if not cm:
                raise ValueError(f"only equality predicates supported: {clause!r}")
            out[cm.group(1)] = lit.read(cm.group(2))
        return out
