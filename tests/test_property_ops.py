"""Property-based validation of the custom operators against
brute-force references on randomized inputs (hypothesis-driven data,
executed through the real Spark plans).

The oracle gate checks one fixture; these check the operator CONTRACT
over many shapes: empty groups, ties, unmatched keys, single-row
partitions, duplicate timestamps.
"""

import datetime as dt

from hypothesis import HealthCheck, example, given, settings, strategies as st

from pyspark.sql import functions as F

from cassandrastack_spark.operators.asof import asof_join
from cassandrastack_spark.operators.rollup_ts import rollup_ladder
from cassandrastack_spark.operators.windows import sessionize
from cassandrastack_spark.sources.io import read_table

BASE = dt.datetime(2024, 1, 1)

# small row universes keep each hypothesis example to one Spark job of
# a few tasks while still hitting ties/empties/unmatched keys
_keys = st.integers(min_value=0, max_value=3)
_secs = st.integers(min_value=0, max_value=5000)


@st.composite
def left_right_rows(draw):
    left = draw(st.lists(st.tuples(_keys, _secs), min_size=1, max_size=25))
    right = draw(st.lists(st.tuples(_keys, _secs), min_size=0, max_size=25))
    return left, right


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left_right_rows())
def test_asof_join_matches_bruteforce(spark, lr):
    left_rows, right_rows = lr
    left = spark.createDataFrame(
        [(i, k, BASE + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left_rows)],
        "lid long, k long, t timestamp",
    )
    right = spark.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s), float(s)) for k, s in right_rows],
        "rk long, rt timestamp, payload double",
    ) if right_rows else spark.createDataFrame([], "rk long, rt timestamp, payload double")

    got = {
        r.lid: r.payload
        for r in asof_join(
            left, right, left_on="k", right_on="rk",
            left_time="t", right_time="rt", payload_cols=["payload"],
        ).collect()
    }

    # brute force: newest right at-or-before, per key; ties on rt pick
    # the max payload row deterministically equal here since payload==s
    for i, (k, s) in enumerate(left_rows):
        cands = [ps for (rk, rs) in right_rows if rk == k and rs <= s
                 for ps in [float(rs)]]
        expect = max(cands) if cands else None
        assert got.get(i) == expect, (i, k, s, got.get(i), expect)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(_keys, _secs), min_size=1, max_size=30, unique=True))
def test_sessionize_gap_invariants(spark, rows):
    gap = 300
    df = spark.createDataFrame(
        [(i, k, BASE + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(rows)],
        "eid long, k long, t timestamp",
    )
    out = sessionize(df, "k", "t", gap, "eid").collect()
    by_key: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.k, r.t, r.eid)):
        by_key.setdefault(r.k, []).append(r)
    for k, rs in by_key.items():
        assert rs[0].session_id == 1, "first event of a key starts session 1"
        for prev, cur in zip(rs, rs[1:]):
            delta = (cur.t - prev.t).total_seconds()
            if delta > gap:
                assert cur.session_id == prev.session_id + 1, (
                    "gap exceeded must open a new session"
                )
            else:
                assert cur.session_id == prev.session_id, (
                    "within-gap event must stay in the session"
                )


def test_rollup_ladder_reaggregation_exact(spark):
    e = read_table(spark, "/root/testdata/sf0.001", "events")
    ladder = rollup_ladder(e, "ts", ["event_type"], "value")
    # daily from the ladder (minute -> hour -> day) == daily from raw
    from cassandrastack_spark.operators.rollup_ts import rollup_events

    via_ladder = {
        (r.bucket_start, r.event_type): (r.n, round(r.sum_v, 6), r.min_v, r.max_v)
        for r in ladder["1 day"].collect()
    }
    direct = {
        (r.bucket_start, r.event_type): (r.n, round(r.sum_v, 6), r.min_v, r.max_v)
        for r in rollup_events(e, "ts", ["event_type"], "value", "1 day").collect()
    }
    assert via_ladder == direct, "re-aggregation must be exact"
    # row-count conservation at every level
    total = e.count()
    for width, df in ladder.items():
        assert df.agg(F.sum("n")).head()[0] == total, width


# ---------------------------------------------------------------------------
# storage reconciliation model check: random op sequences vs a dict model
# ---------------------------------------------------------------------------

_store_keys = st.sampled_from(["a", "b", "c", "d"])
_writers = st.sampled_from(["spark", "driver"])
_ops = st.lists(
    st.one_of(
        st.tuples(st.just("put"), _store_keys, st.integers(0, 99), _writers),
        st.tuples(st.just("del"), _store_keys, st.just(0), st.just("spark")),
        st.tuples(st.just("ttl0"), _store_keys, st.integers(0, 99), _writers),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_ops, st.booleans())
def test_storage_reconciliation_matches_model(spark, tmp_path_factory, ops, do_compact):
    """Any interleaving of upserts, deletes, and already-expired TTL
    writes, by Spark (``append``) or the driver (``write_rows``), must
    read back exactly like a last-writer-wins dict (expired = delete),
    through the Spark scan and the driver point read, before AND after
    compaction."""
    import time as _time

    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from cassandrastack_spark.catalog import Keyspace
    from cassandrastack_spark.storage import WideColumnTable

    wh = str(tmp_path_factory.mktemp("proph"))
    ks = Keyspace(spark, "prop", wh).create()
    schema = StructType([
        StructField("k", StringType(), False),
        StructField("v", IntegerType(), True),
    ])
    spec = ks.create_table("kv", schema, ["k"])
    t = WideColumnTable(spark, ks, spec, n_buckets=2)

    def write(writer, row, **kwargs):
        if writer == "spark":
            t.append(spark.createDataFrame([row], schema), **kwargs)
        else:
            t.write_rows([row], **kwargs)

    def check():
        assert {r.k: r.v for r in t.read().collect()} == model
        point = {}
        for k in ("a", "b", "c", "d"):
            point.update((r.k, r.v) for r in t.read_partition_rows(k=k))
        assert point == model

    model: dict = {}
    for op, k, v, writer in ops:
        if op == "put":
            write(writer, (k, v))
            model[k] = v
        elif op == "del":
            t.delete(spark.createDataFrame([(k,)], "k string"))
            model.pop(k, None)
        else:  # short ttl: after the expiry sleep below, behaves like delete
            write(writer, (k, v), ttl_seconds=1)
            model.pop(k, None)
    _time.sleep(1.2)  # let every ttl'd row cross its expiry instant
    check()
    if do_compact:
        t.compact()
        check()
    ks.drop()


_diff_values = st.tuples(
    st.one_of(st.none(), st.integers(0, 99)),  # v
    st.one_of(st.none(), st.integers(0, 10**7)),  # ts, micros after BASE
    st.one_of(st.none(), st.sampled_from(["x", "y"])),  # w
)


@st.composite
def _diff_write(draw):
    op = draw(st.sampled_from(["put", "cells", "cells", "del"]))
    return {
        "op": op,
        # deletes have no driver path; they come from Spark only
        "writer": "spark" if op == "del" else draw(st.sampled_from(["spark", "driver"])),
        "key": (draw(st.sampled_from(["a", "b"])), draw(st.integers(0, 1))),
        "values": draw(_diff_values),
        # another row for the same key in the same write, as a BATCH
        # naming the key twice writes it: both share one writetime
        "more": draw(st.lists(_diff_values, max_size=1)),
        "cells": sorted(draw(st.sets(st.sampled_from(["v", "ts", "w"])))),
        "marker": draw(st.booleans()),
        "ttl": draw(st.sampled_from([None, None, 1, 3600])),
        "stamp": draw(st.sampled_from([None, None, "past", "future", "tie"])),
    }


def _w(op, writer, key, values=(None, None, None), cells=(), marker=False,
       ttl=None, stamp=None, more=()):
    return {"op": op, "writer": writer, "key": key, "values": values,
            "more": list(more), "cells": list(cells), "marker": marker,
            "ttl": ttl, "stamp": stamp}


def _cassandra_model(writes, stamps, expired):
    """Cassandra's reconciliation of ``writes`` as ``{(k, c): (v, ts, w)}``
    for the live rows. ``stamps[i]`` is write i's writetime (any number
    that orders the writes as the store does) and ``expired[i]`` whether
    its TTL has passed at read time.

    Per cell, the newest write that set it wins; at equal writetimes a
    delete (a null) beats a value, then the greater value wins, then the
    later expiry (one without TTL first). A row DELETE kills every cell
    and row marker it is not older than. A row lives while its INSERT
    marker or any non-null cell is live."""
    data = ("v", "ts", "w")
    keys = {}
    for i, op in enumerate(writes):
        state = keys.setdefault(op["key"], {"cells": {}, "marker": None, "del": None})
        t = stamps[i]
        if op["op"] == "del":
            state["del"] = max(t, state["del"] or t)
            continue
        expiry = -1 if op["ttl"] is None else op["ttl"] * 10**6 + i
        named = data if op["op"] == "put" else op["cells"]
        if op["op"] == "put" or op["marker"] or not named:
            state["marker"] = max(state["marker"] or (t, expiry, i), (t, expiry, i))
        for values in [op["values"], *op["more"]]:
            for col, v in zip(data, values):
                if col in named:
                    rank = (t, v is None, v, expiry)
                    old = state["cells"].get(col)
                    if old is None or rank > old[0]:
                        state["cells"][col] = (rank, v, i)
    out = {}
    for key, state in keys.items():
        cut = state["del"]

        def live(t, i):
            return (cut is None or t > cut) and not expired[i]

        marker = state["marker"]
        row = {}
        for col in data:
            cell = state["cells"].get(col)
            row[col] = cell[1] if cell and live(cell[0][0], cell[2]) else None
        if (marker and live(marker[0], marker[2])) or any(
            v is not None for v in row.values()
        ):
            out[key] = tuple(row[col] for col in data)
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_diff_write(), min_size=2, max_size=14), st.booleans(),
       st.booleans())
# each reconciliation rule, once for sure: a cells write after a delete
# revives the key without its pre-delete cells; a live cell outlives an
# expired row marker; a future client timestamp beats a later engine
# write, and a backdated delete shadows nothing newer; a key-only write
# keeps the key
@example([
    _w("put", "driver", ("a", 0), (1, 5, "x")),
    _w("del", "spark", ("a", 0)),
    _w("cells", "driver", ("a", 0), (None, None, "y"), cells=["w"]),
    _w("put", "spark", ("a", 1), (2, 6, "x"), ttl=1),
    _w("cells", "driver", ("a", 1), (7, None, None), cells=["v"]),
    _w("cells", "spark", ("b", 0), (3, None, None), cells=["v"], marker=True,
       ttl=1),
    _w("cells", "driver", ("b", 0)),  # key-only: an empty cell set is a marker
    _w("put", "driver", ("b", 1), (4, 7, "z"), stamp="future"),
    _w("put", "spark", ("b", 1), (5, 8, "x")),
    _w("del", "spark", ("b", 1), stamp="past"),
], True, True)
# writetime ties: a BATCH writing one key as 'b', 'c', 'a' reads 'c' on
# either writer; at one USING TIMESTAMP across files, a named null beats
# a value and a delete beats a write
@example([
    _w("put", "spark", ("a", 0), (None, None, "b"),
       more=[(None, None, "c"), (None, None, "a")]),
    _w("put", "driver", ("a", 1), (None, None, "b"),
       more=[(None, None, "c"), (None, None, "a")]),
    _w("cells", "spark", ("b", 0), (5, None, None), cells=["v"], stamp="tie"),
    _w("cells", "driver", ("b", 0), (None, None, "x"), cells=["v", "w"],
       stamp="tie"),
    _w("put", "driver", ("b", 1), (3, 9, "y"), stamp="tie"),
    _w("del", "spark", ("b", 1), stamp="tie"),
], False, False)
def test_driver_reconciler_matches_spark(spark, tmp_path_factory, writes, desc,
                                         do_compact):
    """The driver-local point read (``read_partition_rows``) returns
    exactly ``read_partition().collect()`` — same rows, values, types and
    clustering order — for any interleaving of full-row and partial-cell
    writes (with and without the INSERT row marker), ``USING TIMESTAMP``
    writes before and after the engine's own, writetime ties within one
    write and across files, short and long TTLs and deletes, written by
    Spark (``append``) and by the driver (``write_rows``) into shared
    buckets; before and after ``compact()``, and read again with the
    process in Europe/Berlin. Both equal ``_cassandra_model``."""
    import os
    import time as _time

    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType, TimestampType,
    )

    from cassandrastack_spark.catalog import Keyspace
    from cassandrastack_spark.storage import WideColumnTable

    wh = str(tmp_path_factory.mktemp("propd"))
    ks = Keyspace(spark, "propd", wh).create()
    schema = StructType([
        StructField("k", StringType(), False),
        StructField("c", IntegerType(), False),
        StructField("v", IntegerType(), True),
        StructField("ts", TimestampType(), True),
        StructField("w", StringType(), True),
    ])
    spec = ks.create_table("kcv", schema, ["k"], ["c"], clustering_desc=desc)
    # one bucket: Spark- and driver-written files share it
    t = WideColumnTable(spark, ks, spec, n_buckets=1)
    assert t.point_local

    now = int(_time.time() * 1_000_000)
    stamps = []
    for i, op in enumerate(writes):
        # client timestamps well before or after every engine writetime,
        # distinct per write, except that every "tie" write shares one
        stamp = {
            None: None,
            "past": now - 60_000_000 + i,
            "tie": now + 1_800_000_000,
            "future": now + 3_600_000_000 + i,
        }[op["stamp"]]
        # the model's writetime: engine writes fall between the past and
        # the tie stamps, in write order
        stamps.append(now + i + 1 if stamp is None else stamp)
        k, c = op["key"]
        if op["op"] == "del":
            t.delete(spark.createDataFrame([(k, c)], "k string, c int"),
                     timestamp_micros=stamp)
            continue
        rows = [
            (k, c, v, None if ts is None else BASE + dt.timedelta(microseconds=ts), w)
            for v, ts, w in [op["values"], *op["more"]]
        ]
        kwargs = {"ttl_seconds": op["ttl"], "timestamp_micros": stamp}
        if op["op"] == "cells":
            kwargs.update(cells=op["cells"], row_marker=op["marker"])
        if op["writer"] == "spark":
            t.append(spark.createDataFrame(rows, schema), **kwargs)
        else:
            t.write_rows(rows, **kwargs)
    if any(op["ttl"] == 1 for op in writes):
        _time.sleep(1.2)  # every short TTL is past, so no read races it
    model = _cassandra_model(writes, stamps, [op["ttl"] == 1 for op in writes])

    def check(against_model=True):
        for k in ("a", "b"):
            want = [r.asDict() for r in t.read_partition(k=k).collect()]
            assert [r.asDict() for r in t.read_partition_rows(k=k)] == want
            if against_model:  # timestamps read back in the write's zone
                assert {
                    (r["k"], r["c"]): (
                        r["v"],
                        None if r["ts"] is None
                        else (r["ts"] - BASE) // dt.timedelta(microseconds=1),
                        r["w"],
                    )
                    for r in want
                } == {key: row for key, row in model.items() if key[0] == k}

    check()
    tz = os.environ.get("TZ")
    os.environ["TZ"] = "Europe/Berlin"
    _time.tzset()
    try:
        check(against_model=False)
    finally:
        if tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = tz
        _time.tzset()
    if do_compact:
        t.compact()
        check()
    ks.drop()


# ---------------------------------------------------------------------------
# collection-column model check: random delta sequences vs a set model
# ---------------------------------------------------------------------------

_coll_keys = st.sampled_from(["p", "q"])
_elems = st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=3)
_coll_ops = st.lists(
    st.one_of(
        st.tuples(st.just("assign"), _coll_keys, _elems),
        st.tuples(st.just("add"), _coll_keys, _elems),
        st.tuples(st.just("remove"), _coll_keys, _elems),
        st.tuples(st.just("insert"), _coll_keys, _elems),
        st.tuples(st.just("delete"), _coll_keys, st.just([])),
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_coll_ops, st.booleans())
def test_set_collection_matches_model(spark, tmp_path_factory, ops, do_compact):
    """Any interleaving of full inserts, set deltas, and row deletes must
    read back exactly like a Python-set model (CQL set semantics: empty
    reads as absent/null), before AND after compaction."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from cassandrastack_spark.catalog import Keyspace
    from cassandrastack_spark.storage import WideColumnTable

    wh = str(tmp_path_factory.mktemp("propc"))
    ks = Keyspace(spark, "propc", wh).create()
    schema = StructType([
        StructField("k", StringType(), False),
        StructField("tags", ArrayType(StringType()), True),
    ])
    spec = ks.create_table(
        "ktags", schema, ["k"], collection_columns={"tags": "set"}
    )
    t = WideColumnTable(spark, ks, spec, n_buckets=2)
    delta_schema = StructType([schema["k"], schema["tags"]])

    model: dict[str, set] = {}
    for op, k, vals in ops:
        if op == "insert":
            t.append(spark.createDataFrame([(k, vals)], schema))
            model[k] = set(vals)
        elif op == "delete":
            t.delete(spark.createDataFrame([(k,)], "k string"))
            model.pop(k, None)
        else:
            t.update_collection(
                spark.createDataFrame([(k, vals)], delta_schema), "tags", op
            )
            cur = model.setdefault(k, set())
            if op == "assign":
                model[k] = set(vals)
            elif op == "add":
                cur |= set(vals)
            else:
                cur -= set(vals)

    def expected():
        # CQL: an empty collection reads as null; a key whose only state
        # is an empty set still EXISTS (the delta write created the row)
        return {
            k: (sorted(v) if v else None) for k, v in model.items()
        }

    def got():
        return {
            r.k: (sorted(r.tags) if r.tags else None)
            for r in t.read().collect()
        }

    assert got() == expected()
    if do_compact:
        t.compact()
        assert got() == expected()
    ks.drop()


_map_ops = st.lists(
    st.one_of(
        st.tuples(st.just("assign"), _coll_keys,
                  st.dictionaries(st.sampled_from("abcd"), st.integers(0, 9), max_size=3)),
        st.tuples(st.just("put"), _coll_keys,
                  st.dictionaries(st.sampled_from("abcd"), st.integers(0, 9), min_size=1, max_size=3)),
        st.tuples(st.just("remove"), _coll_keys,
                  st.dictionaries(st.sampled_from("abcd"), st.just(0), min_size=1, max_size=2)),
        st.tuples(st.just("insert"), _coll_keys,
                  st.dictionaries(st.sampled_from("abcd"), st.integers(0, 9), max_size=3)),
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_map_ops, st.booleans())
def test_map_collection_matches_model(spark, tmp_path_factory, ops, do_compact):
    """Random interleavings of full inserts, map put/remove/assign
    deltas must read back exactly like a Python-dict model (remove
    drops by key; put overrides; empty map reads as null)."""
    from pyspark.sql.types import (
        IntegerType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    from cassandrastack_spark.catalog import Keyspace
    from cassandrastack_spark.storage import WideColumnTable

    wh = str(tmp_path_factory.mktemp("propm"))
    ks = Keyspace(spark, "propm", wh).create()
    schema = StructType([
        StructField("k", StringType(), False),
        StructField("prefs", MapType(StringType(), IntegerType()), True),
    ])
    spec = ks.create_table(
        "kprefs", schema, ["k"], collection_columns={"prefs": "map"}
    )
    t = WideColumnTable(spark, ks, spec, n_buckets=2)

    model: dict[str, dict] = {}
    for op, k, payload in ops:
        if op == "insert":
            t.append(spark.createDataFrame([(k, payload)], schema))
            model[k] = dict(payload)
        else:
            t.update_collection(
                spark.createDataFrame([(k, payload)], schema), "prefs", op
            )
            cur = model.setdefault(k, {})
            if op == "assign":
                model[k] = dict(payload)
            elif op == "put":
                cur.update(payload)
            else:  # remove drops the payload's KEYS
                for kk in payload:
                    cur.pop(kk, None)

    expected = {k: (v if v else None) for k, v in model.items()}
    got = {r.k: (dict(r.prefs) if r.prefs else None) for r in t.read().collect()}
    assert got == expected
    if do_compact:
        t.compact()
        got = {r.k: (dict(r.prefs) if r.prefs else None) for r in t.read().collect()}
        assert got == expected
    ks.drop()


_list_ops = st.lists(
    st.one_of(
        st.tuples(st.just("assign"), _coll_keys, _elems),
        st.tuples(st.just("append"), _coll_keys, _elems),
        st.tuples(st.just("prepend"), _coll_keys, _elems),
        st.tuples(st.just("insert"), _coll_keys, _elems),
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_list_ops, st.booleans())
def test_list_collection_matches_model(spark, tmp_path_factory, ops, do_compact):
    """Random interleavings of full inserts and list append/prepend/
    assign deltas must read back exactly like a Python-list model
    (order preserved, duplicates kept)."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from cassandrastack_spark.catalog import Keyspace
    from cassandrastack_spark.storage import WideColumnTable

    wh = str(tmp_path_factory.mktemp("propl"))
    ks = Keyspace(spark, "propl", wh).create()
    schema = StructType([
        StructField("k", StringType(), False),
        StructField("log", ArrayType(StringType()), True),
    ])
    spec = ks.create_table(
        "klog", schema, ["k"], collection_columns={"log": "list"}
    )
    t = WideColumnTable(spark, ks, spec, n_buckets=2)

    model: dict[str, list] = {}
    for op, k, vals in ops:
        if op == "insert":
            t.append(spark.createDataFrame([(k, vals)], schema))
            model[k] = list(vals)
        else:
            t.update_collection(
                spark.createDataFrame([(k, vals)], schema), "log", op
            )
            cur = model.setdefault(k, [])
            if op == "assign":
                model[k] = list(vals)
            elif op == "append":
                cur.extend(vals)
            else:
                model[k] = list(vals) + cur

    expected = {k: (v if v else None) for k, v in model.items()}

    def got():
        return {r.k: (list(r.log) if r.log else None) for r in t.read().collect()}

    assert got() == expected
    if do_compact:
        t.compact()
        assert got() == expected
    ks.drop()


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left_right_rows())
def test_asof_join_forward_tolerance_matches_bruteforce(spark, lr):
    left_rows, right_rows = lr
    # dedup right (k, t) pairs: payload ties at equal timestamps are
    # legitimately engine-arbitrary, so keep the contract check exact
    right_rows = sorted({(rk, rs) for rk, rs in right_rows})
    tol = 1000.0
    left = spark.createDataFrame(
        [(i, k, BASE + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left_rows)],
        "lid long, k long, t timestamp",
    )
    right = spark.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s), float(s)) for k, s in right_rows],
        "rk long, rt timestamp, payload double",
    ) if right_rows else spark.createDataFrame([], "rk long, rt timestamp, payload double")

    got = {
        r.lid: r.payload
        for r in asof_join(
            left, right, left_on="k", right_on="rk",
            left_time="t", right_time="rt", payload_cols=["payload"],
            direction="forward", tolerance=tol,
        ).collect()
    }

    # brute force: oldest right at-or-after, per key, nulled beyond tol.
    # ties on rt pick min payload == min rs, deterministic since payload==rs
    for i, (k, s) in enumerate(left_rows):
        cands = [float(rs) for (rk, rs) in right_rows if rk == k and rs >= s]
        expect = min(cands) if cands else None
        if expect is not None and expect - s > tol:
            expect = None
        assert got.get(i) == expect, (i, k, s, got.get(i), expect)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.lists(st.sampled_from("abcd"), min_size=1, max_size=9).map(" ".join),
    min_size=1, max_size=8,
))
def test_paragraph_dedup_matches_bruteforce(spark, texts):
    from cassandrastack_spark.llm.dedup import paragraph_dedup

    span = 2
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r["doc_id"]: r for r in paragraph_dedup(
        df, span_words=span).collect()}

    seen: set[str] = set()
    for i, text in enumerate(texts):
        words = text.split(" ")
        spans = [" ".join(words[j:j + span])
                 for j in range(0, len(words), span)]
        kept = []
        for p in spans:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        assert got[i]["n_spans"] == len(spans), (i, texts)
        assert got[i]["n_kept"] == len(kept), (i, texts)
        assert got[i]["text_deduped"] == " ".join(kept), (i, texts)


def _exact_substr_model(texts, L):
    """Pure-Python ExactSubstr over {doc_id: text}: count every L-token
    window, keep each duplicated window's first occurrence by
    (doc_id, pos) and remove the union of the other occurrences'
    spans. Returns {doc_id: (clean_text, n_removed)}."""
    words = {i: (t.split(" ") if t is not None else []) for i, t in texts.items()}
    occ: dict[tuple, list] = {}
    for i in sorted(words):
        w = words[i]
        for p in range(1, len(w) - L + 2):
            occ.setdefault(tuple(w[p - 1:p - 1 + L]), []).append((i, p))
    removed: dict = {i: set() for i in words}
    for hits in occ.values():
        first = min(hits)
        for i, p in hits:
            if (i, p) != first:
                removed[i].update(range(p, p + L))
    out = {}
    for i, w in words.items():
        kept = [x for j, x in enumerate(w, 1) if j not in removed[i]]
        out[i] = (" ".join(kept), len(w) - len(kept))
    return out


def _plan_nodes(df):
    """One-line strings of every node of ``df``'s optimized plan. The
    physical plan behind each cached frame is walked too, once per
    frame however often the plan reads it."""
    nodes, seen = [], set()
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        n = stack.pop()
        nodes.append(n.simpleString(5))
        ch = n.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
        if n.nodeName() == "InMemoryRelation":
            cached = n.cacheBuilder().cachedPlan()
            if cached.toString() not in seen:
                seen.add(cached.toString())
                stack.append(cached)
    return nodes


# a three-token vocabulary makes runs repeat across and inside documents
_substr_text = st.one_of(
    st.none(),
    st.just(""),
    st.lists(st.sampled_from("abc"), min_size=1, max_size=14).map(" ".join),
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_substr_text, min_size=1, max_size=6),
       st.integers(min_value=2, max_value=5))
# runs repeated inside one document, overlapping runs, NULL and "" text
# and a document shorter than min_len
@example(["a b a b a b a", None, "", "a b", "b a b a c"], 2)
@example(["a b c a b c a b c", "c a b c a", "a b c"], 3)
def test_substring_dedup_matches_exact_substr_model(spark, texts, min_len):
    from cassandrastack_spark.llm.dedup import substring_dedup

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r.doc_id: (r.clean_text, r.n_removed)
           for r in substring_dedup(docs, min_len=min_len).collect()}
    assert got == _exact_substr_model(dict(enumerate(texts)), min_len)


def test_substring_dedup_rebuilds_per_document(spark):
    """Plan guard for the per-document rebuild: the only Generate is
    the window posexplode (no token-level explode) and no anti join
    filters tokens. Long-document case: three copies of a 2,000-token
    document keep the first copy whole and empty the other two."""
    from cassandrastack_spark.llm.dedup import substring_dedup

    doc = " ".join(f"t{i}" for i in range(2000))
    texts = {1: doc, 2: doc, 3: doc}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = substring_dedup(docs, min_len=10)
    nodes = _plan_nodes(out)
    generates = [n for n in nodes if n.startswith("Generate ")]
    assert len(generates) == 1 and "posexplode" in generates[0], generates
    assert not any("LeftAnti" in n for n in nodes), nodes
    got = {r.doc_id: (r.clean_text, r.n_removed) for r in out.collect()}
    assert got == {1: (doc, 0), 2: ("", 2000), 3: ("", 2000)}
    assert got == _exact_substr_model(texts, 10)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.integers(min_value=0, max_value=60), min_size=1,
             max_size=30, unique=True),
    st.integers(min_value=1, max_value=9),
)
def test_read_page_partitions_table_exactly(spark, tmp_path_factory, ids, page_size):
    """Keyset paging CONTRACT on random tables and page sizes: pages
    are disjoint, ≤ page_size, their concatenation is exactly the
    reconciled table, and the walk follows one global (token, pk)
    order regardless of where the cursor lands."""
    from cassandrastack_spark.catalog import Keyspace
    from cassandrastack_spark.hashing import spark_hash
    from cassandrastack_spark.storage import WideColumnTable
    from cassandrastack_spark import schemas

    wh = str(tmp_path_factory.mktemp("page_wh"))
    ks = Keyspace(spark, "pagespace", wh).create()
    spec = ks.create_table("users", schemas.USERS, partition_keys=["username"])
    t = WideColumnTable(spark, ks, spec, n_buckets=4)
    try:
        t.append(spark.createDataFrame(
            [(f"u{i:03d}", f"id-{i}", f"{i}@x", "pw") for i in ids],
            schemas.USERS))
        walked, state = [], None
        while True:
            rows = t.read_page(page_size, state).collect()
            if not rows:
                break
            assert len(rows) <= page_size
            walked.extend(rows)
            state = t.paging_state(rows[-1])
        names = [r.username for r in walked]
        assert len(names) == len(ids) and len(set(names)) == len(ids)
        assert names == sorted(
            names, key=lambda u: (spark_hash(u), u)
        ), "pages must follow the (token, pk) total order"
    finally:
        ks.drop()


_bm25_word = st.sampled_from(["vector", "stream", "join", "pad", "noise"])
_bm25_text = st.lists(_bm25_word, min_size=1, max_size=6).map(" ".join)


@st.composite
def bm25_index_ops(draw):
    """A build corpus plus a short random op sequence of extends
    (re-using ids = same-id rewrites) and interleaved compactions."""
    init = draw(
        st.dictionaries(
            st.integers(0, 4), _bm25_text, min_size=1, max_size=4
        )
    )
    batches = draw(
        st.lists(
            st.tuples(
                st.dictionaries(
                    st.integers(0, 4), _bm25_text, min_size=1, max_size=3
                ),
                st.booleans(),  # compact after this extend?
            ),
            min_size=0,
            max_size=3,
        )
    )
    return init, batches


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(bm25_index_ops())
def test_bm25_index_random_op_sequences_match_model(spark, ops):
    """Model-based contract for the epoch-stamped BM25 index: after ANY
    sequence of build / extend (including same-id rewrites) / compact,
    a probe must rank exactly like bm25_rank over the last-writer
    model state (a plain dict doc_id -> text). This pins the whole
    epoch design — newest-epoch resolution, per-doc stats refresh,
    compaction's live-rows rewrite — against the one semantic that
    matters: the index behaves as if only each doc's newest text ever
    existed."""
    import shutil
    import tempfile

    from cassandrastack_spark.llm.retrieval import (
        bm25_rank,
        build_bm25_index,
        compact_bm25_index,
        extend_bm25_index,
        probe_bm25_index,
    )

    init, batches = ops
    path = tempfile.mkdtemp(prefix="cs_prop_bm25_")
    try:
        model = dict(init)
        build_bm25_index(
            spark.createDataFrame(
                list(init.items()), "doc_id long, text string"
            ),
            path,
        )
        for batch, do_compact in batches:
            extend_bm25_index(
                spark.createDataFrame(
                    list(batch.items()), "doc_id long, text string"
                ),
                path,
            )
            model.update(batch)
            if do_compact:
                compact_bm25_index(spark, path)
        corpus = spark.createDataFrame(
            list(model.items()), "doc_id long, text string"
        )
        for terms in (["vector"], ["stream", "join"]):
            got = [
                tuple(r)
                for r in probe_bm25_index(spark, path, terms, k=10).collect()
            ]
            want = [
                tuple(r) for r in bm25_rank(corpus, terms, k=10).collect()
            ]
            assert got == want, (terms, model, got, want)
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# embedding moments: split-merge associativity + numpy ground truth
# ---------------------------------------------------------------------------

_dim = 5
_coord = st.integers(min_value=-50, max_value=50)
_vec = st.lists(_coord, min_size=_dim, max_size=_dim)


@st.composite
def vectors_and_split(draw):
    vecs = draw(st.lists(_vec, min_size=2, max_size=24))
    cut = draw(st.integers(min_value=0, max_value=len(vecs)))
    return vecs, cut


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vectors_and_split())
def test_moment_merge_matches_whole_and_numpy(spark, vs):
    """The drift accumulator's algebra: moment rows from ANY split of
    the corpus, summed, give exactly the whole-corpus covariance (the
    streaming merge is associative — no split dependence), and the
    whole-corpus covariance equals numpy's. Integer coordinates make
    double sums exact, so equality here is exact, not approximate."""
    import numpy as np

    from cassandrastack_spark.llm.embstats import (
        _cov_frame_from_totals,
        _moment_partials,
        embedding_covariance,
    )

    vecs, cut = vs
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    whole = spark.createDataFrame(rows, ["vec_id", "embedding"])
    want_np = np.cov(
        np.asarray([v for _, v in rows]), rowvar=False, bias=True
    )
    got_whole = {
        (r.i, r.j): r.cov
        for r in embedding_covariance(whole, "embedding").collect()
    }
    assert all(
        abs(got_whole[(i, j)] - want_np[i][j]) < 1e-9
        for i in range(_dim)
        for j in range(_dim)
    )

    # streaming-style merge: partials from the two halves, unioned,
    # then the shared reduce — must equal the whole-corpus result
    a = spark.createDataFrame(rows[:cut] or [], "vec_id long, embedding array<double>")
    b = spark.createDataFrame(rows[cut:] or [], "vec_id long, embedding array<double>")
    parts = _moment_partials(a, "embedding").unionByName(
        _moment_partials(b, "embedding")
    )
    totals = (
        parts.select(F.posexplode(F.concat("s", "ss")).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
    )
    n = parts.agg(F.sum("n").cast("double").alias("n"))
    got_merged = {
        (r.i, r.j): r.cov for r in _cov_frame_from_totals(totals, n).collect()
    }
    assert got_merged == got_whole


# ---------------------------------------------------------------------------
# snapshot diff vs a dict model
# ---------------------------------------------------------------------------

_snap_ids = st.integers(min_value=0, max_value=9)
_texts = st.sampled_from(["aa bb", "cc dd", "", "ee"])


@st.composite
def two_snapshots(draw):
    old = draw(st.dictionaries(_snap_ids, _texts, max_size=8))
    new = draw(st.dictionaries(_snap_ids, _texts, max_size=8))
    return old, new


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(two_snapshots())
def test_corpus_snapshot_diff_matches_dict_model(spark, snaps):
    """corpus_snapshot_diff vs the obvious dict model: statuses
    partition the union of ids, and each id's status matches
    membership/equality — including NULL text (diffed as '') and
    empty snapshots."""
    from cassandrastack_spark.llm.dedup import corpus_snapshot_diff

    old, new = snaps
    schema = "doc_id long, text string"
    o = spark.createDataFrame(list(old.items()) or [], schema)
    n = spark.createDataFrame(list(new.items()) or [], schema)
    got = {
        r.doc_id: r.status for r in corpus_snapshot_diff(o, n).collect()
    }
    want = {}
    for i in set(old) | set(new):
        if i not in old:
            want[i] = "added"
        elif i not in new:
            want[i] = "removed"
        elif old[i] != new[i]:
            want[i] = "changed"
        else:
            want[i] = "unchanged"
    assert got == want


_hh_key = st.sampled_from(["hot", "warm", "a", "b", "c", "d", "e"])


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_hh_key, min_size=1, max_size=120),
       st.integers(min_value=2, max_value=8))
def test_heavy_hitters_contract(spark, keys, capacity):
    """Two-pass heavy hitters: (1) every reported count is EXACT
    (pass 2 recounts candidates), (2) every true-top-k key above the
    Misra-Gries survival threshold N/(capacity+1) is reported."""
    from collections import Counter

    from cassandrastack_spark.operators.sketch import heavy_hitters

    df = spark.createDataFrame([(k,) for k in keys], "key string")
    k = 3
    got = heavy_hitters(df, "key", k=k, capacity=capacity).collect()
    true = Counter(keys)
    # deterministic brute-force top-k: count desc, key asc
    want = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    got_map = {r.key: r.cnt for r in got}
    for key, cnt in got_map.items():
        assert cnt == true[key], f"{key}: reported {cnt} != exact {true[key]}"
    thresh = len(keys) / (capacity + 1)
    for key, cnt in want:
        if cnt > thresh:
            assert key in got_map, (
                f"true top-{k} key {key} (cnt {cnt} > {thresh:.1f}) missing"
            )


@st.composite
def small_graphs(draw):
    n = draw(st.integers(min_value=2, max_value=8))
    edges = draw(st.lists(
        st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
        min_size=1, max_size=24,
    ))
    return n, edges


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(small_graphs())
def test_triangle_count_matches_bruteforce(spark, g):
    import itertools

    from cassandrastack_spark.operators.graph import triangle_count

    n, edges = g
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    incident = {i for i in range(n) if adj[i]}
    if not incident:
        return  # only self-loops: canonical edge set is empty
    ref = {i: 0 for i in incident}
    for a, b, c in itertools.combinations(sorted(incident), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            ref[a] += 1
            ref[b] += 1
            ref[c] += 1
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.triangles for r in triangle_count(df).collect()}
    assert got == ref


# ---------------------------------------------------------------------------
# Bloom membership filter (operators/sketch.py)
# ---------------------------------------------------------------------------

_items = st.lists(
    st.text(alphabet="abcdefg0123456789", min_size=1, max_size=12),
    min_size=0, max_size=60,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_items, _items)
def test_bloom_no_false_negatives_property(spark, members, probes):
    """The Bloom contract over arbitrary string universes: every member
    probes true (NO false negatives, the filter's only hard guarantee);
    non-members may flag true only as false positives, never the
    reverse."""
    from cassandrastack_spark.operators.sketch import (
        bloom_build,
        bloom_might_contain,
    )

    mdf = (
        spark.createDataFrame([(m,) for m in members], "g string")
        if members else spark.createDataFrame([], "g string")
    )
    pdf = (
        spark.createDataFrame([(p,) for p in probes], "g string")
        if probes else spark.createDataFrame([], "g string")
    )
    bloom = bloom_build(mdf, "g")
    got = {
        r.g: r.might_contain
        for r in bloom_might_contain(bloom, pdf, "g").collect()
    }
    mset = set(members)
    for p in probes:
        if p in mset:
            assert got[p] is True, f"false negative on {p!r}"
        elif got[p]:
            pass  # false positive: allowed by design


# ---------------------------------------------------------------------------
# winsorize_by_group (functions/stats.py)
# ---------------------------------------------------------------------------

_scores = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),                 # group
        st.integers(min_value=-1000, max_value=1000),          # score*10
    ),
    min_size=1, max_size=50,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_scores, st.floats(min_value=0.01, max_value=0.45),
       st.floats(min_value=0.55, max_value=1.0))
def test_winsorize_matches_order_statistic_model(spark, rows, lower, upper):
    """Rank-based winsorization vs a pure-python order-statistic model:
    fences = value at rank ceil(q*n) per group, clamp between, rescale;
    ties and tiny groups included."""
    import math

    from cassandrastack_spark.functions.stats import winsorize_by_group

    df = spark.createDataFrame(
        [(g, v / 10.0) for g, v in rows], "src int, score double"
    )
    got = [
        (r.src, r.score, r.score_w, r.score_norm)
        for r in winsorize_by_group(df, "score", "src",
                                    lower=lower, upper=upper).collect()
    ]
    by_group: dict[int, list[float]] = {}
    for g, v in rows:
        by_group.setdefault(g, []).append(v / 10.0)
    for g, v, w, norm in got:
        vals = sorted(by_group[g])
        n = len(vals)
        lo = vals[math.ceil(lower * n) - 1]
        hi = vals[math.ceil(upper * n) - 1]
        want_w = min(max(v, lo), hi)
        assert w == want_w, (g, v, lo, hi)
        if hi > lo:
            assert abs(norm - (want_w - lo) / (hi - lo)) < 1e-12
        else:
            assert norm == 0.5


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_scores, st.integers(min_value=1, max_value=12))
def test_quantile_normalize_matches_integer_grid_model(spark, rows, grid):
    """quantile_normalize_by_group vs a pure-python model of the
    integer-grid spec: ref[j] = mean over groups of the value at rank
    ceil(j*n/B); each row maps to cell ceil(B*rn/n). Ties, singleton
    groups, and grids smaller/larger than group sizes included."""
    from cassandrastack_spark.functions.stats import (
        quantile_normalize_by_group,
    )

    df = spark.createDataFrame(
        [(g, v / 10.0) for g, v in rows], "src int, score double"
    )
    got = quantile_normalize_by_group(df, "score", "src", grid=grid)
    by_group: dict[int, list[float]] = {}
    for g, v in rows:
        by_group.setdefault(g, []).append(v / 10.0)
    for vals in by_group.values():
        vals.sort()
    ref = {}
    for j in range(1, grid + 1):
        picks = [
            vals[-(-j * len(vals) // grid) - 1]  # ceil via -(-a//b)
            for vals in by_group.values()
        ]
        ref[j] = sum(picks) / len(picks)
    # the model must reproduce every row's mapped value; ranks among
    # ties are arbitrary but the VALUE at a rank is the order
    # statistic, so group rows by (group, value) and check the SET of
    # assigned cells matches what the value's rank range allows
    out = [(r.src, r.score, r.score_qn) for r in got.collect()]
    assert len(out) == len(rows)
    for g, v, qn in out:
        vals = by_group[g]
        n = len(vals)
        # every rank this value occupies (ties span a range)
        lo_rank = vals.index(v) + 1
        hi_rank = n - vals[::-1].index(v)
        allowed = {
            ref[-(-grid * rn // n)] for rn in range(lo_rank, hi_rank + 1)
        }
        # AVG's summation order differs between Spark and python ->
        # compare to the nearest allowed value at ulp tolerance
        assert any(abs(qn - a) < 1e-9 for a in allowed), (g, v, qn, allowed)


_hll_items = st.lists(
    st.one_of(st.none(), st.text(alphabet="abcdef01", min_size=0, max_size=8)),
    min_size=1,
    max_size=60,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_hll_items, st.integers(min_value=1, max_value=4))
def test_hll_registers_match_model_and_merge_tree_invariant(
    spark, items, n_chunks
):
    """hll_build's register table must equal a pure-Python md5 model
    exactly (any drift in the bucket/rank slicing breaks every
    persisted sketch AND the SQL oracles), and folding hll_merge over
    an arbitrary chunking — overlapping chunks included, since chunk
    boundaries repeat items — must be register-identical to one whole
    build (associativity + idempotence of max, the property the
    streaming monitor and the pairwise-overlap union rest on)."""
    import hashlib

    from cassandrastack_spark.operators.sketch import hll_build, hll_merge

    df = spark.createDataFrame([(x,) for x in items], "x string")
    got = {
        r["bucket"]: r["maxrank"]
        for r in hll_build(df, "x", p=12).collect()
    }
    want = {}
    for it in {x for x in items if x is not None}:
        hx = hashlib.md5(it.encode()).hexdigest()
        b = int(hx[:3], 16)
        v = int(hx[3:10], 16)
        r = 29 if v == 0 else 29 - v.bit_length()
        want[b] = max(want.get(b, 0), r)
    assert got == want

    # fold a merge tree over overlapping chunks (each chunk repeats the
    # first item, so idempotence is exercised, not just associativity)
    chunks = [
        items[i::n_chunks] + items[:1] for i in range(n_chunks)
    ]
    folded = None
    for c in chunks:
        reg = hll_build(
            spark.createDataFrame([(x,) for x in c], "x string"), "x", p=12
        )
        folded = reg if folded is None else hll_merge(folded, reg)
    whole = hll_build(df, "x", p=12)
    assert folded.exceptAll(whole).count() == 0
    assert whole.exceptAll(folded).count() == 0


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_hll_items, st.integers(min_value=1, max_value=4),
       st.integers(min_value=2, max_value=64))
def test_cm_cells_match_model_never_undercount_and_merge_fold(
    spark, items, n_chunks, width
):
    """cm_build's cell table must equal a pure-Python md5 model exactly
    (drift in the slice/mod layout breaks every persisted sketch AND
    the staged SQL oracle); every estimate must be >= the true
    multiset count (the CM guarantee, at ANY width down to 2); and
    folding cm_merge over an arbitrary chunk PARTITION of the multiset
    must be cell-identical to one whole build (associativity of
    addition — unlike HLL's max, CM cells are NOT idempotent, so the
    chunks must partition, not overlap)."""
    import hashlib
    from collections import Counter

    from cassandrastack_spark.operators.sketch import (
        cm_build,
        cm_estimate,
        cm_merge,
    )

    df = spark.createDataFrame([(x,) for x in items], "x string")
    depth = 3
    got = {
        (r["row"], r["col"]): r["cnt"]
        for r in cm_build(df, "x", width=width, depth=depth).collect()
    }
    offs = (1, 8, 15)
    true = Counter(x for x in items if x is not None)
    want: dict = {}
    for it, n in true.items():
        hx = hashlib.md5(it.encode()).hexdigest()
        for j in range(depth):
            o = offs[j] - 1
            col = int(hx[o:o + 7], 16) % width
            want[(j, col)] = want.get((j, col), 0) + n
    assert got == want

    if true:
        est = {
            r["x"]: r["est_count"]
            for r in cm_estimate(
                cm_build(df, "x", width=width, depth=depth),
                df.select("x").distinct(),
                "x",
            ).collect()
            if r["x"] is not None
        }
        for it, n in true.items():
            assert est[it] >= n, (it, est[it], n)

    chunks = [items[i::n_chunks] for i in range(n_chunks)]
    folded = None
    for c in chunks:
        sk = cm_build(
            spark.createDataFrame([(x,) for x in c], "x string")
            if c else df.filter("false"),
            "x", width=width, depth=depth,
        )
        folded = sk if folded is None else cm_merge(folded, sk)
    whole = cm_build(df, "x", width=width, depth=depth)
    assert folded.exceptAll(whole).count() == 0
    assert whole.exceptAll(folded).count() == 0


_hist_vals = st.lists(
    st.one_of(
        st.none(),
        st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False),
    ),
    min_size=1,
    max_size=80,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_hist_vals,
       st.floats(min_value=-1e5, max_value=1e5,
                 allow_nan=False, allow_infinity=False),
       st.floats(min_value=1e-3, max_value=1e5,
                 allow_nan=False, allow_infinity=False),
       st.integers(min_value=1, max_value=50),
       st.integers(min_value=1, max_value=4))
def test_histogram_fixed_matches_python_model_and_merge_fold(
    spark, vals, lo, width, bins, n_chunks
):
    """histogram_fixed's bins must equal a pure-Python model running
    the IDENTICAL IEEE double expression (clamped floor((v-lo)/(hi-lo)
    *bins), underflow -1, overflow bins) — any drift breaks the staged
    SQL oracle and every persisted profile; and summing per-chunk
    histograms over a PARTITION of the rows must equal one whole build
    (the additive-state property the streaming monitor and the
    manifest compactor rest on)."""
    import math
    from collections import Counter

    from cassandrastack_spark.functions.stats import histogram_fixed

    hi = lo + width
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {
        r.bin: r.cnt
        for r in histogram_fixed(df, "x", lo, hi, bins).collect()
    }
    want: Counter = Counter()
    for v in vals:
        if v is None:
            continue
        if v < lo:
            want[-1] += 1
        elif v >= hi:
            want[bins] += 1
        else:
            want[min(math.floor((v - lo) / (hi - lo) * bins), bins - 1)] += 1
    assert got == dict(want)

    chunks = [vals[i::n_chunks] for i in range(n_chunks)]
    parts = []
    for c in chunks:
        cdf = (
            spark.createDataFrame([(v,) for v in c], "x double")
            if c else df.filter("false")
        )
        parts.append(histogram_fixed(cdf, "x", lo, hi, bins))
    merged = parts[0]
    for nxt in parts[1:]:
        merged = merged.unionByName(nxt)
    merged = merged.groupBy("bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    whole = histogram_fixed(df, "x", lo, hi, bins)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


_bk_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),   # key (may repeat!)
        st.integers(min_value=0, max_value=2),        # group
        st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_bk_rows,
       st.integers(min_value=1, max_value=20),
       st.integers(min_value=1, max_value=3))
def test_bottomk_sample_matches_python_model_and_merge_fold(
    spark, rows, k, n_chunks
):
    """bottomk_sample_build must equal a pure-Python model running the
    identical reduction (md5-hex string order, (h, v) tie-break, keep
    k smallest per group), fold-merging any chunking of the input must
    equal the whole build (the per-batch monitor invariant), and the
    type-1 quantiles must equal the model's order-statistic selection
    — including under duplicate keys (same h, possibly different v)
    and duplicate (h, v) rows, the dedup's own edge."""
    import hashlib
    import math

    from cassandrastack_spark.operators.sketch import (
        bottomk_sample_build,
        bottomk_sample_merge,
        bottomk_sample_quantiles,
    )

    df = spark.createDataFrame(rows, "id long, g int, v double")

    # python model: dedup on (g, h, v), keep k smallest (h, v) per g
    def model_sample(rws):
        seen = {}
        for key, g, v in rws:
            h = hashlib.md5(str(key).encode()).hexdigest()
            seen[(g, h, float(v))] = True
        out = {}
        for (g, h, v) in seen:
            out.setdefault(g, []).append((h, v))
        return {
            g: sorted(pairs)[:k] for g, pairs in out.items()
        }

    want = model_sample(rows)
    got_df = bottomk_sample_build(df, "v", "id", k=k, group_cols=["g"])
    got = {}
    for r in got_df.collect():
        got.setdefault(r.g, []).append((r.h, r.v))
        assert r.k == k
    assert {g: sorted(p) for g, p in got.items()} == want

    # fold-merge any chunking == whole build
    chunks = [rows[i::n_chunks] for i in range(n_chunks)]
    chunks = [c for c in chunks if c]
    folded = bottomk_sample_build(
        spark.createDataFrame(chunks[0], "id long, g int, v double"),
        "v", "id", k=k, group_cols=["g"],
    )
    for c in chunks[1:]:
        folded = bottomk_sample_merge(
            folded,
            bottomk_sample_build(
                spark.createDataFrame(c, "id long, g int, v double"),
                "v", "id", k=k, group_cols=["g"],
            ),
            group_cols=["g"],
        )
    fold = {}
    for r in folded.collect():
        fold.setdefault(r.g, []).append((r.h, r.v))
    assert {g: sorted(p) for g, p in fold.items()} == want

    # type-1 quantiles == model's order-statistic selection over the
    # sample values (ties carry equal values, so the VALUE is unique)
    probs = (0.25, 0.5, 1.0)
    got_q = {
        (r.g, r.p): r.q
        for r in bottomk_sample_quantiles(
            got_df, probs, group_cols=["g"]
        ).collect()
    }
    for g, pairs in want.items():
        vs = sorted(v for _, v in pairs)
        for p in probs:
            idx = max(1, math.ceil(p * len(vs))) - 1
            assert got_q[(g, p)] == vs[idx], (g, p)


_ws_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),   # key (may repeat)
        st.integers(min_value=0, max_value=1),        # group
        st.floats(min_value=1e-3, max_value=1e3,
                  allow_nan=False, allow_infinity=False),  # weight > 0
    ),
    min_size=1,
    max_size=50,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_ws_rows,
       st.integers(min_value=1, max_value=12),
       st.integers(min_value=1, max_value=3))
def test_weighted_sample_matches_python_model_and_merge_fold(
    spark, rows, k, n_chunks
):
    """weighted_sample_build's SELECTED ITEM SET must equal the pure
    Python A-ES model's (selection compared, not float key equality —
    libm ln can differ at the ulp, which never flips md5-spread
    orderings but would fail ==), and fold-merging any chunking must
    equal the whole build. Duplicate keys are deduplicated to one row
    before ranking (weights here are a function of the key, so the
    kept row is well-defined and the model agrees)."""
    import hashlib
    import math

    from cassandrastack_spark.operators.sketch import (
        weighted_sample_build,
        weighted_sample_merge,
    )

    # make the weight a FUNCTION of the key (the stable-weight
    # contract): duplicates then carry identical rows and the dedup
    # is deterministic
    rows = [(key, g, 1e-3 + (key % 97) / 7.0) for key, g, _ in rows]
    df = spark.createDataFrame(rows, "id long, g int, wt double")

    def model(rws):
        per_group = {}
        for key, g, wt in set(rws):
            hx = hashlib.md5(str(key).encode()).hexdigest()
            u = (int(hx[:8], 16) + 1) / 4294967297.0
            e = -math.log(u) / wt
            per_group.setdefault(g, {})[str(key)] = e
        return {
            g: {
                it
                for _, it in sorted(
                    (e, it) for it, e in items.items()
                )[:k]
            }
            for g, items in per_group.items()
        }

    want = model(rows)
    got = {}
    for r in weighted_sample_build(
        df, "id", "wt", k=k, group_cols=["g"]
    ).collect():
        got.setdefault(r.g, set()).add(r.item)
    assert got == want

    chunks = [rows[i::n_chunks] for i in range(n_chunks)]
    chunks = [c for c in chunks if c]
    folded = weighted_sample_build(
        spark.createDataFrame(chunks[0], "id long, g int, wt double"),
        "id", "wt", k=k, group_cols=["g"],
    )
    for c in chunks[1:]:
        folded = weighted_sample_merge(
            folded,
            weighted_sample_build(
                spark.createDataFrame(c, "id long, g int, wt double"),
                "id", "wt", k=k, group_cols=["g"],
            ),
            group_cols=["g"],
        )
    fold = {}
    for r in folded.collect():
        fold.setdefault(r.g, set()).add(r.item)
    assert fold == want


# ---------------------------------------------------------------------------
# fuzzy string pairs (operators/fuzzy.py) — blocking completeness under
# hypothesis-shrunk random vocabularies, both blockers


def _edit_dist(a: str, b: str) -> int:
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
        prev = cur
    return prev[n]


# tiny alphabet = maximal block-collision pressure; lengths 1..7 cross
# the short-string boundary (len < tau+1) in both directions
_fuzzy_words = st.lists(
    st.text(alphabet="abX", min_size=1, max_size=7),
    min_size=2,
    max_size=18,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_fuzzy_words, st.integers(min_value=1, max_value=2),
       st.sampled_from(["deletes", "passjoin"]))
def test_fuzzy_string_pairs_property_bruteforce(spark, words, tau, blocker):
    """The pair set equals brute force EXACTLY for every vocabulary —
    a missed pair (incomplete blocking) or an extra pair (broken
    verify) both fail. Shrinking gives the minimal counterexample
    vocabulary if the pigeonhole/variant argument ever breaks."""
    from cassandrastack_spark.operators.fuzzy import fuzzy_string_pairs

    df = spark.createDataFrame([(w,) for w in words], "name string")
    got = sorted(
        (r.s_a, r.s_b, r.dist)
        for r in fuzzy_string_pairs(
            df, None, "name", max_dist=tau, blocker=blocker
        ).collect()
    )
    ws = sorted(set(words))
    want = sorted(
        (x, y, _edit_dist(x, y))
        for i, x in enumerate(ws)
        for y in ws[i + 1:]
        if _edit_dist(x, y) <= tau
    )
    assert got == want


# ---------------------------------------------------------------------------
# hashed-gram NB classifier (llm/classifier.py) — train + score vs a
# pure-python model over hypothesis-shrunk corpora


@st.composite
def _labeled_docs(draw):
    n = draw(st.integers(min_value=4, max_value=12))
    docs = []
    for i in range(n):
        words = draw(st.lists(
            st.text(alphabet="abcd ", min_size=0, max_size=4),
            min_size=0, max_size=6,
        ))
        # at least one positive and one negative label (the trainer
        # refuses one-class seeds by design); the rest may be unlabeled
        label = (
            True if i == 0 else False if i == 1
            else draw(st.sampled_from([True, False, None]))
        )
        docs.append((i, " ".join(words), label))
    return docs


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_labeled_docs())
def test_nb_classifier_property_matches_python_model(spark, docs):
    """Featurize + train + score equals the python model for every
    corpus shape — including empty texts, whitespace-irregular texts
    (the alphabet embeds spaces, so split produces empty tokens), and
    unlabeled documents that must score but never train."""
    import hashlib
    import math

    from cassandrastack_spark.llm.classifier import (
        hashed_gram_features,
        linear_text_score,
        nb_logodds_weights,
    )

    dim = 32

    def grams(text):
        toks = [w for w in text.split(" ") if w]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:7], 16) % dim

    pos, neg = {}, {}
    pt = nt = n_pos = n_neg = 0
    for _i, text, lab in docs:
        if lab is None:
            continue
        side = pos if lab else neg
        cnt = 0
        for g in grams(text):
            side[bucket(g)] = side.get(bucket(g), 0) + 1
            cnt += 1
        if lab:
            pt += cnt
            n_pos += 1
        else:
            nt += cnt
            n_neg += 1
    w_py = {
        b: math.log((pos.get(b, 0) + 1) / (pt + dim))
        - math.log((neg.get(b, 0) + 1) / (nt + dim))
        for b in range(dim)
    }
    bias = math.log(n_pos / n_neg)

    sdocs = spark.createDataFrame(
        [(i, t) for i, t, _ in docs], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(i, l) for i, t, l in docs if l is not None],
        "doc_id long, is_pos boolean",
    )
    feats = hashed_gram_features(sdocs, "doc_id", "text", dim)
    w = nb_logodds_weights(feats, labels, "doc_id", "is_pos", dim)
    got = {r.doc_id: r.logit for r in
           linear_text_score(sdocs, w, "doc_id", "text").collect()}
    assert set(got) == {i for i, _, _ in docs}
    for i, text, _lab in docs:
        logit = bias + sum(
            w_py[bucket(g)] for g in grams(text)
        )
        assert abs(got[i] - logit) < 1e-9, (i, text)
