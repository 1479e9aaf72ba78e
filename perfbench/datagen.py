"""Seeded input generator for the benchmark workloads.

Writes the ten tables the query registry reads (``region`` ... ``embeddings``)
as one Parquet file each, with the same schemas and value domains as the
engine's synthetic test data. The same seed always gives the same bytes of
table content.

``replicate`` is the scale-up step: it writes ``copies`` copies of a base
table set, offsetting the keys of the fact and event tables per copy so the
copies stay distinct rows with intact join keys. ``nation``/``region`` keep a
single copy, and the LLM tables (``documents``, ``embeddings``) are copied
unchanged. Every written set carries a ``MANIFEST.json`` of row counts, which
``verify`` checks against the Parquet footers before the set is used.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Row counts per unit of scale factor (sf1 = these numbers).
_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
# Keyed tables: key column -> the table whose row count strides it per copy.
_KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
    "events": {"event_id": "events", "user_id": "users"},
}
_NAME_FMT = {"customer": ("c_name", "c_custkey", "Customer#{:09d}"),
             "supplier": ("s_name", "s_suppkey", "Supplier#{:09d}")}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "window spark order data column join small line customer query big "
    "stream sort filter group vector"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
_EMB_DIM = 64


def _ts(days: np.ndarray, start: dt.date) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(_VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # near-duplicates (one word swapped) and exact copies, so the dedup
    # operators have clusters to find
    for i in rng.choice(np.arange(n // 10, n), n // 20, replace=False):
        toks = out[int(rng.integers(0, i))].split()
        toks[int(rng.integers(0, len(toks)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        out[i] = " ".join(toks)
    for i in rng.choice(np.arange(n // 10, n), n // 100, replace=False):
        out[i] = out[int(rng.integers(0, i))]
    return out


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(c * sf))) for t, c in _PER_SF.items()}
    n_users = max(1, n["events"] // 66)
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, ns),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(_STATUS)[rng.integers(0, 3, no)],
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": _ts(rng.integers(0, 2405, no), dt.date(1995, 1, 1)),
        "o_orderpriority": np.array(_PRIORITY)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(rng.integers(1, 2500, nl), dt.date(1995, 1, 1)),
    })
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, n_users, ne).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = _texts(rng, nd)
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, _EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return t


def _shift(tab: pa.Table, name: str, copy: int, strides: dict[str, int]) -> pa.Table:
    for col, ref in _KEYS.get(name, {}).items():
        shifted = pc.add(tab[col], pa.scalar(copy * strides[ref], pa.int64()))
        tab = tab.set_column(tab.schema.get_field_index(col), col, shifted)
    if name in _NAME_FMT:
        col, key, fmt = _NAME_FMT[name]
        names = [fmt.format(k) for k in tab[key].to_pylist()]
        tab = tab.set_column(tab.schema.get_field_index(col), col, pa.array(names))
    return tab


def replicate(base: dict[str, pa.Table], copies: int, out_dir: str,
              row_group_rows: int = 50_000) -> dict[str, int]:
    """Write ``copies`` key-offset copies of ``base`` under ``out_dir``.

    Returns (and records in ``MANIFEST.json``) the row count per table.
    Small row groups let the scan split one file across every core.
    """
    os.makedirs(out_dir, exist_ok=True)
    strides = {k: base[k].num_rows for k in _PER_SF}
    strides["users"] = int(pc.max(base["events"]["user_id"]).as_py()) + 1
    manifest = {}
    for name in TABLES:
        reps = copies if name in _KEYS else 1
        tab = pa.concat_tables(_shift(base[name], name, c, strides) for c in range(reps))
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=row_group_rows)
        manifest[name] = tab.num_rows
    with open(os.path.join(out_dir, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def verify(data_dir: str) -> dict[str, int]:
    """Check every table's Parquet row count against the manifest."""
    with open(os.path.join(data_dir, "MANIFEST.json")) as f:
        manifest = json.load(f)
    for name in TABLES:
        rows = pq.read_metadata(os.path.join(data_dir, f"{name}.parquet")).num_rows
        if rows != manifest[name]:
            raise RuntimeError(f"{data_dir}/{name}: {rows} rows, manifest says {manifest[name]}")
    return manifest


def build(seed: int, sf: float, copies: int, out_dir: str) -> dict[str, int]:
    """Generate at ``sf`` from ``seed``, replicate ``copies`` times, verify."""
    replicate(generate(seed, sf), copies, out_dir)
    return verify(out_dir)
