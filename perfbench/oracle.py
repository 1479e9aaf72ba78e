"""Result fingerprints and the DuckDB oracle they are checked against.

A fingerprint is ``(row count, order-insensitive hash)``. Each value is put
into a canonical text form first, so the engines' type choices do not
matter: an integer-valued double and an integer hash alike, a timezone-aware
timestamp is compared in UTC, and ``-0.0`` equals ``0.0``. Column order does
not matter either (columns are taken by sorted name). Values are otherwise
compared exactly, as the registry's own oracle gate does.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd


def _canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, (bool, np.bool_)):
        return "b1" if v else "b0"
    if isinstance(v, (int, np.integer)):
        return f"i{int(v)}"
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "N"
        if f.is_integer() and abs(f) < 2**53:
            return f"i{int(f)}"
        return repr(f + 0.0)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return f"t{ts.value // 1000}"
    if isinstance(v, dt.date):
        return "d" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if pd.isna(v):
        return "N"
    return "s" + str(v)


def _canon_column(s: pd.Series) -> pd.Series:
    """Vectorised ``_canon`` for the common column types."""
    if pd.api.types.is_bool_dtype(s) and not s.isna().any():
        return np.where(s.to_numpy(), "b1", "b0")
    if pd.api.types.is_integer_dtype(s) and not s.isna().any():
        return "i" + s.astype("int64").astype(str)
    if pd.api.types.is_float_dtype(s):
        f = s.to_numpy(dtype="float64") + 0.0
        ok = ~np.isnan(f)
        whole = ok & (np.floor(f) == f) & (np.abs(f) < 2.0**53)
        out = np.full(len(f), "N", dtype=object)
        out[whole] = "i" + f[whole].astype("int64").astype(str).astype(object)
        rest = ok & ~whole
        out[rest] = [repr(x) for x in f[rest].tolist()]
        return out
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dtype, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        us = s.to_numpy(dtype="datetime64[us]").astype("int64")
        out = np.where(s.isna().to_numpy(), "N", np.char.add("t", us.astype(str)))
        return out.astype(object)
    return s.map(_canon)


def fingerprint(pdf: pd.DataFrame) -> list:
    """``[rows, hash]`` of a result frame, independent of row order."""
    cols = sorted(pdf.columns)
    if not len(pdf):
        return [0, "0|" + ",".join(cols)]
    parts = [pd.Series(_canon_column(pdf[c]), dtype=object).astype(str).reset_index(drop=True)
             for c in cols]
    text = parts[0].str.cat(parts[1:], sep="\x1f") if len(parts) > 1 else parts[0]
    acc = int(pd.util.hash_pandas_object(text, index=False).to_numpy().sum(dtype="uint64"))
    return [len(pdf), f"{acc:016x}|" + ",".join(cols)]


class Oracle:
    """DuckDB over one input directory, with fingerprints cached on disk.

    The cache key is the caller's ``input_key`` (which names how the input
    set was made) plus the oracle SQL text, so a changed query or a changed
    generator misses the cache instead of reusing a stale answer.
    """

    def __init__(self, data_dir: str, tables, input_key: str, cache_dir: str):
        self.data_dir = data_dir
        self.tables = tables
        self.input_key = input_key
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.execute("SET threads TO 2")
            for t in self.tables:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return self._con

    def expected(self, name: str, sql: str) -> list:
        key = hashlib.sha256(f"{self.input_key}\n{name}\n{sql}".encode()).hexdigest()[:32]
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        fp = fingerprint(self._connect().execute(sql).fetchdf())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(fp, f)
        os.replace(tmp, path)
        return fp

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
