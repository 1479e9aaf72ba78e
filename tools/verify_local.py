"""Local mirror of the driver's correctness gate.

Runs every registered query on Spark and (when an oracle exists) the
oracle SQL on DuckDB over the same parquet, then compares row count,
column names, and values (columns sorted by name, rows sorted by all
columns — order-insensitive, like the driver's value-hash).

Usage: python tools/verify_local.py [sf_dir] [query ...] [--window]
(--window adds the first WINDOW presentation-order entries — the
driver's per-round window — to whatever names are given; it may appear
anywhere; the first non-flag argument is sf_dir.)
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from cassandrastack_spark.queries import WINDOW, load_all  # noqa: E402
from cassandrastack_spark.session import spark_builder  # noqa: E402


def verify_spark() -> SparkSession:
    """The engine's own session (``session.spark_builder``), so the
    oracle gate checks the queries under the confs they run with."""
    return spark_builder("verify-local").getOrCreate()

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            if getattr(df[c].dtype, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if list(a.columns) != list(b.columns):
        return f"columns differ: spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"row count differs: spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            ok = np.isclose(
                av.astype(float), bv.astype(float), rtol=0, atol=0, equal_nan=True
            )
            exact_bad = int((~ok).sum())
            if exact_bad:
                close = np.isclose(av.astype(float), bv.astype(float), rtol=1e-9, equal_nan=True)
                kind = "EXACT-ONLY" if close.all() else "REAL"
                i = int(np.argmax(~ok))
                return (
                    f"col {c}: {exact_bad}/{len(a)} mismatch ({kind}) "
                    f"e.g. row {i}: spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
                )
        else:
            neq = (av != bv) & ~(av.isna() & bv.isna())
            if neq.any():
                i = int(np.argmax(neq.values))
                return (
                    f"col {c}: {int(neq.sum())}/{len(a)} mismatch "
                    f"e.g. row {i}: spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
                )
    return None


def main() -> int:
    # --window may appear anywhere; the first non-flag arg is sf_dir
    args = [a for a in sys.argv[1:] if a != "--window"]
    window = "--window" in sys.argv[1:]
    unknown_flags = [a for a in args if a.startswith("--")]
    if unknown_flags:
        print(f"ERROR: unrecognized flags {unknown_flags} (only --window is known)")
        return 2
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    registry = load_all()
    # a mistyped query name would silently verify nothing and print
    # ALL GREEN — fail loud instead (ADVICE r10)
    unmatched = sorted(n for n in only if n not in registry)
    if unmatched:
        print(f"ERROR: names not in registry: {unmatched}")
        return 2
    if window:
        # the driver verifies the FIRST WINDOW presentation-order
        # entries; explicit names alongside the flag are verified IN
        # ADDITION
        only |= set(list(registry)[:WINDOW])
    spark = verify_spark()
    con = duck_con(sf_dir)
    failures = 0
    for name, qd in registry.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sp = qd.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        el = time.time() - t0
        if qd.oracle is None:
            print(f"ok?   {name}: rows={len(sp)} ({el:.1f}s) [rows-only, no oracle]")
            continue
        try:
            du = con.execute(qd.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        diff = compare(sp, du)
        if diff:
            print(f"FAIL  {name}: {diff}")
            failures += 1
        else:
            print(f"PASS  {name}: rows={len(sp)} ({el:.1f}s)")
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
