"""Local mimic of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and an order-insensitive value hash.

Driver-faithful since round 12: both sides are canonicalized through
**pandas** (``spark_df.toPandas()`` vs ``con.execute(sql).df()``) — the
same path the driver uses — and per-column pandas dtype *kinds* are
asserted equal. The previous ``fetchall()``-based comparison fetched
Python ints on both sides, which hid the r11 ``pipe_multimodal_decode``
bug where DuckDB's HUGEINT SUM reached pandas as float64 (``-8448.0``)
while Spark emitted int64 (``-8448``): locally green, red on the driver.
Rendering values from the pandas frames reproduces the driver's
divergence exactly.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import decimal
    import math

    import numpy as np

    # Unwrap numpy scalars FIRST so floats render as plain repr()
    # (numpy>=2 repr is "np.float64(...)") and ints as plain digits.
    if isinstance(v, np.integer):
        v = int(v)
    elif isinstance(v, np.floating):
        v = float(v)
    elif isinstance(v, np.bool_):
        v = bool(v)
    elif isinstance(v, np.ndarray):
        v = list(v)
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    # pandas NaT / NA reach here as scalar objects
    try:
        import pandas as pd

        if v is pd.NaT or v is pd.NA:
            return "NULL"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
    except Exception:
        pass
    return str(v)


def frame_hash(pdf) -> str:
    """Order-insensitive value hash of a pandas DataFrame, columns
    sorted by name — cells rendered from the *pandas* values so dtype
    divergence (int64 vs float64) changes the hash, as it does on the
    driver."""
    cols = sorted(pdf.columns)
    sub = pdf[cols]
    lines = sorted(
        "\x1f".join(norm_cell(v) for v in row)
        for row in sub.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


_KIND_ALIAS = {"u": "i", "m": "M"}  # unsigned→signed int, timedelta→datetime


def dtype_kinds(pdf) -> dict:
    """Column → canonical pandas dtype kind. 'i' ints, 'f' floats,
    'b' bool, 'M' datetimes (any unit), 'O' object/str. Int-vs-float is
    the bug class that diverges under the driver's canonicalizer;
    int32-vs-int64 or ns-vs-us datetimes render identically and are
    treated as equal."""
    out = {}
    for c in pdf.columns:
        k = pdf[c].dtype.kind
        out[c] = _KIND_ALIAS.get(k, k)
    return out


def dtype_mismatches(spdf, opdf) -> list:
    """Per-column dtype-kind mismatches between a Spark toPandas frame
    and a DuckDB .df() frame (shared columns only). Empty-frame columns
    are skipped on the object side: an empty Spark result often comes
    back all-object."""
    sk, ok_ = dtype_kinds(spdf), dtype_kinds(opdf)
    bad = []
    for c in sorted(set(sk) & set(ok_)):
        a, b = sk[c], ok_[c]
        if a == b:
            continue
        # All-null / empty columns degrade to object or float on either
        # side; only flag the dangerous numeric-kind divergence when
        # there is at least one non-null value on both sides.
        if len(spdf) == 0 or len(opdf) == 0:
            continue
        if spdf[c].isna().all() or opdf[c].isna().all():
            continue
        bad.append((c, a, b))
    return bad


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from kremis_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"SKIP-ORACLE {name}: rows={len(spdf)} ({spark_t:.1f}s)")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_count = len(spdf) == len(opdf)
        ok_cols = sorted(spdf.columns) == sorted(opdf.columns)
        sh, oh = frame_hash(spdf), frame_hash(opdf)
        ok_hash = sh == oh
        dmis = dtype_mismatches(spdf, opdf) if ok_cols else []
        ok_dtype = not dmis
        status = (
            "OK" if (ok_count and ok_cols and ok_hash and ok_dtype) else "FAIL"
        )
        print(
            f"{status} {name}: rows {len(spdf)}/{len(opdf)} "
            f"cols={'=' if ok_cols else f'{list(spdf.columns)} vs {list(opdf.columns)}'} "
            f"hash={'=' if ok_hash else f'{sh} vs {oh}'} "
            f"dtypes={'=' if ok_dtype else dmis} ({spark_t:.1f}s)"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_hash and ok_count and len(spdf) <= 20:
                cols = sorted(spdf.columns)
                print("  spark:", sorted(map(tuple, spdf[cols].values.tolist()))[:20])
                print("  duck :", sorted(map(tuple, opdf[cols].values.tolist()))[:20])
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
