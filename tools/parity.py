"""Local replica of the driver's correctness gate: run every queries() entry
in Spark AND its oracle_sql() in DuckDB at a given sf, compare row count,
column names, and order-insensitive values.

Usage: python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from mariadb_cdc_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# The driver hashes oracle values with DuckDB's native type rendering, so any
# type Spark cannot produce (HUGEINT from sum(INTEGER), UHUGEINT, unscaled
# DECIMAL surprises) hash-mismatches even when values are equal.  Restrict
# oracle result schemas to the types the driver canonicalizes identically.
_HASH_STABLE_TYPES = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT",
    "VARCHAR", "BOOLEAN", "DATE", "TIMESTAMP", "BLOB",
}


def assert_hash_stable(name: str, rel) -> None:
    """Fail loudly when an oracle emits a column type the driver's hasher
    canonicalizes differently from Spark (e.g. DuckDB sum(int) -> HUGEINT).
    """
    bad = []
    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        base = t.split("(")[0]
        if base in _HASH_STABLE_TYPES or base == "DECIMAL":
            continue
        bad.append(f"{col}:{t}")
    if bad:
        raise TypeError(
            f"oracle '{name}' emits hash-unstable column type(s) {bad}; "
            "cast aggregates (e.g. sum(...)::BIGINT) in oracle_sql()"
        )


def norm_cell(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{sf}/{t}.parquet'")

    spark = get_spark(app_name="parity", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"{name:28s} NO-ORACLE (rows-only)")
            continue
        try:
            sdf = fn(spark, sf)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            rel = con.sql(oracles[name])
            assert_hash_stable(name, rel)
            d_cols = [c.lower() for c in rel.columns]
            d_rows = rel.fetchall()
        except Exception as e:
            print(f"{name:28s} ERROR {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        sc, sr = norm_rows([c.lower() for c in s_cols], s_rows)
        dc, dr = norm_rows(d_cols, d_rows)
        if sc != dc:
            print(f"{name:28s} SCHEMA MISMATCH spark={sc} duck={dc}")
            n_fail += 1
        elif len(sr) != len(dr):
            print(f"{name:28s} ROWCOUNT spark={len(sr)} duck={len(dr)}")
            n_fail += 1
        elif sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"{name:28s} VALUES differ ({len([1 for a,b in zip(sr,dr) if a!=b])} rows) e.g. {diffs[:1]}")
            n_fail += 1
        else:
            print(f"{name:28s} OK ({len(sr)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
