"""Local emulation of the driver's correctness harness: run every
`queries()` entry on Spark and its `oracle_sql()` on DuckDB at the
same sf, compare row count, sorted column names, and order-insensitive
values (exact, after the queries' own rounding).

Usage: python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return repr(v)


# DuckDB physical type → compatible Spark dtypes. The driver's value
# hash is TYPE-TAGGED (a DuckDB HUGEINT int128 hashes differently from
# a Spark bigint even when the values are equal — the exact miss that
# made q_sessionize driver-red in round 1 while repr()-based compare
# passed locally). Unmapped or mismatched physical types FAIL here.
_INTS = {"tinyint", "smallint", "int", "bigint"}
DUCK_TO_SPARK = {
    # native int widths all hash as int64 driver-side (m1's BIGINT rk
    # vs Spark int passed in round 1) — one family
    "BIGINT": _INTS,
    "INTEGER": _INTS,
    "SMALLINT": _INTS,
    "TINYINT": _INTS,
    "HUGEINT": {"decimal(38,0)"},  # int128 — hashes differently from int64
    "DOUBLE": {"double", "float"},
    "FLOAT": {"double", "float"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "DATE": {"date"},
}


def type_mismatches(duck_cols, duck_types, spark_dtypes) -> list[str]:
    """[(col, duck_type, spark_type)] pairs whose physical types would
    hash differently in the driver's compare."""
    sp = dict(spark_dtypes)
    bad = []
    for col, dt in zip(duck_cols, duck_types):
        dt_s = str(dt).upper()
        ok = DUCK_TO_SPARK.get(dt_s)
        if ok is None:
            bad.append(f"{col}: unmapped duckdb type {dt_s} (spark {sp.get(col)})")
        elif sp.get(col) not in ok:
            bad.append(f"{col}: duckdb {dt_s} vs spark {sp.get(col)}")
    return bad


def df_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from crawler_spark.session import get_spark

    spark = get_spark(app_name="oracle_check")
    qs = entry.queries()
    oracles = entry.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = sdf.collect()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = sorted(rel.columns)
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        if scols != dcols:
            print(f"FAIL {name}: columns {scols} vs {dcols}")
            failures.append(name)
            continue
        bad_types = type_mismatches(rel.columns, rel.types, sdf.dtypes)
        if bad_types:
            print(f"FAIL {name}: type-tag mismatch (driver hash would differ): {bad_types}")
            failures.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}")
            failures.append(name)
            continue
        a = df_to_rows(sdf.columns, srows)
        b = df_to_rows(rel.columns, drows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            failures.append(name)
            continue
        print(f"ok   {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
