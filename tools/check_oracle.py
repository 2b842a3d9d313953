"""Correctness gate: run each ``__spark_entry__.queries()`` entry on
Spark and its ``oracle_sql()`` in DuckDB at the same scale factor,
compare row count + column names + order-insensitive values.

Usage: ``python tools/check_oracle.py [QUERIES [SF_DIR]]`` — QUERIES is
a comma-separated subset, or ``all`` (the default); SF_DIR is the
scale-factor directory of parquet tables (default sf0.01)."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from osprey_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(v):
    import datetime

    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer():
            return int(v)
        return round(v, 6)
    if isinstance(v, list):
        return tuple(normalize(x) for x in v)
    return v


def row_key(row, cols):
    return tuple(normalize(row[c]) for c in sorted(cols))


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    spark = get_spark(cores=8, app_name="oracle_check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict(recursive=True) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        dcols = list(ddf.columns)
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(dcols)}")
            failures.append(name)
            continue
        drows = ddf.to_dict("records")
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount {len(srows)} != {len(drows)}")
            failures.append(name)
            continue
        # case-insensitive column align
        colmap = {c.lower(): c for c in dcols}
        skeys = sorted(str(row_key(r, scols)) for r in srows)
        dkeys = sorted(
            str(tuple(normalize(r[colmap[c.lower()]]) for c in sorted(scols)))
            for r in drows
        )
        if skeys != dkeys:
            bad = next(
                (i for i, (a, b) in enumerate(zip(skeys, dkeys)) if a != b), None
            )
            print(f"FAIL {name}: value mismatch at sorted idx {bad}:")
            print(f"  spark : {skeys[bad] if bad is not None else '?'}")
            print(f"  duckdb: {dkeys[bad] if bad is not None else '?'}")
            failures.append(name)
            continue
        print(f"PASS {name} ({len(srows)} rows)")
    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    args = sys.argv[1:]
    only = args[0].split(",") if args and args[0] != "all" else None
    main(*args[1:2], only=only)
