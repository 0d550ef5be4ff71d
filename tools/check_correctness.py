"""Local emulation of the driver's correctness gate.

Runs each ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given scale factor, then compares
row count, column names, and an order-insensitive value hash (columns
sorted by name, rows sorted, values canonicalized).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
]


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if abs(v) < 2**53 and v == int(v):
            return str(int(v))  # robust to int/float representation drift
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def value_hash(rows: list[dict], cols: list[str]) -> str:
    cols = sorted(cols)
    lines = sorted("|".join(_canon(r[c]) for c in cols) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [r.asDict(recursive=True) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            failures += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"OK?  {name}: rows-only ({len(s_rows)} rows, no oracle)")
            continue
        try:
            cur = con.execute(sql)
            d_cols = [d[0] for d in cur.description]
            d_rows = [dict(zip(d_cols, row)) for row in cur.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            failures += 1
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        if not problems:
            hs, hd = value_hash(s_rows, s_cols), value_hash(d_rows, d_cols)
            if hs != hd:
                problems.append("value hash mismatch")
                for a, b in zip(
                    sorted("|".join(_canon(r[c]) for c in sorted(s_cols)) for r in s_rows),
                    sorted("|".join(_canon(r[c]) for c in sorted(d_cols)) for r in d_rows),
                ):
                    if a != b:
                        print(f"   spark: {a[:220]}")
                        print(f"   duck : {b[:220]}")
                        break
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows)")
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
