"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs each __spark_entry__ query on Spark and its oracle on DuckDB at the
given SF, compares row count, column names, and an order-insensitive value
hash (columns sorted by name, rows sorted, values stringified).
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from otel_arrow_adapter_spark.session import get_spark  # noqa: E402
from otel_arrow_adapter_spark.sources.readers import TABLES  # noqa: E402


def norm_rows(cols, rows, ndigits=6):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = format(round(v, ndigits), f".{ndigits}f")
            elif isinstance(v, bool):
                v = str(v).lower()
            vals.append("NULL" if v is None else str(v))
        out.append("|".join(vals))
    out.sort()
    return hashlib.md5("\n".join(out).encode()).hexdigest()


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            h1 = norm_rows(scols, srows)
            h2 = norm_rows(dcols, drows)
            if h1 != h2:
                problems.append("value-hash mismatch")
                # show a sample diff
                s_set = set()
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                for row in srows[:5]:
                    s_set.add(tuple(row[i] for i in order))
                print("  spark sample:", list(s_set)[:2])
                d_order = sorted(range(len(dcols)), key=lambda i: dcols[i])
                print("  duck sample:", [tuple(r[i] for i in d_order) for r in drows[:2]])
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"OK   {name} ({len(srows)} rows)")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    only = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    raise SystemExit(main(only=only))
