"""Nondeterminism sweep: run every registry query TWICE in one session and
compare order-insensitive value hashes. Catches unstable ordering, uuid
side-effect writers (the r4 pb-capture defect class), and cache-dependent
results that the single-run oracle gate cannot see.

    python tools/determinism_check.py [name1,name2]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from otel_arrow_adapter_spark.session import get_spark  # noqa: E402


def value_hash(df) -> str:
    cols = sorted(df.columns)
    rows = sorted("|".join(str(r[c]) for c in cols) for r in df.collect())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None) -> int:
    spark = get_spark(app_name="determinism-check")
    bad = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            a = value_hash(fn(spark, sf_dir))
            b = value_hash(fn(spark, sf_dir))
            status = "OK" if a == b else "NONDET"
        except Exception as ex:  # noqa: BLE001
            status = f"ERR {type(ex).__name__}: {ex}"
        if status != "OK":
            bad.append(name)
        print(f"{status:7s} {name}", flush=True)
    print(f"\n{len(bad)} nondeterministic: {bad}" if bad else "\nALL DETERMINISTIC")
    return 1 if bad else 0


if __name__ == "__main__":
    only = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    raise SystemExit(main(only=only))
