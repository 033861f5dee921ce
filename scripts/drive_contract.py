#!/usr/bin/env python
"""Drive the driver contract end-to-end, exactly as the driver does:
plain SparkSession, import __spark_entry__, run every query at the given
SF and compare against its DuckDB oracle (columns sorted by name, rows as
canonical strings). Usage:

    python scripts/drive_contract.py [sf_dir] [query ...]

Defaults to /root/testdata/sf0.01 and all queries. Exit code 1 on any
mismatch.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

# The driver-gate replica's own connection and comparison (canonical
# rows, column names, type classes) — plain str() would report spurious
# int-vs-float / Decimal / NaN / timestamp diffs relative to the real gate.
from tests.oracle import compare_frame, duck_connect  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    con = duck_connect(sf_dir)

    failures = []
    for name, fn in q.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        if name not in o:
            n = sdf.count()
            print(f"{name}: rows-only {n}")
            continue
        try:
            n = compare_frame(sdf, o[name], con, name)
        except AssertionError as exc:
            print(f"{name}: match=False\n  {exc}")
            failures.append(name)
            continue
        print(f"{name}: rows={n} match=True")

    con.close()
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
