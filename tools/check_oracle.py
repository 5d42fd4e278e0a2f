#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every query in
__spark_entry__.queries() against its oracle_sql() via DuckDB at sf0.01
and compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [name ...]
Env:   CHECK_SHUFFLE_PARTITIONS=N (default 16) — run at a second
       partitioning to smoke out order-dependent float aggregation.
       CHECK_SF_DIR=/path (default /root/testdata/sf0.01).
       SPARK_GRAFT_CPUS=N (default 16) — cores of the local master.

The comparison itself lives in harbourbridge_spark.oraclecheck and is
shared with tests/test_oracle_gate.py (the in-CI gate), so tool and CI
cannot drift apart.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry  # noqa: E402
from harbourbridge_spark.confscope import (  # noqa: E402
    apply_recommended)
from harbourbridge_spark.oraclecheck import (  # noqa: E402
    compare_entry, register_views)

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    # CHECK_SHUFFLE_PARTITIONS lets the gate run at two different
    # partitionings (VERDICT r9 ask 1): order-dependent float
    # aggregation shows up as a hash flip between settings.
    nshuf = os.environ.get("CHECK_SHUFFLE_PARTITIONS", "16")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    # recommended confs (the Arrow input bound) applied from the one
    # source dict in confscope (ADVICE r15)
    spark = (apply_recommended(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", nshuf)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
        .getOrCreate())
    con = duckdb.connect()
    register_views(con, SF_DIR)

    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = set(sys.argv[1:])
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            ok, detail = compare_entry(spark, con, name, fn,
                                       oracles.get(name), SF_DIR)
        except Exception as e:  # noqa: BLE001 — gate tool reports all
            ok, detail = False, f"error: {e}"
        dt = time.time() - t0
        if ok:
            tag = "rows " if name not in oracles else "OK   "
            print(f"{tag} {name}: {detail} [{dt:.1f}s]")
        else:
            print(f"FAIL  {name}: {detail}")
            failed.append(name)
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
