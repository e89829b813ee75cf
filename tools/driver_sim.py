#!/usr/bin/env python
"""Driver simulation: run registry queries against their DuckDB oracles
under a DEFAULT SparkSession — the configuration the driver harness
actually uses (ANSI mode on, 200 shuffle partitions, no kitkat_spark
session factory), which the pytest suite's tuned session does not cover.

Usage:
    python tools/driver_sim.py                     # every registry query, sf0.01
    python tools/driver_sim.py --sf sf0.001
    python tools/driver_sim.py -q q_semdedup -q q_cdc_chunk

Run in a FRESH process (two differently-configured SparkSessions cannot
coexist in one JVM): this script builds its own session exactly like the
round driver does. Exit code 0 iff every checked query matches rows,
schema, and value hash.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tests"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="sf0.01")
    ap.add_argument("-q", "--query", action="append", default=[])
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from oracle_harness import compare

    qs, osql = entry.queries(), entry.oracle_sql()
    names = args.query or list(qs)
    sf_dir = f"/root/testdata/{args.sf}"
    failures = 0
    for name in names:
        err = compare(qs[name](spark, sf_dir), osql[name], sf_dir)
        if err:
            failures += 1
            print(f"{name}: FAIL {err}")
        else:
            print(f"{name}: OK")
    print(f"{len(names) - failures}/{len(names)} green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
