#!/usr/bin/env python
"""Drive the __spark_entry__ contract the way the driver does: vanilla
SparkSession, every registry query at sf0.01 vs the DuckDB oracle."""

import os
import sys

_REPO_ROOT = os.path.abspath(
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
os.chdir(_REPO_ROOT)

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from tests.parity import assert_frames_match, run_oracle  # noqa: E402

spark = (
    SparkSession.builder.master("local[16]")
    .config("spark.sql.shuffle.partitions", "16")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
assert entrymod.entry(spark).count() > 0
SF = "/root/testdata/sf0.01"
qs, oracles = entrymod.queries(), entrymod.oracle_sql()
n_ok = 0
for name, fn in sorted(qs.items()):
    spdf = fn(spark, SF).toPandas()
    if name in oracles:
        assert_frames_match(spdf, run_oracle(oracles[name], SF), name)
        n_ok += 1
print(f"CONTRACT DRIVE OK: {len(qs)} queries, {n_ok} oracled")
