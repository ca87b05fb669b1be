"""SparkSession factory with scale-conscious defaults.

The reference engine's execution knobs were argv integers (map_n, reduce_n,
worker_n — reference ``src/bin/mrcoordinator.rs:11-20``). Here the
equivalents are Spark confs, set once: shuffle parallelism, AQE (runtime
re-planning, skew-join splitting, partition coalescing), and a pinned UTC
session timezone so timestamp semantics match the DuckDB oracle.

On a real cluster the same confs apply; only ``master`` and memory sizing
change. Nothing in the engine assumes local mode. There,
``get_spark(**{"spark.checkpoint.dir": <durable path>})`` turns on the
executor-loss-safe materialization path (operators/materialize.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[/n/] test harness; on a 1000-executor
# cluster you would raise shuffle partitions to ~2-3x total cores (or rely
# on AQE coalescing from a high initial value, as we do here).
_DEFAULT_CONFS: dict[str, str] = {
    # Local mode = one JVM: driver memory is the only heap knob that
    # matters (default 1g would OOM wide aggregations well before the
    # bench SF). Static conf — applies only when this factory creates
    # the JVM, ignored on an already-running session.
    "spark.driver.memory": "16g",
    # Non-interactive engine runs: the web UI costs startup time and a
    # port per session and serves nothing here.
    "spark.ui.enabled": "false",
    # Deterministic timestamp comparisons vs the oracle.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing, skew-join handling,
    # broadcast-join demotion/promotion from runtime stats.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Start higher than cores; AQE coalesces down. At 100 TB you'd set
    # this to O(10k) and let AQE right-size each stage.
    "spark.sql.shuffle.partitions": "64",
    # Arrow for any pandas_udf / mapInPandas path (the sanctioned slow
    # path); batch size tuned for wide binary/embedding columns.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast joins for bounded dims (region/nation/supplier are tiny
    # at every SF; customer/part are broadcastable well past sf100).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Input split sizing: keep scan partitions near executor-memory-safe
    # sizes; at 100 TB this is the knob that bounds per-task input.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
}


def get_spark(app_name: str = "mapreduce-rs-spark", **extra_confs: str) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores),
    mirroring the bench harness contract.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # local[N, 2]: allow one task retry, the local-mode analog of the
    # cluster default (spark.task.maxFailures=4) and the engine-side
    # replacement for the reference's lease-based failure recovery
    # (src/mr/coordinator.rs:72-131) — a deterministic failure still
    # fails the job, a transient one is retried and the job completes
    # (tests/test_fault_tolerance.py injects exactly that).
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus},2]")
    for key, value in {**_DEFAULT_CONFS, **extra_confs}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
