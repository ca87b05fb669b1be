#!/usr/bin/env python
"""Profile registry members: wall, per-layer metrics and formatted plans.

Usage:
    SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_CPUS=4 \\
        python tools/profile_members.py <label> <member> [<member> ...]

Runs each member once into the noop sink under its own job group, on a
``get_spark`` session with Spark's event log enabled the way
``perfbench/run.py`` enables it (one uncompressed, non-rolling file).
After the session stops, prints one JSON line per member: its wall, its
driver gap (wall not covered by any of its jobs) and the per-layer
totals of ``perfbench/eventlog.EventLog.layer_metrics`` over its jobs.
Each member's ``explain("formatted")`` goes to
``plans/<label>/<member>.txt``.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from eventlog import EventLog  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    label, names = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    from mapreduce_rs_spark.plans.registry import QUERIES
    from mapreduce_rs_spark.session import get_spark

    events = tempfile.mkdtemp(prefix="profile_events_")
    spark = get_spark(
        "profile",
        **{
            "spark.sql.shuffle.partitions": cpus,
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    plan_dir = os.path.join(ROOT, "plans", label)
    os.makedirs(plan_dir, exist_ok=True)
    walls = {}
    for name in names:
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        df = QUERIES[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        walls[name] = time.perf_counter() - t0
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
            fh.write(buf.getvalue())
    app_id = sc.applicationId
    spark.stop()
    try:
        log = EventLog(os.path.join(events, app_id))
    finally:
        shutil.rmtree(events, ignore_errors=True)
    for name, wall in walls.items():
        layer = log.layer_metrics({name})
        layer["exec.driver_gap_s"] = max(wall - layer["exec.job_wall_s"], 0.0)
        print(json.dumps({"member": name, "wall_s": round(wall, 3), **layer}))


if __name__ == "__main__":
    main()
