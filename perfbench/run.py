"""spark-graft benchmark: one seeded workload per run, end to end or traced.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload mapreduce --seed 42 --seconds 5 --trace 0

A run generates its inputs with ``tools/gen_sf.py`` under ``--seed``, then
sets up a ``local[4]`` session three times: the first set-up launches the
JVM, the next two stop the context and start a fresh one on the same JVM.
It then runs passes over the workload's operations (see ``workloads.py``)
from this single driver process until ``--seconds`` have elapsed, at least
one pass. Each operation's output is collected inside its timer and
checked against its reference after the timer stops.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` also enables
Spark's event log and reports the per-layer metrics parsed from it. The
last stdout line is the result object, the line before it a report with
per-operation times and the numbers that are not metrics. Everything a run
writes lives under ``.perfbench_work/`` in the checkout and is removed when
the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from eventlog import EventLog, union_seconds  # noqa: E402
from workloads import (  # noqa: E402
    STORE_BATCHES,
    WORKLOADS,
    check_graph_admission,
    check_semdedup_admission,
    graph_batch_summary,
)

CPUS = "4"
SETUPS = 3
# A run must end within 180 s: past this point the JVM is killed and every
# operation not yet finished counts as failed.
DEADLINE_S = 150.0
RSS_PERIOD_S = 0.1

# Printed with --trace 1, in this order (BENCHMARK.json "per_layer").
PER_LAYER = (
    ("session.start_s", "s"),
    ("sources.scan_bytes", "B"),
    ("sources.read_jobs", "count"),
    ("sources.store_bytes_written", "B"),
    ("exec.jobs", "count"),
    ("exec.job_wall_s", "s"),
    ("exec.driver_gap_s", "s"),
    ("exec.executor_run_s", "s"),
    ("exec.executor_cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.shuffle_read_bytes", "B"),
    ("exec.shuffle_write_bytes", "B"),
    ("exec.spill_bytes", "B"),
    ("exec.single_task_stages", "count"),
    ("materialize.jobs", "count"),
    ("materialize.job_share", "ratio"),
    ("python.run_share", "ratio"),
    ("python.start_share", "ratio"),
    ("python.bytes_sent", "B"),
    ("ops.fn_s", "s"),
    ("pipeline.admit_jobs_per_batch", "count"),
    ("mem.peak_rss_mb", "MB"),
    ("trace.wall_s", "s"),
)


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def load_gen_sf():
    spec = importlib.util.spec_from_file_location("gen_sf", os.path.join(ROOT, "tools", "gen_sf.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _share(part: float, whole: float) -> float:
    return part / whole if whole else 0.0


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while listing
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


class RssSampler(threading.Thread):
    """Peak resident set of a process and all its descendants (the JVM,
    the Python-worker daemon and its workers), sampled from /proc."""

    def __init__(self, root_pid: int) -> None:
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.peak_bytes = 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in descendants(self.root_pid):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._done.wait(RSS_PERIOD_S):
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_bytes / 2**20


class Bench:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.jvm_dead = False
        self.spark = None
        self.gateway_proc = None
        self.data = ""
        self.oracles: dict = {}
        self.ops: list[dict] = []  # one record per timed operation
        self.pass_walls: list[float] = []
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        self.phases[phase] = round(time.perf_counter() - T_START, 2)

    # -- environment -------------------------------------------------
    def prepare_env(self) -> None:
        """Keep every file Spark, the JVM and Python write in the run's
        work directory, and let Python workers import the package."""
        for sub in ("tmp", "local", "events", "data", "store"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_GRAFT_CPUS"] = CPUS
        # no hsperfdata files in the system temp directory, for the
        # launcher JVM as well as the Spark driver JVM
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o
        )
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        sys.path.insert(0, ROOT)

    def confs(self) -> dict[str, str]:
        c = {
            "spark.sql.shuffle.partitions": CPUS,
            # the inputs are small; a modest heap leaves the box's memory
            # to others and keeps the JVM's resident set from swinging
            "spark.driver.memory": "1536m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -Dderby.system.home={self.work}"
            ),
        }
        if self.args.trace:
            c.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "events"),
                # Spark 4.1 defaults to rolling zstd logs, which Python
                # cannot read without the zstandard package: write one
                # plain JSON-lines file.
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return c

    # -- set-up ------------------------------------------------------
    def setup(self, i: int) -> None:
        """Generate the seeded inputs, start a session, warm it up with
        the flagship word count."""
        from mapreduce_rs_spark.plans.registry import QUERIES
        from mapreduce_rs_spark.session import get_spark

        t0 = time.perf_counter()
        data = os.path.join(self.work, "data", f"setup{i}")
        self.gen_sf.SEED = self.args.seed
        with contextlib.redirect_stdout(sys.stderr):
            self.gen_sf.main(self.wl.sf, data)
        t1 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", **self.confs())
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        self.spark.sparkContext.setJobGroup("setup", "setup")
        QUERIES["wordcount"].fn(self.spark, data).write.format("noop").mode("overwrite").save()
        self.setup_s.append(time.perf_counter() - t0)
        self.session_s.append(t2 - t1)
        self.mark(f"setup{i}")
        if self.data:
            shutil.rmtree(self.data, ignore_errors=True)
        self.data = data

    # -- operations --------------------------------------------------
    def op(self, group: str, fn):
        """Run one operation under its job group; count it, and count it
        failed if it raises or the JVM is gone."""
        self.attempted += 1
        if self.jvm_dead:
            self.failed += 1
            return None
        gc.collect()  # free the previous operation's checkpoint blocks
        try:
            self.spark.sparkContext.setJobGroup(group, group)
            return fn()
        except Exception as e:  # a failed operation is a measured outcome
            self.failed += 1
            self.errors.append(f"{group}: {type(e).__name__}: {str(e)[:300]}")
            if self.gateway_proc.poll() is not None:
                self.jvm_dead = True
            return None

    def check(self, group: str, error: str | None) -> None:
        if error:
            self.failed += 1
            self.errors.append(f"{group}: {error[:300]}")

    def run_passes(self) -> None:
        run_pass = self.store_pass if self.wl.store else self.member_pass
        start = time.perf_counter()
        p = 0
        while p == 0 or (not self.jvm_dead and time.perf_counter() - start < self.args.seconds):
            run_pass(p)
            p += 1

    def member_pass(self, p: int) -> None:
        from tests.parity import assert_frames_match, run_oracle

        from mapreduce_rs_spark.plans.registry import QUERIES

        if not self.oracles:
            self.oracles = {n: run_oracle(QUERIES[n].oracle, self.data) for n in self.wl.members}
        wall = 0.0
        for name in self.wl.members:
            def call(name=name):
                t0 = time.perf_counter()
                df = QUERIES[name].fn(self.spark, self.data)
                t1 = time.perf_counter()
                out = df.toPandas()
                return {"fn_s": t1 - t0, "wall_s": time.perf_counter() - t0}, out

            group = f"p{p}:{name}"
            res = self.op(group, call)
            if res is None:
                continue
            self.ops.append({"group": group, "op": name, **res[0]})
            wall += res[0]["wall_s"]
            try:
                assert_frames_match(res[1], self.oracles[name], name)
            except AssertionError as e:
                self.check(group, str(e))
        self.pass_walls.append(wall)

    def store_pass(self, p: int) -> None:
        import pandas as pd
        from pyspark.sql import functions as F
        from tests.parity import run_oracle

        from mapreduce_rs_spark.plans.registry import QUERIES
        from mapreduce_rs_spark.sources.catalog import load_table
        from mapreduce_rs_spark.streaming.pipeline import (
            admitted_edges_from_store,
            build_graph_store,
            build_semdedup_store,
            semdedup_admit_batch,
        )

        if not self.oracles:
            self.oracles = {
                n: run_oracle(QUERIES[n].oracle, self.data)
                for n in ("knn_graph_ingest", "semdedup_ingest_audit")
            }
        emb = load_table(self.spark, self.data, "embeddings").select("vec_id", "embedding")
        standing = emb.where(F.col("vec_id") % 10 < 8)
        held = emb.where(F.col("vec_id") % 10 >= 8)
        gdir = os.path.join(self.work, "store", f"graph{p}")
        sdir = os.path.join(self.work, "store", f"semdedup{p}")
        wall = 0.0
        for name, build, out in (
            ("build_graph_store", build_graph_store, gdir),
            ("build_semdedup_store", build_semdedup_store, sdir),
        ):
            def call(build=build, out=out):
                t0 = time.perf_counter()
                build(self.spark, standing, out)
                secs = time.perf_counter() - t0
                return {"fn_s": secs, "wall_s": secs}

            group = f"p{p}:{name}"
            res = self.op(group, call)
            if res is not None:
                self.ops.append({"group": group, "op": name, **res})
                wall += res["wall_s"]
        summaries, decisions = [], []
        for b in range(STORE_BATCHES):
            def call(b=b):
                batch = held.where(F.expr(f"(vec_id div 10) % {STORE_BATCHES} = {b}"))
                t0 = time.perf_counter()
                edges_df = admitted_edges_from_store(batch, gdir, tag="bench")
                t1 = time.perf_counter()
                edges = edges_df.toPandas()
                t2 = time.perf_counter()
                dec_df = semdedup_admit_batch(batch, sdir)
                t3 = time.perf_counter()
                dec = dec_df.toPandas()
                t4 = time.perf_counter()
                timing = {
                    "batch": True,
                    "admit_graph_s": t2 - t0,
                    "admit_semdedup_s": t4 - t2,
                    "fn_s": (t1 - t0) + (t3 - t2),
                    "wall_s": t4 - t0,
                }
                return timing, edges, dec

            group = f"p{p}:batch{b}"
            res = self.op(group, call)
            if res is None:
                continue
            self.ops.append({"group": group, "op": f"batch{b}", **res[0]})
            wall += res[0]["wall_s"]
            summaries.append(graph_batch_summary(res[1], b))
            decisions.append(res[2])
        if len(summaries) == STORE_BATCHES:
            self.check(f"p{p}", check_graph_admission(summaries, self.oracles["knn_graph_ingest"]))
            self.check(
                f"p{p}",
                check_semdedup_admission(pd.concat(decisions), self.oracles["semdedup_ingest_audit"]),
            )
        shutil.rmtree(gdir, ignore_errors=True)
        shutil.rmtree(sdir, ignore_errors=True)
        self.pass_walls.append(wall)

    # -- teardown ----------------------------------------------------
    def stop_session(self) -> None:
        """Stop the context and the JVM, and wait until the JVM (and with
        it the Python workers) has exited."""
        from pyspark import SparkContext

        if self.spark is not None and not self.jvm_dead:
            with contextlib.suppress(Exception):
                self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = gateway.proc
        tree = descendants(proc.pid)[1:]
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # the Python-worker daemon and workers exit once the JVM is gone
        deadline = time.monotonic() + 10
        while tree and time.monotonic() < deadline:
            tree = [pid for pid in tree if os.path.exists(f"/proc/{pid}")]
            time.sleep(0.05)
        for pid in tree:
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)

    # -- metrics -----------------------------------------------------
    def latencies(self) -> list[float]:
        """One latency per operation: member runs, or admission batches
        (so ``op_p50_s`` is the batch p50 on store_ingest)."""
        return [o["wall_s"] for o in self.ops if o.get("batch") or not self.wl.store]

    def end_to_end(self) -> dict:
        return {
            "wall_s": {"value": _median(self.pass_walls), "unit": "s"},
            "setup_s": {"value": _median(self.setup_s), "unit": "s"},
        }

    def per_layer(self, app_id: str, peak_rss_mb: float) -> tuple[dict, dict]:
        path = os.path.join(self.work, "events", app_id)
        if not os.path.exists(path):  # the JVM died before closing its log
            path += ".inprogress"
        log = EventLog(path)
        layer = log.layer_metrics({o["group"] for o in self.ops})
        # driver gap: operation wall that none of its jobs covers
        layer["exec.driver_gap_s"] = max(
            sum(o["wall_s"] - union_seconds(log.jobs_in({o["group"]})) for o in self.ops), 0.0
        )
        layer["ops.fn_s"] = sum(o["fn_s"] for o in self.ops)
        # totals cover every timed pass; report them per pass
        passes = max(len(self.pass_walls), 1)
        layer = {k: v / passes for k, v in layer.items()}
        batches = {o["group"] for o in self.ops if o.get("batch")}
        layer["pipeline.admit_jobs_per_batch"] = _share(len(log.jobs_in(batches)), len(batches))
        layer["session.start_s"] = _median(self.session_s)
        layer["mem.peak_rss_mb"] = peak_rss_mb
        layer["trace.wall_s"] = _median(self.pass_walls)
        # Times a workload may never spend (no Python stage, no
        # localCheckpoint) are reported as shares of the time they are
        # part of; their seconds go to the report line.
        layer["materialize.job_share"] = _share(layer["materialize.job_s"], layer["exec.job_wall_s"])
        layer["python.run_share"] = _share(layer["python.run_s"], layer["exec.executor_run_s"])
        layer["python.start_share"] = _share(layer["python.start_s"], layer["exec.executor_run_s"])
        metrics = {name: {"value": float(layer[name]), "unit": unit} for name, unit in PER_LAYER}
        jobs = {o["group"]: len(log.jobs_in({o["group"]})) for o in self.ops}
        seconds = {k: layer[k] for k in ("materialize.job_s", "python.run_s", "python.start_s")}
        return metrics, {"jobs": jobs, "layer_s": seconds}

    def report(self, peak_rss_mb: float, traced: dict | None) -> dict:
        per_op: dict[str, dict[str, list[float]]] = {}
        for o in self.ops:
            d = per_op.setdefault(o["op"], {})
            for k in ("wall_s", "fn_s", "admit_graph_s", "admit_semdedup_s"):
                if k in o:
                    d.setdefault(k, []).append(o[k])
            if traced:
                d.setdefault("jobs", []).append(traced["jobs"][o["group"]])
        builds = [o["wall_s"] for o in self.ops if o["op"].startswith("build_")]
        out = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "passes": len(self.pass_walls),
            "error_rate": _share(self.failed, self.attempted),
            "op_p50_s": _median(self.latencies()),
            "peak_rss_mb": peak_rss_mb,
            "setup_s": self.setup_s,
            "session_s": self.session_s,
            "phases": self.phases,
            "ops": {k: {m: _median(v) for m, v in d.items()} for k, d in per_op.items()},
            "errors": self.errors,
        }
        if self.wl.store:
            out["store_build_s"] = sum(builds) / max(len(self.pass_walls), 1)
        if traced:
            out["layer_s"] = traced["layer_s"]
        return out

    def main(self) -> dict:
        self.prepare_env()
        self.gen_sf = load_gen_sf()
        from pyspark import SparkContext

        self.mark("import")
        for i in range(SETUPS):
            self.setup(i)
        self.gateway_proc = SparkContext._gateway.proc
        app_id = self.spark.sparkContext.applicationId

        def deadline() -> None:
            self.jvm_dead = True
            self.gateway_proc.kill()

        timer = threading.Timer(max(DEADLINE_S - (time.perf_counter() - T_START), 0.0), deadline)
        timer.daemon = True
        timer.start()
        sampler = RssSampler(self.gateway_proc.pid)
        sampler.start()
        try:
            self.run_passes()
        finally:
            peak = sampler.stop()
            timer.cancel()
            self.mark("passes")
            self.stop_session()
        metrics = self.end_to_end()
        traced = None
        if self.args.trace:
            metrics, traced = self.per_layer(app_id, peak)
        print(json.dumps(self.report(peak, traced)))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def main() -> int:
    bench = Bench(parse_args())
    try:
        result = bench.main()
    finally:
        bench.stop_session()
        shutil.rmtree(bench.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(bench.work))  # only when no other run uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
