"""Per-layer numbers from Spark's own event log.

The benchmark enables ``spark.eventLog`` (uncompressed, not rolling) for
traced runs, tags every operation's jobs with a job group
``<pass>:<operation>`` and parses the JSON-lines log after the session
stops. Nothing inside the program is instrumented: jobs, stages, tasks and
SQL metrics are Spark's.
"""

from __future__ import annotations

import json
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."

# SQL metric name -> per-layer key; summed over tasks of the selected jobs
_PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
}


def _walk_plan(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
    for child in info.get("children", ()):
        _walk_plan(child, out)


def _to_seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


class EventLog:
    """Jobs, stages and SQL metrics of one application's event log."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.task_totals: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.acc_info: dict[int, tuple[str, str]] = {}
        self.exec_group: dict[int, str] = {}
        self.driver_acc: dict[tuple[int, int], float] = {}
        with open(path) as f:
            for line in f:
                try:
                    event = json.loads(line)
                except json.JSONDecodeError:
                    break  # the tail of a log whose JVM was killed
                self._event(event)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = {s["Stage ID"]: s for s in e.get("Stage Infos", ())}
            result_stage = infos[max(infos)] if infos else {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id") or "",
                "callsite": result_stage.get("Stage Name", ""),
                "start": e["Submission Time"] / 1e3,
                "end": None,
            }
            for sid in e.get("Stage IDs", ()):
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = {"tasks": info["Number of Tasks"]}
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(e["sparkPlanInfo"], self.acc_info)
            if "jobGroupId" in e:
                self.exec_group[e["executionId"]] = e["jobGroupId"] or ""
        elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in e.get("sqlPlanMetrics", ()):
                self.acc_info[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.driver_acc[(e["executionId"], acc_id)] = value

    def _task(self, e: dict) -> None:
        tm = e.get("Task Metrics") or {}
        t = self.task_totals[e["Stage ID"]]
        t["run_s"] += tm.get("Executor Run Time", 0) / 1e3
        t["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        t["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        t["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        t["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
        for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
            key = _PY_METRICS.get(acc.get("Name"))
            if key is None:
                continue
            update = float(acc.get("Update") or 0)
            if key.endswith("_s"):
                update = _to_seconds(update, self.acc_info.get(acc["ID"], ("", "timing"))[1])
            t[key] += update

    def jobs_in(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] in groups]

    def layer_metrics(self, groups: set[str]) -> dict[str, float]:
        """Per-layer totals over the jobs whose job group is in ``groups``."""
        job_ids = {jid for jid, j in self.jobs.items() if j["group"] in groups}
        jobs = [self.jobs[j] for j in job_ids]
        stage_ids = [s for s, j in self.stage_job.items() if j in job_ids and s in self.stages]
        totals: dict[str, float] = defaultdict(float)
        written: dict[int, float] = defaultdict(float)  # job id -> bytes written to files
        for sid in stage_ids:
            for key, value in self.task_totals[sid].items():
                totals[key] += value
            written[self.stage_job[sid]] += self.task_totals[sid]["output_bytes"]
        materialize = [j for j in jobs if j["callsite"].startswith("localCheckpoint at")]
        # ``spark.read.parquet`` and ``df.write.parquet`` share the call
        # site; a write job is one whose tasks wrote bytes
        reads = [
            jid for jid in job_ids
            if self.jobs[jid]["callsite"].startswith("parquet at") and not written[jid]
        ]
        scan_bytes = sum(
            value
            for (exec_id, acc_id), value in self.driver_acc.items()
            if self.exec_group.get(exec_id) in groups
            and self.acc_info.get(acc_id, ("",))[0] == "size of files read"
        )
        return {
            "sources.scan_bytes": float(scan_bytes),
            "sources.read_jobs": float(len(reads)),
            "sources.store_bytes_written": totals["output_bytes"],
            "exec.jobs": float(len(jobs)),
            "exec.job_wall_s": union_seconds(jobs),
            "exec.executor_run_s": totals["run_s"],
            "exec.executor_cpu_s": totals["cpu_s"],
            "exec.gc_s": totals["gc_s"],
            "exec.shuffle_read_bytes": totals["shuffle_read_bytes"],
            "exec.shuffle_write_bytes": totals["shuffle_write_bytes"],
            "exec.spill_bytes": totals["spill_bytes"],
            "exec.single_task_stages": float(sum(self.stages[s]["tasks"] == 1 for s in stage_ids)),
            "materialize.jobs": float(len(materialize)),
            "materialize.job_s": sum(j["end"] - j["start"] for j in materialize if j["end"]),
            "python.run_s": totals["python.run_s"],
            "python.start_s": totals["python.start_s"],
            "python.bytes_sent": totals["python.bytes_sent"],
        }


def union_seconds(jobs: list[dict]) -> float:
    """Length of the union of the jobs' [submission, completion] intervals."""
    spans = sorted((j["start"], j["end"]) for j in jobs if j["end"] is not None)
    total, cur_start, cur_end = 0.0, None, None
    for start, end in spans:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
