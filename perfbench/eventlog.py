"""Per-op Spark engine metrics read from Spark's own event log.

The benchmark tags every Spark job it causes with a job group
(``<workload>/<phase>/<op>...``); jobs, stages and tasks are attributed to
ops through that tag. The log must be written uncompressed
(``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import glob
import json
import os
import statistics


def load(log_dir: str) -> list[dict]:
    """Every event of the (single) application log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


class EventLog:
    def __init__(self, events: list[dict]):
        self.job_group: dict[int, str] = {}
        stage_job: dict[int, int] = {}
        self.tasks: list[tuple[str, dict]] = []  # (job group, task end event)
        self.stages: dict[int, str] = {}  # completed stage -> job group
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                self.job_group[e["Job ID"]] = group
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                self.stages[sid] = self.job_group.get(stage_job.get(sid), "")
            elif kind == "SparkListenerTaskEnd":
                group = self.job_group.get(stage_job.get(e["Stage ID"]), "")
                self.tasks.append((group, e))

    def _tasks(self, match):
        return [t for g, t in self.tasks if match(g)]

    def records_read(self, match) -> int:
        return sum(
            t.get("Task Metrics", {}).get("Input Metrics", {}).get("Records Read", 0)
            for t in self._tasks(match)
        )

    def summary(self, match, windows_ms: list[tuple[float, float]], cores: int) -> dict:
        """``spark.*`` metrics over the jobs whose group satisfies
        ``match``; ``windows_ms`` are the (start, end) wall intervals of
        the ops those jobs belong to, in epoch milliseconds."""
        tasks = self._tasks(match)
        jobs = [j for j, g in self.job_group.items() if match(g)]
        stages = [s for s, g in self.stages.items() if match(g)]

        def metric(t, *path):
            v = t.get("Task Metrics") or {}
            for p in path:
                v = v.get(p, {}) if isinstance(v, dict) else {}
            return v if isinstance(v, (int, float)) else 0

        run_ms = sum(metric(t, "Executor Run Time") for t in tasks)
        wall_s = sum(b - a for a, b in windows_ms) / 1000.0
        by_stage: dict[int, list[dict]] = {}
        for t in tasks:
            by_stage.setdefault(t["Stage ID"], []).append(t)
        skew = 0.0
        if by_stage:
            heavy = max(by_stage.values(),
                        key=lambda ts: sum(metric(t, "Executor Run Time") for t in ts))
            durs = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in heavy]
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 0.0
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.failed_tasks": sum(
                1 for t in tasks
                if (t.get("Task End Reason") or {}).get("Reason") != "Success"
            ),
            "spark.executor_run_s": run_ms / 1000.0,
            "spark.executor_cpu_s": sum(metric(t, "Executor CPU Time") for t in tasks) / 1e9,
            "spark.jvm_gc_s": sum(metric(t, "JVM GC Time") for t in tasks) / 1000.0,
            "spark.core_busy_ratio": run_ms / 1000.0 / (wall_s * cores) if wall_s else 0.0,
            "spark.input_bytes": sum(metric(t, "Input Metrics", "Bytes Read") for t in tasks),
            "spark.shuffle_write_bytes": sum(
                metric(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks),
            "spark.shuffle_read_bytes": sum(
                metric(t, "Shuffle Read Metrics", "Remote Bytes Read")
                + metric(t, "Shuffle Read Metrics", "Local Bytes Read") for t in tasks),
            "spark.output_bytes": sum(metric(t, "Output Metrics", "Bytes Written") for t in tasks),
            "spark.task_skew": skew,
            "spark.sched_wait_s": _uncovered_s(
                windows_ms,
                [(t["Task Info"]["Launch Time"], t["Task Info"]["Finish Time"]) for t in tasks],
            ),
        }


def _uncovered_s(windows, intervals) -> float:
    """Wall time inside ``windows`` during which no interval is open."""
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    idle = 0.0
    for w0, w1 in windows:
        covered = sum(max(0.0, min(b, w1) - max(a, w0)) for a, b in merged)
        idle += (w1 - w0) - covered
    return idle / 1000.0
