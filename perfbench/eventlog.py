"""One-pass, stdlib-only reader of a Spark event log.

Reads an uncompressed, non-rolling log (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``: one JSON object per line) and
folds task metrics and SQL operator metrics per job. Each job is keyed by
the span that started it: the benchmark sets the job description to
``perfbench p=<pass> <span path>``. Jobs Spark describes itself (streaming
micro-batches) are matched to the innermost benchmark span whose time
window holds the job's submission time.
"""

from __future__ import annotations

import json
import re
from collections import Counter
from dataclasses import dataclass, field

_DESC = re.compile(r"^perfbench p=(-?\d+) (\S+)")
_SQL = "org.apache.spark.sql.execution.ui."


def job_description(pass_no: int, path: str) -> str:
    """The job description that names a span; ``_DESC`` parses it back."""
    return f"perfbench p={pass_no} {path}"


@dataclass
class Job:
    pass_no: int | None
    path: str | None
    submit_s: float
    # per task: (run_ms, cpu_ns); everything else is summed in ``sums``
    tasks: list = field(default_factory=list)
    sums: Counter = field(default_factory=Counter)


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", ()):
        _plan_metric_names(child, out)


def fold(path: str, spans: list[tuple[int, str, float, float]]) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    exec_job: dict[int, Job] = {}
    accum_name: dict[int, str] = {}
    driver_accums: list[tuple[int, int, int]] = []  # (execution, accum id, value)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerTaskEnd":
                job = stage_job.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                rows_in = m["Input Metrics"]["Records Read"] + sr["Total Records Read"]
                job.tasks.append((m["Executor Run Time"], m["Executor CPU Time"]))
                job.sums.update({
                    "cpu_ns": m["Executor CPU Time"],
                    "gc_ms": m["JVM GC Time"],
                    "spill_bytes": m["Disk Bytes Spilled"],
                    "read_rows": m["Input Metrics"]["Records Read"],
                    "write_bytes": m["Output Metrics"]["Bytes Written"],
                    "write_rows": m["Output Metrics"]["Records Written"],
                    "shuffle_write_bytes": sw["Shuffle Bytes Written"],
                    "fetch_wait_ms": sr["Fetch Wait Time"],
                    "empty_tasks": int(rows_in == 0),
                })
                for acc in e["Task Info"].get("Accumulables", ()):
                    name = acc.get("Name", "")
                    if not name.startswith("internal.") and isinstance(acc.get("Update"), (int, str)):
                        try:
                            job.sums["sql:" + name] += int(acc["Update"])
                        except ValueError:
                            pass
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                m = _DESC.match(props.get("spark.job.description") or "")
                job = Job(
                    int(m.group(1)) if m else None,
                    m.group(2) if m else None,
                    e["Submission Time"] / 1000,
                )
                jobs[e["Job ID"]] = job
                for sid in e["Stage IDs"]:
                    stage_job[sid] = job
                if "spark.sql.execution.id" in props:
                    exec_job.setdefault(int(props["spark.sql.execution.id"]), job)
            elif kind == "SparkListenerStageCompleted":
                job = stage_job.get(e["Stage Info"]["Stage ID"])
                if job is not None:
                    job.sums["stages"] += 1
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_names(e["sparkPlanInfo"], accum_name)
            elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in e["sqlPlanMetrics"]:
                    accum_name[m["accumulatorId"]] = m["name"]
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                driver_accums.extend((e["executionId"], a, v) for a, v in e["accumUpdates"])
    for exec_id, acc, value in driver_accums:
        job = exec_job.get(exec_id)
        if job is not None and acc in accum_name:
            job.sums["sql:" + accum_name[acc]] += value
    _attribute(jobs.values(), spans)
    return list(jobs.values())


def _attribute(jobs, spans) -> None:
    """Give untagged jobs the innermost span open at their submission."""
    for job in jobs:
        if job.path is not None:
            continue
        best = None
        for pass_no, path, t0, t1 in spans:
            if t0 <= job.submit_s <= t1 and (best is None or t0 >= best[2]):
                best = (pass_no, path, t0)
        if best is not None:
            job.pass_no, job.path = best[0], best[1]
