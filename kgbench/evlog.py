"""Spark event-log reader for the traced kgbench run.

Every public call the benchmark makes runs under its own Spark job group
(``<op>:<n>``), so a job maps back to the call that submitted it.  Inside a
KGJob call, jobs are attributed to a stage by that stage's manifest time
window (``ts - wall_s`` .. ``ts``).

SQL metrics come from the plans in the SQL execution events (the first
plan and every adaptive re-plan) and the per-task accumulator updates.
``cached_distinct_rows`` gives, per job group, the rows a scan of a cached
two-column ``distinct()`` returned: ``dedup_against_index`` persists its
distinct (batch, index) LSH candidate pairs that way, so this is the
program's own candidate count.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

# physical operators that hand rows to a Python worker
_PY_EVAL = re.compile(
    r"^\(\d+\) (ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas\w*|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas|PythonMapInArrow)\b", re.M)


@dataclass
class Job:
    group: str
    start: float  # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0
    scheduler_delay_s: float = 0.0
    peak_exec_bytes: int = 0  # largest task's sort/aggregate/join memory


@dataclass
class EventLog:
    jobs: list[Job]
    python_eval_nodes: list[tuple[float, int]]  # (exec start, node count)
    # job group -> per SQL execution, the largest row count a scan of a
    # cached two-column distinct() returned in it
    cached_distinct_rows: dict[str, list[int]]


_SCAN_COLS = re.compile(r"^InMemoryTableScan \[([^\]]*)\]")


def _cached_distinct_scans(node: dict, out: set[int]) -> None:
    """Accumulator ids of 'number of output rows' of every scan of a
    cached relation whose plan is a distinct() over two columns and which
    returns both columns."""
    if node["nodeName"] == "InMemoryTableScan":
        cols = _SCAN_COLS.match(node["simpleString"])
        inner = node["children"][0] if node["children"] else None
        while inner is not None and inner["nodeName"] == "AdaptiveSparkPlan":
            inner = inner["children"][0] if inner["children"] else None
        if (cols and len(cols.group(1).split(", ")) == 2
                and inner is not None
                and inner["nodeName"] == "HashAggregate"
                and inner["simpleString"].endswith("functions=[])")
                and inner["simpleString"].count("#") == 2):
            out.update(m["accumulatorId"] for m in node["metrics"]
                       if m["name"] == "number of output rows")
    for c in node["children"]:
        _cached_distinct_scans(c, out)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the (uncompressed) event log the session wrote to log_dir."""
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*",
                                          "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    py_nodes: list[tuple[float, int]] = []
    exec_group: dict[int, str] = {}
    exec_accs: dict[int, set[int]] = {}
    acc_total: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            lines = f.readlines()
        for line in lines:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(group=props.get("spark.jobGroup.id") or "",
                          start=ev["Submission Time"] / 1000.0,
                          stages=list(ev.get("Stage IDs", [])))
                jobs[ev["Job ID"]] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if job is None or not tm:
                    continue
                info = ev["Task Info"]
                for a in info.get("Accumulables", []):
                    try:
                        acc_total[a["ID"]] = (acc_total.get(a["ID"], 0)
                                              + int(a["Update"]))
                    except (KeyError, TypeError, ValueError):
                        continue  # not a numeric update
                run_ms = tm["Executor Run Time"]
                job.tasks += 1
                job.task_s += run_ms / 1000.0
                job.gc_s += tm["JVM GC Time"] / 1000.0
                job.shuffle_write_bytes += (
                    tm["Shuffle Write Metrics"]["Shuffle Bytes Written"])
                job.spill_bytes += (tm["Memory Bytes Spilled"]
                                    + tm["Disk Bytes Spilled"])
                job.peak_exec_bytes = max(job.peak_exec_bytes,
                                          tm["Peak Execution Memory"])
                # the Spark UI's scheduler delay: task wall minus the
                # parts the executor accounts for
                wall_ms = info["Finish Time"] - info["Launch Time"]
                job.scheduler_delay_s += max(
                    0, wall_ms - run_ms - tm["Executor Deserialize Time"]
                    - tm["Result Serialization Time"]) / 1000.0
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                plan = ev.get("physicalPlanDescription", "")
                py_nodes.append((ev["time"] / 1000.0,
                                 len(_PY_EVAL.findall(plan))))
                exec_group[ev["executionId"]] = ev.get("jobGroupId") or ""
                _cached_distinct_scans(ev["sparkPlanInfo"], exec_accs
                                       .setdefault(ev["executionId"], set()))
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _cached_distinct_scans(ev["sparkPlanInfo"], exec_accs
                                       .setdefault(ev["executionId"], set()))
    cached: dict[str, list[int]] = {}
    for eid, accs in exec_accs.items():
        if accs:
            cached.setdefault(exec_group.get(eid, ""), []).append(
                max(acc_total.get(a, 0) for a in accs))
    return EventLog(sorted(jobs.values(), key=lambda j: j.start), py_nodes,
                    cached)


def covered_s(jobs: list[Job], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] during which at least one of jobs was running."""
    spans = sorted((max(j.start, t0), min(j.end, t1)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
