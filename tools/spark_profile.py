"""Per-phase Spark profile of registry queries, the e2e KG build and the
KGJob run; prints one JSON line.

    python tools/spark_profile.py TARGET [TARGET ...]

A TARGET is a ``__spark_entry__.queries()`` name (``kg_incremental`` is
the KGJob base run plus one append), ``ann_topk`` (bench.py's brute-force
top-k, ``_q_ann_topk``) or ``e2e`` (``build_graph`` over
``synthetic_transcripts``, the lap bench.py times).  Inputs come from
``SPARK_GRAFT_SF_DIR`` (default sf0.1) and, for ``e2e``,
``SPARK_GRAFT_SYNTH_TURNS`` (default 4M); ``SPARK_GRAFT_CPUS`` sizes the
session (tools/hostsize.py).

Each target runs three phases, each under the Spark job group
``<target>:<phase>``:

* ``build``: the call that returns the DataFrame, i.e. driver plan
  construction plus any eager jobs (checkpoints, KGJob writes);
* ``count``: ``LAPS`` ``.count()`` laps;
* ``noop``: ``LAPS`` noop-sink writes, which materialize every column.

The cache is cleared before and after each target, not between laps: a
frame the build persisted (``build_graph``'s slim turn frame) is filled
by the first count lap and reused by the later ones, as by a caller that
keeps the DataFrame.  Clearing it between laps would not make laps cold:
the plan would then recompute the frame once per consumer.  So
``build`` plus the first count lap is one bench.py lap.  The session
writes its event log to a temporary directory; after ``spark.stop()``
kgbench's ``evlog`` reads it and each group's jobs are summed
(:func:`rollup`).  Walls are taken with the event log on, whose cost
kgbench/overhead.py sizes, so they are not comparable with bench.py
walls.

Per target: the phase walls; ``build_driver_s``, the part of the build
wall in which no Spark job ran; per phase the job count, task and GC
seconds, shuffle-write and spill bytes; the most Python eval nodes in
any of its SQL executions; the final (adaptive) plan of its last noop
lap; for ``e2e`` the triples and triples/s over the build plus the
first count lap.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "kgbench"))

import evlog  # noqa: E402

from tools.hostsize import CPUS, spark_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SYNTH_TURNS = int(os.environ.get("SPARK_GRAFT_SYNTH_TURNS", "4000000"))
LAPS = 3
PHASES = ("build", "count", "noop")
COST = ("task_s", "gc_s", "shuffle_write_bytes", "spill_bytes")


def rollup(jobs, targets) -> dict:
    """{target: {phase: {"jobs", *COST}}}: the jobs of the group
    ``<target>:<phase>``, counted and summed.  Jobs of any other group
    are ignored."""
    out = {t: {p: dict.fromkeys(("jobs", *COST), 0) for p in PHASES}
           for t in targets}
    for j in jobs:
        target, _, phase = j.group.rpartition(":")
        row = out.get(target, {}).get(phase)
        if row is None:
            continue
        row["jobs"] += 1
        for f in COST:
            row[f] += getattr(j, f)
    for phases in out.values():
        for row in phases.values():
            row["task_s"] = round(row["task_s"], 3)
            row["gc_s"] = round(row["gc_s"], 3)
    return out


def _e2e(spark, _sf_dir):
    from versa_spark.kg.graph import build_graph
    from versa_spark.kg.transcripts import ordered_turns, synthetic_transcripts
    tx = synthetic_transcripts(spark, n_convs=max(1, SYNTH_TURNS // 25),
                               turns_per_conv=25)
    return build_graph(spark, ordered_turns(tx))["graph"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _last_plan(spark) -> str:
    """Final physical plan tree of the session's latest SQL execution,
    from the SQL status store (kept with the UI off; adaptive updates
    included, the initial plan cut off)."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    tree = (execs.apply(execs.size() - 1).physicalPlanDescription()
            .split("\n\n", 1)[0])
    return tree.split("== Initial Plan ==", 1)[0].rstrip(" +-\n")


def _profile(spark, name: str, make) -> dict:
    """Runs ``make``'s phases under their job groups: walls, row count,
    the phase windows and the final plan."""
    sc = spark.sparkContext

    def timed(phase, fn):
        group = f"{name}:{phase}"
        sc.setJobGroup(group, group)
        t0 = time.time()
        out = fn()
        return out, (t0, time.time())

    spark.catalog.clearCache()
    df, build = timed("build", lambda: make(spark, SF_DIR))
    walls, windows = {"build": round(build[1] - build[0], 3)}, [build]
    for phase, act in (("count", df.count), ("noop", lambda: _noop(df))):
        walls[phase] = []
        for _ in range(LAPS):
            out, w = timed(phase, act)
            if phase == "count":
                rows = out
            walls[phase].append(round(w[1] - w[0], 3))
            windows.append(w)
    plan = _last_plan(spark)
    spark.catalog.clearCache()
    return {"rows": rows, "walls": walls, "windows": windows, "plan": plan}


def main() -> None:
    targets = sys.argv[1:]
    import __spark_entry__ as entrymod
    makers = {**entrymod.queries(), "ann_topk": entrymod._q_ann_topk,
              "e2e": _e2e}
    unknown = [t for t in targets if t not in makers]
    if not targets or unknown:
        raise SystemExit(f"usage: spark_profile.py TARGET [TARGET ...]; "
                         f"unknown {unknown}, choose from "
                         f"{', '.join(sorted(makers))}")

    log_dir = tempfile.mkdtemp(prefix="spark_profile_")
    try:
        spark = spark_session("versa_spark-profile", {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false"})
        runs = {t: _profile(spark, t, makers[t]) for t in targets}
        spark.stop()
        log = evlog.read_event_log(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    costs = rollup(log.jobs, targets)
    for t, run in runs.items():
        windows = run.pop("windows")
        build_s = run["walls"]["build"]
        build_jobs = [j for j in log.jobs if j.group == f"{t}:build"]
        run["build_driver_s"] = round(
            build_s - evlog.covered_s(build_jobs, *windows[0]), 3)
        run["phases"] = costs[t]
        run["python_eval_nodes"] = max(
            (n for ts, n in log.python_eval_nodes
             if any(t0 <= ts <= t1 for t0, t1 in windows)), default=0)
        if t == "e2e":
            run["triples"] = run["rows"]
            run["triples_per_s"] = round(
                run["rows"] / (build_s + run["walls"]["count"][0]), 1)
        run["plan"] = run.pop("plan")
    print(json.dumps({
        "metric": "spark_profile",
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "synthetic_turns": max(1, SYNTH_TURNS // 25) * 25,
        "cpus": CPUS,
        "laps": LAPS,
        "targets": runs,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
