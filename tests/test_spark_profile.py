"""tools/spark_profile.py's event-log rollup (Spark-free): jobs are
counted and summed per ``<target>:<phase>`` job group, and jobs of any
other group are left out."""

from __future__ import annotations

from tools import spark_profile

Job = spark_profile.evlog.Job


def _job(group, task_s, gc_s=0.0, shuffle=0, spill=0):
    return Job(group=group, start=0.0, end=1.0, task_s=task_s, gc_s=gc_s,
               shuffle_write_bytes=shuffle, spill_bytes=spill)


def test_rollup_sums_jobs_per_target_phase_group():
    jobs = [
        _job("match_rel:build", 0.5, gc_s=0.1, shuffle=10),
        _job("match_rel:count", 1.25, shuffle=100, spill=7),
        _job("match_rel:count", 0.75, gc_s=0.2, shuffle=50),
        _job("e2e:noop", 2.0, spill=3),
        _job("check", 9.0, gc_s=9.0, shuffle=999, spill=999),
        _job("", 9.0),
        _job("match_rel:other", 9.0),
        _job("kg_mentions:count", 9.0),
    ]
    got = spark_profile.rollup(jobs, ["match_rel", "e2e"])
    assert set(got) == {"match_rel", "e2e"}
    assert all(set(p) == {"build", "count", "noop"} for p in got.values())
    assert got["match_rel"]["build"] == {
        "jobs": 1, "task_s": 0.5, "gc_s": 0.1, "shuffle_write_bytes": 10,
        "spill_bytes": 0}
    assert got["match_rel"]["count"] == {
        "jobs": 2, "task_s": 2.0, "gc_s": 0.2, "shuffle_write_bytes": 150,
        "spill_bytes": 7}
    assert got["match_rel"]["noop"]["jobs"] == 0
    assert got["e2e"]["noop"] == {
        "jobs": 1, "task_s": 2.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
        "spill_bytes": 3}
    assert got["e2e"]["build"]["jobs"] == got["e2e"]["count"]["jobs"] == 0
