"""The event-log parser on a recorded local[4] log: one
``transform_chunks(...).count()`` under job group ``l4.rep`` (AQE splits
it into four jobs; the MapInPandas stage runs four tasks)."""

from __future__ import annotations

import json
import os
import shutil

from extractbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_local4.jsonl")


def _raw():
    with open(LOG, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


def test_jobs_stages_and_tasks():
    with open(LOG, encoding="utf-8") as f:
        log = eventlog.parse_lines(f)
    raw = _raw()
    assert len(log.jobs) == sum(e["Event"] == "SparkListenerJobStart" for e in raw)
    assert all(j.end_ms >= j.submit_ms for j in log.jobs.values())
    assert sum(len(s.tasks) for s in log.stages.values()) == sum(
        e["Event"] == "SparkListenerTaskEnd" for e in raw
    )
    python = [s for s in log.stages.values() if s.is_python]
    assert len(python) == 1 and len(python[0].tasks) == 4
    assert {j.group for j in log.jobs.values()} == {"", "l4.rep"}


def test_pass_stats_match_the_raw_events():
    with open(LOG, encoding="utf-8") as f:
        log = eventlog.parse_lines(f)
    st = eventlog.pass_stats(log, "l4.rep")
    raw = _raw()
    jobs = {e["Job ID"]: e for e in raw if e["Event"] == "SparkListenerJobStart"
            and e["Properties"].get("spark.jobGroup.id") == "l4.rep"}
    ends = {e["Job ID"]: e["Completion Time"] for e in raw if e["Event"] == "SparkListenerJobEnd"}
    stage_ids = {s for j in jobs.values() for s in j["Stage IDs"]}
    py_stage = next(
        e["Stage Info"]["Stage ID"] for e in raw if e["Event"] == "SparkListenerStageSubmitted"
        and any("MapInPandas" in (r["Scope"] or "") for r in e["Stage Info"]["RDD Info"])
    )
    tasks = [e for e in raw if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids]
    py = sorted(e["Task Metrics"]["Executor Run Time"] for e in tasks if e["Stage ID"] == py_stage)

    assert st.jobs == len(jobs)
    assert st.wall_ms == max(ends[j] for j in jobs) - min(j["Submission Time"] for j in jobs.values())
    assert st.tasks == len(py) == 4
    assert st.python_task_ms == sum(py)
    assert st.task_ms_max == py[-1]
    assert st.task_ms_p50 == (py[1] + py[2]) / 2
    assert st.task_skew == py[-1] / st.task_ms_p50
    assert st.run_ms == sum(e["Task Metrics"]["Executor Run Time"] for e in tasks)
    assert 0 < st.slot_occupancy(4) <= 1


def test_parse_dir_keeps_each_context_apart(tmp_path):
    for name in ("app-1", "app-2"):
        shutil.copy(LOG, tmp_path / name)
    (tmp_path / ".app-1.crc").write_text("x")
    log = eventlog.parse_dir(str(tmp_path))
    with open(LOG, encoding="utf-8") as f:
        one = eventlog.parse_lines(f)
    assert len(log.jobs) == 2 * len(one.jobs)
    assert len(log.stages) == 2 * len(one.stages)
    # both contexts' passes land in the same group, each job once
    assert eventlog.pass_stats(log, "l4.rep").tasks == 2 * 4
