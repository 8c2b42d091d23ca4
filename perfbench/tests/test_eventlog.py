import json

import pytest

from perfbench import eventlog
from perfbench.eventlog import Window


def _job(jid, submit, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": int(submit * 1000), "Stage IDs": stages},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": int(end * 1000)},
    ]


def _task(stage, read=0, shuffle_local=0, shuffle_remote=0, written=0,
          spill=0, gc_ms=0, py_ms=0, py_sent=0):
    accs = []
    if py_ms:
        accs = [
            {"Name": "time to run Python workers", "Update": str(py_ms)},
            {"Name": "data sent to Python workers", "Update": str(py_sent)},
        ]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": accs},
        "Task Metrics": {
            "JVM GC Time": gc_ms, "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Read Metrics": {"Local Bytes Read": shuffle_local,
                                     "Remote Bytes Read": shuffle_remote},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


@pytest.fixture
def log(tmp_path):
    # t=100: a 10 s trigger window holding jobs 0 and 1 (overlapping);
    # job 2 runs in the pump window; job 3 falls in no window.
    events = (
        _job(0, 101.0, 103.0, [0, 1])
        + [_task(0, read=100, gc_ms=20), _task(0, read=50), _stage_done(0),
           _task(1, shuffle_local=7, shuffle_remote=3, written=11), _stage_done(1)]
        + _job(1, 102.0, 105.0, [2])
        + [_task(2, py_ms=1500, py_sent=4096, spill=8), _stage_done(2)]
        + _job(2, 121.0, 122.0, [3])
        + [_task(3), _stage_done(3)]
        + _job(3, 150.0, 151.0, [4])
    )
    path = tmp_path / "app-1"
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")
        f.write('{"Event": "SparkListenerJobSt')  # torn last line
    return str(path)


def test_parse_sums_task_counters_per_job(log):
    jobs = eventlog.parse_jobs(eventlog.read_events(log))
    assert [j.job_id for j in jobs] == [0, 1, 2, 3]
    j0, j1 = jobs[0], jobs[1]
    assert (j0.tasks, len(j0.stages_run)) == (3, 2)
    assert j0.counters["input_bytes"] == 150
    assert j0.counters["shuffle_read_bytes"] == 10
    assert j0.counters["shuffle_write_bytes"] == 11
    assert j0.counters["gc_s"] == pytest.approx(0.02)
    assert j1.counters["python_udf_s"] == pytest.approx(1.5)
    assert j1.counters["python_bytes_to_worker"] == 4096
    assert j1.counters["spill_bytes"] == 8
    assert jobs[3].stages_run == set() and jobs[3].tasks == 0


def test_jobs_go_to_the_innermost_window_by_submission_time(log):
    jobs = eventlog.parse_jobs(eventlog.read_events(log))
    measure = Window("measure", 100.0, 130.0)
    trigger = Window("batch-0", 100.0, 110.0)
    pump = Window("pump", 120.0, 125.0)
    owner = eventlog.attribute(jobs, [measure, trigger, pump])
    assert [j.job_id for j in owner["batch-0"]] == [0, 1]
    assert [j.job_id for j in owner["pump"]] == [2]
    assert owner["measure"] == []  # every job in it sits in a narrower window


def test_busy_is_the_union_of_job_intervals_and_gap_the_rest(log):
    jobs = eventlog.parse_jobs(eventlog.read_events(log))
    trigger = Window("batch-0", 100.0, 110.0)
    busy, gap = eventlog.busy_gap(trigger, jobs[:2])
    assert busy == pytest.approx(4.0)  # [101, 105]: jobs 0 and 1 overlap
    assert gap == pytest.approx(6.0)
    # a job running past the window's end counts only inside it
    busy, gap = eventlog.busy_gap(Window("w", 102.5, 104.0), jobs[:2])
    assert (busy, gap) == (pytest.approx(1.5), pytest.approx(0.0))
    tot = eventlog.totals(jobs[:2])
    assert (tot["jobs"], tot["stages"], tot["tasks"]) == (2, 3, 4)
