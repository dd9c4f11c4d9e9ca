import json

import pytest

import eventlog


def _task(stage, run_ms, cpu_ns=0, gc_ms=0, shuffle=0, spill=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read},
        },
    }


def _log():
    events = [
        {"Event": "SparkListenerApplicationStart", "App Name": "x"},
        # op a: job 0 (two stages, one with a single task), tagged
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "w#1#0"}},
        _task(0, 100, cpu_ns=50_000_000, shuffle=2_000_000),
        _task(0, 300, gc_ms=20, spill=1_000_000),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Number of Tasks": 2}},
        _task(1, 50, read=3_000_000),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Number of Tasks": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_400},
        # op a: job 1 reuses stage 1 (skipped), untagged worker thread
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_600,
         "Stage IDs": [1, 2], "Properties": {}},
        _task(2, 10),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Number of Tasks": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_700},
        # outside every op window
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9_000,
         "Stage IDs": [], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 9_100},
    ]
    return eventlog.parse(json.dumps(e) for e in events)


def test_summarize_attributes_jobs_stages_and_tasks_to_ops():
    stats = eventlog.summarize(_log(), {"w#1#0": (900, 2_000), "w#1#1": (2_000, 3_000)})
    a, b = stats["w#1#0"], stats["w#1#1"]
    assert (a.jobs, a.stages, a.one_task_stages, a.tasks) == (2, 3, 2, 4)
    assert a.executor_run_s == pytest.approx(0.46)
    assert a.executor_cpu_s == pytest.approx(0.05)
    assert a.gc_s == pytest.approx(0.02)
    assert a.shuffle_write_mb == pytest.approx(2.0)
    assert a.spill_mb == pytest.approx(1.0)
    assert a.input_mb == pytest.approx(3.0)
    # window 1100 ms, jobs busy 400 + 100 ms
    assert a.job_busy_s == pytest.approx(0.5)
    assert a.driver_gap_s == pytest.approx(0.6)
    assert (b.jobs, b.tasks, b.job_busy_s, b.driver_gap_s) == (0, 0, 0.0, 1.0)


def test_time_window_wins_and_job_group_covers_jobs_outside_all_windows():
    log = _log()
    # job 0 is tagged w#1#0 but submitted inside w#1#1's window
    jobs = eventlog.assign(log, {"w#1#0": (5_000, 6_000), "w#1#1": (900, 2_000)})
    assert [j.job_id for j in jobs["w#1#0"]] == []
    assert [j.job_id for j in jobs["w#1#1"]] == [0, 1]
    # outside every window the tag decides
    jobs = eventlog.assign(log, {"w#1#0": (5_000, 6_000)})
    assert [j.job_id for j in jobs["w#1#0"]] == [0]


def test_overlapping_jobs_count_once_toward_busy_time():
    assert eventlog._covered_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert eventlog._covered_ms([(0, 10), (5, 20)], 8, 12) == 4
    assert eventlog._covered_ms([], 0, 10) == 0


def test_jobs_within_spans():
    assert eventlog.jobs_within(_log(), [(0.9, 1.5)]) == 1
    assert eventlog.jobs_within(_log(), [(0.9, 1.5), (8.0, 9.5)]) == 2


def test_blank_lines_and_unknown_events_are_skipped():
    log = eventlog.parse(["", json.dumps({"Event": "SparkListenerLogStart"}), "\n"])
    assert log.jobs == {} and log.stages == {}
