"""``bench.py``'s event-log reader over a small synthetic log, with no
Spark session: failed task attempts do not count, and a job group with
an extra colon is skipped without spoiling the other queries."""

from __future__ import annotations

import json

from bench import _parse_event_log


def _job(job_id: int, group: str, stages: list[int]) -> dict:
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job_id,
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group},
    }


def _task(stage: int, reason: str, run_ms: int, gc_ms: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms},
    }


def test_parse_event_log_counts_successful_attempts_only(tmp_path):
    events = [
        _job(0, "q:alpha:0", [0]),
        _task(0, "Success", 1000, 100),
        _job(1, "q:alpha:1", [1]),
        _task(1, "ExceptionFailure", 5000, 500),  # failed attempt, retried
        _task(1, "Success", 2000, 200),
        _job(2, "q:beta:1", [2]),
        _task(2, "Success", 3000, 0),
        _job(3, "q:beta:extra:1", [3]),  # malformed: one colon too many
        _task(3, "Success", 9000, 900),
        _job(4, "unrelated", [4]),
        _task(4, "Success", 7000, 0),
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = _parse_event_log(str(tmp_path), "app-1", {"alpha": 1, "beta": 1})
    assert got == {
        "alpha": {"task_s": 2.0, "gc_s": 0.2, "jobs": 1},
        "beta": {"task_s": 3.0, "gc_s": 0.0, "jobs": 1},
    }
