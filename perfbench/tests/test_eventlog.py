"""The event-log parser against a tiny checked-in log.

``fixtures/tiny_eventlog.jsonl`` is a trimmed Spark 4 event log of two
tagged actions: a partitioned parquet write under job group ``perfbench.1``
and a grouped count through the ``noop`` sink under ``perfbench.2``.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import spans  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "tiny_eventlog.jsonl")


def _log():
    return eventlog.parse([FIXTURE])


def test_jobs_carry_their_group_and_interval():
    log = _log()
    groups = sorted({j.group for j in log.jobs.values()})
    assert groups == ["perfbench.1", "perfbench.2"]
    for job in log.jobs.values():
        assert job.end_ms is not None and job.end_ms >= job.submit_ms
        assert job.result == "JobSucceeded"


def test_task_counters_roll_up_per_group():
    log = _log()
    write = log.task_totals({"perfbench.1"})
    count = log.task_totals({"perfbench.2"})
    both = log.task_totals({"perfbench.1", "perfbench.2"})
    assert write.tasks > 0 and count.tasks > 0
    assert both.tasks == write.tasks + count.tasks
    assert write.output_bytes > 0 and count.output_bytes == 0
    assert write.shuffle_write_bytes > 0
    assert both.run_ms == write.run_ms + count.run_ms
    assert log.task_totals({"no-such-group"}).tasks == 0


def test_written_files_come_from_driver_metrics():
    log = _log()
    # the write clusters 1000 rows by k = id % 7: one file per partition
    assert log.driver_metric(log.jobs_in({"perfbench.1"}), "number of written files") == 7
    assert log.driver_metric(log.jobs_in({"perfbench.2"}), "number of written files") == 0


def test_union_of_intervals():
    assert eventlog.union_ms([]) == 0
    assert eventlog.union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert eventlog.union_ms([(3, 4), (0, 10)]) == 10


def test_layer_metrics_use_self_time_and_job_intervals():
    log = _log()
    jobs = sorted(log.jobs.values(), key=lambda j: j.submit_ms)
    t0 = jobs[0].submit_ms / 1000 - 1.0
    t1 = max(j.end_ms for j in jobs) / 1000 + 1.0
    recs = [
        {"id": 1, "parent": None, "layer": "plans.pipeline", "call": "run",
         "target": None, "group": "perfbench.0", "start": t0, "end": t1},
        {"id": 2, "parent": 1, "layer": "sources.sinks", "call": "overwrite_parquet",
         "target": "o1", "group": "perfbench.1", "start": t0 + 0.5, "end": t1 - 0.5},
    ]
    m = spans.layer_metrics(recs, log, n_ops=1)
    assert abs(m["plans.pipeline.wall_s"] - 1.0) < 1e-6  # self time: 2 s span minus the child
    assert m["sources.sinks.jobs"] == len(log.jobs_in({"perfbench.1"}))
    assert 0 <= m["sources.sinks.driver_s"] < m["sources.sinks.wall_s"]
    assert m["sources.sinks.files_written"] == 7
    assert m["harness.jobs"] == 0
    assert spans.scanned_rows(recs, log, "o1") == log.task_totals({"perfbench.1"}).input_records
