"""The event-log reader on a tiny recorded log (see record_eventlog.py)."""

import json
import os

from perfbench.eventlog import attribute, parse_lines, read_event_log
from perfbench.spans import Span, Tracer

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def load():
    log = read_event_log(os.path.join(DATA, "tiny_eventlog.jsonl"))
    with open(os.path.join(DATA, "tiny_spans.json")) as f:
        windows = json.load(f)
    return log, windows


def test_parser_keeps_jobs_and_tasks_only():
    log, _ = load()
    # collect() of the grouped shuffle runs one job per adaptive stage; the
    # flaky map is one job of two tasks plus the retried one
    assert len(log.jobs) >= 2
    assert sum(t.failed for t in log.tasks) == 1
    assert all(t.run_ms >= 0 for t in log.tasks)
    assert sum(t.shuffle_write_bytes for t in log.tasks) > 0


def test_jobs_and_tasks_land_in_the_span_that_held_them():
    log, windows = load()
    tr = Tracer()
    for name, (start, end) in windows.items():
        tr.spans.append(Span(name, start, end))
    per_span = attribute(log, tr.innermost)
    shuffle, flaky = per_span[0], per_span[1]
    assert None not in per_span             # nothing ran outside a span
    assert shuffle.jobs + flaky.jobs == len(log.jobs)
    assert shuffle.tasks + flaky.tasks == len(log.tasks)
    assert flaky.jobs == 1 and flaky.tasks == 3 and flaky.failed_tasks == 1
    assert shuffle.failed_tasks == 0
    assert shuffle.shuffle_write_mb > 0 and flaky.shuffle_write_mb == 0
    assert shuffle.task_run_s >= 0


def test_unknown_lines_and_other_events_are_skipped():
    lines = [
        '{"Event":"SparkListenerLogStart","Spark Version":"4"}',
        '{"Event":"SparkListenerJobStart","Job ID":7,'
        '"Submission Time":1000,"Stage IDs":[3]}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":3,'
        '"Task End Reason":{"Reason":"Success"},'
        '"Task Info":{"Launch Time":1001,"Failed":false},'
        '"Task Metrics":{"Executor Run Time":250,'
        '"Memory Bytes Spilled":1000000,"Disk Bytes Spilled":0,'
        '"Shuffle Write Metrics":{"Shuffle Bytes Written":2000000}}}',
    ]
    log = parse_lines(lines)
    per_span = attribute(log, lambda t: 0 if 0.5 <= t <= 2 else None)
    c = per_span[0]
    assert (c.jobs, c.tasks, c.failed_tasks) == (1, 1, 0)
    assert c.task_run_s == 0.25
    assert c.shuffle_write_mb == 2.0 and c.spill_mb == 1.0
