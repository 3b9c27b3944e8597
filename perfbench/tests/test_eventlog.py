"""Arithmetic of the event-log parser, on a small event log in Spark's
format. Runs without Spark:

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog import (  # noqa: E402
    Span,
    call_metrics,
    read_events,
    self_time,
    straggler_ratio,
    union_length,
)

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")

# one traced call: construct [1000, 2000], plan [2000, 2100],
# execute [2100, 5000] (epoch ms)
SPANS = [
    Span("s#0", "construct", "s#0:construct", 1000, 2000),
    Span("s#0", "plan", "s#0:plan", 2000, 2100),
    Span("s#0", "execute", "s#0:execute", 2100, 5000),
]


def test_union_merges_overlaps_and_keeps_gaps():
    assert union_length([]) == 0
    assert union_length([(0, 10), (5, 15), (20, 30)]) == 25
    assert union_length([(20, 30), (0, 10), (2, 3)]) == 20
    assert union_length([(0, 10), (10, 12)]) == 12


def test_self_time_clips_children_to_the_span():
    assert self_time(0, 100, []) == 100
    assert self_time(0, 100, [(10, 20), (15, 40)]) == 70
    # children reaching outside the span count only inside it
    assert self_time(0, 100, [(-50, 10), (90, 200), (300, 400)]) == 80


def test_straggler_ratio_is_max_over_median():
    assert straggler_ratio([100, 100, 100, 400]) == 4.0
    assert straggler_ratio([200, 300]) == 1.2
    assert straggler_ratio([0, 0]) == 1.0


def test_call_metrics_on_recorded_log():
    m = call_metrics(read_events(LOG), SPANS)["s#0"]
    # jobs 0-2 by job group, job 3 (a streaming group) by submission
    # time inside the execute span; job 4 lies outside every span
    assert m["jobs"] == 4
    assert m["eager_jobs"] == 1
    # wall 4000 ms minus the job union 500 + (2200..4000) + 300 ms
    assert m["driver_gap_s"] == pytest.approx(1.4)
    # stage 2 is listed by jobs 1 and 2 but ran once: 0.1 + 0.2 + 0.2 + 0.5
    assert m["executor_cpu_s"] == pytest.approx(1.0)
    assert m["python_worker_s"] == pytest.approx(0.2)
    assert m["shuffle_bytes"] == 4000
    assert m["spill_bytes"] == 15
    # worst stage: 400 ms against a 100 ms median
    assert m["task_max_over_median"] == pytest.approx(4.0)
