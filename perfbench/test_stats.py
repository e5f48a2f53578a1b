"""Self-tests of the benchmark's pure statistics.

Run with ``python -m pytest perfbench/test_stats.py -q``; they need no
Spark session.
"""

from __future__ import annotations

import pytest

from stats import (
    backlog_max,
    error_rate,
    file_commit_times,
    mix_latency,
    mix_tail,
    open_loop_latencies,
    stream_errors,
    tail,
    tail_percentile,
    tail_rank,
)


def test_one_trigger_consuming_several_files_commits_them_together():
    scheduled = {"f0": 0.0, "f1": 0.5, "f2": 1.0}
    file_batches = {"f0": 1, "f1": 2, "f2": 2}
    trigger_ends = {1: 0.8, 2: 1.6}
    committed = file_commit_times(file_batches, trigger_ends)
    assert committed == {"f0": 0.8, "f1": 1.6, "f2": 1.6}
    lat = open_loop_latencies(scheduled, committed)
    assert lat == pytest.approx({"f0": 0.8, "f1": 1.1, "f2": 0.6})


def test_stalled_trigger_delays_every_later_file_from_its_due_time():
    # Batch 1 stalls for 3 s; the files due meanwhile wait for batch 2, and
    # their latency counts from when each was due, not from when the
    # engine first saw it.
    scheduled = {"f0": 0.0, "f1": 0.5, "f2": 1.0, "f3": 1.5}
    file_batches = {"f0": 1, "f1": 2, "f2": 2, "f3": 2}
    trigger_ends = {1: 3.0, 2: 3.4}
    lat = open_loop_latencies(scheduled, file_commit_times(file_batches, trigger_ends))
    assert lat == pytest.approx({"f0": 3.0, "f1": 2.9, "f2": 2.4, "f3": 1.9})
    # At batch 2's start (3.0 s) four files were due and one committed.
    assert backlog_max(scheduled.values(), [3.0], [0.0, 3.0]) == 3


def test_file_of_unfinished_batch_has_no_latency():
    committed = file_commit_times({"f0": 1, "f1": 2}, {1: 1.0})
    assert committed == {"f0": 1.0}
    assert open_loop_latencies({"f0": 0.0, "f1": 0.5}, committed) == {"f0": 1.0}


def test_error_rate_counts_a_dropped_and_a_duplicated_event():
    generated = range(100)
    sink = [e for e in range(100) if e != 7] + [42]  # 7 dropped, 42 twice
    err = stream_errors(generated, sink)
    assert (err["missing"], err["duplicated"], err["errors"]) == (1, 1, 2)
    assert error_rate(err["errors"], err["generated"]) == pytest.approx(0.02)


def test_late_events_count_once_and_not_on_top_of_missing():
    err = stream_errors(range(10), [0, 1, 2, 3, 4, 5, 6, 7, 8], late=[8, 9])
    assert (err["missing"], err["late"], err["errors"]) == (1, 1, 2)


def test_clean_delivery_has_no_errors():
    err = stream_errors(range(5), range(5))
    assert err["errors"] == 0 and err["generated"] == 5


def test_tail_leaves_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    # p90: exactly ten samples (91..100) lie above the tail sample.
    assert tail(values) == 90
    assert tail_rank(100) == 89
    assert tail_percentile(100) == pytest.approx(90.0)
    assert sum(v > tail(values) for v in values) == 10


def test_tail_percentile_rises_with_sample_count():
    assert tail_percentile(200) == pytest.approx(95.0)
    assert tail_percentile(1000) == pytest.approx(99.0)


def test_tail_falls_back_to_median_when_too_few_samples():
    values = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert tail(values) == 3.0
    assert tail_rank(5) == 2


def test_tail_of_nothing_is_an_error():
    with pytest.raises(ValueError):
        tail([])


def test_mix_latency_moves_when_the_slowest_or_fastest_query_slows():
    per_query = {"a": [100.0, 110.0, 90.0], "b": [200.0] * 3, "c": [300.0] * 3, "d": [400.0] * 3}
    base = mix_latency(per_query)
    assert base == pytest.approx((100 * 200 * 300 * 400) ** 0.25)
    for name in ("a", "d"):  # fastest, slowest
        slower = {**per_query, name: [2 * v for v in per_query[name]]}
        assert mix_latency(slower) == pytest.approx(base * 2 ** 0.25)


def test_mix_tail_is_the_highest_query_tail():
    per_query = {"a": [1.0, 2.0, 3.0], "b": [10.0, 30.0, 20.0]}
    assert mix_tail(per_query) == 20.0
    per_query["b"] = [2 * v for v in per_query["b"]]
    assert mix_tail(per_query) == 40.0
