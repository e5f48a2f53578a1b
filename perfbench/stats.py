"""Pure statistics shared by the workloads: percentiles, the open-loop
file-to-trigger latency mapping, and the stream's error count.

Nothing here touches Spark, so the self-tests (``test_stats.py``) run in
milliseconds.
"""

from __future__ import annotations

import bisect
import math
import statistics
from collections import Counter
from collections.abc import Iterable, Mapping, Sequence

# The tail percentile is the highest one that still has this many samples
# strictly beyond it, so a single outlier cannot become the tail.
TAIL_MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail_rank(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int:
    """0-based rank, in ascending order, of the tail sample of ``n``.

    The sample at this rank has exactly ``min_beyond`` samples above it.
    With fewer samples than ``min_beyond + 1`` no percentile qualifies and
    the median stands in (rank of the upper median), which is what a run
    too short for a tail can honestly report.
    """
    if n <= 0:
        raise ValueError("tail of no samples")
    rank = n - 1 - min_beyond
    return max(rank, n // 2)


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> float:
    """Percentile (0-100) that ``tail_rank`` picks for ``n`` samples."""
    return 100.0 * (tail_rank(n, min_beyond) + 1) / n


def tail(values: Sequence[float], min_beyond: int = TAIL_MIN_BEYOND) -> float:
    s = sorted(values)
    return float(s[tail_rank(len(s), min_beyond)])


def mix_latency(per_query: Mapping[str, Sequence[float]]) -> float:
    """Latency of a mix of queries that differ in cost: the geometric mean
    of each query's median.  Every query moves it by its own relative
    change, whatever its cost; a median over all executions would fall
    between two queries' cost clusters and ignore the slowest and fastest
    query."""
    if not per_query:
        raise ValueError("latency of no queries")
    return math.exp(statistics.fmean(math.log(median(v)) for v in per_query.values()))


def mix_tail(per_query: Mapping[str, Sequence[float]]) -> float:
    """Tail of a query mix: the highest of each query's ``tail``."""
    if not per_query:
        raise ValueError("tail of no queries")
    return max(tail(v) for v in per_query.values())


def file_commit_times(
    file_batches: Mapping[str, int], trigger_ends: Mapping[int, float]
) -> dict[str, float]:
    """Map each input file to the end of the trigger that committed it.

    ``file_batches`` gives, per file, the id of the micro-batch that read
    it; ``trigger_ends`` gives each batch's end (start + triggerExecution).
    A trigger may read several files, and all of them share its end.  A
    file whose batch never finished is absent from the result.
    """
    return {
        f: trigger_ends[b] for f, b in file_batches.items() if b in trigger_ends
    }


def open_loop_latencies(
    scheduled: Mapping[str, float], committed: Mapping[str, float]
) -> dict[str, float]:
    """Latency of each committed file, measured from when it was DUE.

    Measuring from the schedule rather than from the actual write makes a
    stalled trigger charge its wait to every file queued behind it.
    """
    return {f: committed[f] - scheduled[f] for f in scheduled if f in committed}


def backlog_max(scheduled: Iterable[float], committed: Iterable[float],
                trigger_starts: Iterable[float]) -> int:
    """Most files due but not yet committed at any trigger start."""
    due = sorted(scheduled)
    done = sorted(committed)
    worst = 0
    for t in trigger_starts:
        worst = max(worst, bisect.bisect_right(due, t) - bisect.bisect_right(done, t))
    return worst


def stream_errors(
    generated: Iterable[int],
    sink: Iterable[int],
    late: Iterable[int] = (),
) -> dict[str, int]:
    """Classify delivery errors against the unique generated event ids.

    ``sink`` is every event id the sink holds (duplicates included),
    ``late`` the ids committed after the latency limit.  Each generated
    event counts at most once as an error.
    """
    want = set(generated)
    seen = Counter(sink)
    missing = want - seen.keys()
    duplicated = {e for e, c in seen.items() if c > 1}
    unexpected = seen.keys() - want
    late_ok = set(late) & (want - missing - duplicated)
    return {
        "generated": len(want),
        "missing": len(missing),
        "duplicated": len(duplicated),
        "unexpected": len(unexpected),
        "late": len(late_ok),
        "errors": len(missing) + len(duplicated) + len(unexpected) + len(late_ok),
    }


def error_rate(errors: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("error rate of nothing attempted")
    return errors / attempted
