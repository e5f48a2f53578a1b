"""Incremental materialized-view maintenance over a stream.

The pattern the reference's print-sink demo gestures at but never builds
(/root/reference/main.py:109): keep a queryable, always-current aggregate
of an unbounded stream in plain storage.  Each micro-batch folds its
DELTA into the previous snapshot (algebraic merge — sums add, counts
add), writes a NEW versioned snapshot, then atomically flips a pointer
file.  Readers always see a complete snapshot.  The POINTER is the
commit record: on re-delivery the merger first compares the pointer
version against the incoming batch_id and skips any batch whose merge is
already visible — so a crash in ANY window (before the snapshot write,
between write and flip, or between flip and the fast-path marker) replays
without double-counting, and the merge source is always a strictly older
snapshot than the one being written (never a self-overwrite).

Why not update-mode + a key-value sink: plain parquet + pointer works on
any shared filesystem, keeps full snapshot history (time travel /
debugging), and the merge is a batch job Catalyst optimizes like any
other.  At 100 TB the snapshot is partitioned storage and the merge is an
incremental MERGE INTO on a table format; this module is the
format-free core of that loop.
"""

from __future__ import annotations

import os

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POINTER = "_LATEST"


def latest_version(store: str) -> int | None:
    """Committed batch_id per the pointer file (None before first commit)."""
    p = os.path.join(store, _POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        v = fh.read().strip()
    return int(v) if v else None


def latest_snapshot_path(store: str) -> str | None:
    v = latest_version(store)
    return os.path.join(store, f"snapshot_{v}") if v is not None else None


def read_view(spark, store: str) -> DataFrame | None:
    """Current contents of the materialized view (None before first batch)."""
    path = latest_snapshot_path(store)
    return spark.read.parquet(path) if path else None


def mark_committed(store: str, version: int) -> None:
    """Write the ``_committed_<version>`` fast-path marker."""
    with open(os.path.join(store, f"_committed_{version}"), "w"):
        pass


def already_committed(store: str, batch_id: int) -> bool:
    """True when ``batch_id``'s merge is already visible, so a re-delivery
    must not merge again.  The marker is the fast path; without it,
    ``pointer >= batch_id`` proves the batch committed (batch ids are
    monotone) and the marker is repaired — this closes the crash window
    between pointer flip and marker, where re-merging would read
    snapshot_<batch_id> itself as ``prev`` and double-count the delta."""
    if os.path.exists(os.path.join(store, f"_committed_{batch_id}")):
        return True
    committed = latest_version(store)
    if committed is not None and committed >= batch_id:
        mark_committed(store, batch_id)
        return True
    return False


def commit_snapshot(df: DataFrame, store: str, version: int) -> None:
    """Commit ``df`` as the store's snapshot ``version``.  Order: snapshot
    durable -> pointer flip (THE commit; atomic rename) -> marker (fast
    path only), so a crash at any point leaves either the old state
    current or the new one fully written."""
    df.write.mode("overwrite").parquet(os.path.join(store, f"snapshot_{version}"))
    tmp = os.path.join(store, f"._latest_{version}")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(store, _POINTER))
    mark_committed(store, version)


# Algebraic measure kinds: (delta aggregate over raw rows, merge
# aggregate over partial states).  Each is associative + commutative, so
# snapshot ⊎ delta is independent of batch boundaries.  AVG is derived:
# maintain a sum and a count, divide at read time (the classic algebraic
# decomposition — a stored avg itself is NOT mergeable).
_MEASURE_KINDS = {
    "sum": (lambda src, out: F.sum(src).alias(out), lambda out: F.sum(out).alias(out)),
    "count": (
        lambda src, out: F.count(F.lit(1)).cast("long").alias(out),
        lambda out: F.sum(out).cast("long").alias(out),
    ),
    "min": (lambda src, out: F.min(src).alias(out), lambda out: F.min(out).alias(out)),
    "max": (lambda src, out: F.max(src).alias(out), lambda out: F.max(out).alias(out)),
}


def algebraic_merger(
    store: str,
    keys: list[str],
    measures: dict[str, tuple[str, str | None]],
) -> Callable[[DataFrame, int], None]:
    """Generic foreachBatch function maintaining a grouped algebraic
    aggregate as a materialized view.

    ``measures`` maps output column -> (kind, source column) with kind in
    {sum, count, min, max} (source ignored for count).  Any aggregate
    decomposable into these states is maintainable — e.g. avg as
    sum/count at read time.

    Exactly-once protocol: the POINTER FLIP is the commit
    (:func:`commit_snapshot`), and a re-delivered batch whose merge is
    already visible only repairs its marker (:func:`already_committed`)
    — re-merging would read snapshot_<batch_id> itself as ``prev``,
    double-count the delta, and overwrite the very path being read.

    Scale shape: the delta aggregation is one map-side-combined hash agg
    over the micro-batch; the merge is one hash agg over
    |snapshot| + |delta| rows keyed on the view key.  At 100 TB the
    snapshot is key-partitioned storage and the merge becomes an
    incremental MERGE INTO on a table format; protocol unchanged."""
    for out, (kind, _) in measures.items():
        if kind not in _MEASURE_KINDS:
            raise ValueError(
                f"measure {out!r}: unknown kind {kind!r} "
                f"(supported: {sorted(_MEASURE_KINDS)})"
            )

    def fn(batch: DataFrame, batch_id: int) -> None:
        if already_committed(store, batch_id):
            return
        spark = batch.sparkSession
        delta = batch.groupBy(*keys).agg(
            *[
                _MEASURE_KINDS[kind][0](src, out)
                for out, (kind, src) in measures.items()
            ]
        )
        # committed < batch_id here, so prev is a STRICTLY OLDER snapshot
        # than the one we are about to write — never a self-overwrite.
        prev = read_view(spark, store)
        merged = (
            delta
            if prev is None
            else prev.unionByName(delta)
            .groupBy(*keys)
            .agg(
                *[
                    _MEASURE_KINDS[kind][1](out)
                    for out, (kind, _) in measures.items()
                ]
            )
        )
        commit_snapshot(merged, store, batch_id)

    return fn


def list_versions(store: str) -> list[int]:
    """All snapshot versions present in the store, ascending — the time-
    travel index (each ``snapshot_<batch_id>`` is a complete view as of
    that commit; the pointer marks the latest)."""
    out = []
    for name in os.listdir(store):
        if name.startswith("snapshot_"):
            try:
                out.append(int(name[len("snapshot_"):]))
            except ValueError:
                continue
    return sorted(out)


def read_version(spark, store: str, version: int) -> DataFrame:
    """Time travel: the materialized view as of commit ``version``."""
    return spark.read.parquet(os.path.join(store, f"snapshot_{version}"))


def diff_versions(
    spark, store: str, v_old: int, v_new: int, keys: list[str]
) -> DataFrame:
    """Row-level diff between two snapshots: full outer join on the view
    key with a change verdict per row ('inserted' / 'deleted' /
    'changed' / 'unchanged').  The audit primitive for 'what did this
    batch change' — on a table format this is the commit diff; here it
    is one keyed join of two complete snapshots."""
    old = read_version(spark, store, v_old)
    new = read_version(spark, store, v_new)
    measures = [c for c in new.columns if c not in keys]
    o = old.select(
        *keys, F.struct(*measures).alias("_old")
    )
    n = new.select(
        *keys, F.struct(*measures).alias("_new")
    )
    return o.join(n, keys, "full_outer").select(
        *keys,
        F.when(F.col("_old").isNull(), F.lit("inserted"))
        .when(F.col("_new").isNull(), F.lit("deleted"))
        .when(F.col("_old") != F.col("_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("verdict"),
        "_old",
        "_new",
    )


def user_totals_merger(store: str) -> Callable[[DataFrame, int], None]:
    """Per-user (total, n_events) materialized view — the concrete
    instance the equivalence + crash tests drive; now a two-measure
    instantiation of :func:`algebraic_merger`."""
    return algebraic_merger(
        store,
        keys=["user_id"],
        measures={"total": ("sum", "value"), "n_events": ("count", None)},
    )
