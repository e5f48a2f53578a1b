"""Incremental materialized-view maintenance over a stream.

The pattern the reference's print-sink demo gestures at but never builds
(/root/reference/main.py:109): keep a queryable, always-current aggregate
of an unbounded stream in plain storage.  Each micro-batch folds its
DELTA into the previous snapshot (algebraic merge — sums add, counts
add) and commits the result as the next version of a
:class:`~odni_apache_beam_consumer_spark.txtable.TransactionalTable`.
Readers always see a complete snapshot.

Exactly-once: the table's commit log is the commit record, and each
commit carries the op_id ``batch-<batch_id>``.  A re-delivered batch
finds its op_id in the log and returns before any Spark work, so a
crash in any window replays without double-counting — the Structured
Streaming recipe of output that is idempotent on the batch id.  Batch
ids and versions are independent: another writer of the same table (a
GC, say) takes the next version without shadowing a later batch, and a
writer racing the stream surfaces as ``CommitConflict``.  Every version
is written to a fresh directory, so a merge never overwrites the
snapshot it reads.

Why not update-mode + a key-value sink: plain parquet + a commit log
works on any shared filesystem, keeps full snapshot history (time
travel / debugging), and the merge is a batch job Catalyst optimizes
like any other.  At 100 TB the snapshot is partitioned storage and the
merge is an incremental MERGE INTO on a table format; this module is the
format-free core of that loop.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.txtable import TransactionalTable


def read_view(spark, store: str) -> DataFrame | None:
    """Current contents of the materialized view (None before the first
    commit)."""
    table = TransactionalTable(spark, store)
    v = table.latest_version()
    return None if v is None else table.read(v)


def snapshot_merger(
    store: str,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame | None],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callable committing ``merge(batch, prev)`` as the
    store's next version, where ``prev`` is the latest snapshot (None
    before the first commit) and a ``None`` result commits nothing.  A
    batch id whose op_id the log already holds returns before any Spark
    work."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        table = TransactionalTable(batch.sparkSession, store)
        op_id = f"batch-{batch_id}"
        if op_id in table.op_ids():
            return
        base = table.latest_version()
        nxt = merge(batch, None if base is None else table.read(base))
        if nxt is not None:
            table.commit(nxt, base, op_id)

    return fn


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

    Exactly-once protocol: :func:`snapshot_merger` — each batch commits
    one table version under the op_id ``batch-<batch_id>``, and a
    re-delivered batch finds its op_id in the log and merges nothing.

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

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = batch.groupBy(*keys).agg(
            *[
                _MEASURE_KINDS[kind][0](src, out)
                for out, (kind, src) in measures.items()
            ]
        )
        if prev is None:
            return delta
        return prev.unionByName(delta).groupBy(*keys).agg(
            *[_MEASURE_KINDS[kind][1](out) for out, (kind, _) in measures.items()]
        )

    return snapshot_merger(store, merge)


def diff_versions(
    spark, store: str, v_old: int, v_new: int, keys: list[str]
) -> DataFrame:
    """Row-level diff between two snapshots: full outer join on the view
    key with a change verdict per row ('inserted' / 'deleted' /
    'changed' / 'unchanged').  The audit primitive for 'what did this
    batch change' — on a table format this is the commit diff; here it
    is one keyed join of two complete snapshots."""
    table = TransactionalTable(spark, store)
    old = table.read(v_old)
    new = table.read(v_new)
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
