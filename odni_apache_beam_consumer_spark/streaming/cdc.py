"""Debezium-envelope CDC: parse + last-writer-wins apply.

Change data reaches Kafka overwhelmingly as Debezium-shaped JSON
envelopes ``{op, ts_ms, before, after}`` (op in c/u/r/d); the
reference's consumer genre (opaque Kafka bytes -> print,
/root/reference/main.py:85-109) is exactly where such envelopes arrive.
This module supplies the two halves its consumers would need:

* :func:`parse_debezium` — envelope JSON -> one normalized change row
  per event (op, ts_ms, payload columns), taking ``after`` for
  creates/updates/snapshot-reads and ``before`` for deletes (a delete's
  ``after`` is null by contract — the key must come from ``before``).
* :func:`lww_upsert_merger` — a foreachBatch callable maintaining the
  CURRENT TABLE STATE under at-least-once delivery: last-writer-wins by
  (ts_ms, op rank) per key, deletes persisted as TOMBSTONES so a
  re-delivered older create cannot resurrect a deleted row.  Because
  conflict resolution is by change timestamp (not arrival order),
  re-delivering ANY prefix of the stream in ANY order converges to the
  same state — idempotence falls out of the merge semantics rather than
  the batch id, which is what makes CDC apply safe under replays,
  out-of-order topic partitions, and crash-restarts alike.  Each
  winning batch commits one version of a transactional table
  (streaming/materialized.snapshot_merger over txtable.py).
* :func:`expire_tombstones` — tombstone retention GC, one
  ``delete_where`` commit on the same table.

:func:`debezium_envelope` is the encoder inverse to the parser, which
the CDC replay queries and tests use to build their change streams.

Scale shape: each batch merge is one keyed window over
|snapshot| + |delta| rows — at 100 TB the snapshot is a key-partitioned
table and this merge is an incremental MERGE INTO keyed on the primary
key with a ts guard; semantics identical.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.streaming.materialized import (
    read_view,
    snapshot_merger,
)
from odni_apache_beam_consumer_spark.txtable import TransactionalTable


def debezium_schema(payload_schema: str) -> str:
    """Spark DDL schema for a Debezium JSON envelope whose row payload
    has the given DDL schema (used for both ``before`` and ``after``)."""
    return (
        "op STRING, ts_ms BIGINT, "
        f"before STRUCT<{payload_schema}>, after STRUCT<{payload_schema}>"
    )


def debezium_envelope(
    op: str, ts_ms: Column, image: Column, payload_schema: str
) -> Column:
    """Encode one Debezium JSON envelope per row as the Kafka-shaped
    binary ``value`` column — the inverse of :func:`parse_debezium`:
    ``image`` fills ``before`` for op = 'd' and ``after`` otherwise, and
    the other image is a typed NULL of ``payload_schema``."""
    null = F.expr(f"CAST(NULL AS STRUCT<{payload_schema}>)")
    before, after = (image, null) if op == "d" else (null, image)
    return (
        F.to_json(
            F.struct(
                F.lit(op).alias("op"),
                ts_ms.alias("ts_ms"),
                before.alias("before"),
                after.alias("after"),
            )
        )
        .cast("binary")
        .alias("value")
    )


def parse_debezium(
    df: DataFrame,
    payload_schema: str,
    value_col: str = "value",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Envelope JSON (binary or string column) -> normalized change rows.

    Output: ``op``, ``ts_ms``, ``is_delete``, plus every payload column —
    from ``after`` for op in (c, u, r), from ``before`` for op = 'd'.
    Malformed envelopes (unparseable JSON, unknown op, missing image)
    are routed to ``_corrupt = true`` rather than dropped, the same
    quarantine discipline as the JSON/CSV file sources.

    ``passthrough`` copies transport columns (e.g. the Kafka ``offset``)
    through to the output so the merger can use a monotone sequence as
    the LWW tiebreaker for same-``ts_ms`` changes — real CDC appliers
    break ts ties on the log position (Kafka offset / Debezium
    source.lsn); without one, two non-delete changes at the same ts_ms
    resolve arbitrarily.  Names must not collide with payload columns."""
    env = df.select(
        F.from_json(
            F.col(value_col).cast("string"), debezium_schema(payload_schema)
        ).alias("e"),
        *[F.col(c) for c in passthrough],
    )
    image = F.when(F.col("e.op") == "d", F.col("e.before")).otherwise(
        F.col("e.after")
    )
    return env.select(
        F.col("e.op").alias("op"),
        F.col("e.ts_ms").alias("ts_ms"),
        (F.col("e.op") == "d").alias("is_delete"),
        (
            F.col("e.op").isNull()
            | ~F.col("e.op").isin("c", "u", "r", "d")
            | image.isNull()
        ).alias("_corrupt"),
        *passthrough,
        image.alias("row"),
    ).select("op", "ts_ms", "is_delete", "_corrupt", *passthrough, "row.*")


def lww_upsert_merger(
    store: str,
    key_cols: list[str],
    ts_col: str = "ts_ms",
    seq_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callable applying normalized change rows (the
    :func:`parse_debezium` output shape, ``_corrupt`` rows already
    quarantined) to a keyed snapshot with last-writer-wins semantics.

    Per key the winning row is the one with the greatest
    (ts_col, is_delete[, seq_col]) — a delete at the same timestamp
    outranks the paired image row, and tombstones are KEPT in the
    snapshot so any older re-delivered change loses the window.
    ``seq_col`` (e.g. the Kafka offset passed through parse_debezium)
    breaks same-ts same-kind ties deterministically; without it two
    non-delete changes at one ts_ms resolve by incumbent-wins on the
    replay fast path and arbitrarily in a fresh merge.  ``read_current``
    strips tombstones.  The commit protocol is
    streaming/materialized.snapshot_merger's, as for algebraic_merger: a
    batch id already in the table's log merges nothing, and on top of
    it LWW makes a re-merge under a fresh id CONVERGENT.

    Schema evolution: a batch may WIDEN the payload (a new nullable
    column appearing mid-stream — the most common real CDC event after
    row changes).  The merge unions by name with missing columns filled
    as NULL in both directions, so old snapshot rows read NULL for the
    new column and a re-delivered old-schema batch merges cleanly into
    an already-widened snapshot.

    Replay fast path: the merge window tags each row's provenance
    (incumbent vs delta) and prefers the INCUMBENT on full-rank ties, so
    "nothing changed" falls out of the merge itself — zero delta rows
    among the winners means the merged state IS the previous snapshot,
    and nothing is committed (the batch costs one merge pass into local
    checkpoint blocks, never a table rewrite; re-delivering it merges to
    the same no-op).  At 100 TB this is the difference between a no-op
    MERGE INTO and rewriting the table per duplicate delivery — and
    unlike a separate winner-check join, the decision rides the merge
    pass that a winning batch needs anyway."""

    order_cols = [ts_col, "is_delete"] + ([seq_col] if seq_col else [])

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame | None:
        delta = batch.where(~F.col("_corrupt")).drop("_corrupt", "op")
        both = (
            delta.withColumn("_src", F.lit(1))
            if prev is None
            else prev.withColumn("_src", F.lit(0)).unionByName(
                delta.withColumn("_src", F.lit(1)), allowMissingColumns=True
            )
        )
        # asc(_src) last: on a full (ts, is_delete[, seq]) tie the
        # incumbent wins — deterministic, and it makes _src==1 among the
        # winners EXACTLY "this batch changed the state".
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.desc(c) for c in order_cols], F.asc("_src")
        )
        merged = (
            both.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint(eager=True)  # one merge pass, reused below
        )
        # A widening batch must persist even when every row loses the LWW
        # window: skipping would leave read_current's schema dependent on
        # whether some row happened to win, and a later reader expecting
        # the new column would fail instead of seeing all-NULLs.
        widens = prev is not None and bool(
            set(delta.columns) - set(prev.columns)
        )
        if (
            prev is not None
            and not widens
            and merged.where(F.col("_src") == 1).isEmpty()
        ):
            return None
        return merged.drop("_src")

    return snapshot_merger(store, merge)


def read_current(spark, store: str) -> DataFrame | None:
    """Current table state: the latest snapshot minus tombstones."""
    snap = read_view(spark, store)
    if snap is None:
        return None
    return snap.where(~F.col("is_delete")).drop("is_delete")


def expire_tombstones(
    spark, store: str, horizon_ms: int, now_ms: int, ts_col: str = "ts_ms"
) -> int:
    """Tombstone retention GC: delete the tombstones older than
    ``now_ms - horizon_ms`` from the store's table, as one new committed
    version.  Without this, every key ever deleted lives in the LWW
    store forever; with it, state is bounded by the live keys plus one
    horizon's worth of deletes — the Kafka-compacted-topic
    ``delete.retention.ms`` / Cassandra ``gc_grace_seconds`` contract,
    with the same trade-off: a change REPLAYED from before the horizon
    can resurrect a deleted row, so the horizon must exceed the
    pipeline's maximum replay/out-of-order lag.

    Crash-safe and race-checked by the table protocol
    (txtable.TransactionalTable.delete_where): the pruned snapshot is a
    new directory that only the commit meta makes visible, and a merge
    that commits between the GC's read and its commit surfaces as
    ``CommitConflict``.  The GC takes the next version without touching
    the batch ids' op_ids, so the stream's next batch still merges.
    In-horizon tombstones survive verbatim, so replays newer than the
    horizon still lose the LWW window exactly as before.  Returns the
    new committed version.

    Scale shape: one filter-and-rewrite pass over the snapshot (on a
    real table format: a metadata-gated DELETE WHERE on the tombstone
    partition); never touches the change stream."""
    return TransactionalTable(spark, store).delete_where(
        F.col("is_delete") & (F.col(ts_col) < F.lit(now_ms - horizon_ms))
    )
