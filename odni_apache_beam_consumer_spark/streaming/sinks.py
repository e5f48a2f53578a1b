"""Debug/test sinks: console, memory, foreachBatch.

Reference parity: the reference's only working sink is
``beam.Map(print)`` (/root/reference/main.py:109) — a per-record stdout
dump.  Its Spark-native analogs are first-class sinks:

  * console — ``format("console")``, the debug sink proper;
  * memory — ``format("memory")``, an in-memory table for assertions
    (the batch-stream-equivalence tests drain into it);
  * foreachBatch — arbitrary per-micro-batch batch logic (idempotent
    writes to any batch sink; the production escape hatch).

Each helper starts and returns the StreamingQuery.  ``available_now=True``
drains everything currently available then stops — the engine's analog of
the reference's bounded ``max_num_records=3`` read (main.py:106).
"""

from __future__ import annotations

import os

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from odni_apache_beam_consumer_spark.caches import Caches


def _trigger(writer, available_now: bool):
    return writer.trigger(availableNow=True) if available_now else writer


def to_console(
    df: DataFrame,
    num_rows: int = 20,
    truncate: bool = True,
    output_mode: str = "append",
    available_now: bool = False,
) -> StreamingQuery:
    """Console debug sink — the ``beam.Map(print)`` analog."""
    w = (
        df.writeStream.format("console")
        .option("numRows", str(num_rows))
        .option("truncate", str(truncate).lower())
        .outputMode(output_mode)
    )
    return _trigger(w, available_now).start()


def to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    available_now: bool = True,
) -> StreamingQuery:
    """Memory sink: results land in the in-memory table ``name`` (query it
    with ``spark.table(name)``). Test/assertion sink — the whole result
    set lives on the driver, so never a production path."""
    w = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    return _trigger(w, available_now).start()


def foreach_batch(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_location: str | None = None,
    output_mode: str = "update",
    available_now: bool = False,
) -> StreamingQuery:
    """foreachBatch sink: ``fn(batch_df, batch_id)`` runs per micro-batch
    with full batch-DataFrame powers (joins, writes to any batch sink).
    Spark may re-run a batch on recovery — make ``fn`` idempotent on
    ``batch_id``."""
    w = df.writeStream.foreachBatch(fn).outputMode(output_mode)
    if checkpoint_location:
        w = w.option("checkpointLocation", checkpoint_location)
    return _trigger(w, available_now).start()


def idempotent_parquet_sink(path: str) -> Callable[[DataFrame, int], None]:
    """Exactly-once parquet appends from an at-least-once foreachBatch.

    Structured Streaming guarantees each micro-batch an id that is stable
    across recovery, but foreachBatch itself is at-least-once: after a
    crash the last batch can be re-delivered.  The classic fix (this
    helper) makes delivery idempotent on ``batch_id``:

      * each batch writes to its own ``batch_id=<n>`` subdirectory with
        mode("overwrite") — a re-run of a half-written batch replaces it
        bit-for-bit instead of appending duplicates;
      * a zero-byte ``_committed_<n>`` marker is written only AFTER the
        parquet commit; a re-delivered batch that finds its marker
        returns without touching storage.

    Readers just ``spark.read.parquet(path)`` — the ``batch_id=`` naming
    doubles as a partition column and underscore-prefixed markers are
    invisible to Spark's file index.

    The marker lives on the same filesystem as the output; on a real
    cluster ``path`` is a shared store (object store / DFS) so the marker
    is visible to the recovered driver too.  For stores without atomic
    visibility use a transactional table format (Delta/Iceberg txn log
    keyed on batchId) — this helper is the format-free version of exactly
    that commit protocol."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        marker = os.path.join(path, f"_committed_{batch_id}")
        if os.path.exists(marker):
            return
        batch.write.mode("overwrite").parquet(
            os.path.join(path, f"batch_id={batch_id}")
        )
        with open(marker, "w"):
            pass

    return fn


def fan_out_sink(*sinks: Callable[[DataFrame, int], None]) -> Callable[[DataFrame, int], None]:
    """Compose several per-batch writers into one foreachBatch function —
    the one-source-many-destinations production pattern (raw archive +
    aggregate store, say) without reading the source twice.

    The batch DataFrame is persisted across the child writers so each
    destination reads ONE materialization of the micro-batch instead of
    recomputing the stream transformation per sink.  Consistency story:
    each child writer is itself idempotent on batch_id (e.g.
    idempotent_parquet_sink), so a crash between writers re-delivers the
    batch and only the missing destinations act — eventual all-or-nothing
    without a cross-store transaction."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        with Caches() as caches:
            caches.persist(batch)
            for s in sinks:
                s(batch, batch_id)

    return fn
