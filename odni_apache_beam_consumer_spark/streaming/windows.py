"""Streaming windowed aggregations: tumbling / sliding / session windows
with event-time watermarks.

These are the streaming operators whose batch duals are the queries in
``plans/windows.py`` — the batch duals call these functions (watermarks
are no-ops on batch frames), so the DuckDB oracle checks this code, and
batch-stream equivalence is a valid streaming oracle (SURVEY.md §5.2):
run the stream to completion with ``availableNow`` and the result must
equal the batch query on the same rows (watermark drops nothing once the
stream drains).

State/scale notes: windowed aggregation state is keyed by
(window, grouping keys); the watermark bounds state size — without it an
unbounded stream accumulates state forever. For 100 TB streams use the
RocksDB state store (spark.sql.streaming.stateStore.providerClass) so
state spills off-heap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"


def _window_counts(events: DataFrame, window: Column, watermark: str) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(window.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def tumbling_counts(
    events: DataFrame, width: str = "6 hours", watermark: str = "1 day"
) -> DataFrame:
    return _window_counts(events, F.window("ts", width), watermark)


def sliding_counts(
    events: DataFrame,
    width: str = "1 day",
    slide: str = "12 hours",
    watermark: str = "1 day",
) -> DataFrame:
    return _window_counts(events, F.window("ts", width, slide), watermark)


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 day"
) -> DataFrame:
    """Session windows (merging state) per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT_SPARK).alias("session_start"),
            F.date_format("w.end", TS_FMT_SPARK).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "1 day"
) -> DataFrame:
    """Streaming dedup: drop duplicate (user_id, event_id) arrivals within
    the watermark horizon — state is bounded by the watermark, the
    streaming form of exact dedup."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def interval_join(
    purchases: DataFrame,
    clicks: DataFrame,
    how: str = "inner",
    horizon: str = "1 hour",
    state_delay: str = "1 day",
) -> DataFrame:
    """Stream-stream interval join: purchases matched with same-user
    clicks within ``horizon`` after them, as an ``inner``, ``leftOuter``
    or ``fullOuter`` join.  Returns (p_event_id, p_user_id, c_event_id,
    c_user_id, c_value).

    Both sides are watermarked by ``state_delay``, and the time-range
    condition bounds the join state on both sides: state is
    O(events within delay + horizon), not O(stream).  An outer side is
    held until the watermark proves no match can still arrive — an
    unmatched purchase once ``watermark > p_ts + horizon``, an unmatched
    click (full outer) once ``watermark > c_ts`` — and only then emitted
    with NULL columns for the other side.  A drained availableNow run
    needs the replay's far-future flush sentinel to push the watermark
    past the last real event, else the final horizon's worth of
    unmatched rows stays in state (documented replay gotcha).  Works
    identically on batch DataFrames (the watermark is a no-op there),
    which is what the batch duals and the equivalence test exploit."""
    p = purchases.withWatermark("ts", state_delay).select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = clicks.withWatermark("ts", state_delay).select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    return p.join(
        c,
        (p.p_user_id == c.c_user_id)
        & (c.c_ts > p.p_ts)
        & (c.c_ts <= p.p_ts + F.expr(f"INTERVAL {horizon}")),
        how,
    ).select("p_event_id", "p_user_id", "c_event_id", "c_user_id", "c_value")


def enrich_with_dim(events: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream joins
    against the (batch) dimension table.  No watermark needed — the static
    side is re-resolved per micro-batch, so a dimension refresh is picked
    up on the next trigger; the join itself broadcasts when the dim is
    small, which is the standard streaming-enrichment shape (the scalable
    alternative to per-record lookups the reference's Beam pipeline would
    have needed a side input for)."""
    return events.join(dim, key, "left")


def ingest_dedup_against_corpus(
    stream: DataFrame,
    seen_keys: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """Two-layer streaming ingest dedup — the shape of a continuously-fed
    training corpus: (1) a stream-static LEFT ANTI join drops records
    whose key already exists in the ingested-corpus key table, then
    (2) ``dropDuplicatesWithinWatermark`` drops re-deliveries WITHIN the
    stream itself (state bounded by the watermark horizon).

    Scale shape: the anti join re-resolves the static side per
    micro-batch (so a corpus refresh is picked up on the next trigger)
    and broadcasts while the key table is small; at 100 TB the key table
    is a thin (key, _) projection of the corpus — if even that outgrows
    broadcast, pre-bucket it on the key so the per-batch anti join is a
    co-located probe, or collapse it into a Bloom filter for an
    approximate first pass in front of the exact join.  Keys never seen
    before pass through exactly once across BOTH layers."""
    keys = keys or ["event_id"]
    return (
        stream.join(seen_keys.select(*keys), keys, "left_anti")
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
    )
