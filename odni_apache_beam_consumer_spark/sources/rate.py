"""Rate sources: synthetic load generators for streaming tests/benchmarks.

SURVEY §2.2 sources row.  One built-in generator, ``rate-micro-batch``:
deterministic, exactly ``rows_per_batch`` rows per micro-batch with
monotonically increasing values and fixed per-batch timestamps;
replayable, so assertions are stable.  (Spark's wall-clock ``rate``
source is not wrapped: nothing here can assert on its output.)

``as_events(...)`` shapes it into the engine's events schema so every
streaming operator (windows, dedup, stateful) can run against generated
load with no files or broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def rate_micro_batch_stream(
    spark: SparkSession,
    rows_per_batch: int = 1000,
    num_partitions: int | None = None,
    start_timestamp_ms: int = 1704067200000,  # 2024-01-01 UTC, deterministic
    advance_ms_per_batch: int = 1000,
) -> DataFrame:
    reader = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("startTimestamp", str(start_timestamp_ms))
        .option("advanceMillisPerBatch", str(advance_ms_per_batch))
    )
    if num_partitions is not None:
        reader = reader.option("numPartitions", str(num_partitions))
    return reader.load()


def as_events(rate_df: DataFrame, n_users: int = 100) -> DataFrame:
    """(timestamp, value) -> the engine's events schema: deterministic
    user/event_type assignment from the monotonically increasing value."""
    return rate_df.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        F.pmod("value", F.lit(n_users)).cast("bigint").alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ["view", "click", "purchase", "signup", "error"]]),
            (F.pmod("value", F.lit(5)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod("value", F.lit(1000)) / 100.0).alias("value"),
        F.lit("{}").alias("props"),
    )
