"""File-stream replay: turn the batch ``events`` table into a stream.

CI has no Kafka broker, so streaming correctness is tested by replaying
events through Spark's file-stream source in event-id order with
``maxFilesPerTrigger=1`` — micro-batch consumption with the same
incremental semantics the reference's Kafka read would produce, and a
bounded drain via ``trigger(availableNow=True)`` (the analog of the
reference's ``max_num_records=3``, /root/reference/main.py:106).

Also provides ``as_kafka_records``: re-shapes events rows into the exact
Kafka source schema (key/value binary + metadata columns) so Kafka-shaped
pipelines can be exercised end-to-end without a broker (FIXTURES.md §B).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.catalog import load_table

EVENTS_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"


def part_files(parquet_dir: str) -> list[str]:
    """Paths of the parquet part files Spark wrote under ``parquet_dir``,
    sorted by name."""
    return [
        os.path.join(parquet_dir, f)
        for f in sorted(os.listdir(parquet_dir))
        if f.endswith(".parquet")
    ]


def publish_chunks(parts: list[str], out_dir: str) -> str:
    """Publish part files as a replay directory: ``parts[i]`` becomes
    ``out_dir/chunk_%05d.parquet`` number i with an mtime i seconds after
    the first, so the file-stream source (which orders by mtime) replays
    them in list order.  A path listed more than once is published once
    per listing — an at-least-once re-delivery of the same bytes — and
    moved at its last listing, copied before that."""
    os.makedirs(out_dir, exist_ok=True)
    now = time.time()
    for i, src in enumerate(parts):
        dst = os.path.join(out_dir, f"chunk_{i:05d}.parquet")
        if src in parts[i + 1:]:
            shutil.copy(src, dst)
        else:
            shutil.move(src, dst)
        os.utime(dst, (now + i, now + i))
    return out_dir


def write_replay_chunks(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 8,
    flush_sentinel: bool = False,
    n_sentinels: int = 1,
) -> str:
    """Write events as n_chunks EVENT-TIME-ordered parquet files under
    out_dir.

    Chunks are ordered by ``ts``, not event_id: replay feeds watermarked
    streaming queries, and a watermark advances between micro-batches — if
    chunk k+1 contained events older than chunk k's max(ts) - delay, the
    file source would "drop late data" that isn't late in the real table,
    breaking batch-stream equivalence.  Time-ordered chunks model the
    near-ordered arrival of a real stream; deliberately disordered replay
    (for late-data tests) is built by renaming chunks out of order.

    Fully distributed: ``repartitionByRange`` assigns ascending ts ranges
    to partitions 0..n-1 (range boundaries from a sampled sketch) and
    executors write the files in parallel.  The driver then only
    publishes the n part files oldest-first through
    :func:`publish_chunks` — an O(n_chunks) metadata pass, never the
    data."""
    e = load_table(spark, sf_dir, "events")
    tmp_dir = out_dir.rstrip("/") + ".__tmp__"
    (
        e.repartitionByRange(n_chunks, "ts", "event_id")
        .sortWithinPartitions("ts", "event_id")
        .write.mode("overwrite")
        .parquet(tmp_dir)
    )
    parts = part_files(tmp_dir)
    if flush_sentinel:
        # Watermarked append-mode queries only emit a window once the
        # watermark passes its end — after the last real batch, the final
        # watermark-delay's worth of windows would stay in state forever.
        # A far-future sentinel event in its own final chunk pushes the
        # watermark past every real window so the drained stream equals
        # the batch result.  Sentinel rows (event_id < 0) are filtered
        # out by the equivalence tests.
        #
        # n_sentinels=2 writes a SECOND, even-later sentinel chunk for
        # operators whose state eviction consumes the watermark computed
        # at the END of the PREVIOUS batch (stream-stream OUTER joins):
        # sentinel 1's batch advances the watermark but cannot itself
        # flush the held rows, and availableNow terminates without a
        # no-data micro-batch — sentinel 2 provides the one extra DATA
        # batch that runs the eviction pass.  Aggregation operators
        # don't need it (one sentinel drains them, as the session and
        # tumbling duals prove).
        # All sentinels in ONE write job (partitioned by sentinel index,
        # one row per partition file) — per-sentinel coalesce(1) jobs
        # were pure job-launch overhead on the bench.
        # Built from spark.range, not a Python list: a list-built frame
        # runs a Python worker in every job that reads it.
        sent = spark.range(0, n_sentinels, 1, 1).select(
            F.col("id").cast("int").alias("k"),
            (-(F.col("id") + 1)).alias("event_id"),
            F.expr(
                # Arithmetic, not a formatted literal: an f-string like
                # '2100-01-0{k+1}' breaks at k >= 9 ('2100-01-010').
                "timestamp'2100-01-01 00:00:00'"
                " + make_interval(0, 0, 0, CAST(id AS INT))"
            ).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("__flush__").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        sent_dir = os.path.join(tmp_dir, "sentinels")
        sent.write.mode("overwrite").partitionBy("k").parquet(sent_dir)
        for k in range(n_sentinels):
            parts += part_files(os.path.join(sent_dir, f"k={k}"))
    publish_chunks(parts, out_dir)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return out_dir


def write_redelivery_chunks(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 3,
    redeliver_mod: int = 5,
) -> str:
    """Write events as ``n_chunks`` time-ordered chunk files where every
    chunk k >= 1 ALSO re-delivers a deterministic subset of chunk k-1's
    rows (``event_id % redeliver_mod == 0``) — the at-least-once
    delivery pattern of a real Kafka consumer after a rebalance or a
    producer retry, which a streaming dedup operator must absorb.

    The duplicate copy always lands one micro-batch AFTER its original
    (all of chunk k's files get earlier mtimes than chunk k+1's), so
    dropping it requires dedup STATE retained across triggers — a
    within-batch distinct cannot pass.

    Chunk assignment is deterministic: cut points are exact ts
    percentiles (a metadata-sized 1-row collect, same class as the
    probe literals in streaming_duals.py), and chunk id is monotone in
    ts, so replay order respects event time and no real row is ever
    late.  The write is one distributed job partitioned by (chunk,
    dup); the driver only publishes the part files in replay order
    (:func:`publish_chunks`)."""
    e = load_table(spark, sf_dir, "events")
    fracs = [i / n_chunks for i in range(1, n_chunks)]
    cuts = e.select(
        F.percentile_approx("ts", fracs, 10000).alias("cuts")
    ).collect()[0]["cuts"]
    chunk = sum(
        (F.col("ts") >= F.lit(c)).cast("int") for c in cuts
    ) if cuts else F.lit(0)
    base = e.withColumn("chunk", chunk).withColumn("dup", F.lit(0))
    redelivered = (
        base.where(
            (F.col("event_id") % redeliver_mod == 0)
            & (F.col("chunk") < n_chunks - 1)
        )
        .withColumn("chunk", F.col("chunk") + 1)
        .withColumn("dup", F.lit(1))
    )
    tmp_dir = out_dir.rstrip("/") + ".__tmp__"
    (
        # Hash-cluster each (chunk, dup) group into one task so partitionBy
        # writes exactly ONE file per group — micro-batch count stays
        # 2*n_chunks-1 regardless of how many input partitions the source
        # table has (each replay file is its own trigger downstream).
        base.unionByName(redelivered)
        .repartition(2 * n_chunks, "chunk", "dup")
        .write.mode("overwrite")
        .partitionBy("chunk", "dup")
        .parquet(tmp_dir)
    )
    # Non-vacuity guard, in the writer itself (not just the fixture
    # test): with heavily skewed or constant ts the approximate
    # percentile cuts can collapse so every row lands in one chunk, or
    # the redelivered subset comes out empty — either silently weakens
    # the adversary and lets a stateless dedup pass vacuously.
    # partitionBy only materializes directories for non-empty groups,
    # so directory presence is an exact emptiness signal.
    live_chunks = {
        k for k in range(n_chunks)
        if os.path.isdir(os.path.join(tmp_dir, f"chunk={k}", "dup=0"))
    }
    dup_chunks = {
        k for k in range(n_chunks)
        if os.path.isdir(os.path.join(tmp_dir, f"chunk={k}", "dup=1"))
    }
    if len(live_chunks) < 2 or not dup_chunks:
        shutil.rmtree(tmp_dir, ignore_errors=True)
        raise ValueError(
            "write_redelivery_chunks produced a vacuous replay: "
            f"{len(live_chunks)} non-empty chunk(s), "
            f"{len(dup_chunks)} chunk(s) with re-delivered rows "
            f"(need >=2 and >=1) — ts distribution too skewed for "
            f"n_chunks={n_chunks} / redeliver_mod={redeliver_mod}"
        )
    parts = []
    for k in range(n_chunks):
        for dup in (0, 1):
            kdir = os.path.join(tmp_dir, f"chunk={k}", f"dup={dup}")
            if os.path.isdir(kdir):
                parts += part_files(kdir)
    publish_chunks(parts, out_dir)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return out_dir


def read_stream(spark: SparkSession, replay_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(replay_dir)
    )


def as_kafka_records(df: DataFrame, topic: str = "test-topic") -> DataFrame:
    """Shape events rows as Spark Kafka-source records (FIXTURES.md §B):
    key/value binary, topic/partition/offset/timestamp/timestampType/
    headers — the with_metadata=True record of the reference
    (/root/reference/main.py:105) in its Spark-native form."""
    return df.select(
        F.encode(F.col("user_id").cast("string"), "UTF-8").alias("key"),
        F.encode(
            # Explicit micros format: to_json's default timestampFormat
            # truncates to milliseconds, silently losing event-time
            # precision through a Kafka hop.
            F.to_json(
                F.struct("event_id", "ts", "user_id", "event_type", "value", "props"),
                {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"},
            ),
            "UTF-8",
        ).alias("value"),
        F.lit(topic).alias("topic"),
        F.pmod("user_id", F.lit(4)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
        F.expr(
            "CAST(array() AS array<struct<key:string,value:binary>>)"
        ).alias("headers"),
    )


# ---------------------------------------------------------------------------
# Session-cached fixtures.  Several streaming duals replay the SAME
# deterministic chunk layout of the same events table (e.g. the session
# and inner-join duals both use (n_chunks=4, flush_sentinel=True); the
# two outer-join duals both use (3, True, 2)).  The chunk files are
# pure functions of (sf_dir, params) and read-only once written, so one
# process-wide build serves every consumer — each readStream keeps its
# own checkpoint, so sharing the source directory is safe.  This is the
# dual-family fixed-overhead trim: at sf0.1 each redundant build costs
# ~1.3 s of bench time for identical bytes.
# ---------------------------------------------------------------------------

_FIXTURE_CACHE: dict[tuple, str] = {}
_FIXTURE_ROOT: str | None = None


def _fixture_root() -> str:
    global _FIXTURE_ROOT
    if _FIXTURE_ROOT is None:
        _FIXTURE_ROOT = tempfile.mkdtemp(prefix="replay_fixtures_")
        atexit.register(shutil.rmtree, _FIXTURE_ROOT, ignore_errors=True)
    return _FIXTURE_ROOT


def replay_fixture(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 8,
    flush_sentinel: bool = False,
    n_sentinels: int = 1,
) -> str:
    """Cached :func:`write_replay_chunks`: returns the chunk dir for the
    given (sf_dir, layout) params, building it at most once per process."""
    key = ("replay", os.path.abspath(sf_dir), n_chunks, flush_sentinel, n_sentinels)
    path = _FIXTURE_CACHE.get(key)
    if path is not None and os.path.isdir(path):
        return path
    out = tempfile.mkdtemp(prefix="replay_", dir=_fixture_root())
    write_replay_chunks(
        spark,
        sf_dir,
        os.path.join(out, "chunks"),
        n_chunks=n_chunks,
        flush_sentinel=flush_sentinel,
        n_sentinels=n_sentinels,
    )
    _FIXTURE_CACHE[key] = os.path.join(out, "chunks")
    return _FIXTURE_CACHE[key]


def redelivery_fixture(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 3,
    redeliver_mod: int = 5,
) -> str:
    """Cached :func:`write_redelivery_chunks` (same contract as
    :func:`replay_fixture`)."""
    key = ("redelivery", os.path.abspath(sf_dir), n_chunks, redeliver_mod)
    path = _FIXTURE_CACHE.get(key)
    if path is not None and os.path.isdir(path):
        return path
    out = tempfile.mkdtemp(prefix="redeliver_", dir=_fixture_root())
    write_redelivery_chunks(
        spark,
        sf_dir,
        os.path.join(out, "chunks"),
        n_chunks=n_chunks,
        redeliver_mod=redeliver_mod,
    )
    _FIXTURE_CACHE[key] = os.path.join(out, "chunks")
    return _FIXTURE_CACHE[key]
