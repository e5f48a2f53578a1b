"""Kafka-shaped pipeline tests: the reference's R1->R3 flow without a
broker.

``as_kafka_records`` shapes events rows into the exact Spark Kafka-source
schema (key/value binary + metadata columns); ``decode_json_value``
crosses the bytes->relational bridge the reference never crossed (its
records stayed opaque through ``beam.Map(print)``).  Round-tripping events
through both proves any Kafka-schema pipeline built on this engine parses
real broker output correctly.

Plus: exactly-once recovery — a checkpointed streaming query killed
mid-stream and restarted must produce exactly the batch result, no
duplicates and no losses (the Spark-native form of the reference's
intended Flink checkpointing, /root/reference/main.py:66) — and the
RocksDB state store provider (the 100 TB state backend).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.catalog import load_table
from odni_apache_beam_consumer_spark.sources import replay as R
from odni_apache_beam_consumer_spark.sources.kafka import decode_json_value
from odni_apache_beam_consumer_spark.streaming import sinks
from odni_apache_beam_consumer_spark.streaming.windows import tumbling_counts

EVENTS_JSON_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def test_kafka_record_roundtrip_batch(spark, sf_dir):
    """events -> kafka-record shape -> decode_json_value == events."""
    e = load_table(spark, sf_dir, "events")
    records = R.as_kafka_records(e)
    assert dict(records.dtypes)["key"] == "binary"
    assert dict(records.dtypes)["value"] == "binary"
    decoded = decode_json_value(records, EVENTS_JSON_SCHEMA)
    back = decoded.select("event_id", "ts", "user_id", "event_type", "value", "props")
    orig = e.select("event_id", "ts", "user_id", "event_type", "value", "props")
    assert back.count() == orig.count()
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0
    # Kafka metadata columns survive the decode
    assert {"topic", "partition", "offset", "timestamp"} <= set(decoded.columns)


def test_kafka_shaped_stream_pipeline(spark, sf_dir, tmp_path):
    """Streaming form: replay -> kafka shape -> json decode -> windowed agg
    equals the batch dual on raw events (the reference's live surface,
    made native and verified)."""
    replay_dir = R.write_replay_chunks(
        spark, sf_dir, str(tmp_path / "chunks"), n_chunks=4, flush_sentinel=True
    )
    stream = R.read_stream(spark, replay_dir)
    decoded = decode_json_value(R.as_kafka_records(stream), EVENTS_JSON_SCHEMA)
    got = sinks.drain(tumbling_counts(decoded), "t_kafka_shape").where(
        ~F.col("event_type").isin("__flush__")
    )
    want = tumbling_counts(load_table(spark, sf_dir, "events"))
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Kill a checkpointed query after the first micro-batch; restart; the
    drained parquet sink holds exactly the source rows — offsets resume
    from the checkpoint WAL, nothing duplicated, nothing lost."""
    staged = R.write_replay_chunks(
        spark, sf_dir, str(tmp_path / "staged"), n_chunks=5
    )
    # Stage the stream dir in two phases so run 1 CANNOT see past chunk 1
    # (stopping a live query mid-drain is a race on a loaded machine: the
    # first recentProgress may appear only after every batch committed).
    # File paths stay identical across phases — the source's processed-file
    # log in the checkpoint must match on restart.
    import shutil

    replay_dir = str(tmp_path / "chunks")
    os.makedirs(replay_dir, exist_ok=True)
    chunk_files = sorted(os.listdir(staged))
    for f in chunk_files[:2]:
        shutil.copy2(os.path.join(staged, f), os.path.join(replay_dir, f))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        stream = R.read_stream(spark, replay_dir).where(F.col("event_id") >= 0)
        w = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )
        return w.trigger(availableNow=True).start()

    # First run: drains only the staged prefix, then "fails" (exits).
    q1 = start()
    assert q1.awaitTermination(300), q1.exception()
    n_partial = spark.read.parquet(out).count()
    # Second run: the rest of the chunks have arrived; resume from the
    # checkpoint and drain them.
    for f in chunk_files[2:]:
        shutil.copy2(os.path.join(staged, f), os.path.join(replay_dir, f))
    q2 = start()
    assert q2.awaitTermination(300), q2.exception()
    got = spark.read.parquet(out)
    want = load_table(spark, sf_dir, "events")
    assert n_partial < want.count()  # the kill was genuinely mid-stream
    assert got.count() == want.count()
    assert got.select("event_id").distinct().count() == want.count()


def test_session_window_on_rocksdb_state_store(sf_dir, tmp_path):
    """The 100 TB state backend: the same windowed aggregation runs (and
    matches batch) on the RocksDB state store provider."""
    from odni_apache_beam_consumer_spark.session import get_spark

    spark = get_spark(
        app_name="rocksdb-test",
        extra_conf={
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
            )
        },
    )
    replay_dir = R.write_replay_chunks(
        spark, sf_dir, str(tmp_path / "chunks"), n_chunks=4, flush_sentinel=True
    )
    stream = R.read_stream(spark, replay_dir)
    got = sinks.drain(tumbling_counts(stream), "t_rocks").where(
        ~F.col("event_type").isin("__flush__")
    )
    want = tumbling_counts(load_table(spark, sf_dir, "events"))
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
