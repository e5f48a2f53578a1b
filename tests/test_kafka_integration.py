"""Live-broker Kafka integration test — env-gated.

The sandbox has no broker (and no spark-sql-kafka package download), so
this module SKIPS entirely unless ``SPARK_GRAFT_KAFKA_BOOTSTRAP`` is set
to a reachable ``host:port`` list.  With it set, the test closes the last
gap to the reference's actual deployment surface
(/root/reference/main.py:85-108): a real write_stream -> read round-trip
through a real topic.

Requirements when enabled:
  * the Spark session must have the Kafka connector on the classpath
    (``SPARK_GRAFT_EXTRA_PACKAGES=org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``
    or a pre-provisioned jar);
  * the broker must allow topic auto-creation, or pre-create
    ``SPARK_GRAFT_KAFKA_TOPIC`` (default ``spark-graft-it``);
  * optional SASL: ``SPARK_GRAFT_KAFKA_USERNAME``/``_PASSWORD`` switch the
    options to the reference's SASL_SSL + SCRAM-SHA-512 mode.
"""

from __future__ import annotations

import os
import time
import uuid

import pytest

from odni_apache_beam_consumer_spark.sources import kafka as K

BOOTSTRAP = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
TOPIC = os.environ.get("SPARK_GRAFT_KAFKA_TOPIC", "spark-graft-it")

pytestmark = pytest.mark.skipif(
    not BOOTSTRAP,
    reason="set SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port to run the live Kafka "
    "integration round-trip (no broker in this sandbox)",
)


def _options(**kw):
    user = os.environ.get("SPARK_GRAFT_KAFKA_USERNAME")
    pw = os.environ.get("SPARK_GRAFT_KAFKA_PASSWORD")
    if user and pw:
        return K.msk_scram_options(BOOTSTRAP, user, pw, topic=TOPIC, **kw)
    return K.consumer_options(BOOTSTRAP, topic=TOPIC, **kw)


def test_round_trip_write_then_read(spark, tmp_path):
    """write_stream publishes rows to the topic; a bounded batch read
    (the reference's max_num_records analog) gets them back."""
    marker = uuid.uuid4().hex
    src = spark.createDataFrame(
        [(i, marker) for i in range(5)], "n INT, marker STRING"
    )
    # Publish via the streaming sink in a single availableNow-style batch:
    # route the tiny static frame through a memory-less foreachBatch-free
    # path by using the batch Kafka writer (same option surface).
    (
        src.selectExpr("to_json(struct(n, marker)) AS value")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("topic", TOPIC)
        .save()
    )

    deadline = time.time() + 60
    got: set[int] = set()
    while time.time() < deadline and len(got) < 5:
        df = K.read_batch(spark, _options(), ending_offsets="latest")
        parsed = K.decode_json_value(df, "n INT, marker STRING")
        got = {r.n for r in parsed.where(parsed.marker == marker).collect()}
        if len(got) < 5:
            time.sleep(2)
    assert got == {0, 1, 2, 3, 4}


def test_streaming_bounded_drain(spark, tmp_path):
    """read_stream + availableNow drains exactly the published records —
    the Spark-native form of the reference's max_num_records=3 bounded
    demo (main.py:106)."""
    marker = uuid.uuid4().hex
    (
        spark.createDataFrame([(i, marker) for i in range(3)], "n INT, marker STRING")
        .selectExpr("to_json(struct(n, marker)) AS value")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("topic", TOPIC)
        .save()
    )
    stream = K.read_stream(spark, _options(max_offsets_per_trigger=100))
    parsed = K.decode_json_value(stream, "n INT, marker STRING")
    qname = f"kafka_it_{marker[:8]}"
    q = (
        parsed.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), q.exception()
    got = {
        r.n
        for r in spark.table(qname).where(f"marker = '{marker}'").collect()
    }
    assert got == {0, 1, 2}
