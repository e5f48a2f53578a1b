"""Custom Python DataSource tests: determinism, partitioning, schema."""

from __future__ import annotations

import pytest

from odni_apache_beam_consumer_spark.sources import synthetic as S

pytestmark = pytest.mark.skipif(
    not S.HAVE_DATASOURCE_API, reason="pyspark 4 DataSource API unavailable"
)


@pytest.fixture(scope="module")
def registered(spark):
    S.register(spark)
    return spark


def _load(spark, rows=500, partitions=4):
    return (
        spark.read.format("synthetic_events")
        .option("rows", str(rows))
        .option("partitions", str(partitions))
        .load()
    )


def test_row_count_and_schema(registered):
    df = _load(registered)
    assert df.count() == 500
    assert df.columns == ["event_id", "ts", "user_id", "event_type", "value"]


def test_deterministic_and_matches_oracle_fn(registered):
    got = sorted(tuple(r) for r in _load(registered, rows=100).collect())
    exp = sorted(S._row(i) for i in range(100))
    assert got == exp
    again = sorted(tuple(r) for r in _load(registered, rows=100).collect())
    assert got == again


def test_partition_parallelism(registered):
    df = _load(registered, rows=1000, partitions=7)
    assert df.rdd.getNumPartitions() == 7
    assert df.count() == 1000


def test_composes_with_engine_operators(registered):
    """The source is a first-class DataFrame: aggregations and filters
    compose like any table."""
    from pyspark.sql import functions as F

    df = _load(registered, rows=1000)
    agg = df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    assert sum(r["n"] for r in agg.collect()) == 1000


def test_stream_reader_bounded_drain_exact_rows(registered, tmp_path):
    """Streaming read of the synthetic source: micro-batches of
    rowsPerBatch rows arrive until the source stops advancing at maxRows;
    values are identical to the pure offset function (exactly-once by
    construction).  availableNow only drains the simple reader's single
    prefetched batch, so the drain loop polls a normal trigger."""
    import time

    stream = (
        registered.readStream.format("synthetic_events")
        .option("rowsPerBatch", "40")
        .option("maxRows", "200")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("synth_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if registered.table("synth_stream").count() >= 200:
            break
        time.sleep(0.5)
    q.stop()
    assert q.awaitTermination(60), q.exception()
    got = sorted(tuple(r) for r in registered.table("synth_stream").collect())
    assert got == sorted(S._row(i) for i in range(200))
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3  # really arrived as micro-batches, not one gulp
