"""Schema-first JSON/CSV source tests: roundtrip against the parquet
truth, corrupt-line quarantine, and the streaming variant."""

from __future__ import annotations

from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.catalog import load_table
from odni_apache_beam_consumer_spark.sources import files as FS
from odni_apache_beam_consumer_spark.streaming import sinks

NATION_SCHEMA = "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"


def _nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def test_json_roundtrip(spark, sf_dir, tmp_path):
    truth = _nation(spark, sf_dir)
    path = str(tmp_path / "nation_json")
    truth.write.mode("overwrite").json(path)
    got = FS.read_json_lines(spark, path, NATION_SCHEMA)
    clean, bad = FS.split_corrupt(got)
    assert bad.count() == 0
    assert {tuple(r) for r in clean.collect()} == {tuple(r) for r in truth.collect()}


def test_json_corrupt_quarantine(spark, tmp_path):
    p = tmp_path / "mixed.json"
    p.write_text(
        '{"n_nationkey": 1, "n_name": "A", "n_regionkey": 0}\n'
        "this is not json at all\n"
        '{"n_nationkey": 2, "n_name": "B", "n_regionkey": 1}\n'
    )
    clean, bad = FS.split_corrupt(
        FS.read_json_lines(spark, str(p), NATION_SCHEMA)
    )
    assert clean.count() == 2
    assert bad.count() == 1
    assert "not json" in bad.collect()[0][0]


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    truth = _nation(spark, sf_dir)
    path = str(tmp_path / "nation_csv")
    truth.write.mode("overwrite").option("header", "true").csv(path)
    got = FS.read_csv(spark, path, NATION_SCHEMA)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in truth.collect()}


def test_json_stream_source(spark, sf_dir, tmp_path):
    """The same schema-first reader as a file stream: counts per region
    must match the batch read (availableNow drain through a memory sink)."""
    truth = _nation(spark, sf_dir)
    path = str(tmp_path / "nation_stream")
    truth.write.mode("overwrite").json(path)
    stream = FS.read_json_lines(spark, path, NATION_SCHEMA, streaming=True)
    counts = stream.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n"))
    q = sinks.to_memory(counts, "json_stream_counts", output_mode="complete")
    assert q.awaitTermination(120), q.exception()
    got = {(r[0], r[1]) for r in spark.table("json_stream_counts").collect()}
    exp = {
        (r[0], r[1])
        for r in truth.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == exp


def test_orc_round_trip(spark, sf_dir, tmp_path):
    """ORC is a first-class batch format: write events as ORC, read it
    back, and the row count and schema survive the round trip."""
    from odni_apache_beam_consumer_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_orc")
    ev.write.format("orc").mode("overwrite").save(path)
    back = spark.read.format("orc").load(path)
    assert back.count() == ev.count()
    assert back.schema == ev.schema
