"""In-plan metric collection: batch Observation and streaming
observedMetrics — zero-extra-pass job counters (observability.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.catalog import load_table
from odni_apache_beam_consumer_spark.observability import (
    last_observed,
    observe_stream,
    observed,
    validation_metrics,
)
from odni_apache_beam_consumer_spark.sources import replay as R
from odni_apache_beam_consumer_spark.streaming import sinks


def test_batch_observation_counts(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    df, obs = observed(d, "ingest", *validation_metrics("lang", "text"))
    n_total = df.count()  # the action that materializes the metrics
    got = obs.get
    assert got["n_rows"] == n_total
    assert got["n_null_lang"] == 0
    assert got["n_null_text"] == 0


def test_batch_observation_single_scan(spark, sf_dir):
    """The observation rides the existing plan: exactly one parquet scan."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    df, obs = observed(d, "one_scan", F.count(F.lit(1)).alias("n_rows"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_batch_observation_violation_counter(spark, sf_dir):
    """Constraint-violation counter: rows failing a predicate, counted
    in-plan while the pipeline filters them out."""
    d = load_table(spark, sf_dir, "documents")
    bad = F.sum(F.when(F.length("text") < 10, 1).otherwise(0)).alias("n_short")
    df, obs = observed(d, "quality", F.count(F.lit(1)).alias("n_rows"), bad)
    kept = df.where(F.length("text") >= 10).count()
    got = obs.get
    assert got["n_rows"] == got["n_short"] + kept


def test_streaming_observed_metrics(spark, sf_dir, tmp_path):
    out = str(tmp_path / "chunks")
    R.write_replay_chunks(spark, sf_dir, out, n_chunks=4, flush_sentinel=False)
    stream = observe_stream(
        R.read_stream(spark, out),
        "batch_counts",
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("user_id").alias("n_users_approx"),
    )
    q = sinks.to_memory(stream, "t_observe")
    assert q.awaitTermination(300)
    got = last_observed(q, "batch_counts")
    assert got is not None
    assert got["n_rows"] > 0
    assert got["n_users_approx"] > 0
    total = spark.table("t_observe").count()
    assert total >= got["n_rows"]  # last batch's count <= drained total
