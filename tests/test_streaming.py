"""Batch-stream equivalence tests (SURVEY §5.2): the streaming oracle.

Replay the events table through the file-stream source chunk by chunk
(micro-batches, same incremental semantics as the reference's Kafka read),
drain with trigger(availableNow=True) into a memory sink, and assert the
result equals the batch dual on the same rows.  A far-future sentinel
chunk pushes the watermark past every real window so append-mode output is
complete (see sources/replay.py); sentinel rows are filtered out of every
assertion.

Also: a late-data test proving watermark drop semantics (a deliberately
disordered replay where old events arrive after the watermark passed), and
a stream-stream join against its batch dual.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.catalog import load_table
from odni_apache_beam_consumer_spark.sources import replay as R
from odni_apache_beam_consumer_spark.streaming import sinks
from odni_apache_beam_consumer_spark.streaming.windows import (
    dedup_within_watermark,
    interval_join,
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from odni_apache_beam_consumer_spark.txtable import TransactionalTable

pytestmark = pytest.mark.streaming


@pytest.fixture(scope="module")
def replay_dir(spark, sf_dir, tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("replay") / "chunks")
    return R.write_replay_chunks(spark, sf_dir, out, n_chunks=6, flush_sentinel=True)


def _rows(df, drop_sentinel_col: str | None = None) -> set[tuple]:
    if drop_sentinel_col is not None:
        df = df.where(~F.col(drop_sentinel_col).isin("__flush__"))
    return {tuple(r) for r in df.collect()}


def test_tumbling_equivalence(spark, sf_dir, replay_dir):
    stream = R.read_stream(spark, replay_dir)
    got = sinks.drain(tumbling_counts(stream), "t_tumbling")
    want = tumbling_counts(load_table(spark, sf_dir, "events"))
    assert _rows(got, "event_type") == _rows(want)


def test_sliding_equivalence(spark, sf_dir, replay_dir):
    stream = R.read_stream(spark, replay_dir)
    got = sinks.drain(sliding_counts(stream), "t_sliding")
    want = sliding_counts(load_table(spark, sf_dir, "events"))
    assert _rows(got, "event_type") == _rows(want)


def test_session_equivalence(spark, sf_dir, replay_dir):
    stream = R.read_stream(spark, replay_dir)
    got = sinks.drain(session_counts(stream), "t_session")
    want = session_counts(load_table(spark, sf_dir, "events"))
    got_rows = {t for t in _rows(got) if t[0] >= 0}  # drop sentinel user -1
    assert got_rows == _rows(want)


def test_dedup_within_watermark_equivalence(spark, sf_dir, replay_dir):
    # Duplicate every event by self-union of two independent readers of the
    # same replay dir; streaming dedup must restore exact-once.
    s1 = R.read_stream(spark, replay_dir)
    s2 = R.read_stream(spark, replay_dir)
    deduped = dedup_within_watermark(s1.unionByName(s2), keys=["event_id"])
    got = sinks.drain(deduped.select("event_id"), "t_dedup")
    n_got = got.where(F.col("event_id") >= 0).distinct().count()
    n_raw = got.where(F.col("event_id") >= 0).count()
    n_want = load_table(spark, sf_dir, "events").count()
    assert n_raw == n_want  # every duplicate dropped, nothing else
    assert n_got == n_want


def test_redelivery_chunks_are_a_real_adversary(spark, sf_dir, tmp_path):
    """write_redelivery_chunks must actually inject cross-file duplicates
    (else streaming_dedup_dual proves nothing): the raw replay holds more
    rows than events, every duplicated event_id appears in exactly 2
    files, and the duplicate's file always sorts strictly AFTER the
    original's — so dropping it requires state across triggers."""
    out = str(tmp_path / "redeliver")
    R.write_redelivery_chunks(spark, sf_dir, out, n_chunks=3, redeliver_mod=5)
    raw = spark.read.parquet(out).withColumn(
        "fname", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    n_events = load_table(spark, sf_dir, "events").count()
    assert raw.count() > n_events  # duplicates exist
    per_id = raw.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("fname").alias("n_files"),
        F.min("fname").alias("first_file"),
        F.max("fname").alias("last_file"),
    )
    dups = per_id.where(F.col("n") > 1)
    assert dups.count() > 0
    # each duplicate: exactly 2 copies, in 2 DIFFERENT files, later file
    # strictly after the earlier (chunk_%05d names sort lexicographically)
    bad = dups.where(
        (F.col("n") != 2)
        | (F.col("n_files") != 2)
        | (F.col("first_file") >= F.col("last_file"))
    )
    assert bad.count() == 0
    # non-duplicated rows appear exactly once
    assert per_id.where(F.col("n") == 1).count() + dups.count() == n_events


@pytest.mark.slow
@pytest.mark.parametrize("how", ["inner", "leftOuter", "fullOuter"])
def test_interval_join_equivalence(spark, sf_dir, replay_dir, how):
    """The drained stream-stream interval join equals the same function
    on the batch table.  Outer emission is the hard part: unmatched rows
    must surface with NULL columns for the other side once the watermark
    proves no match can arrive.  The flush sentinel (event_id < 0) is
    kept INSIDE both input streams so it reaches the watermark operator
    and closes the final horizon; sentinel rows are dropped from the
    comparison.  Every row class the join type can emit — matches,
    purchase-only, click-only — must be non-vacuous."""

    def sides(df):
        keep_p = (F.col("event_type") == "purchase") | (F.col("event_id") < 0)
        keep_c = (F.col("event_type") == "click") | (F.col("event_id") < 0)
        return df.where(keep_p), df.where(keep_c)

    sp, sc = sides(R.read_stream(spark, replay_dir))
    got = sinks.drain(interval_join(sp, sc, how=how), f"t_interval_{how.lower()}")
    bp, bc = sides(load_table(spark, sf_dir, "events"))
    want = interval_join(bp, bc, how=how)

    def key(df):
        real = (F.coalesce(F.col("p_event_id"), F.lit(0)) >= 0) & (
            F.coalesce(F.col("c_event_id"), F.lit(0)) >= 0
        )
        return {
            (r.p_event_id, r.c_event_id,
             None if r.c_value is None else round(r.c_value, 6))
            for r in df.where(real).collect()
        }

    got_rows, want_rows = key(got), key(want)
    assert got_rows == want_rows
    assert any(p is not None and c is not None for p, c, _ in want_rows)
    assert any(c is None for _, c, _ in want_rows) == (how != "inner")
    assert any(p is None for p, _, _ in want_rows) == (how == "fullOuter")


def test_funnel_attribution_stream_equivalence(spark, sf_dir, replay_dir):
    """The stateful CEP operator (view -> click -> purchase with per-step
    1 h deadlines, O(1) state per user) must emit exactly the batch
    window-based attribution.  Replay chunks are ts-ranged, satisfying
    the operator's cross-batch event-time-order contract."""
    from odni_apache_beam_consumer_spark.plans.registry import all_queries
    from odni_apache_beam_consumer_spark.streaming.stateful import (
        funnel_attribution_stream,
    )

    got = sinks.drain(
        funnel_attribution_stream(R.read_stream(spark, replay_dir)), "t_funnel"
    )
    want = all_queries()["funnel_attribution"](spark, sf_dir)

    def key(df):
        return {
            (r.user_id, r.purchase_id, r.purchase_ts, r.click_id, r.view_id)
            for r in df.collect()
            if r.user_id >= 0
        }

    got_rows, want_rows = key(got), key(want)
    assert got_rows == want_rows
    # Non-vacuous: complete funnels, click-only, and cold purchases all occur.
    assert any(c is not None and v is not None for *_, c, v in want_rows)
    assert any(c is not None and v is None for *_, c, v in want_rows)
    assert any(c is None for *_, c, v in want_rows)


def test_replay_many_sentinels_valid_and_increasing(spark, sf_dir, tmp_path):
    """n_sentinels >= 10 must yield VALID, strictly-increasing sentinel
    timestamps — the old f-string literal produced '2100-01-010' at
    k=9 and failed at analysis time (built arithmetically now)."""
    out = str(tmp_path / "chunks")
    R.write_replay_chunks(
        spark, sf_dir, out, n_chunks=2, flush_sentinel=True, n_sentinels=12
    )
    sent = (
        spark.read.schema(R.EVENTS_SCHEMA)
        .parquet(out)
        .where(F.col("event_id") < 0)
        .orderBy("ts")
        .collect()
    )
    assert len(sent) == 12
    stamps = [r.ts for r in sent]
    assert all(a < b for a, b in zip(stamps, stamps[1:]))
    assert all(s.year == 2100 for s in stamps)


@pytest.mark.slow
def test_late_data_dropped(spark, tmp_path):
    """Watermark drop semantics: a chunk of old events arriving AFTER the
    watermark has advanced past them is provably excluded.

    Spark applies the late filter with a one-batch-delayed watermark (the
    watermark computed from batch N's data takes effect filtering batch
    N+2), so a buffer chunk sits between the fresh and the late chunk."""
    schema = (
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    chunks = [
        [(1, "2024-03-10 12:00:00", 1, "view", 1.0, "{}")],  # advances wm
        [(3, "2024-03-10 13:00:00", 1, "view", 1.0, "{}")],  # buffer batch
        [(2, "2024-02-01 00:30:00", 1, "view", 1.0, "{}")],  # 38 days late
        [(-1, "2100-01-01 00:00:00", -1, "__flush__", 0.0, "{}")],
    ]
    parts = []
    for i, rows in enumerate(chunks):
        df = spark.createDataFrame(rows, schema).withColumn("ts", F.to_timestamp("ts"))
        tmp = str(tmp_path / f"w{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        parts += R.part_files(tmp)
    late_dir = R.publish_chunks(parts, str(tmp_path / "late_chunks"))

    stream = R.read_stream(spark, late_dir)
    q = sinks.to_memory(tumbling_counts(stream, watermark="1 day"), "t_late")
    assert q.awaitTermination(300)
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for s in p.get("stateOperators", [])
    )
    got = spark.table("t_late")
    starts = {r[0] for r in _rows(got, "event_type")}
    assert any(s.startswith("2024-03-10") for s in starts)  # fresh kept
    assert not any(s.startswith("2024-02-01") for s in starts)  # late dropped
    assert dropped == 1  # the state operator reports exactly the late row


def test_stateful_running_totals_equivalence(spark, sf_dir, replay_dir):
    """applyInPandasWithState: after draining the stream, each user's last
    emitted running total equals the batch aggregate."""
    from pyspark.sql import Window as W

    from odni_apache_beam_consumer_spark.streaming.stateful import running_user_totals

    stream = R.read_stream(spark, replay_dir)
    got = sinks.drain(running_user_totals(stream), "t_stateful")
    last = (
        got.where(F.col("user_id") >= 0)
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )
    g = {r.user_id: (r.n_events, r.sum_value) for r in last.collect()}
    w = {r.user_id: (r.n_events, r.sum_value) for r in want.collect()}
    assert set(g) == set(w)
    for uid in w:
        assert g[uid][0] == w[uid][0], f"user {uid} count"
        assert abs(g[uid][1] - w[uid][1]) < 1e-6, f"user {uid} sum"


def test_rate_micro_batch_source(spark):
    """Deterministic rate source -> events shape -> windowed agg."""
    from odni_apache_beam_consumer_spark.sources.rate import (
        as_events,
        rate_micro_batch_stream,
    )

    stream = as_events(rate_micro_batch_stream(spark, rows_per_batch=500))
    q = sinks.to_memory(stream, "t_rate")
    assert q.awaitTermination(120)
    got = spark.table("t_rate")
    assert got.count() == 500  # availableNow drains exactly one batch
    assert got.select("user_id").distinct().count() == 100
    types = {r.event_type for r in got.select("event_type").distinct().collect()}
    assert types == {"view", "click", "purchase", "signup", "error"}


def test_console_and_foreach_batch_sinks(spark, replay_dir):
    seen: list[tuple[int, int]] = []

    def collect(batch_df, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))

    stream = R.read_stream(spark, replay_dir).where(F.col("event_id") >= 0)
    q = sinks.foreach_batch(stream, collect, available_now=True)
    q.awaitTermination(300)
    assert sum(n for _, n in seen) == 1000  # sf0.001 events table
    assert len(seen) >= 6  # one batch per chunk (maxFilesPerTrigger=1)

    q2 = sinks.to_console(stream.limit(1), available_now=True)
    q2.awaitTermination(120)
    assert q2.exception() is None


def test_foreach_batch_incremental_upsert(spark, sf_dir, replay_dir, tmp_path):
    """Streaming CDC materialization: each micro-batch folds into a
    keep-latest-per-user parquet table via foreachBatch (the streaming
    dual of plans/analytics.py::latest_event_per_user).  After draining
    the replay, the materialized table must equal the batch query on the
    same rows — proving the merge is order-insensitive across arbitrary
    micro-batch boundaries."""
    from pyspark.sql import Window as W

    state_path = str(tmp_path / "latest_by_user")

    def keep_latest(df):
        w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )

    def merge(batch_df, batch_id):
        batch = batch_df.where(F.col("event_type") != "__flush__").select(
            "user_id", "event_id", "event_type", "ts"
        )
        if os.path.isdir(state_path):
            # localCheckpoint materializes the current state so the
            # overwrite below doesn't read the path it is replacing.
            current = batch.sparkSession.read.parquet(state_path).localCheckpoint()
            batch = current.unionByName(batch)
        keep_latest(batch).write.mode("overwrite").parquet(state_path)

    stream = R.read_stream(spark, replay_dir)
    q = sinks.foreach_batch(
        stream,
        merge,
        checkpoint_location=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)

    expected = keep_latest(
        load_table(spark, sf_dir, "events").select(
            "user_id", "event_id", "event_type", "ts"
        )
    )
    got = spark.read.parquet(state_path)
    assert _rows(got) == _rows(expected)


def test_stream_static_enrichment(spark, sf_dir, replay_dir):
    """Stream-static join: replayed events enriched with a per-user
    dimension (built batch-side) must match the batch join on the same
    rows."""
    from odni_apache_beam_consumer_spark.streaming.windows import enrich_with_dim

    events = load_table(spark, sf_dir, "events")
    dim = (
        events.groupBy("user_id")
        .agg(F.min("ts").alias("first_seen"))
        .withColumn("cohort", F.date_format("first_seen", "yyyy-MM-dd"))
        .select("user_id", "cohort")
    )
    stream = R.read_stream(spark, replay_dir)
    enriched = enrich_with_dim(stream, dim).where(
        F.col("event_type") != "__flush__"
    ).select("event_id", "user_id", "cohort")
    got = sinks.drain(enriched, "enriched_events")
    expected = enrich_with_dim(events, dim).select("event_id", "user_id", "cohort")
    assert _rows(got) == _rows(expected)


def test_transform_with_state_high_water(spark, sf_dir, replay_dir):
    """transformWithStateInPandas (stateful v2): after draining, each
    user's last emitted (count, max) equals the batch aggregate.

    Skipped where ``protobuf`` is unavailable: Spark's TWS state-server
    protocol is protobuf-based and the dependency isn't bundled with
    pyspark (applyInPandasWithState above is the no-extra-deps v1 path)."""
    pytest.importorskip("google.protobuf")
    from pyspark.sql import Window as W

    from odni_apache_beam_consumer_spark.streaming.stateful import user_high_water_marks

    # transformWithState requires the RocksDB state store provider (the
    # 100 TB backend anyway); restore the default after the drain.
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = R.read_stream(spark, replay_dir)
        got = sinks.drain(user_high_water_marks(stream), "t_tws")
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    last = (
        got.where(F.col("user_id") >= 0)
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .where(F.col("rn") == 1)
    )
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("value").alias("max_value"))
    )
    g = {r.user_id: (r.n_events, r.max_value) for r in last.collect()}
    w = {r.user_id: (r.n_events, r.max_value) for r in want.collect()}
    assert set(g) == set(w)
    for uid in w:
        assert g[uid][0] == w[uid][0]
        assert abs(g[uid][1] - w[uid][1]) < 1e-9


def test_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Crash-recovery semantics: a checkpointed query stopped mid-stream
    and restarted from the same checkpoint must deliver every event
    exactly once end-to-end (foreachBatch + batchId-idempotent sink) —
    the production contract the reference's DirectRunner demo never had.
    Also proves the sink's idempotence directly by re-delivering a batch."""
    replay = R.write_replay_chunks(
        spark, sf_dir, str(tmp_path / "chunks"), n_chunks=6
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(out, exist_ok=True)
    sink = sinks.idempotent_parquet_sink(out)

    # Run 1: consume only part of the stream (one file per trigger), then
    # stop — mid-stream, like a crash between micro-batches.
    q1 = sinks.foreach_batch(
        R.read_stream(spark, replay),
        sink,
        checkpoint_location=ckpt,
        available_now=False,
    )
    import time as _t

    deadline = _t.monotonic() + 120
    while _t.monotonic() < deadline:
        done = [p for p in q1.recentProgress if p["numInputRows"] > 0]
        if len(done) >= 2:
            break
        _t.sleep(0.5)
    q1.stop()
    q1.awaitTermination(60)
    n_partial = spark.read.parquet(out).count()
    assert n_partial > 0, "run 1 committed nothing before the stop"

    # Re-deliver an already-committed batch straight into the sink: the
    # marker must make it a no-op (no duplicate rows).
    committed = sorted(
        int(f.rsplit("_", 1)[1]) for f in os.listdir(out) if f.startswith("_committed_")
    )
    sink(load_table(spark, sf_dir, "events").limit(5), committed[0])
    assert spark.read.parquet(out).count() == n_partial

    # Run 2: restart from the SAME checkpoint, drain the rest.
    q2 = sinks.foreach_batch(
        R.read_stream(spark, replay),
        sink,
        checkpoint_location=ckpt,
        available_now=True,
    )
    q2.awaitTermination(300)

    got = spark.read.parquet(out)
    n_want = load_table(spark, sf_dir, "events").count()
    assert got.count() == n_want  # nothing lost, nothing duplicated
    assert got.select("event_id").distinct().count() == n_want
    assert n_partial < n_want  # run 1 really did stop mid-stream


def test_fan_out_sink_two_destinations_consistent(spark, sf_dir, tmp_path):
    """One replayed stream fanned out to two idempotent parquet sinks:
    both destinations must hold exactly the source rows."""
    replay = R.write_replay_chunks(
        spark, sf_dir, str(tmp_path / "chunks"), n_chunks=4
    )
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(out_a, exist_ok=True)
    os.makedirs(out_b, exist_ok=True)
    fan = sinks.fan_out_sink(
        sinks.idempotent_parquet_sink(out_a),
        sinks.idempotent_parquet_sink(out_b),
    )
    q = sinks.foreach_batch(
        R.read_stream(spark, replay),
        fan,
        checkpoint_location=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    n_want = load_table(spark, sf_dir, "events").count()
    for out in (out_a, out_b):
        got = spark.read.parquet(out)
        assert got.count() == n_want
        assert got.select("event_id").distinct().count() == n_want


@pytest.mark.slow
def test_update_mode_converges_to_batch_counts(spark, sf_dir, tmp_path):
    """Update output mode: every micro-batch emits the CURRENT value of
    each changed aggregate (no watermark-close needed).  The latest
    emission per key in the memory sink must equal the batch dual —
    update mode's convergence contract, and the mode the reference's
    print-sink demo maps to for live dashboards."""
    replay = R.write_replay_chunks(
        spark, sf_dir, str(tmp_path / "chunks"), n_chunks=5
    )
    stream = R.read_stream(spark, replay)
    counts = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
    )
    q = sinks.to_memory(counts, "t_update", output_mode="update")
    assert q.awaitTermination(300)
    # Memory sink in update mode appends each emission; keep the LAST row
    # per key (emission order = micro-batch order).
    hist = spark.table("t_update").toPandas()
    latest = {}
    for _, r in hist.iterrows():
        latest[r["event_type"]] = (int(r["n"]), round(float(r["total"]), 6))
    e = load_table(spark, sf_dir, "events")
    want = {
        r["event_type"]: (int(r["n"]), round(float(r["total"]), 6))
        for r in e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert latest == want


def test_materialized_view_equals_batch_aggregate(spark, sf_dir, tmp_path):
    """Incremental materialized view: per-micro-batch delta merges must
    converge to exactly the batch aggregate (algebraic merge is
    batch-boundary independent), and re-delivering a committed batch must
    not change the snapshot."""
    from odni_apache_beam_consumer_spark.streaming import materialized as M

    replay = R.write_replay_chunks(
        spark, sf_dir, str(tmp_path / "chunks"), n_chunks=5
    )
    store = str(tmp_path / "store")
    os.makedirs(store, exist_ok=True)
    merger = M.user_totals_merger(store)
    q = sinks.foreach_batch(
        R.read_stream(spark, replay),
        merger,
        checkpoint_location=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)

    got = M.read_view(spark, store)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum("value").alias("total"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    def key(df):
        return {
            int(r["user_id"]): (round(float(r["total"]), 6), int(r["n_events"]))
            for r in df.collect()
        }
    assert key(got) == key(want)

    # Idempotence: re-deliver committed batch ids, the first and the
    # newest.  Each id's op_id is in the table's log, so the merger
    # commits nothing and the view is unchanged.
    table = TransactionalTable(spark, store)
    versions = table.versions()
    newest = int(table.history()[-1]["op_id"].removeprefix("batch-"))
    for batch_id in (0, newest):
        merger(load_table(spark, sf_dir, "events").limit(7), batch_id)
        assert table.versions() == versions
        assert key(M.read_view(spark, store)) == key(want)


def test_materialized_view_time_travel_and_diff(spark, sf_dir, tmp_path):
    """Snapshot history is queryable (time travel) and two versions diff
    into insert/changed/unchanged verdicts — the audit primitive of the
    versioned store."""
    from odni_apache_beam_consumer_spark.streaming import materialized as M

    replay = R.write_replay_chunks(spark, sf_dir, str(tmp_path / "chunks"), n_chunks=3)
    store = str(tmp_path / "store")
    os.makedirs(store, exist_ok=True)
    q = sinks.foreach_batch(
        R.read_stream(spark, replay),
        M.user_totals_merger(store),
        checkpoint_location=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)

    table = TransactionalTable(spark, store)
    versions = table.versions()
    assert len(versions) >= 2
    assert table.latest_version() == versions[-1]
    first, last = versions[0], versions[-1]
    # Time travel: the first snapshot equals the first chunk's aggregate
    # (strictly fewer or equal rows than the final view).
    assert table.read(first).count() <= M.read_view(spark, store).count()
    diff = M.diff_versions(spark, store, first, last, keys=["user_id"])
    verdicts = {r["verdict"] for r in diff.select("verdict").distinct().collect()}
    assert "deleted" not in verdicts  # merges only add or update users
    assert {"changed", "unchanged"} & verdicts or "inserted" in verdicts
    # Every final-view row appears in the diff exactly once.
    assert diff.count() == M.read_view(spark, store).count()


def test_algebraic_merger_min_max_measures(spark, sf_dir, tmp_path):
    """The generic merger must maintain min/max/sum/count states that
    converge to the batch aggregate regardless of batch boundaries
    (min/max are the non-additive algebraic states; avg derives as
    sum/count at read time)."""
    from odni_apache_beam_consumer_spark.streaming import materialized as M

    replay = R.write_replay_chunks(
        spark, sf_dir, str(tmp_path / "chunks"), n_chunks=4
    )
    store = str(tmp_path / "store")
    os.makedirs(store, exist_ok=True)
    merger = M.algebraic_merger(
        store,
        keys=["event_type"],
        measures={
            "lo": ("min", "value"),
            "hi": ("max", "value"),
            "total": ("sum", "value"),
            "n": ("count", None),
        },
    )
    q = sinks.foreach_batch(
        R.read_stream(spark, replay),
        merger,
        checkpoint_location=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)

    got = {
        r["event_type"]: (
            round(float(r["lo"]), 6),
            round(float(r["hi"]), 6),
            round(float(r["total"]), 6),
            int(r["n"]),
        )
        for r in M.read_view(spark, store).collect()
    }
    want = {
        r["event_type"]: (
            round(float(r["lo"]), 6),
            round(float(r["hi"]), 6),
            round(float(r["total"]), 6),
            int(r["n"]),
        )
        for r in (
            load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(
                F.min("value").alias("lo"),
                F.max("value").alias("hi"),
                F.sum("value").alias("total"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .collect()
        )
    }
    assert got == want

    # Derived avg at read time equals the batch avg.
    view = M.read_view(spark, store).withColumn(
        "avg_value", F.col("total") / F.col("n")
    )
    got_avg = {r["event_type"]: round(float(r["avg_value"]), 6) for r in view.collect()}
    want_avg = {
        r["event_type"]: round(float(r["a"]), 6)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.avg("value").alias("a"))
        .collect()
    }
    assert got_avg == want_avg


@pytest.mark.slow
def test_ingest_dedup_against_corpus_equivalence(spark, sf_dir, replay_dir):
    """Streaming ingest dedup: records already in the corpus key table
    never come out; fresh records come out exactly once (the replay
    feeds every event once, so intra-stream layer-2 passes them all)."""
    from odni_apache_beam_consumer_spark.streaming.windows import (
        ingest_dedup_against_corpus,
    )

    events = load_table(spark, sf_dir, "events")
    seen = events.where(F.col("event_id") % 2 == 0).select("event_id")
    stream = R.read_stream(spark, replay_dir)
    got = sinks.drain(ingest_dedup_against_corpus(stream, seen), "t_ingest_dedup")
    got_ids = {r.event_id for r in got.select("event_id").collect() if r.event_id >= 0}
    want_ids = {
        r.event_id
        for r in events.where(F.col("event_id") % 2 == 1).select("event_id").collect()
    }
    assert got_ids == want_ids
    # exactly-once: no key emitted twice
    assert got.where(F.col("event_id") >= 0).count() == len(got_ids)


def test_streaming_index_maintenance_pipeline(spark, sf_dir, tmp_path):
    """The continuous-corpus composition: embeddings arrive as a stream,
    already-indexed ids are dropped (ingest dedup), and each micro-batch
    appends its novel vectors into the persisted ANN index — which stays
    probe-consistent with an index built from the full corpus at once."""
    from odni_apache_beam_consumer_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.where(F.col("vec_id") < 300)
    path = str(tmp_path / "stream_ann")
    planes = S.build_ann_index(old, path)
    seen = old.select("vec_id")

    # Stream the full corpus back in micro-batches; the dedup layer must
    # keep only the 200 unseen vectors, and each batch appends them.
    src = str(tmp_path / "stream_src")
    emb.repartition(4).write.parquet(src)
    stream = spark.readStream.schema(emb.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    fresh = stream.join(seen, "vec_id", "left_anti")

    def append_batch(batch_df, batch_id):
        if batch_df.count():
            S.append_to_ann_index(batch_df, path, planes)

    q = (
        fresh.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    idx = spark.read.parquet(path)
    assert idx.count() == emb.count()
    assert idx.select("neighbor_id").distinct().count() == emb.count()
    # Probe parity with a from-scratch index over the same corpus.
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 450).first()["embedding"]]
    whole = str(tmp_path / "whole_ann")
    S.build_ann_index(emb, whole, planes=planes)
    got = [tuple(r) for r in S.query_ann_index(spark, path, qvec, planes, k=5).collect()]
    want = [tuple(r) for r in S.query_ann_index(spark, whole, qvec, planes, k=5).collect()]
    assert got == want


def test_redelivery_writer_raises_on_vacuous_replay(spark, tmp_path):
    """The write_redelivery_chunks non-vacuity guard (round-10 advice):
    a constant-ts corpus collapses every percentile cut into one chunk,
    which would silently hand the dedup dual a replay with no
    cross-batch duplicates — the writer itself must refuse."""
    import pytest

    from odni_apache_beam_consumer_spark.sources import replay as R

    rows = [
        (i, "2024-01-01 00:00:00", i % 7, "click", 1.0, "{}")
        for i in range(1, 101)
    ]
    df = spark.createDataFrame(rows, R.EVENTS_SCHEMA.replace("TIMESTAMP", "STRING"))
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "vacuous")
    df.coalesce(1).write.mode("overwrite").parquet(src + "/events.parquet")
    with pytest.raises(ValueError, match="vacuous replay"):
        R.write_redelivery_chunks(
            spark, src, str(tmp_path / "chunks"), n_chunks=3, redeliver_mod=5
        )
