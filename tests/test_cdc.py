"""Debezium CDC unit tests: envelope quarantine and LWW tombstone
semantics the driver query (plans/decode.py::cdc_debezium_apply) can't
isolate — resurrect attempts, same-ts delete ranking, op-id replay."""

from __future__ import annotations

import pytest

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.sources import replay as R
from odni_apache_beam_consumer_spark.streaming import cdc as C
from odni_apache_beam_consumer_spark.txtable import TransactionalTable

SCHEMA = "k BIGINT, v STRING"


def _envs(spark, rows):
    return spark.createDataFrame(rows, "value STRING").select(
        F.col("value").cast("binary").alias("value")
    )


def test_parse_debezium_routes_images_and_quarantine(spark):
    good_c = '{"op":"c","ts_ms":1,"after":{"k":1,"v":"a"}}'
    good_d = '{"op":"d","ts_ms":2,"before":{"k":1,"v":"a"}}'
    bad = ['{oops', '{"op":"z","ts_ms":3,"after":{"k":9,"v":"x"}}',
           '{"op":"d","ts_ms":4}']
    out = C.parse_debezium(
        _envs(spark, [(good_c,), (good_d,), *[(b,) for b in bad]]), SCHEMA
    ).collect()
    ok = [r for r in out if not r._corrupt]
    assert {(r.op, r.k, r.is_delete) for r in ok} == {
        ("c", 1, False),
        ("d", 1, True),  # delete's key recovered from BEFORE image
    }
    assert sum(r._corrupt for r in out) == 3

    # The encoder is the parser's inverse: the c/u/d envelopes it builds
    # parse back to the image they encoded.
    row = spark.createDataFrame([(1, "a")], SCHEMA)
    img = F.struct("k", "v")
    parsed = [
        r
        for ts, op in enumerate("cud")
        for r in C.parse_debezium(
            row.select(C.debezium_envelope(op, F.lit(ts).cast("long"), img, SCHEMA)),
            SCHEMA,
        ).collect()
    ]
    assert [(r.op, r.ts_ms, r.is_delete, r._corrupt, r.k, r.v) for r in parsed] == [
        ("c", 0, False, False, 1, "a"),
        ("u", 1, False, False, 1, "a"),
        ("d", 2, True, False, 1, "a"),
    ]


def test_lww_tombstone_blocks_resurrection(spark):
    store = tempfile.mkdtemp(prefix="cdc_test_")
    try:
        m = C.lww_upsert_merger(store, ["k"])
        create = C.parse_debezium(
            _envs(spark, [('{"op":"c","ts_ms":10,"after":{"k":1,"v":"a"}}',)]),
            SCHEMA,
        )
        delete = C.parse_debezium(
            _envs(spark, [('{"op":"d","ts_ms":20,"before":{"k":1,"v":"a"}}',)]),
            SCHEMA,
        )
        m(create, 0)
        m(delete, 1)
        m(create, 2)  # re-delivered OLDER create: tombstone must win
        cur = C.read_current(spark, store)
        assert cur.count() == 0
        # same-ts delete outranks the paired image row
        m(
            C.parse_debezium(
                _envs(
                    spark,
                    [
                        ('{"op":"c","ts_ms":30,"after":{"k":2,"v":"b"}}',),
                        ('{"op":"d","ts_ms":30,"before":{"k":2,"v":"b"}}',),
                    ],
                ),
                SCHEMA,
            ),
            3,
        )
        assert C.read_current(spark, store).where("k = 2").count() == 0
    finally:
        shutil.rmtree(store, ignore_errors=True)


def test_lww_marker_replay_is_noop(spark):
    store = tempfile.mkdtemp(prefix="cdc_test_")
    try:
        m = C.lww_upsert_merger(store, ["k"])
        b0 = C.parse_debezium(
            _envs(spark, [('{"op":"c","ts_ms":1,"after":{"k":5,"v":"x"}}',)]),
            SCHEMA,
        )
        m(b0, 0)
        m(b0, 0)  # foreachBatch replay with the SAME id: marker short-circuits
        cur = C.read_current(spark, store).collect()
        assert [(r.k, r.v) for r in cur] == [(5, "x")]
    finally:
        shutil.rmtree(store, ignore_errors=True)


def test_lww_replay_under_committed_id_is_a_no_op(spark):
    """A batch re-delivered under an id whose op_id the table's log
    already holds merges nothing and launches no Spark job.  LWW would
    absorb a re-merge of identical rows, so the re-delivery carries a
    NEWER change: only a re-merge could make it visible."""
    sc = spark.sparkContext
    store = tempfile.mkdtemp(prefix="cdc_test_")
    try:
        m = C.lww_upsert_merger(store, ["k"])
        m(
            C.parse_debezium(
                _envs(spark, [('{"op":"c","ts_ms":1,"after":{"k":5,"v":"x"}}',)]),
                SCHEMA,
            ),
            0,
        )
        newer = C.parse_debezium(
            _envs(spark, [('{"op":"u","ts_ms":9,"after":{"k":5,"v":"y"}}',)]),
            SCHEMA,
        )
        sc.setJobGroup("cdc:replay", "cdc:replay")
        try:
            m(newer, 0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("cdc:replay") == []
        assert TransactionalTable(spark, store).versions() == [0]
        assert [(r.k, r.v) for r in C.read_current(spark, store).collect()] == [(5, "x")]
    finally:
        shutil.rmtree(store, ignore_errors=True)


@pytest.mark.slow
def test_cdc_readstream_end_to_end(spark, tmp_path):
    """Debezium envelopes through a REAL readStream file replay +
    foreachBatch lww_upsert_merger: the full Kafka-shaped CDC path with
    streaming machinery in the loop (the driver query batch-replays the
    same merger; this covers the stream plumbing).  Chunk 1 updates and
    deletes keys created in chunk 0, so state must carry across
    micro-batches; the final table equals the from-first-principles
    result."""
    import json
    import os

    chunks_dir = tmp_path / "chunks"
    store = str(tmp_path / "store")
    os.makedirs(store)
    envs0 = [
        {"op": "c", "ts_ms": 10 + k, "after": {"k": k, "v": f"v{k}"}}
        for k in range(6)
    ]
    envs1 = [
        {"op": "u", "ts_ms": 100, "after": {"k": 2, "v": "v2b"}},
        {"op": "d", "ts_ms": 101, "before": {"k": 4, "v": "v4"}},
    ]
    parts = []
    for i, envs in enumerate([envs0, envs1]):
        df = spark.createDataFrame(
            [(json.dumps(e),) for e in envs], "value STRING"
        ).select(F.col("value").cast("binary").alias("value"))
        tmp = str(tmp_path / f"__tmp_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        parts += R.part_files(tmp)
    R.publish_chunks(parts, str(chunks_dir))

    merger = C.lww_upsert_merger(store, ["k"])

    def apply_batch(batch, batch_id):
        merger(C.parse_debezium(batch, SCHEMA), batch_id)

    q = (
        spark.readStream.schema("value BINARY")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(chunks_dir))
        .writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(300), q.exception()
    got = {(r.k, r.v) for r in C.read_current(spark, store).collect()}
    assert got == {(0, "v0"), (1, "v1"), (2, "v2b"), (3, "v3"), (5, "v5")}

def test_lww_seq_tiebreak_same_ts_updates(spark):
    """Two non-delete changes at the SAME ts_ms must resolve by the
    passed-through monotone sequence (Kafka offset / source.lsn), not
    row_number luck — and a replay of the losing change must no-op."""
    store = tempfile.mkdtemp(prefix="cdc_test_")
    try:
        m = C.lww_upsert_merger(store, ["k"], seq_col="offset")
        envs = spark.createDataFrame(
            [
                ('{"op":"c","ts_ms":10,"after":{"k":1,"v":"first"}}', 100),
                ('{"op":"u","ts_ms":10,"after":{"k":1,"v":"second"}}', 101),
            ],
            "value STRING, offset BIGINT",
        )
        b = C.parse_debezium(envs, SCHEMA, passthrough=("offset",))
        m(b, 0)
        assert [(r.k, r.v) for r in C.read_current(spark, store).collect()] == [
            (1, "second")
        ]
        lose = C.parse_debezium(
            spark.createDataFrame(
                [('{"op":"u","ts_ms":10,"after":{"k":1,"v":"first"}}', 100)],
                "value STRING, offset BIGINT",
            ),
            SCHEMA,
            passthrough=("offset",),
        )
        m(lose, 1)  # same ts, lower offset: fast path must skip the write
        assert [(r.k, r.v) for r in C.read_current(spark, store).collect()] == [
            (1, "second")
        ]
    finally:
        shutil.rmtree(store, ignore_errors=True)


def test_lww_schema_evolution_widens_and_replays(spark):
    """A widened payload mid-stream: old snapshot rows read NULL for the
    new column; an old-schema batch re-delivered AFTER widening merges
    by name and no-ops; a genuinely newer old-schema change still wins
    (its row carries NULL for the new column)."""
    store = tempfile.mkdtemp(prefix="cdc_test_")
    v2 = SCHEMA + ", extra STRING"
    try:
        m = C.lww_upsert_merger(store, ["k"])
        b0 = C.parse_debezium(
            _envs(
                spark,
                [
                    ('{"op":"c","ts_ms":10,"after":{"k":1,"v":"a"}}',),
                    ('{"op":"c","ts_ms":10,"after":{"k":2,"v":"b"}}',),
                ],
            ),
            SCHEMA,
        )
        b1 = C.parse_debezium(
            _envs(
                spark,
                [('{"op":"u","ts_ms":20,"after":{"k":1,"v":"a2","extra":"E"}}',)],
            ),
            v2,
        )
        m(b0, 0)
        m(b1, 1)  # widens
        got = {(r.k, r.v, r.extra) for r in C.read_current(spark, store).collect()}
        assert got == {(1, "a2", "E"), (2, "b", None)}
        m(b0, 2)  # old-schema replay into widened snapshot: no-op
        got = {(r.k, r.v, r.extra) for r in C.read_current(spark, store).collect()}
        assert got == {(1, "a2", "E"), (2, "b", None)}
        # newer old-schema change beats the widened row; extra -> NULL
        b3 = C.parse_debezium(
            _envs(spark, [('{"op":"u","ts_ms":30,"after":{"k":1,"v":"a3"}}',)]),
            SCHEMA,
        )
        m(b3, 3)
        got = {(r.k, r.v, r.extra) for r in C.read_current(spark, store).collect()}
        assert got == {(1, "a3", None), (2, "b", None)}
    finally:
        shutil.rmtree(store, ignore_errors=True)


def test_lww_widening_batch_persists_even_when_all_rows_lose(spark):
    """A schema-widening batch whose rows ALL lose/tie the LWW window
    must still write a snapshot: read_current's schema must not depend
    on whether some row happened to win (a later reader expecting the
    widened column would otherwise get AnalysisException, not NULLs)."""
    store = tempfile.mkdtemp(prefix="cdc_test_")
    v2 = SCHEMA + ", extra STRING"
    try:
        m = C.lww_upsert_merger(store, ["k"])
        m(
            C.parse_debezium(
                _envs(spark, [('{"op":"c","ts_ms":10,"after":{"k":1,"v":"a"}}',)]),
                SCHEMA,
            ),
            0,
        )
        # widened payload but OLDER ts: loses the window, must still widen
        m(
            C.parse_debezium(
                _envs(
                    spark,
                    [('{"op":"u","ts_ms":5,"after":{"k":1,"v":"old","extra":"E"}}',)],
                ),
                v2,
            ),
            1,
        )
        got = [(r.k, r.v, r.extra) for r in C.read_current(spark, store).collect()]
        assert got == [(1, "a", None)]
    finally:
        shutil.rmtree(store, ignore_errors=True)


def test_lww_replay_fast_path_skips_snapshot_write(spark):
    """A no-win batch must NOT commit a new version (the replay fast
    path): the table stays on the previous version."""
    store = tempfile.mkdtemp(prefix="cdc_test_")
    try:
        m = C.lww_upsert_merger(store, ["k"])
        b0 = C.parse_debezium(
            _envs(spark, [('{"op":"c","ts_ms":10,"after":{"k":1,"v":"a"}}',)]),
            SCHEMA,
        )
        m(b0, 0)
        m(b0, 5)  # fresh id, all-tie delta
        assert TransactionalTable(spark, store).versions() == [0]
    finally:
        shutil.rmtree(store, ignore_errors=True)


def test_expire_tombstones_horizon_and_replay(spark):
    """Tombstone GC contract at the raw-snapshot level: (a) tombstones
    older than the horizon are physically gone from the new snapshot
    while in-horizon ones survive verbatim; (b) GC commits as a NEW
    table version; (c) an in-horizon replay of a pre-delete change
    still no-ops; (d) a pre-horizon replay resurrects — the documented
    trade-off, visible so the horizon is sized to replay lag.  The
    replay takes the stream's NEXT batch id: the GC's version must not
    shadow it."""
    from odni_apache_beam_consumer_spark.streaming.materialized import read_view

    store = tempfile.mkdtemp(prefix="cdc_gc_test_")
    try:
        m = C.lww_upsert_merger(store, ["k"])
        creates = C.parse_debezium(
            _envs(
                spark,
                [
                    ('{"op":"c","ts_ms":10,"after":{"k":1,"v":"a"}}',),
                    ('{"op":"c","ts_ms":10,"after":{"k":2,"v":"b"}}',),
                ],
            ),
            SCHEMA,
        ).localCheckpoint(eager=True)
        deletes = C.parse_debezium(
            _envs(
                spark,
                [
                    ('{"op":"d","ts_ms":20,"before":{"k":1,"v":"a"}}',),
                    ('{"op":"d","ts_ms":90,"before":{"k":2,"v":"b"}}',),
                ],
            ),
            SCHEMA,
        ).localCheckpoint(eager=True)
        m(creates, 0)
        m(deletes, 1)
        # GC at now=100, horizon=50 -> cutoff 50: k=1's tombstone (ts 20)
        # expires, k=2's (ts 90) survives.
        v = C.expire_tombstones(spark, store, horizon_ms=50, now_ms=100)
        assert v == 2 and TransactionalTable(spark, store).latest_version() == 2
        raw = {(r.k, r.is_delete) for r in read_view(spark, store).collect()}
        assert raw == {(2, True)}, raw  # expired tombstone GONE, k2 held
        # (c) in-horizon replay: k=2's create (ts 10 < tombstone ts 90)
        # must still lose the LWW window.
        m(creates, 2)
        got = {r.k for r in C.read_current(spark, store).collect()}
        # (d) k=1 resurrects (its tombstone expired; the replay is older
        # than the horizon — out of contract, and visibly so).
        assert got == {1}, got
    finally:
        shutil.rmtree(store, ignore_errors=True)
