"""Transactional batch table: commit atomicity, idempotent replay,
conflict detection, time travel, merge/delete semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.txtable import (
    CommitConflict,
    TransactionalTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id BIGINT, val STRING")


@pytest.fixture()
def table(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "tx"))
    t.create(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    return t


def test_create_append_read_and_history(spark, table):
    table.append(_df(spark, [(4, "d")]))
    assert table.read().count() == 4
    assert [h["operation"] for h in table.history()] == ["create", "append"]


def test_merge_upserts_and_time_travel(spark, table):
    table.merge(_df(spark, [(2, "B!"), (9, "new")]), keys=["id"])
    now = {r.id: r.val for r in table.read().collect()}
    assert now == {1: "a", 2: "B!", 3: "c", 9: "new"}
    # time travel: version 0 still shows the pre-merge state
    v0 = {r.id: r.val for r in table.read(version=0).collect()}
    assert v0 == {1: "a", 2: "b", 3: "c"}


def test_delete_where(spark, table):
    table.delete_where(F.col("id") == 2)
    assert {r.id for r in table.read().collect()} == {1, 3}


def test_op_id_idempotent_replay(spark, table):
    v1 = table.append(_df(spark, [(4, "d")]), op_id="job-42")
    v2 = table.append(_df(spark, [(4, "d")]), op_id="job-42")  # replay
    assert v1 is not None and v2 is None
    assert table.read().count() == 4  # appended once, not twice


def test_concurrent_commit_conflict(spark, tmp_path):
    path = str(tmp_path / "tx2")
    a = TransactionalTable(spark, path)
    a.create(_df(spark, [(1, "a")]))
    b = TransactionalTable(spark, path)
    # Writer B pins its base at version 0, then A commits first...
    base_b = b.latest_version()
    a.append(_df(spark, [(2, "from-a")]))
    # ...so B's commit (derived from the stale base) must refuse to
    # clobber A's.
    with pytest.raises(CommitConflict):
        b.append(_df(spark, [(3, "from-b")]), base_version=base_b)
    # A's committed row survives; B retries on the new base and lands.
    assert {r.id for r in a.read().collect()} == {1, 2}
    b.append(_df(spark, [(3, "from-b")]))
    assert {r.id for r in a.read().collect()} == {1, 2, 3}


def test_commit_whole_snapshot_replay_and_stale_base(spark, table):
    """``commit`` publishes a caller-built snapshot as the next version:
    its op_id makes a replay a no-op, and a base that another writer
    has since moved past surfaces as CommitConflict."""
    base = table.latest_version()
    assert table.commit(_df(spark, [(7, "x")]), base, op_id="batch-0") == 1
    assert table.commit(_df(spark, [(8, "y")]), base, op_id="batch-0") is None
    assert "batch-0" in table.op_ids()
    with pytest.raises(CommitConflict):
        table.commit(_df(spark, [(8, "y")]), base, op_id="batch-1")
    assert [r.id for r in table.read().collect()] == [7]
    assert table.versions() == [0, 1]


def test_crash_before_flip_is_invisible_then_repaired(spark, tmp_path):
    path = str(tmp_path / "tx3")
    t = TransactionalTable(spark, path)
    t.create(_df(spark, [(1, "a")]))
    # Simulate a crash AFTER the snapshot write but BEFORE the flip:
    # write the orphan snapshot directly.
    orphan = _df(spark, [(1, "a"), (2, "b")])
    orphan.write.mode("overwrite").parquet(os.path.join(path, "snapshot_v1"))
    # Readers still see version 0 — the orphan is invisible.
    assert t.latest_version() == 0
    assert t.read().count() == 1
    # Retrying the operation overwrites the orphan and commits cleanly.
    v = t.append(_df(spark, [(2, "b")]))
    assert v == 1
    assert t.read().count() == 2


def test_read_missing_version_raises(spark, table):
    with pytest.raises(FileNotFoundError):
        table.read(version=7)


@pytest.mark.slow
def test_model_based_random_op_sequences(spark, tmp_path):
    """Model-based check: a random sequence of append/merge/delete ops
    applied to the table must match a plain-dict model at every step,
    and every historical version must stay readable afterwards."""
    import random

    rng = random.Random(42)
    for trial in range(3):
        t = TransactionalTable(spark, str(tmp_path / f"mb{trial}"))
        model = {1: "v0", 2: "v0"}
        t.create(_df(spark, sorted(model.items())))
        next_id = 3
        for step in range(5):
            op = rng.choice(["append", "merge", "delete"])
            if op == "append":
                rows = [(next_id, f"s{step}"), (next_id + 1, f"s{step}")]
                next_id += 2
                t.append(_df(spark, rows))
                model.update(dict(rows))
            elif op == "merge":
                targets = rng.sample(sorted(model), k=min(2, len(model)))
                rows = [(i, f"m{step}") for i in targets] + [(next_id, f"m{step}")]
                next_id += 1
                t.merge(_df(spark, rows), keys=["id"])
                model.update(dict(rows))
            else:
                if model:
                    victim = rng.choice(sorted(model))
                    t.delete_where(F.col("id") == victim)
                    model.pop(victim)
            got = {r.id: r.val for r in t.read().collect()}
            assert got == model, (trial, step, op)
        # every version remains time-travel readable
        for v in t.versions():
            assert t.read(version=v).count() >= 0


def test_merge_preserves_base_duplicates(spark, tmp_path):
    """append() enforces no key uniqueness, so duplicate-key base rows are
    legal; merge() must pass untouched keys through verbatim — including
    their duplicates — and only rewrite keys the update names."""
    t = TransactionalTable(spark, str(tmp_path / "dups"))
    t.create(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(2, "b2"), (3, "c")]))  # key 2 now duplicated
    t.merge(_df(spark, [(3, "C!"), (9, "new")]), keys=["id"])
    rows = sorted((r.id, r.val) for r in t.read().collect())
    # both rows for key 2 survive; key 3 replaced; key 9 inserted
    assert rows == [(1, "a"), (2, "b"), (2, "b2"), (3, "C!"), (9, "new")]


def test_merge_keeps_null_key_rows(spark, tmp_path):
    t = TransactionalTable(spark, str(tmp_path / "nullk"))
    t.create(_df(spark, [(1, "a"), (None, "null-key")]))
    t.merge(_df(spark, [(1, "A!")]), keys=["id"])
    rows = sorted(
        ((r.id, r.val) for r in t.read().collect()),
        key=lambda p: (p[0] is None, p),
    )
    assert rows == [(1, "A!"), (None, "null-key")]


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """DELETE WHERE drops only rows where the condition is TRUE; a NULL
    predicate result (NULL column) keeps the row — SQL semantics, not the
    three-valued ~condition which would silently delete it."""
    t = TransactionalTable(spark, str(tmp_path / "nulldel"))
    t.create(_df(spark, [(1, "a"), (None, "null-key"), (2, "b")]))
    t.delete_where(F.col("id") == 2)
    vals = {r.val for r in t.read().collect()}
    assert vals == {"a", "null-key"}


def test_crash_after_meta_link_is_committed(spark, tmp_path):
    """The meta link IS the commit point: a crash after commit_v{n}.json
    exists but before the _LATEST hint refresh must leave version n
    durable and visible (the round-3 protocol wedged here forever)."""
    import json as _json

    path = str(tmp_path / "metacrash")
    t = TransactionalTable(spark, path)
    t.create(_df(spark, [(1, "a")]))
    # Simulate the crash window: a fully-linked commit whose pointer hint
    # was never refreshed.
    snap = "snapshot_v1-deadbeef"
    _df(spark, [(1, "a"), (2, "b")]).write.parquet(os.path.join(path, snap))
    with open(os.path.join(path, "commit_v1.json"), "w") as f:
        _json.dump(
            {"version": 1, "operation": "append", "op_id": None,
             "snapshot": snap}, f)
    with open(os.path.join(path, "_LATEST"), "w") as f:
        f.write("0")  # stale hint
    assert t.latest_version() == 1  # log scan, not the hint, is truth
    assert t.read().count() == 2
    # the next commit builds on v1 and lands as v2 — no wedge, no retry loop
    assert t.append(_df(spark, [(3, "c")])) == 2
    assert t.read().count() == 3


def test_vacuum_removes_only_unreferenced_dirs(spark, tmp_path):
    path = str(tmp_path / "vac")
    t = TransactionalTable(spark, path)
    t.create(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    # orphan debris from a crashed writer
    _df(spark, [(9, "junk")]).write.parquet(
        os.path.join(path, "snapshot_v9-junk"))
    removed = t.vacuum()
    assert removed == ["snapshot_v9-junk"]
    assert t.read().count() == 2
    for v in t.versions():
        assert t.read(version=v).count() >= 1


def test_concurrent_writers_one_winner_per_version(spark, tmp_path):
    """OCC under genuinely interleaved commit attempts: N threads race
    appends against the same table with conflict-retry.  The meta-link
    commit point must admit exactly one winner per version — every
    append lands exactly once, versions are dense, no data is lost."""
    import threading

    path = str(tmp_path / "race")
    t0 = TransactionalTable(spark, path)
    t0.create(_df(spark, [(0, "base")]))

    n_threads, per_thread = 4, 3
    errors: list[Exception] = []
    barrier = threading.Barrier(n_threads)

    def writer(tid: int) -> None:
        try:
            t = TransactionalTable(spark, path)
            barrier.wait()
            for k in range(per_thread):
                row_id = 100 * (tid + 1) + k
                while True:
                    try:
                        t.append(_df(spark, [(row_id, f"w{tid}")]),
                                 op_id=f"op-{tid}-{k}")
                        break
                    except CommitConflict:
                        continue  # stale base — retry on the new one
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,))
               for i in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors

    total = n_threads * per_thread
    rows = {r.id for r in t0.read().collect()}
    assert len(rows) == total + 1  # every append landed exactly once
    assert t0.versions() == list(range(total + 1))  # dense, one winner each
    ops = {h["op_id"] for h in t0.history() if h["op_id"]}
    assert len(ops) == total  # no op committed twice
    # replaying any op after the fact is a clean no-op
    assert t0.append(_df(spark, [(999, "dup")]), op_id="op-0-0") is None
    assert t0.read().count() == total + 1


def test_expire_versions_retention_contract(spark, table):
    """expire_versions drops the oldest metas + snapshots, keeps the
    tail readable, refuses expired time travel, and is idempotent."""
    table.append(_df(spark, [(4, "d")]))
    table.append(_df(spark, [(5, "e")]))
    table.merge(_df(spark, [(1, "A!")]), keys=["id"])
    assert table.versions() == [0, 1, 2, 3]
    expired = table.expire_versions(keep_last=2)
    assert expired == [0, 1]
    assert table.versions() == [2, 3]
    # latest content untouched
    now = {r.id: r.val for r in table.read().collect()}
    assert now == {1: "A!", 2: "b", 3: "c", 4: "d", 5: "e"}
    # retained older version still serves; expired ones refuse
    assert table.read(version=2).count() == 5
    for v in (0, 1):
        with pytest.raises(FileNotFoundError):
            table.read(version=v)
    # snapshots physically gone (vacuum ran); dirs are uniquely named
    # (snapshot_v{n}_{hex}), so count them rather than match names
    snaps = [d for d in os.listdir(table.path) if d.startswith("snapshot_v")]
    assert len(snaps) == 2, snaps
    # idempotent: nothing further to expire at the same retention
    assert table.expire_versions(keep_last=2) == []


def test_expire_versions_keeps_everything_when_under_retention(spark, table):
    table.append(_df(spark, [(4, "d")]))
    assert table.expire_versions(keep_last=5) == []
    assert table.versions() == [0, 1]
    with pytest.raises(ValueError):
        table.expire_versions(keep_last=0)


def test_expire_then_append_continues_version_numbering(spark, table):
    """Retention must not reset the version counter: new commits continue
    past the expired prefix, and the log stays monotonically readable."""
    table.append(_df(spark, [(4, "d")]))
    table.append(_df(spark, [(5, "e")]))
    table.expire_versions(keep_last=1)
    assert table.versions() == [2]
    table.append(_df(spark, [(6, "f")]))
    assert table.versions() == [2, 3]
    assert table.read().count() == 6
