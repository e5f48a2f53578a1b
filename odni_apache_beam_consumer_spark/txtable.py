"""Transactional batch table: versioned snapshots with atomic commits.

Reference parity: the reference has no storage layer at all (its only
durable effect is printing Kafka records, /root/reference/main.py:109);
this module provides the committed-write surface any production
consumer of that stream needs downstream.

Closes the "no transactional table format" gap natively with the same
commit design real lakehouse formats use — append / merge (upsert) /
delete with ACID-style visibility, time travel, operation-id
idempotency, and optimistic conflict detection.  The method surface
(`append`, `merge`, `delete_where`, `commit` (overwrite),
`read(version=...)`, `history`, `vacuum`) maps 1:1 onto Delta/Iceberg
transaction-log operations, so swapping a real table format in changes
the storage calls, not the pipeline code.  It is the package's one
snapshot-commit protocol: the streaming materialized view and the CDC
store (streaming/materialized.py, streaming/cdc.py) commit through it.

Protocol (all on any shared filesystem — no lock service).  This is the
Delta-style "log record IS the commit" design:

* data for version ``n`` is written to a UNIQUELY-NAMED immutable
  snapshot directory ``snapshot_v{n}-{token}``; unique names mean data
  dirs are never renamed, contended for, or deleted by the protocol —
  a crashed writer leaves invisible garbage, never a wedge;
* the COMMIT POINT is the creation of ``commit_v{n}.json`` via
  write-to-tmp + ``os.link`` — an atomic put-if-absent on POSIX.  The
  meta names the snapshot directory it commits.  Exactly one writer can
  create it; the loser sees ``CommitConflict``.  Because the link is
  the single commit action, there is no window in which a crash leaves
  the table half-committed: before the link the version does not exist,
  after the link it is durable;
* ``_LATEST`` is a CACHED HINT only (for humans and fast paths), healed
  opportunistically; the authoritative latest version is the max
  ``commit_v{n}.json`` present.  A crash between the meta link and the
  hint refresh therefore loses nothing;
* idempotency: a commit may carry an ``op_id``; if the log already
  contains it the commit is a no-op — including when the replay is
  detected only inside the commit-race conflict handler (two retries of
  the same orchestrator task racing each other resolve to one commit
  and one clean no-op);
* optimistic concurrency: the writer records the version it read; a
  commit derived from a stale base loses the meta-link race for
  ``base+1`` (versions are dense, so a moved pointer always implies the
  next meta exists) and surfaces as ``CommitConflict`` — rerun on the
  new base.

Scale shape: a commit rewrites ONE new snapshot — for append that is
``prev ∪ delta`` (at 100 TB a real format appends files + log entry
instead of rewriting; `append` here is honest about being
copy-on-write), for merge/delete it is the same full-snapshot rewrite
every MERGE INTO performs on the affected files.  Snapshots are plain
parquet: every read is a normal Catalyst scan with pushdown/pruning.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_POINTER = "_LATEST"
_META_RE = re.compile(r"^commit_v(\d+)\.json$")


class CommitConflict(RuntimeError):
    """Another writer committed between this transaction's read and flip."""


class TransactionalTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- protocol internals -------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.path, _POINTER)

    def _commit_meta(self, v: int) -> str:
        return os.path.join(self.path, f"commit_v{v}.json")

    def latest_version(self) -> int | None:
        """Authoritative latest = max committed meta present (the pointer
        file is only a cached hint; scanning the log directory is what
        makes a crash between meta link and hint refresh harmless)."""
        vs = self.versions()
        latest = vs[-1] if vs else None
        self._heal_pointer(latest)
        return latest

    def _heal_pointer(self, latest: int | None) -> None:
        """Refresh the _LATEST hint if stale.  Best-effort: failure to
        heal never affects correctness, only the human-readable hint."""
        if latest is None:
            return
        try:
            with open(self._pointer_path()) as f:
                if int(f.read().strip()) == latest:
                    return
        except (OSError, ValueError):
            pass
        try:
            tmp = self._pointer_path() + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(latest))
            os.replace(tmp, self._pointer_path())  # atomic on POSIX
        except OSError:
            pass

    def _read_meta(self, v: int) -> dict:
        with open(self._commit_meta(v)) as f:
            return json.load(f)

    def _snapshot_dir(self, v: int) -> str:
        return os.path.join(self.path, self._read_meta(v)["snapshot"])

    def _link_meta(self, v: int, meta: dict) -> None:
        """Atomically publish ``commit_v{v}.json`` — THE commit point.

        Content is fully written and flushed to a tmp file first, then
        ``os.link``ed to the final name: link is put-if-absent (raises
        FileExistsError if the version is already committed) and the
        content is complete before the name exists, so no reader can
        observe a partial meta."""
        tmp = self._commit_meta(v) + ".tmp-" + os.urandom(6).hex()
        with open(tmp, "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._commit_meta(v))
        except FileExistsError:
            raise CommitConflict(f"version {v} already committed")
        finally:
            os.unlink(tmp)

    def _commit(
        self,
        df: DataFrame,
        operation: str,
        op_id: str | None,
        expected_prev: int | None,
    ) -> int | None:
        """Write df as a uniquely-named snapshot, then atomically publish
        the commit meta for ``expected_prev + 1``.

        ``expected_prev`` is the version the transaction READ its base
        from — the optimistic-concurrency token.  If another writer
        committed since, this writer loses the meta link race and raises
        ``CommitConflict`` instead of committing a result derived from a
        stale base.  Returns the committed version, or None if op_id was
        already committed (idempotent replay — checked both up front and
        again inside the conflict handler, so a replay racing an
        unrelated commit still resolves to the documented no-op)."""
        prev = expected_prev
        if op_id is not None and op_id in self.op_ids():
            return None
        if self.latest_version() != prev:
            raise CommitConflict(
                f"pointer moved before write (expected {prev}, found "
                f"{self.latest_version()}) — rerun on the new base"
            )
        v = 0 if prev is None else prev + 1
        snap_name = f"snapshot_v{v}-" + os.urandom(6).hex()
        df.write.mode("overwrite").parquet(os.path.join(self.path, snap_name))
        try:
            self._link_meta(
                v,
                {
                    "version": v,
                    "operation": operation,
                    "op_id": op_id,
                    "snapshot": snap_name,
                },
            )
        except CommitConflict:
            # The data dir is invisible garbage (no meta references it);
            # remove it eagerly, then distinguish "our op already landed
            # via a racing replay" (no-op) from a genuine conflict.
            shutil.rmtree(
                os.path.join(self.path, snap_name), ignore_errors=True
            )
            if op_id is not None and op_id in self.op_ids():
                return None
            raise
        self._heal_pointer(v)
        return v

    # -- public API ---------------------------------------------------------

    def versions(self) -> list[int]:
        out = []
        try:
            names = os.listdir(self.path)
        except OSError:
            return []
        for name in names:
            m = _META_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def history(self) -> list[dict]:
        return [self._read_meta(v) for v in self.versions()]

    def op_ids(self) -> set[str]:
        """The op_ids the commit log records — what a replay of an
        operation checks before doing any work."""
        ids = set()
        for v in self.versions():
            try:
                op = self._read_meta(v).get("op_id")
                if op:
                    ids.add(op)
            except (OSError, ValueError):
                continue
        return ids

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot-isolated read: resolve the commit log once, then scan
        only immutable files.  ``version`` time-travels; only committed
        versions (meta present) are readable — an orphan data dir from a
        crashed writer is never served."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"{self.path}: no committed version")
        if not os.path.exists(self._commit_meta(v)):
            raise FileNotFoundError(f"{self.path}: no committed version {v}")
        return self.spark.read.parquet(self._snapshot_dir(v))

    def _base(self, base_version: int | None) -> tuple[DataFrame, int]:
        """The transaction's base snapshot + its version (the OCC token).
        ``base_version`` pins an explicit base (e.g. a coordinated retry);
        default is the current pointer."""
        v = self.latest_version() if base_version is None else base_version
        if v is None:
            raise FileNotFoundError(f"{self.path}: no committed version")
        return self.read(version=v), v

    def create(self, df: DataFrame, op_id: str | None = None) -> int | None:
        if self.latest_version() is not None:
            raise FileExistsError(f"{self.path}: table already exists")
        return self._commit(df, "create", op_id, expected_prev=None)

    def commit(
        self,
        df: DataFrame,
        base_version: int | None,
        op_id: str | None = None,
    ) -> int | None:
        """Commit ``df`` as the whole next snapshot, derived from
        ``base_version`` (None: the table is empty) — for writers that
        build the next state themselves, e.g. a streaming merge."""
        return self._commit(df, "commit", op_id, base_version)

    def append(
        self,
        df: DataFrame,
        op_id: str | None = None,
        base_version: int | None = None,
    ) -> int | None:
        base, v = self._base(base_version)
        return self._commit(base.unionByName(df), "append", op_id, v)

    def merge(
        self,
        updates: DataFrame,
        keys: list[str],
        op_id: str | None = None,
        base_version: int | None = None,
    ) -> int | None:
        """MERGE INTO (upsert): base rows whose key matches an update row
        are replaced by that update row; unmatched update rows are
        inserted; every other base row — including duplicate-key rows a
        prior ``append`` may have introduced — passes through untouched.

        Implemented as ``base ANTI-JOIN updates  ∪  updates``: only keys
        the update actually names are rewritten, so merge never collapses
        or reorders pre-existing base duplicates (``append`` enforces no
        key uniqueness, so they are legal).  NULL-key base rows never
        equal any update key (SQL null semantics) and pass through.
        ``updates`` must carry at most one row per key (dedupe upstream;
        with multiple update rows per key the inserted survivors would
        all land, duplicating the key).

        Scale shape: updates are typically delta-sized, and then the
        anti-join side broadcasts so the base scan is map-only (the
        merge-on-read compaction shape, executed eagerly at commit time).
        The hint is NOT forced: a large updates DataFrame force-broadcast
        would bypass spark.sql.autoBroadcastJoinThreshold and collect the
        whole update set onto the driver — let the optimizer (and AQE's
        runtime size estimate) pick broadcast when it actually fits."""
        base, v = self._base(base_version)
        merged = base.join(
            updates.select(*keys).dropDuplicates(keys),
            on=keys,
            how="left_anti",
        ).unionByName(updates)
        return self._commit(merged, "merge", op_id, v)

    def delete_where(
        self,
        condition,
        op_id: str | None = None,
        base_version: int | None = None,
    ) -> int | None:
        """DELETE WHERE: drop rows where ``condition`` is TRUE.  Rows
        where it evaluates to NULL (e.g. a predicate over a NULL column)
        are KEPT — SQL DELETE semantics — rather than being silently
        swept up by the three-valued ``~condition``."""
        base, v = self._base(base_version)
        return self._commit(
            base.where(~F.coalesce(condition, F.lit(False))), "delete", op_id, v
        )

    def expire_versions(self, keep_last: int) -> list[int]:
        """Version-retention GC — the Iceberg expire-snapshots / Delta
        log-retention analog: drop the commit metas of all but the last
        ``keep_last`` versions, then vacuum their now-unreferenced
        snapshot directories.  Time travel to an expired version raises
        (its meta is gone, so ``read(version=...)`` refuses), while the
        retained tail — including the latest — is untouched.  Returns the
        expired version numbers.

        Ordering is the safety argument: metas are removed OLDEST FIRST
        and the latest version is never eligible, so a crash mid-expire
        leaves a table whose retained suffix is still contiguous and
        whose pointer (a healable hint over max surviving meta) is still
        valid.  Like vacuum, must not run concurrently with an in-flight
        writer."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        expired = vs[:-keep_last] if len(vs) > keep_last else []
        for v in expired:
            try:
                os.remove(self._commit_meta(v))
            except OSError:
                pass
        self.vacuum()
        return expired

    def vacuum(self) -> list[str]:
        """Remove data directories no commit meta references — the debris
        of crashed or conflict-losing writers.  Safe with concurrent
        READERS (referenced dirs are never touched); like Delta's VACUUM
        it must not run concurrently with an in-flight WRITER, whose
        not-yet-committed snapshot is indistinguishable from debris.
        Returns the removed directory names."""
        referenced = set()
        for v in self.versions():
            try:
                referenced.add(self._read_meta(v)["snapshot"])
            except (OSError, ValueError, KeyError):
                continue
        removed = []
        for name in os.listdir(self.path):
            if (
                name.startswith("snapshot_v")
                and name not in referenced
                and os.path.isdir(os.path.join(self.path, name))
            ):
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
                removed.append(name)
        return sorted(removed)
