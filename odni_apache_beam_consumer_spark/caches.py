"""One owner for the frames a computation persists.

Dataset persists live in Spark's CacheManager under strong references and
never drain via GC, so each needs a matching release.  Register frames
with ``Caches.persist``, then end with ``return caches.result(out)``, which
checkpoints ``out`` before freeing the inputs it reads, or with
``release()`` when the result is already materialized.  Used as a ``with``
block, the owner also releases when the block raises.  Nothing else in
the package calls ``unpersist``.  ``iterate`` runs every lineage-cutting
driver loop and returns a checkpoint-rooted frame, so an owner may release
as soon as it returns.
"""

from __future__ import annotations

from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation


class Caches:
    """Owns persisted frames and frees them together."""

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    def persist(
        self, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
    ) -> DataFrame:
        """Persist ``df`` (PySpark's default level unless given), register it, return it."""
        self._frames.append(df.persist(level))
        return df

    def result(self, df: DataFrame) -> DataFrame:
        """Eagerly local-checkpoint ``df``, then release everything registered."""
        out = df.localCheckpoint(eager=True)
        self.release()
        return out

    def release(self) -> None:
        """Unpersist every registered frame."""
        for df in self._frames:
            df.unpersist()
        self._frames.clear()

    def __enter__(self) -> Caches:
        return self

    def __exit__(self, *exc: object) -> None:
        self.release()


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    until: Column | None = None,
) -> DataFrame:
    """Run ``state = step(state)`` for at most ``rounds`` rounds; return the
    last round's frame, rooted at an eager local checkpoint.

    Every round is local-checkpointed to cut its lineage: lazily, unless
    it is the last round or ``until`` is given.  ``until`` is a boolean
    aggregate over a round's frame, read with ``observe`` while that
    round's eager checkpoint runs, so the probe launches no job of its
    own; the loop stops at the first round where it is true (null counts
    as false).  A probe that compares a round with the one before needs
    ``step`` to carry the old value into the round's frame — through an
    aggregation where it can: a checkpoint keeps its plan's size
    estimate, so joining the state with a derivative of itself squares
    that estimate every round."""
    if rounds < 1:
        return state.localCheckpoint(eager=True)
    for i in range(rounds):
        out = step(state)
        if until is None:
            state = out.localCheckpoint(eager=i == rounds - 1)
        else:
            probe = Observation()
            state = out.observe(probe, until.alias("until")).localCheckpoint(eager=True)
            if probe.get["until"]:
                break
    return state
