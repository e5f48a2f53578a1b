"""One owner for the frames a computation persists.

Dataset persists live in Spark's CacheManager under strong references and
never drain via GC, so each needs a matching release.  Register frames
with ``Caches.persist``, then end with ``return caches.result(out)``, which
checkpoints ``out`` before freeing the inputs it reads, or with
``release()`` when the result is already materialized.  Used as a ``with``
block, the owner also releases when the block raises.  Nothing else in
the package calls ``unpersist``.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


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
