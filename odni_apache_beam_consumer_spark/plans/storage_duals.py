"""Batch duals witnessing the storage layer through the driver's oracle.

Like plans/streaming_duals.py for the streaming commit protocols, these
queries drive the ACTUAL storage code — the transactional table's
create/append/merge/replay/delete lifecycle (txtable.py) and the
partition-pruned GDPR delete (storage.py) — against a temp store and
return the resulting table contents, so the driver's DuckDB hash check
verifies the storage semantics end-to-end: a double-applied merge, a
collapsed duplicate, a swept-up NULL key, or an extra commit version all
shift the output and fail the hash.

Portability: money readouts are exact integer cents via
``FLOOR(bal * 100)`` — floor of an identical IEEE double is bit-identical
in both engines (both read the same parquet doubles and apply the same
IEEE ops), with no ROUND half-tie exposure.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.catalog import load_table
from odni_apache_beam_consumer_spark.plans.registry import query


@query(
    "transactional_table_ops",
    oracle="""
WITH merged AS (
  SELECT c_custkey, c_name, c_mktsegment,
         CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 1000
              ELSE c_acctbal END AS bal
  FROM customer
)
SELECT c_custkey, c_name, c_mktsegment,
       CAST(FLOOR(bal * 100) AS BIGINT) AS bal_cents,
       CAST(4 AS BIGINT) AS n_versions
FROM merged
WHERE NOT (bal < 0)
""",
)
def transactional_table_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transactional-table lifecycle, driver-checked: create the
    customer table in two halves (create + append), upsert a +1000
    balance adjustment for the BUILDING segment (merge), REPLAY the merge
    with the same op_id (must be a no-op), then delete negative balances.
    The output carries the commit count as a column, so the oracle pins
    the whole protocol: a replayed merge that re-applies (+2000, or a 5th
    version), a merge that collapses append-introduced rows, or a delete
    that sweeps NULL-predicate rows would each fail the hash.

    Scale shape: each commit is one snapshot rewrite (copy-on-write by
    design — see txtable.py's docstring for the real-format mapping); the
    readout is a single snapshot scan."""
    from odni_apache_beam_consumer_spark.txtable import TransactionalTable

    cols = ["c_custkey", "c_name", "c_mktsegment", "c_acctbal"]
    c = load_table(spark, sf_dir, "customer").select(*cols)
    with tempfile.TemporaryDirectory(
        prefix="txtable_dual_", ignore_cleanup_errors=True
    ) as store:
        t = TransactionalTable(spark, store)
        t.create(c.where(F.col("c_custkey") % 2 == 0))
        t.append(c.where(F.col("c_custkey") % 2 == 1))
        updates = c.where(F.col("c_mktsegment") == "BUILDING").withColumn(
            "c_acctbal", F.col("c_acctbal") + F.lit(1000.0)
        )
        t.merge(updates, keys=["c_custkey"], op_id="bal-adjust-1")
        replay = t.merge(updates, keys=["c_custkey"], op_id="bal-adjust-1")
        assert replay is None, "op_id replay must be a no-op"
        t.delete_where(F.col("c_acctbal") < 0, op_id="purge-neg")
        out = t.read().select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
            F.lit(len(t.versions())).cast("long").alias("n_versions"),
        )
        return out.localCheckpoint(eager=True)


@query(
    "partitioned_gdpr_delete",
    oracle="""
WITH victims AS (
  -- NULL-consistent victim SELECTION too: Spark's orderBy sorts NULLs
  -- first while DuckDB's ORDER BY sorts them last, so if NULL user_ids
  -- ever appear the two sides would pick different victim sets.
  SELECT DISTINCT user_id FROM events
  WHERE user_id IS NOT NULL
  ORDER BY user_id LIMIT 3
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
         AS total_scaled
FROM events
-- NULL-consistent with delete_keys_partitioned, which deliberately KEEPS
-- NULL-key rows: bare NOT IN evaluates to NULL for them and drops them.
WHERE user_id IS NULL OR user_id NOT IN (SELECT user_id FROM victims)
GROUP BY event_type
""",
)
def partitioned_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure, driver-checked: write events date-partitioned,
    delete the 3 lowest user ids via the partition-pruned two-phase
    delete (rewriting only partitions that contain them), read the store
    back and reconcile per event type against the oracle's logical
    delete.  A missed partition, a duplicated rewrite, or collateral
    NULL-key loss all shift the counts.

    The victim list is a 3-row driver-side collect — metadata-sized by
    construction, same class as the documented collects in storage.py.

    Scale shape: the write is one map-side date-derivation + partitioned
    write; the delete scans a thin column once to locate partitions and
    rewrites only those; the readout is one scan + hash agg."""
    from odni_apache_beam_consumer_spark import storage

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    # NULL-filter BEFORE orderBy/limit: Spark sorts NULLs first, DuckDB
    # last — an unfiltered limit-3 would pick different victim sets the
    # moment a NULL user_id appears (latent today: sf0.01 has none).
    victims = [
        r[0]
        for r in e.select("user_id")
        .where(F.col("user_id").isNotNull())
        .distinct()
        .orderBy("user_id")
        .limit(3)
        .collect()
    ]
    with tempfile.TemporaryDirectory(
        prefix="gdpr_dual_", ignore_cleanup_errors=True
    ) as path:
        storage.write_date_partitioned(e, path, "ts")
        storage.delete_keys_partitioned(spark, path, "user_id", victims)
        out = (
            spark.read.parquet(path)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct("user_id").cast("long").alias("n_users"),
                F.sum(F.floor(F.col("value") * 10000).cast("long"))
                .cast("long")
                .alias("total_scaled"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "table_retention_audit",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
         AS total_scaled,
       CAST(2 AS BIGINT) AS n_versions_kept,
       CAST(3 AS BIGINT) AS n_versions_expired
FROM events
GROUP BY event_type
""",
)
def table_retention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-retention GC, driver-checked: build the events table as 5
    commits (create + 4 quarter appends), expire all but the last 2
    versions (txtable.py::expire_versions — the Iceberg
    expire-snapshots / Delta log-retention analog), then read back the
    final content.  The query itself asserts the retention contract
    mid-flight: exactly 3 versions expire, time travel to an expired
    version RAISES, the retained ones still serve, and the expired
    snapshot directories are physically gone (vacuum'd).  The driver's
    hash check then pins the part retention must never touch: the
    LATEST version's content, byte-for-byte equal to the one-shot
    oracle over all five batches.

    Scale shape: expire is an O(versions) metadata pass plus directory
    removals — it never reads data; the readout is one snapshot scan.
    The literal kept/expired counts ride along as columns so a silent
    extra or missing expiry also fails the hash."""
    import os

    from odni_apache_beam_consumer_spark.txtable import TransactionalTable

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    with tempfile.TemporaryDirectory(
        prefix="retention_dual_", ignore_cleanup_errors=True
    ) as store:
        t = TransactionalTable(spark, store)
        t.create(e.where(F.pmod("event_id", F.lit(5)) == 0))
        for i in range(1, 5):
            t.append(e.where(F.pmod("event_id", F.lit(5)) == i))
        before = t.versions()
        assert len(before) == 5, before
        expired = t.expire_versions(keep_last=2)
        assert expired == before[:3], (expired, before)
        assert t.versions() == before[3:], t.versions()
        # expired versions must refuse time travel; retained must serve
        for v in expired:
            try:
                t.read(version=v)
                raise AssertionError(f"expired version {v} still readable")
            except FileNotFoundError:
                pass
        t.read(version=before[3])
        # the expired snapshots are physically gone
        dirs = [d for d in os.listdir(store) if d.startswith("snapshot_v")]
        assert len(dirs) == 2, dirs
        out = (
            t.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.floor(F.col("value") * 10000).cast("long"))
                .cast("long")
                .alias("total_scaled"),
            )
            .withColumn("n_versions_kept", F.lit(2).cast("long"))
            .withColumn("n_versions_expired", F.lit(3).cast("long"))
        )
        return out.localCheckpoint(eager=True)
