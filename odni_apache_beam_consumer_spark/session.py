"""SparkSession factory for the engine.

The reference (``/root/reference/main.py:56-69``) configures its pipeline via
Beam ``PipelineOptions`` (job_name, streaming flag, save_main_session and a
block of commented-out Flink deployment options).  In Spark all of that
collapses into a single ``SparkSession`` builder: streaming-ness is per-query
(``readStream`` vs ``read``), closures ship automatically, and deployment is
``--master``.

Scale design notes (100 TB target):
  * AQE is on (runtime re-planning, skew-join splitting, partition
    coalescing) — the single most important knob for large shuffles.
  * ``spark.sql.shuffle.partitions`` defaults to the local core count here;
    on a real cluster it should be ~2-3x total cores or left to AQE's
    coalescing with a high initial value.
  * Arrow is enabled so any pandas interchange (pandas_udf/applyInPandas)
    is batched, never row-at-a-time.
  * Session timezone pinned to UTC so timestamp semantics match the DuckDB
    oracle and are cluster-location-independent.
"""

from __future__ import annotations

import os

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "odni-spark-engine"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Set ``spark.sql.shuffle.partitions`` to ``n`` for the block and
    restore the previous value on exit, also when the block raises.
    Streaming state stores are one per shuffle partition, so this is also
    the state-partition count of any streaming query started inside."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[N] for tests/bench; on a cluster, pass ``master=None`` with
    ``spark-submit --master`` and the same confs apply unchanged.
    """
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # Python workers must be able to import THIS package: anything pickled
    # by reference (custom DataSource classes, module-level functions used
    # in mapInPandas closures) is resolved by import on the executor side,
    # which fails if the driver ran from a different cwd.  Exporting the
    # repo root on PYTHONPATH before the JVM launches covers local mode;
    # on a cluster ship the package via --py-files / pip install instead.
    # The export only matters while the JVM is being launched (workers
    # inherit the JVM's env, captured at launch): with getOrCreate reuse
    # of an existing session it can do nothing, so we set it only when no
    # SparkContext exists yet and restore os.environ right after launch
    # rather than mutating it process-wide.
    from pyspark import SparkContext

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev_py_path = os.environ.get("PYTHONPATH")
    creating = SparkContext._active_spark_context is None
    if creating and repo_root not in (prev_py_path or "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{prev_py_path}" if prev_py_path else repo_root
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing keeps the parallelism-first default: an r13 A/B
        # (OPTIMIZATION_r13.md) measured parallelismFirst=false — pure
        # byte-driven coalescing — as net NEGATIVE here, because byte
        # counts are blind to CPU-heavy-per-byte reduce stages (pair
        # joins, per-round graph aggregations) which it serializes onto
        # one core (item_item_cosine_topk 3.3x, the graph loop family
        # 1.3-1.4x, vs only ~3% total win elsewhere).  The advisory size
        # stays env-tunable for cluster deployments (guide §9 suggests
        # 256m there).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"),
        )
        # Let AQE re-plan (coalesce/skew-split) below .persist() caches too
        # — the iterative drivers (pagerank/kmeans/BFS/dedup components)
        # all loop over persisted inputs, and without this flag every
        # cached subtree pins the full static shuffle-partition count.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Prefer shuffled-hash over sort-merge when the per-partition
        # build side fits (guide §3.1): skips both sort passes; AQE's
        # skew-split still applies, and SMJ remains the fallback.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime row-group pruning: build a bloom filter from the small
        # side of a selective join and push it into the big side's scan —
        # at 100 TB this skips whole row groups the join would discard.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # zstd for parquet written by the engine (guide §6): markedly
        # smaller than snappy at similar read speed — at 100 TB the sink
        # and CDC-snapshot bytes, locally a wash on KB files.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Scan split size (guide §6): default 128m; on clusters with fast
        # sequential storage 512m-1g cuts the map-task count feeding every
        # shuffle (§2.2).  Env-tunable so the local bench methodology is
        # unchanged while a deployment can raise it.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # Parquet TIMESTAMP(NANOS) (events.ts) is unsupported by Spark's
        # reader; read it as raw long ns and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    # Stall forensics (opt-in): SPARK_GRAFT_GC_LOG=<path> writes a unified
    # JVM GC log so the aged-JVM stall class seen in long bench sessions
    # (BASELINE.md) can be attributed (GC pressure vs codegen/shuffle-file
    # accumulation) instead of re-rolled.  Only effective when this call
    # launches the JVM; a getOrCreate reuse cannot add JVM flags.
    gc_log = os.environ.get("SPARK_GRAFT_GC_LOG")
    if gc_log and creating:
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xlog:gc*,safepoint:file={gc_log}:time,uptime,level,tags",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    finally:
        if creating:
            if prev_py_path is None:
                os.environ.pop("PYTHONPATH", None)
            else:
                os.environ["PYTHONPATH"] = prev_py_path
    spark.sparkContext.setLogLevel("WARN")
    return spark
