"""The cache owner (odni_apache_beam_consumer_spark/caches.py): results are
checkpointed before their inputs are freed, every registered frame is
freed, no module outside caches.py frees caches by hand, and ``iterate``
returns a checkpoint-rooted frame whose stop probe costs no job."""

from __future__ import annotations

import ast
import os

import pytest

from pyspark import StorageLevel
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.caches import Caches, iterate
from odni_apache_beam_consumer_spark.operators import dedup as D

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "odni_apache_beam_consumer_spark",
)


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_result_checkpoints_then_releases_everything(spark):
    base = _persisted_ids(spark)
    caches = Caches()
    a = caches.persist(spark.range(100).withColumn("k", F.col("id") % 7))
    b = caches.persist(a.groupBy("k").count(), StorageLevel.MEMORY_AND_DISK)
    lazy = b.where("k > 0")
    lazy.count()
    cached = _persisted_ids(spark) - base
    assert len(cached) == 2
    assert "InMemoryRelation" in lazy._jdf.queryExecution().optimizedPlan().toString()

    out = caches.result(lazy)

    assert "InMemoryRelation" not in out._jdf.queryExecution().analyzed().toString()
    assert "InMemoryRelation" not in out._jdf.queryExecution().optimizedPlan().toString()
    left = _persisted_ids(spark) - base
    # Only the checkpoint's own block survives; both caches are gone.
    assert len(left) == 1 and not (left & cached), (cached, left)
    assert sorted(r["k"] for r in out.collect()) == list(range(1, 7))


def test_release_frees_every_registered_frame(spark):
    base = _persisted_ids(spark)
    caches = Caches()
    for i in range(3):
        caches.persist(spark.range(10 + i)).count()
    assert len(_persisted_ids(spark) - base) == 3
    caches.release()
    assert _persisted_ids(spark) - base == set()
    caches.release()  # idempotent: nothing left to free


def test_with_block_releases_on_exception(spark):
    base = _persisted_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with Caches() as caches:
            caches.persist(spark.range(10)).count()
            assert len(_persisted_ids(spark) - base) == 1
            raise RuntimeError("boom")
    assert _persisted_ids(spark) - base == set()


def test_prefix_filter_pairs_leave_no_cache_behind(spark):
    """jaccard_prefix_filter_pairs persists its shingle, prefix and
    candidate tables; consumed inside the owner's block, all three are
    freed on exit."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "quick brown fox jumps over the lazy dog"),
            (3, "an entirely different sentence about nothing much"),
        ],
        "doc_id BIGINT, text STRING",
    )
    base = _persisted_ids(spark)
    with Caches() as caches:
        pairs = D.jaccard_prefix_filter_pairs(corpus, caches, shingle_words=2)
        got = [(r.doc_a, r.doc_b) for r in pairs.collect()]
        assert len(_persisted_ids(spark) - base) == 3
    assert got == [(1, 2)]
    assert _persisted_ids(spark) - base == set()


def _leaf(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_iterate_returns_checkpoint_rooted_frame(spark):
    """Both ways a loop ends — the probe stops it early, or its rounds run
    out — return a frame whose analyzed plan is one checkpoint leaf."""
    start = spark.range(5).withColumn("n", F.lit(0))

    def bump(df):
        return df.select("id", (F.col("n") + 1).alias("n"))

    early = iterate(start, bump, 10, until=F.max("n") >= 2)
    assert _leaf(early) == "LogicalRDD"
    assert early.agg(F.max("n")).first()[0] == 2
    ran_out = iterate(start, bump, 3)
    assert _leaf(ran_out) == "LogicalRDD"
    assert sorted(r.n for r in ran_out.collect()) == [3] * 5
    assert _leaf(iterate(start, bump, 0)) == "LogicalRDD"


def test_iterate_stops_at_first_true_probe(spark):
    calls = []

    def bump(df):
        calls.append(1)
        return df.select((F.col("n") + 1).alias("n"))

    out = iterate(spark.range(4).select(F.col("id").alias("n")), bump, 20, until=F.min("n") >= 5)
    # Round r holds n = id + r, so min(n) = r and round 5 is the first true one.
    assert len(calls) == 5
    assert sorted(r.n for r in out.collect()) == [5, 6, 7, 8]
    # An empty frame reads count = 0, so a count probe stops it at once.
    calls.clear()
    empty = spark.range(0).select(F.col("id").alias("n"))
    iterate(empty, bump, 20, until=F.count(F.lit(1)) == 0)
    assert len(calls) == 1


def test_probed_round_costs_no_extra_job(spark):
    """The stop probe rides on the round's eager checkpoint: a probed round
    launches no more jobs than an unprobed eager checkpoint of the same
    frame."""
    sc = spark.sparkContext
    base = spark.range(200).withColumn("k", F.col("id") % 7)

    def step(df):
        return df.groupBy("k").agg(F.count(F.lit(1)).alias("c")).select("k", F.col("c").alias("id"))

    def jobs(group, run) -> int:
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    plain = jobs("iterate:plain", lambda: step(base).localCheckpoint(eager=True))
    probed = jobs("iterate:probed", lambda: iterate(base, step, 1, until=F.sum("id") == 200))
    assert 0 < probed <= plain, (probed, plain)


def _hand_rolled_releases(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "unpersist"
        ):
            found.append(f"{path}:{node.lineno}: .unpersist(")
        elif isinstance(node, ast.arg) and node.arg == "cache_registry":
            found.append(f"{path}:{node.lineno}: cache_registry parameter")
    return found


def test_only_the_cache_owner_releases_caches():
    """No ``.unpersist(`` call and no ``cache_registry`` parameter outside
    caches.py: persisted frames register with a ``Caches`` owner, which
    is the one place that frees them."""
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if name.endswith(".py") and path != os.path.join(PKG, "caches.py"):
                offenders += _hand_rolled_releases(path)
    assert not offenders, offenders


def _named_owners(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, (ast.Assign, ast.AnnAssign, ast.NamedExpr))
            and isinstance(node.value, ast.Call)
            and isinstance(node.value.func, ast.Name)
            and node.value.func.id == "Caches"
        ):
            found.append(f"{path}:{node.lineno}: name = Caches()")
    return found


def test_every_named_cache_owner_is_a_with_block():
    """An owner bound by assignment releases only on the paths that reach
    its ``result``/``release`` call, so a round that raises leaks every
    frame it persisted; ``with Caches() as caches:`` releases on every
    exit.  Inline ``Caches()`` arguments are not names and stay allowed."""
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                offenders += _named_owners(os.path.join(root, name))
    assert not offenders, offenders


def test_trainer_that_raises_leaves_no_cache_behind(spark):
    """A logreg round over feature arrays shorter than dim + 1 sums null
    gradients and the weight update raises; the persisted input is
    still freed."""
    from odni_apache_beam_consumer_spark.plans import ml

    rows = spark.createDataFrame([(1, [1.0, 0.5]), (0, [1.0, -0.5])], "y BIGINT, x ARRAY<DOUBLE>")
    base = _persisted_ids(spark)
    with pytest.raises(TypeError):
        ml.logreg_gd_rounds(rows, dim=4)
    assert _persisted_ids(spark) - base == set()
