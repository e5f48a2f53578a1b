"""ML / graph analytics: k-means, triangle counting, PageRank, label
propagation and k-core decomposition over the co-purchase graph.

Reference parity: none of this exists in the reference (its sole
transform is a Kafka read piped to print, /root/reference/main.py:85-109);
these are north-star additions per SURVEY.md §2.2.

These demonstrate the two execution shapes the relational packs don't:
an *iterative numeric* step (assignment + centroid update — the loop body
of every EM-style algorithm; ``caches.iterate`` runs it k times, as it
runs every lineage-cutting loop in the package), and a
*multi-way graph self-join* (triangle enumeration).

Float discipline for the oracles: distances use the algebraic form
``c·c − 2·v·c`` where both dot products are left-to-right folds —
identical evaluation order in Spark's ``aggregate`` and DuckDB's
``list_dot_product`` — so the argmin picks the same centroid on both
engines; averages are rounded after aggregation.
"""

from __future__ import annotations

import math
import sys

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.caches import Caches, iterate
from odni_apache_beam_consumer_spark.catalog import load_table, spread
from odni_apache_beam_consumer_spark.operators.kmeans_kernel import (
    assign_stats_kernel,
)
from odni_apache_beam_consumer_spark.operators.sampling import hex_digits, md5_key
from odni_apache_beam_consumer_spark.operators.similarity import dot, with_vec
from odni_apache_beam_consumer_spark.operators.text_ops import with_tokens
from odni_apache_beam_consumer_spark.plans.registry import query


@query(
    "kmeans_one_step",
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
c AS (
  SELECT vec_id AS cid, vec AS cvec,
         list_dot_product(vec, vec) AS cdd
  FROM v WHERE vec_id % 50 = 0
),
scored AS (
  SELECT v.vec_id, c.cid,
         c.cdd - 2 * list_dot_product(v.vec, c.cvec) AS score,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
           c.cdd - 2 * list_dot_product(v.vec, c.cvec), c.cid) AS rn
  FROM v CROSS JOIN c
),
assigned AS (
  SELECT s.vec_id, s.cid, v.vec FROM scored s JOIN v USING (vec_id)
  WHERE s.rn = 1
)
SELECT cid, CAST(i AS INTEGER) AS pos,
       ROUND(AVG(vec[CAST(i AS INT)]), 6) AS new_val,
       COUNT(*) AS n_members
FROM assigned, UNNEST(generate_series(1, 64)) g(i)
GROUP BY cid, i
""",
)
def kmeans_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus:
    deterministic seeding (every 50th vector is a centroid), nearest-
    centroid assignment, per-dimension centroid update (long format —
    (cid, pos, new_val, n_members)).

    Scale shape: the centroid table is k rows → broadcast; assignment is
    a map-side cross-score + WindowGroupLimit argmin (no shuffle of the
    corpus beyond the per-vector window, which AQE coalesces since the
    partition key is the vector id); the update is ONE hash aggregation
    over (centroid, dimension) — 64k groups at any corpus size, so the
    exchange after map-side partial aggregation is constant-sized.  Run
    the full algorithm by looping this step under ``localCheckpoint``
    exactly like connected_components."""
    v = with_vec(load_table(spark, sf_dir, "embeddings")).select("vec_id", "vec")
    c = (
        v.where(F.col("vec_id") % 50 == 0)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("vec").alias("cvec"),
            dot("vec", "vec").alias("cdd"),
        )
    )
    score = F.col("cdd") - 2 * dot("vec", "cvec")
    w = W.partitionBy("vec_id").orderBy(score.asc(), F.col("cid").asc())
    assigned = (
        v.crossJoin(F.broadcast(c))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cid", "vec")
    )
    return (
        assigned.select("cid", F.posexplode("vec").alias("pos0", "val"))
        .groupBy("cid", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            F.round(F.avg("val"), 6).alias("new_val"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (u < v) co-purchase edges: parts sharing >= 2 orders.

    The support threshold IS the scale story: raw co-occurrence over a
    uniform basket is near-complete (at sf0.1 the unfiltered graph has
    1.2M edges over 2k parts — wedge enumeration then explodes as
    Σdeg²), while support >= 2 keeps the stable, genuinely-associated
    ~3.5k edges at every sf.

    Shuffle shape (optimization guide §2.4 — remove shuffles outright):
    ONE order-keyed exchange (map-side partial collect_set dedups
    (order, part) row multiplicity before the shuffle) + ONE pair-keyed
    count exchange.  The former distinct + orderkey self-join spent four
    exchanges on the same answer — distinct on the (order, part) pair
    key, a re-shuffle of BOTH join inputs to orderkey hash, then the
    pair-count exchange — and the self-join re-executed its shared scan
    subtree on each side.  Per-order pair expansion is map-side
    (sorted-set combinations via nested TRANSFORM, so u < v by
    construction); blow-up is C(parts-per-order, 2), bounded by basket
    size exactly as the old join's per-order pair product was."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS u, y AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")
    return (
        pairs.groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 2)
        .select("u", "v")
    )


def orient_by_degree(edges: DataFrame) -> DataFrame:
    """Orient undirected (u < v) edges from the lower-(degree, id)
    endpoint to the higher — the distributed-triangle-counting trick that
    caps the hottest vertex's out-wedge count.

    Under id-orientation a power-law hub with degree d that happens to
    have a small id keeps all d out-edges and contributes O(d²) wedges to
    the first join; under (degree, id) total-order orientation EVERY
    vertex's out-degree is bounded by O(sqrt(m)) [Chiba–Nishizeki], so
    the wedge stage is O(m^1.5) worst case instead of O(d_max²).  The
    orientation is acyclic (a total order), so each triangle is still
    enumerated exactly once, apexed at its (degree, id)-minimal vertex.
    One extra degree aggregation + one broadcast-sized join against the
    degree table (|V| rows) — cheap insurance at 100 TB."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u").alias("_du_key"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("_dv_key"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return (
        edges.join(du, F.col("u") == F.col("_du_key"))
        .join(dv, F.col("v") == F.col("_dv_key"))
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )


@query(
    "triangle_count",
    oracle="""
WITH pl AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
e AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
              THEN e0.u ELSE e0.v END AS src,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
              THEN e0.v ELSE e0.u END AS dst
  FROM e0 JOIN deg du ON du.u = e0.u JOIN deg dv ON dv.u = e0.v
)
SELECT e1.src AS apex, COUNT(*) AS n_triangles
FROM e e1
JOIN e e2 ON e2.src = e1.dst
JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
GROUP BY e1.src
""",
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph, triangles per apex
    (the triangle's (degree, id)-minimal vertex).

    Edges are oriented by the (degree, id) total order — see
    orient_by_degree — so each triangle is enumerated exactly once AND
    the hottest vertex's wedge count is capped at O(sqrt(m)) (the
    round-2 docstring promised this upgrade; id-orientation left a
    power-law hub's wedge count unbounded).  Two hash equi-join shuffles
    on vertex keys; BOTH the raw co-purchase edges and the oriented list
    are persisted — orientation consumes the raw edges three times (the
    symmetrize union twice + the final join once), and without the first
    persist the expensive lineitem self-join behind copurchase_edges
    re-runs for each (this exact recompute tripled the query's bench
    time when orientation landed).  Caches live until the session's next
    clearCache — same documented pattern as the dedup self-join inputs;
    bench.py clears between queries."""
    raw = copurchase_edges(spark, sf_dir).persist()
    e = orient_by_degree(raw).persist()
    e1 = e.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = e.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    e3 = e.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    return (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .groupBy(F.col("x").alias("apex"))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


@query(
    "pagerank_one_step",
    oracle="""
WITH pl AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg AS (SELECT u, COUNT(*) AS outdeg FROM e GROUP BY u),
n AS (SELECT COUNT(*) AS nv FROM deg),
bydeg AS (
  SELECT e.v AS node, deg.outdeg, CAST(COUNT(*) AS BIGINT) AS m
  FROM e JOIN deg USING (u)
  GROUP BY 1, 2
)
SELECT node,
       ROUND(CAST(0.15 AS DOUBLE) / (SELECT nv FROM n)
             + CAST(0.85 AS DOUBLE) * list_reduce(
                 LIST(m * ((CAST(1.0 AS DOUBLE) / (SELECT nv FROM n))
                           / outdeg) ORDER BY outdeg),
                 (a, b) -> a + b), 6) AS pagerank,
       CAST(SUM(m) AS BIGINT) AS n_in_edges
FROM bydeg GROUP BY node
""",
)
def pagerank_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank iteration (d=0.85) over the symmetrized co-purchase
    graph (same support>=2 edge list as triangle_count), from the uniform
    initial rank 1/N.

    Scale shape: the edge list is persisted and reused by degree-count,
    vertex-count and contribution joins (one materialization, three
    readers); degrees join back to edges on the vertex key (equi-join,
    AQE-broadcast when |V| is small, shuffle-hash at scale); the update is
    ONE hash aggregation keyed on the destination vertex.  The full
    algorithm loops this step under ``localCheckpoint`` like
    operators/dedup.py::connected_components; a hot vertex (celebrity
    node) is the classic skew case — AQE skew-join handles the join side,
    and the contribution agg is pre-combined map-side so the hot key
    arrives as partial sums.  Symmetrized edges mean no dangling nodes,
    so no dangling-mass redistribution term is needed."""
    # Persist the raw edges BEFORE the symmetrize union: the union reads
    # them twice, and without this the lineitem self-join behind
    # copurchase_edges runs twice while materializing the symmetric cache.
    e0 = copurchase_edges(spark, sf_dir).persist()
    e = e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    nv = deg.count()  # driver-side scalar: |V| (one count job on the persisted edges)
    # Order-robust float update (the token_entropy/PCA fold discipline):
    # a bare SUM of per-edge double contributions is partial-aggregation-
    # order-dependent in the last ulp, which held only by luck under a
    # fixed partitioning (r13 optimization exposed it: the AQE-coalesced
    # plan summed in a different order and ROUND(x, 6) flipped on a
    # boundary value).  Contributions depend only on the neighbor's
    # out-degree, so aggregate the EXACT integer (node, outdeg) edge
    # counts first (map-side combinable, hub-safe — the hot key arrives
    # as BIGINT partials), then fold m * ((1/nv)/outdeg) per node in
    # ascending-outdeg order — bitwise equal to the oracle's
    # list_reduce(LIST(... ORDER BY outdeg)) left fold, 0.0 + x == x.
    bydeg = (
        e.join(deg, "u")
        .groupBy(F.col("v").alias("node"), "outdeg")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    fold = F.aggregate(
        F.array_sort(F.collect_list(F.struct("outdeg", "m"))),
        F.lit(0.0),
        lambda acc, x: acc
        + x["m"] * (F.lit(1.0 / nv) / x["outdeg"]),
    )
    return bydeg.groupBy("node").agg(
        F.round(F.lit(0.15 / nv) + 0.85 * fold, 6).alias("pagerank"),
        F.sum("m").cast("long").alias("n_in_edges"),
    )


_PR_ROUNDS = 3
_PR_EDGE_CTES = """pl AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg AS MATERIALIZED (SELECT u, COUNT(*) AS outdeg FROM e GROUP BY u),
n AS MATERIALIZED (SELECT COUNT(*) AS nv FROM deg)"""


def _pagerank_rounds_oracle(n_rounds: int = _PR_ROUNDS) -> str:
    """Unrolled integer power iteration: every round is pure BIGINT
    arithmetic (// is floor division on positive BIGINTs, identical to
    Spark's DIV), so the trajectory replays exactly."""
    ctes = [
        _PR_EDGE_CTES,
        """r0 AS MATERIALIZED (
  SELECT u AS node, CAST(1000000000 // (SELECT nv FROM n) AS BIGINT)
         AS rank_n
  FROM deg
)""",
    ]
    for t in range(1, n_rounds + 1):
        ctes.append(
            f"""r{t} AS MATERIALIZED (
  SELECT node,
         CAST(150000000 // (SELECT nv FROM n)
              + (85 * inflow) // 100 AS BIGINT) AS rank_n,
         n_in
  FROM (
    SELECT e.v AS node, SUM(r.rank_n // d.outdeg) AS inflow,
           COUNT(*) AS n_in
    FROM e JOIN deg d USING (u) JOIN r{t - 1} r ON r.node = e.u
    GROUP BY e.v
  )
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, rank_n AS rank_nano, CAST(n_in AS BIGINT) AS n_in_edges
FROM r{n_rounds}
"""
    )


@query("pagerank_rounds", oracle=_pagerank_rounds_oracle())
def pagerank_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL fixed-round PageRank (d=0.85) over the symmetrized
    co-purchase graph — the iterative completion of pagerank_one_step,
    in exact INTEGER nano-rank arithmetic so the whole trajectory is
    hash-portable: rank flows as ``rank_n DIV outdeg`` (order-
    independent BIGINT sums — a float rank's partial-agg order is not)
    and the damping update is ``150000000 DIV N + (85*inflow) DIV 100``.
    The truncation the integer divisions introduce is deterministic and
    identical in both engines; the float library driver (:func:`pagerank`)
    keeps exact mass conservation for production use, and its one-step
    float form is driver-verified separately (pagerank_one_step).

    Scale shape: per round, one equi-join of the k-column rank table
    into the persisted degree-annotated edges + ONE dst-keyed hash
    aggregation (map-side partial sums absorb hub skew), exactly the
    one-step plan looped by ``caches.iterate``; the symmetric graph has
    no dangling nodes, so no dangling-mass term.  3 rounds = 3 keyed
    exchanges over the edge list, each lineage-truncated."""
    with Caches() as caches:
        e0 = caches.persist(copurchase_edges(spark, sf_dir))
        e = caches.persist(
            e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        )
        deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
        # Loop-invariant hoist (guide §2.4): the degree-annotated edge list
        # e ⋈ deg never changes between rounds — persist it once instead of
        # re-running the degree aggregation + join inside every round.
        edeg = caches.persist(e.join(deg, "u"))
        nv = deg.count()

        def flow(ranks: DataFrame) -> DataFrame:
            inflow = (
                edeg.join(ranks.select(F.col("node").alias("u"), "rank_nano"), "u")
                .select(
                    F.col("v").alias("node"),
                    F.expr("rank_nano DIV outdeg").alias("c"),
                )
                .groupBy("node")
                .agg(
                    F.sum("c").alias("inflow"),
                    F.count(F.lit(1)).cast("long").alias("n_in_edges"),
                )
            )
            return inflow.select(
                "node",
                (
                    F.lit(150000000 // nv)
                    + F.expr("(85 * inflow) DIV 100")
                )
                .cast("long")
                .alias("rank_nano"),
                "n_in_edges",
            )

        ranks = deg.select(
            F.col("u").alias("node"),
            F.lit(1000000000 // nv).cast("long").alias("rank_nano"),
        )
        return iterate(ranks, flow, _PR_ROUNDS)


# ---------------------------------------------------------------------------
# Full iterative drivers: ``caches.iterate`` loops the driver-verified
# one-step bodies, checkpointing each round and reading any convergence
# probe from the round's own checkpoint.  The float drivers below are
# not registered as oracle queries — DuckDB has no natural dual for a
# data-dependent iteration count; correctness comes from the one-step
# oracles plus the convergence property tests in tests/test_ml_loops.py.
# The FIXED-round integer forms (pagerank_rounds, kmeans_lloyd) are the
# oracle-checked companions.
# ---------------------------------------------------------------------------


def pagerank(
    edges: DataFrame,
    n_iters: int = 20,
    tol: float | None = 1e-6,
    damping: float = 0.85,
) -> DataFrame:
    """Full PageRank over a directed edge list (u, v), uniform start.

    Per round: one equi-join of ranks into the (persisted) out-degree-
    annotated edges + one node-keyed hash aggregation — the driver-
    verified ``pagerank_one_step`` body, looped by ``caches.iterate``.
    The aggregation also takes each node's previous rank, so convergence
    (L1 delta below ``tol``; no probe when ``tol`` is None) is read from
    the round's own checkpoint.  Returns (node, pagerank).

    Dangling nodes (out-degree 0) are handled by renormalizing: their
    lost mass is re-spread uniformly each round, keeping sum(rank) = 1 —
    the standard power-iteration fix, computed as a 1-row aggregate."""
    with Caches() as caches:
        e = caches.persist(edges.select("u", "v"))
        deg = caches.persist(e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg")))
        # Loop-invariant hoist (guide §2.4, the pagerank_rounds r13 change
        # propagated to the library driver): e ⋈ deg never changes between
        # rounds — persist it once instead of re-joining every round.
        edeg = caches.persist(e.join(deg, "u"))
        nodes = caches.persist(
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .distinct()
        )
        nv = nodes.count()

        def power_step(ranks: DataFrame) -> DataFrame:
            # Dangling mass: rank held by nodes with no out-edges this round.
            dangling = (
                ranks.join(deg.withColumnRenamed("u", "node"), "node", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
                .first()["m"]
            )
            base = (1.0 - damping) / nv + damping * dangling / nv
            no_rank = F.lit(None).cast("double")
            flowing = (
                edeg.join(ranks.select(F.col("node").alias("u"), "rank"), "u")
                .select(
                    F.col("v").alias("node"),
                    (F.col("rank") / F.col("outdeg")).alias("c"),
                    no_rank.alias("old_rank"),
                )
                # Every node has a rank row, so the one aggregation yields
                # each node's inflow next to its previous rank.
                .unionByName(
                    ranks.select("node", no_rank.alias("c"), F.col("rank").alias("old_rank"))
                )
                .groupBy("node")
                .agg(F.sum("c").alias("inflow"), F.max("old_rank").alias("old_rank"))
            )
            return flowing.select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
                "old_rank",
            )

        return iterate(
            nodes.select("node", F.lit(1.0 / nv).alias("rank")),
            power_step,
            n_iters,
            until=None if tol is None else F.sum(F.abs(F.col("rank") - F.col("old_rank"))) < tol,
        ).select("node", "rank")


def kmeans(
    corpus: DataFrame,
    n_iters: int = 10,
    tol: float | None = 1e-6,
    centroid_every: int = 50,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full Lloyd k-means over an embedding corpus, deterministic seeding
    (every ``centroid_every``-th vector), returning (cid, cvec,
    n_members).

    Per round: broadcast the k-row centroid table, assign by argmin of
    the algebraic distance form c·c − 2·v·c (WindowGroupLimit — same
    body the driver verifies in ``kmeans_one_step``), then ONE hash
    aggregation rebuilding each centroid as 64 per-dimension averages
    (64·k groups — constant-sized exchange at any corpus size).
    ``caches.iterate`` loops the rounds; each carries the previous
    centroid, so convergence (max L2 movement below ``tol``) is read
    from the round's own checkpoint."""
    with Caches() as caches:
        v = caches.persist(with_vec(corpus, vec_col).select(F.col(id_col).alias("vid"), "vec"))

        def lloyd_step(cents: DataFrame) -> DataFrame:
            c = cents.select("cid", "cvec", dot("cvec", "cvec").alias("cdd"))
            score = F.col("cdd") - 2 * dot("vec", "cvec")
            w = W.partitionBy("vid").orderBy(score.asc(), F.col("cid").asc())
            assigned = (
                v.crossJoin(F.broadcast(c))
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("vid", "cid", "vec", "cvec")
            )
            return assigned.groupBy("cid").agg(
                F.array(
                    *[
                        F.round(F.avg(F.element_at(F.col("vec"), i + 1)), 6)
                        for i in range(dim)
                    ]
                ).alias("cvec"),
                F.count(F.lit(1)).alias("n_members"),
                # every member row carries its centroid's old vector
                F.max("cvec").alias("old_cvec"),
            )

        move = F.sqrt(
            F.aggregate(
                F.zip_with(F.col("cvec"), F.col("old_cvec"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        return iterate(
            v.where(F.col("vid") % centroid_every == 0)
            .select(F.col("vid").alias("cid"), F.col("vec").alias("cvec")),
            lloyd_step,
            n_iters,
            until=None if tol is None else F.max(move) < tol,
        ).select("cid", "cvec", "n_members")


_KM_ROUNDS = 3
_KM_DIM = 64
_KM_EVERY = 50
_KM_SCALE = 1000000


def kmeans_lloyd_rounds(
    corpus: DataFrame,
    n_rounds: int = _KM_ROUNDS,
    centroid_every: int = _KM_EVERY,
    dim: int = _KM_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_ids: list[int] | None = None,
) -> DataFrame:
    """Fixed-round Lloyd k-means with INTEGER sufficient-statistic
    centroid updates — the hash-portable form of :func:`kmeans`: each
    round's new centroid component is S/(n*1e6) where S =
    SUM(FLOOR(val*1e6)) is an exact BIGINT (order-independent — a float
    AVG's partial-aggregation order is not), so the whole trajectory is
    a pure integer function of the input and an unrolled SQL oracle can
    replay it bit for bit (the bpe_train/doremi discipline applied to
    the classic iterative-ML loop).

    Returns the FINAL round's statistics long-form: (cid, pos,
    sum_micro, n_members) — every output cell an exact integer.

    Scale shape: per round, the k centroids broadcast as ONE 1-row
    array and the argmin folds inside a Catalyst aggregate() per vector
    — assignment is genuinely map-only (zero exchanges; the earlier
    window-ranked crossJoin shuffled k copies of every vector per
    round), then ONE hash aggregation with k groups x (dim+1) integer
    columns — the exchange is k-sized at any corpus size, and the
    per-dim FLOOR/SUM partials combine map-side.  No round builds on
    the one before in the plan — each reads the persisted corpus with
    the centroids as kernel literals — so there is no lineage to cut;
    only the final round's k-row stats are checkpointed, and the corpus
    persist is released before return (test_ml_loops cache-hygiene
    discipline).

    ``seed_ids``: explicit literal centroid seeds — the FIXED-K
    production shape (k chosen by the deployment, not derived from the
    corpus).  The default ``vid % centroid_every`` rule grows k with
    the corpus, which is the documented reason the registered query's
    300x scale cell would time a |corpus| x k experiment artifact;
    tools/scale_bench.py passes sf0.1's literal seed set here so the
    fixed-k cell times the operator itself."""
    seed_pred = (
        F.col("vid") % centroid_every == 0
        if seed_ids is None
        else F.col("vid").isin([int(i) for i in seed_ids])
    )
    # spread (guide §2.5 input skew / catalog.spread): the embeddings
    # fixture scans as ONE split, so the dominant per-round map stage —
    # the k-centroid argmin over every vector — would run on one
    # core no matter how many are idle.  At 100 TB the input has
    # thousands of row groups and spread() is a no-op.  The repartition
    # cannot shift results: assignment is per-row and the centroid
    # rebuild sums exact FLOOR integers (order-independent).
    with Caches() as caches:
        v = caches.persist(
            spread(with_vec(corpus, vec_col).select(F.col(id_col).alias("vid"), "vec"))
        )
        # r14 (guide §4.2): the per-round argmin + integer-stat pass runs as
        # ONE numpy mapInArrow kernel instead of the interpreted Catalyst
        # higher-order fold (r13's documented #1 deferred item).  The kernel
        # reproduces the fold's IEEE arithmetic exactly — sequential
        # dimension-order accumulation, (score, cid) argmin tie-break, exact
        # FLOOR int64 stats — see operators/kmeans_kernel.py; equivalence is
        # pinned bitwise against the retained HOF reference implementation
        # (tests/test_r14_optimizations.py) on top of the unchanged Python-
        # replay and oracle-hash gates.  Centroids cross the driver as k-row
        # exact-integer stats per round (the parameter-server shape — the
        # same k-sized materialization localCheckpoint did eagerly before),
        # so each round's plan is: cached scan -> ArrowEval (emits <= k
        # partial rows per batch) -> ONE k-group integer aggregation.
        seed_rows = sorted(
            (int(r["cid"]), [float(x) for x in r["vec"]])
            for r in v.where(seed_pred)
            .select(F.col("vid").alias("cid"), "vec")
            .collect()
        )
        cids = [c for c, _ in seed_rows]
        cvecs = [cv for _, cv in seed_rows]
        out_schema = (
            "cid long, "
            + ", ".join(f"s{i} long" for i in range(dim))
            + ", cnt long"
        )
        stats = None
        for rnd in range(n_rounds):
            kern = assign_stats_kernel(cids, cvecs, dim, _KM_SCALE)
            stats = (
                v.select("vec")
                .mapInArrow(kern, out_schema)
                .groupBy("cid")
                .agg(
                    *[
                        F.sum(f"s{i}").cast("long").alias(f"s{i}")
                        for i in range(dim)
                    ],
                    F.sum("cnt").cast("long").alias("n_members"),
                )
            )
            if rnd < n_rounds - 1:
                # k-row exact-integer collect; the new centroid component
                # CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) is one IEEE
                # divide — identical in Python and Catalyst.
                rows = sorted(
                    (int(r["cid"]), r) for r in stats.collect()
                )
                cids = [c for c, _ in rows]
                cvecs = [
                    [
                        float(r[f"s{i}"]) / (float(r["n_members"]) * float(_KM_SCALE))
                        for i in range(dim)
                    ]
                    for _, r in rows
                ]
        # r14 (guide §5): the final round's stats are k rows — checkpoint
        # them so the returned plan never re-runs the assignment kernel.
        stats = caches.result(stats)
        return stats.select(
            "cid",
            "n_members",
            F.posexplode(F.array(*[F.col(f"s{i}") for i in range(dim)])).alias(
                "pos0", "sum_micro"
            ),
        ).select(
            "cid",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            "sum_micro",
            "n_members",
        )


def _kmeans_lloyd_oracle(
    n_rounds: int = _KM_ROUNDS,
    centroid_every: int = _KM_EVERY,
    dim: int = _KM_DIM,
    scale: int = _KM_SCALE,
) -> str:
    """Unrolled replay of the integer-stat Lloyd trajectory: per round
    an argmin-assignment CTE, an integer-stat CTE, and a rebuilt
    centroid list — identical IEEE expression trees to the Spark side
    (exact integer inputs + one divide), so argmin ties resolve the
    same way and every round's centroids agree bit for bit."""
    ctes = [
        """v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id % """
        + str(centroid_every)
        + """ = 0
)"""
    ]
    for r in range(1, n_rounds + 1):
        ctes.append(
            f"""a{r} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
             list_dot_product(c.cvec, c.cvec)
               - 2 * list_dot_product(v.vec, c.cvec), c.cid) AS rn
    FROM v CROSS JOIN c{r - 1} c
  ) WHERE rn = 1
),
s{r} AS MATERIALIZED (
  SELECT a.cid, CAST(g.i AS INT) AS pos,
         CAST(SUM(CAST(FLOOR(v.vec[CAST(g.i AS INT)] * {scale}.0)
                       AS BIGINT)) AS BIGINT) AS sum_micro,
         CAST(COUNT(*) AS BIGINT) AS n_members
  FROM a{r} a JOIN v USING (vec_id),
       UNNEST(generate_series(1, {dim})) g(i)
  GROUP BY a.cid, g.i
),
c{r} AS MATERIALIZED (
  SELECT cid, LIST(CAST(sum_micro AS DOUBLE)
                   / (CAST(n_members AS DOUBLE) * {scale}.0)
                   ORDER BY pos) AS cvec
  FROM s{r} GROUP BY cid
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT cid, pos, sum_micro, n_members FROM s{n_rounds}
"""
    )


@query("kmeans_lloyd", oracle=_kmeans_lloyd_oracle())
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL Lloyd k-means training loop over the embedding corpus —
    the iterative completion of kmeans_one_step: {_KM_ROUNDS} rounds of
    broadcast-argmin assignment + integer-stat centroid rebuild, final
    round's per-dimension statistics emitted as exact integers.  The
    oracle replays the entire trajectory (assignment churn between
    rounds and all), so a single vector flipping clusters in any round
    fails the hash."""
    return kmeans_lloyd_rounds(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# label propagation (community detection)
# ---------------------------------------------------------------------------


def label_propagation(edges: DataFrame, n_rounds: int = 2) -> DataFrame:
    """Synchronous label propagation over undirected (u, v) edges:
    labels start as vertex ids; each round every vertex adopts the most
    frequent label among its neighbors, ties broken by smallest label
    (the deterministic variant of Raghavan et al.'s LPA — vanilla LPA
    breaks ties randomly, which would be irreproducible across engines
    AND across reruns).

    Per round: one equi-join of labels into the (persisted) symmetric
    edge list + one (vertex, label) hash count + one per-vertex
    WindowGroupLimit argmax — all keyed shuffles, no global state.
    ``caches.iterate`` checkpoints each round.  Synchronous update +
    deterministic tie-break means the result is a pure function of the
    graph, so the 2-round registered query has a full SQL oracle.

    The input edge list is persisted before the symmetrize union (which
    consumes it twice) — when the caller passes an expensive subtree
    (the co-purchase self-join), skipping that persist re-runs it for
    both union branches."""
    with Caches() as caches:
        edges = caches.persist(edges)
        sym = caches.persist(
            edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        )
        labels = sym.select("u").distinct().select(
            F.col("u").alias("vertex"), F.col("u").alias("label")
        )

        def adopt(labels: DataFrame) -> DataFrame:
            neigh = sym.join(
                labels.withColumnRenamed("vertex", "u"), "u"
            ).select(F.col("v").alias("vertex"), "label")
            counts = neigh.groupBy("vertex", "label").agg(
                F.count(F.lit(1)).alias("n")
            )
            w = W.partitionBy("vertex").orderBy(F.desc("n"), F.asc("label"))
            return (
                counts.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select("vertex", "label")
            )

        return iterate(labels, adopt, n_rounds)


@query(
    "label_propagation_step",
    oracle="""
WITH pl AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
l1 AS (
  -- round 1 from identity labels: every neighbor label is distinct, so
  -- the most-frequent-with-min-tiebreak argmax reduces to MIN(neighbor)
  SELECT v AS vertex, MIN(u) AS label FROM sym GROUP BY v
),
n2 AS (
  SELECT sym.v AS vertex, l1.label, COUNT(*) AS n
  FROM sym JOIN l1 ON l1.vertex = sym.u
  GROUP BY 1, 2
),
l2 AS (
  SELECT vertex, label,
         ROW_NUMBER() OVER (PARTITION BY vertex
                            ORDER BY n DESC, label ASC) AS rn
  FROM n2
)
SELECT vertex, label FROM l2 WHERE rn = 1
""",
)
def label_propagation_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic label-propagation rounds over the co-purchase
    graph — the community-detection loop body (run more rounds via
    ``label_propagation(edges, n)``; labels converge to community-
    constant in a few rounds on modular graphs).  The oracle replays both
    rounds in SQL: round 1 from identity labels degenerates to
    MIN(neighbor id), round 2 is the real most-frequent-label argmax."""
    return label_propagation(copurchase_edges(spark, sf_dir), n_rounds=2)


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peeling)
# ---------------------------------------------------------------------------


def kcore(edges: DataFrame, k: int = 3, n_rounds: int | None = None) -> DataFrame:
    """Vertices of the k-core: repeatedly peel vertices with degree < k
    until none remain (``n_rounds=None``) or for a fixed round count
    (the oracle-checkable form).  Returns (vertex, degree) in the final
    surviving subgraph.

    Per round: one degree count (hash agg on vertex) + one join of the
    edge list against the degrees on EACH endpoint — all keyed shuffles;
    ``caches.iterate`` checkpoints each round.  Rounds are bounded by the
    peel depth (typically small); at 100 TB each round's edge filter is
    the dominant cost and shrinks monotonically."""
    with Caches() as caches:
        sym = caches.persist(
            edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        )

        def degrees(s: DataFrame) -> DataFrame:
            return s.where("keep").groupBy("u").agg(F.count(F.lit(1)).alias("d"))

        def peel(s: DataFrame) -> DataFrame:
            # Keep every edge of the round's input, flagged by whether both
            # endpoints survive, so the probe sees what this round peeled.
            deg = degrees(s)
            return (
                s.where("keep")
                .join(deg.select("u", F.col("d").alias("du")), "u")
                .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v")
                .select("u", "v", ((F.col("du") >= k) & (F.col("dv") >= k)).alias("keep"))
            )

        # A full peel ends within |V| rounds; the probe stops it at the first
        # round that peels nothing.
        sym = iterate(
            sym.withColumn("keep", F.lit(True)),
            peel,
            sys.maxsize if n_rounds is None else n_rounds - 1,
            until=None if n_rounds is not None else F.count(F.when(~F.col("keep"), 1)) == 0,
        )
        return degrees(sym).where(F.col("d") >= k).select(
            F.col("u").alias("vertex"), F.col("d").alias("degree")
        )


@query(
    "kcore_peel",
    oracle="""
WITH pl AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
s0 AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
d1 AS (SELECT u, COUNT(*) AS d FROM s0 GROUP BY u),
k1 AS (SELECT u FROM d1 WHERE d >= 3),
s1 AS (
  SELECT s0.u, s0.v FROM s0
  JOIN k1 a ON a.u = s0.u
  JOIN k1 b ON b.u = s0.v
),
d2 AS (SELECT u, COUNT(*) AS d FROM s1 GROUP BY u)
SELECT u AS vertex, CAST(d AS BIGINT) AS degree
FROM d2 WHERE d >= 3
""",
)
def kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two peel rounds of 3-core decomposition on the co-purchase graph
    (the loop body of the full ``kcore(edges, k)`` driver; k-cores are
    the standard dense-subgraph/community-seed primitive).  The oracle
    replays both rounds: degree count, peel < 3, induced-subgraph degree
    recount, peel again."""
    return kcore(copurchase_edges(spark, sf_dir), k=3, n_rounds=2)


@query(
    "link_prediction_common_neighbors",
    oracle="""
WITH pl AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
centers AS (
  SELECT sym.u AS w, sym.v FROM sym JOIN deg ON deg.u = sym.u
  WHERE deg.d <= 64
),
wedges AS (
  SELECT s1.v AS a, s2.v AS b, CAST(COUNT(*) AS BIGINT) AS common_neighbors
  FROM centers s1 JOIN centers s2 ON s1.w = s2.w
  WHERE s1.v < s2.v
  GROUP BY 1, 2
)
SELECT w.a, w.b, w.common_neighbors
FROM wedges w
WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.u = w.a AND e0.v = w.b)
ORDER BY w.common_neighbors DESC, w.a, w.b
LIMIT 50
""",
)
def link_prediction_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the co-purchase graph: the
    top-50 NON-adjacent part pairs ranked by shared neighbors — the
    classic "you may also like" / missing-edge scorer (Liben-Nowell &
    Kleinberg), and the recommendation dual of triangle_count (a
    predicted link is a wedge that never closed).

    Scale shape: wedge enumeration joins the symmetric adjacency with
    itself on the CENTER vertex, so cost is sum(deg(w)^2) — the same
    blow-up triangle counting has, bounded here the way the dedup
    family bounds hot buckets: centers with degree > 64 are dropped
    (a hub that co-occurs with everything predicts nothing — its
    wedges are pure noise, exactly the df-cap argument from
    dedup_ngram_jaccard).  The raw edge list is persisted (the
    symmetrize union + degree count + existing-edge anti join all read
    it); candidate pairs come ONLY from wedges — no all-pairs stage
    exists; the anti join removes already-connected pairs on the
    (a, b) key; top-50 is TakeOrderedAndProject.  Caches live until
    the session's next clearCache (bench.py clears between queries)."""
    e0 = copurchase_edges(spark, sf_dir).persist()
    sym = e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    centers = (
        sym.join(deg.where(F.col("d") <= 64), "u")
        .select(F.col("u").alias("w"), "v")
    )
    s1 = centers.select("w", F.col("v").alias("a"))
    s2 = centers.select("w", F.col("v").alias("b"))
    wedges = (
        s1.join(s2, "w")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    open_pairs = wedges.join(
        e0.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return open_pairs.orderBy(
        F.desc("common_neighbors"), F.asc("a"), F.asc("b")
    ).limit(50)


@query(
    "recursive_cte_reachability",
    oracle="""
WITH RECURSIVE pl AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
reach(pk, hop) AS (
  SELECT (SELECT u FROM deg ORDER BY d DESC, u LIMIT 1) AS pk, 0 AS hop
  UNION ALL
  SELECT e.v AS pk, r.hop + 1
  FROM reach r JOIN e ON e.u = r.pk
  WHERE r.hop < 3
)
SELECT CAST(pk AS BIGINT) AS part_key,
       CAST(MIN(hop) AS BIGINT) AS min_hop
FROM reach
GROUP BY pk
""",
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS reachability through the SQL front door's RECURSIVE
    CTE (Spark 4's WITH RECURSIVE — the last major ANSI surface the
    registry had no row for): shortest hop distance (<= 3) from the
    highest-degree co-purchase vertex, over the same support >= 2 edge list
    every graph query shares.  The oracle is the identical WITH
    RECURSIVE in DuckDB, so the hash pins Spark's recursion semantics
    (anchor + UNION ALL step + termination predicate) against an
    independent implementation — not just the final set but the
    hop-minimum per vertex, which a missed or duplicated frontier
    expansion shifts.  Seeded at the highest-degree vertex (ties to the
    smallest id) so the frontier is non-trivial at every scale factor.

    The seed is collected as a 1-row literal (metadata-sized, the
    documented probe-literal class) because the recursive ANCHOR is
    where Spark 4.1 still rejects scalar subqueries; DuckDB's oracle
    inlines the same MIN(u) as a scalar subquery — both engines
    compute the identical seed from the identical edge definition.

    Scale shape: each recursion level is one equi-join of the current
    frontier against the (persisted) edge list + the final MIN/GROUP BY
    — exactly the iterative-DataFrame BFS shape (pagerank_rounds)
    expressed declaratively; hop-bounded UNION ALL is the demo form,
    and the docstring-pinned production form dedups each frontier
    against the visited set (UNION-distinct recursion / the
    pagerank_rounds loop) so path multiplicity never materializes."""
    e0 = copurchase_edges(spark, sf_dir)
    e = e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    seed = (
        e.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.desc("d"), F.asc("u"))
        .limit(1)
        .collect()[0][0]
    )  # 1-row probe literal (documented metadata-sized collect class)
    e.createOrReplaceTempView("copurchase_sym_edges")
    return spark.sql(
        f"""
        WITH RECURSIVE reach(pk, hop) AS (
          SELECT CAST({int(seed)} AS BIGINT) AS pk, 0 AS hop
          UNION ALL
          SELECT e.v AS pk, r.hop + 1
          FROM reach r JOIN copurchase_sym_edges e ON e.u = r.pk
          WHERE r.hop < 3
        )
        SELECT CAST(pk AS BIGINT) AS part_key,
               CAST(MIN(hop) AS BIGINT) AS min_hop
        FROM reach
        GROUP BY pk
        """
    )


@query(
    "reachability_frontier_bfs",
    oracle="""
WITH RECURSIVE pl AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
reach(pk, hop) AS (
  SELECT (SELECT u FROM deg ORDER BY d DESC, u LIMIT 1) AS pk, 0 AS hop
  UNION
  SELECT e.v AS pk, r.hop + 1
  FROM reach r JOIN e ON e.u = r.pk
  WHERE r.hop < 6
)
SELECT CAST(pk AS BIGINT) AS part_key,
       CAST(MIN(hop) AS BIGINT) AS min_hop
FROM reach
GROUP BY pk
""",
)
def reachability_frontier_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of recursive reachability (the demo form is
    recursive_cte_reachability, which pins Spark's WITH RECURSIVE
    semantics): an explicit frontier-dedup BFS loop with a visited-set
    anti-join, to hop 6 — twice the demo's depth, affordable precisely
    because no path multiplicity ever materializes.  The hop-bounded
    UNION ALL demo carries one row per PATH, which explodes
    combinatorially on a denser graph (its 300x cell is
    edge-derivation-dominated only at fixture density); here each round
    is frontier JOIN edges -> distinct -> anti-join visited, so every
    round's working set is bounded by |V| regardless of density or
    depth — the pagerank_rounds iterative shape applied to reachability.

    The DuckDB oracle is the UNION-distinct (not UNION ALL) recursive
    CTE — DuckDB's recurring union dedups each step against all rows
    produced so far, which is exactly the visited-set semantics, so the
    hash pins the loop against an independent engine's native
    frontier-dedup recursion (distinct (pk, hop) pairs; MIN collapses
    revisits at later hops).

    ``caches.iterate`` checkpoints each round's visited set (pk, hop,
    new), flagging the hop's frontier as ``new``; the loop stops at the
    first round that adds no vertex, read from that round's checkpoint.
    The seed collect is metadata-sized (1 row).  Scale shape per round:
    one (u)-keyed equi-join of a <=|V|-row frontier against the edge list
    + one |V|-bounded anti-join — at 100 TB the frontier/visited sides
    broadcast and the edge list never re-shuffles."""
    e0 = copurchase_edges(spark, sf_dir)
    e = (
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=True)
    )
    seed = (
        e.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.desc("d"), F.asc("u"))
        .limit(1)
        .collect()[0][0]
    )  # 1-row probe literal (documented metadata-sized collect class)

    def expand(visited: DataFrame) -> DataFrame:
        frontier = visited.where("new")
        nxt = (
            frontier.join(e, frontier["pk"] == e["u"])
            .select(F.col("v").alias("pk"), (F.col("hop") + 1).alias("hop"))
            .distinct()
            .join(visited.select("pk"), "pk", "left_anti")
        )
        return visited.select("pk", "hop", F.lit(False).alias("new")).unionByName(
            nxt.withColumn("new", F.lit(True))
        )

    visited = iterate(
        spark.range(1).select(
            F.lit(int(seed)).cast("long").alias("pk"),
            F.lit(0).alias("hop"),
            F.lit(True).alias("new"),
        ),
        expand,
        6,
        until=F.count(F.when(F.col("new"), 1)) == 0,
    )
    return visited.select(
        F.col("pk").cast("long").alias("part_key"),
        F.col("hop").cast("long").alias("min_hop"),
    )


# ---------------------------------------------------------------------------
# logistic-regression training (full-batch GD, integer gradient statistics)
# ---------------------------------------------------------------------------

_LR_ROUNDS = 4
_LR_DIM = 8  # embedding dims used as features; +1 intercept = 9 weights
_LR_SCALE = 1000000
_LR_STEP = 0.5  # power of two: scaling by it is IEEE-exact


def _logreg_sigmoid(z):
    """Algebraic sigmoid 0.5*(1 + z/(1+|z|)) (Elliott 1993's fast
    sigmoid).  Chosen over exp-based logistic deliberately: +,-,*,/ and
    abs are correctly-rounded under IEEE 754 in every engine, while
    ``exp`` is NOT required to be correctly rounded — Java's intrinsic
    and DuckDB's libm can differ in the last ulp, which a FLOOR
    quantization then amplifies into a hash mismatch.  The trajectory
    stays a pure IEEE-arithmetic function of the input, replayable bit
    for bit by the SQL oracle."""
    return F.lit(0.5) * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z)))


def _logreg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_vec(load_table(spark, sf_dir, "embeddings")).select(
        (F.col("label") % 2).cast("long").alias("y"),
        F.concat(
            F.array(F.lit(1.0)), F.slice(F.col("vec"), 1, _LR_DIM)
        ).alias("x"),
    )


def _logreg_grad_cols(w: list[float], dim: int = _LR_DIM) -> list:
    """Per-feature integer gradient statistics at weight vector ``w``:
    SUM(FLOOR(((p - y) * x_j) * 1e6)) as exact BIGINT — order-independent
    partials that combine map-side (the kmeans_lloyd integer-stat
    discipline applied to GD)."""
    w_arr = F.array(*[F.lit(float(wj)) for wj in w])
    z = dot(F.col("x"), w_arr)
    p = _logreg_sigmoid(z)
    resid = p - F.col("y").cast("double")
    return [
        F.sum(
            F.floor((resid * F.element_at("x", j + 1)) * float(_LR_SCALE))
        )
        .cast("long")
        .alias(f"g{j}")
        for j in range(dim + 1)
    ]


def _logreg_oracle(n_rounds: int = _LR_ROUNDS) -> str:
    """Unrolled replay of the GD trajectory: per round a gradient CTE
    (integer sums at the previous round's weights) and a weight CTE
    (one division + one exact halving per component) — identical IEEE
    expression trees to the Spark side, so every round's weights agree
    bit for bit (the _kmeans_lloyd_oracle discipline)."""
    k = _LR_DIM + 1
    ctes = [
        f"""v AS MATERIALIZED (
  SELECT CAST(label % 2 AS BIGINT) AS y,
         [CAST(1.0 AS DOUBLE)] || CAST(embedding AS DOUBLE[])[1:{_LR_DIM}] AS x
  FROM embeddings
),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
w0 AS (
  SELECT CAST(g.i AS INT) AS pos, CAST(0.0 AS DOUBLE) AS w
  FROM UNNEST(generate_series(1, {k})) g(i)
)"""
    ]
    for r in range(1, n_rounds + 1):
        ctes.append(
            f"""g{r} AS MATERIALIZED (
  SELECT CAST(g.i AS INT) AS pos,
         CAST(SUM(CAST(FLOOR(((p - CAST(y AS DOUBLE)) * x[CAST(g.i AS INT)])
                             * {_LR_SCALE}.0) AS BIGINT)) AS BIGINT) AS grad
  FROM (
    SELECT y, x, 0.5 * (1.0 + z / (1.0 + abs(z))) AS p
    FROM (
      SELECT y, x,
             list_dot_product(
               x, (SELECT LIST(w ORDER BY pos) FROM w{r - 1})) AS z
      FROM v
    )
  ), UNNEST(generate_series(1, {k})) g(i)
  GROUP BY 1
),
w{r} AS (
  SELECT p.pos,
         p.w - {_LR_STEP} * (CAST(g.grad AS DOUBLE)
                             / (CAST(nn.n AS DOUBLE) * {_LR_SCALE}.0)) AS w
  FROM w{r - 1} p JOIN g{r} g USING (pos) CROSS JOIN nn
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(g.pos AS BIGINT) AS pos,
       g.grad AS grad_micro,
       CAST(FLOOR(w.w * 1000000000.0) AS BIGINT) AS w_nano,
       nn.n AS n_rows
FROM g{n_rounds} g JOIN w{n_rounds} w USING (pos) CROSS JOIN nn
"""
    )


def logreg_gd_rounds(
    rows: DataFrame, n_rounds: int = _LR_ROUNDS, dim: int = _LR_DIM
) -> DataFrame:
    """The GD loop body over a prepared (y: long, x: array<double>[dim+1])
    DataFrame — separated from the fixture loader so tests can replay it
    on synthetic corpora against the plain-Python reference
    (tests/test_ml_loops.py::py_logreg_gd)."""
    k = dim + 1
    w = [0.0] * k
    with Caches() as caches:
        rows = caches.persist(rows)
        for _ in range(n_rounds):
            rec = rows.agg(
                *_logreg_grad_cols(w, dim=dim),
                F.count(F.lit(1)).cast("long").alias("n"),
            ).collect()[0]  # 1 row x k+1 longs: parameter-server weight sync
            n = rec["n"]
            w = [
                w[j] - _LR_STEP * (float(rec[f"g{j}"]) / (float(n) * float(_LR_SCALE)))
                for j in range(k)
            ]
    # A pandas frame crosses to the JVM as Arrow; a list of tuples would
    # be unpickled by a Python worker in every job that reads the result.
    return rows.sparkSession.createDataFrame(
        pd.DataFrame(
            [(j + 1, rec[f"g{j}"], math.floor(w[j] * 1000000000.0), n) for j in range(k)]
        ),
        "pos BIGINT, grad_micro BIGINT, w_nano BIGINT, n_rows BIGINT",
    )


@query("logreg_train_gd", oracle=_logreg_oracle())
def logreg_train_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL logistic-regression training loop — the classifier-family
    member that closes the ML-loop gap (classifier_quality_filter only
    SCORES with fixed weights; kmeans/pagerank/kcore/LPA/BPE/unigram
    all train): {_LR_ROUNDS} rounds of full-batch gradient descent on
    y = (label % 2) over the first {_LR_DIM} embedding dims plus
    intercept, with the Elliott algebraic sigmoid as the link (see
    _logreg_sigmoid for why not exp) and INTEGER gradient sufficient
    statistics (SUM of FLOOR-microquantized per-row contributions —
    exact BIGINT, order-independent) so the whole trajectory is
    hash-replayable by the unrolled DuckDB oracle, round weights and
    all.  Output: per weight position, the final round's integer
    gradient sum, the trained weight (nano-quantized), and n.

    Scale shape (the parameter-server pattern): weights live on the
    driver — each round broadcasts {_LR_DIM + 1} literals into a
    map-only scoring pass and reduces to ONE row of {_LR_DIM + 1}
    BIGINTs (metadata-sized collect, the documented probe class); the
    corpus never shuffles at all — gradient partials combine map-side,
    so the per-round exchange is k-sized at any corpus size, the same
    guarantee as kmeans_lloyd's stats aggregation.  The integer sums
    stay exact below 2^53 / 1e6 rows-x-features; beyond that, drop
    _LR_SCALE or shard the sum — documented, not silent.

    All {_LR_ROUNDS} rounds collect their gradient row and apply the one
    Python weight update; the returned frame is the final round's
    {_LR_DIM + 1} rows, built on the driver."""
    return logreg_gd_rounds(_logreg_rows(spark, sf_dir))


# ---------------------------------------------------------------------------
# Bradley-Terry pairwise-preference training (the reward-model shape)
# ---------------------------------------------------------------------------

_BT_ROUNDS = 4


def _bt_matches(spark: SparkSession, sf_dir: str):
    """(winner_idx, loser_idx) match list + the player table.

    Matches: within each order, every cross-brand line pair with
    unequal quantities — the higher-quantity line's brand wins (a
    deterministic preference signal with genuine skew: popular brands
    appear in more comparisons).  Players are the brands, indexed by
    sorted order (ROW_NUMBER) so both engines agree on idx.

    Build shape (r12 verdict task: the order-keyed SELF-JOIN shuffled
    the corpus twice and materialized every raw match row through the
    join): ONE groupBy(k).collect_list exchange co-locates each
    order's (idx, qty) lines, then a map-only higher-order pass emits
    the (w_idx, l_idx) pair codes and partially aggregates them to the
    <= K*(K-1) sufficient-stat rows in the same stage — half the
    shuffle volume, no join build, pair work still bounded by
    lines-per-order^2 exactly as before.  Pair-count identity with the
    brute-force oracle: iterating ALL ordered pairs and keeping
    x.qty > y.qty counts each unordered cross-brand unequal-qty pair
    exactly once in winner orientation, precisely what the oracle's
    pk_a < pk_b dedup + CASE-winner does (same-pk duplicates are
    same-brand, so both formulations exclude them)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_partkey").alias("pk"),
        F.col("l_quantity").alias("qty"),
    )
    pt = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), F.col("p_brand").alias("brand")
    )
    players = (
        pt.select("brand")
        .distinct()
        .select(
            "brand",
            F.row_number()
            .over(W.orderBy("brand"))
            .cast("int")
            .alias("idx"),
        )
    )
    lines = (
        li.join(pt, "pk")
        .join(F.broadcast(players), "brand")
        .select("k", "idx", "qty")
    )
    # One exchange on the order key, then pair generation + the
    # sufficient-stat collapse are MAP-SIDE: every match with the same
    # (winner, loser) pair contributes the IDENTICAL quantized residual
    # each round, so only the pair COUNT matters — <= K*(K-1) rows (600
    # here) reach the final exchange no matter how many raw matches
    # exist.  After this, every GD round is constant-size work.
    per_order = lines.groupBy("k").agg(
        F.collect_list(F.struct("idx", "qty")).alias("ls")
    )
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(ls, x -> filter(transform(ls, y -> "
                "CASE WHEN x.idx <> y.idx AND x.qty > y.qty THEN "
                "struct(x.idx AS w_idx, y.idx AS l_idx) END), "
                "p -> p IS NOT NULL)))"
            )
        ).alias("p")
    )
    m = pairs.groupBy(
        F.col("p.w_idx").alias("w_idx"), F.col("p.l_idx").alias("l_idx")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    return m, players


def _bt_exploded(m, s: list[float]):
    """Per-pair residual at strengths ``s`` exploded to per-player
    weighted integer gradient contributions: winner row
    n_pair * FLOOR(resid*1e6), loser row n_pair * FLOOR((-resid)*1e6)
    — the logreg x_j = +/-1 quantization, multiplied by the exact pair
    count (every raw match with this (w, l) pair has the identical
    quantized residual, so the weighted sum IS the per-match sum)."""
    s_arr = F.array(*[F.lit(float(v)) for v in s])
    z = F.element_at(s_arr, F.col("w_idx")) - F.element_at(
        s_arr, F.col("l_idx")
    )
    resid = _logreg_sigmoid(z) - F.lit(1.0)
    return m.select(
        F.inline(
            F.array(
                F.struct(
                    F.col("w_idx").alias("idx"),
                    (
                        F.col("n_pair")
                        * F.floor(resid * F.lit(1000000.0)).cast("long")
                    ).alias("c"),
                    F.col("n_pair"),
                ),
                F.struct(
                    F.col("l_idx").alias("idx"),
                    (
                        F.col("n_pair")
                        * F.floor((-resid) * F.lit(1000000.0)).cast("long")
                    ).alias("c"),
                    F.col("n_pair"),
                ),
            )
        )
    )


def _bt_oracle(n_rounds: int = _BT_ROUNDS) -> str:
    """Unrolled replay of the Bradley-Terry GD trajectory (the
    _logreg_oracle discipline on pairwise data): per round a residual
    CTE at the previous strengths, an integer per-player gradient CTE,
    and a strength-update CTE with identical IEEE expression trees."""
    ctes = [
        """li AS MATERIALIZED (
  SELECT l.l_orderkey AS k, l.l_partkey AS pk, p.p_brand AS brand,
         l.l_quantity AS qty
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
players AS MATERIALIZED (
  SELECT brand, CAST(ROW_NUMBER() OVER (ORDER BY brand) AS INT) AS idx
  FROM (SELECT DISTINCT p_brand AS brand FROM part)
),
m AS MATERIALIZED (
  SELECT pw.idx AS w_idx, pl.idx AS l_idx,
         CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM (
    SELECT CASE WHEN a.qty > b.qty THEN a.brand ELSE b.brand END AS w_brand,
           CASE WHEN a.qty > b.qty THEN b.brand ELSE a.brand END AS l_brand
    FROM li a JOIN li b ON a.k = b.k AND a.pk < b.pk
    WHERE a.brand <> b.brand AND a.qty <> b.qty
  ) mm
  JOIN players pw ON pw.brand = mm.w_brand
  JOIN players pl ON pl.brand = mm.l_brand
  GROUP BY 1, 2
),
nn AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n FROM m),
s0 AS (SELECT idx, CAST(0.0 AS DOUBLE) AS s FROM players)"""
    ]
    for r in range(1, n_rounds + 1):
        ctes.append(
            f"""z{r} AS (
  SELECT m.w_idx, m.l_idx, m.n_pair,
         0.5 * (1.0 + (sw.s - sl.s) / (1.0 + abs(sw.s - sl.s))) - 1.0
           AS resid
  FROM m JOIN s{r - 1} sw ON sw.idx = m.w_idx
         JOIN s{r - 1} sl ON sl.idx = m.l_idx
),
g{r} AS MATERIALIZED (
  SELECT idx, CAST(SUM(c) AS BIGINT) AS g, CAST(SUM(n_pair) AS BIGINT) AS cnt
  FROM (
    SELECT w_idx AS idx, n_pair,
           n_pair * CAST(FLOOR(resid * 1000000.0) AS BIGINT) AS c FROM z{r}
    UNION ALL
    SELECT l_idx AS idx, n_pair,
           n_pair * CAST(FLOOR((-resid) * 1000000.0) AS BIGINT) AS c FROM z{r}
  ) GROUP BY idx
),
s{r} AS (
  SELECT s.idx,
         s.s - 0.5 * (CAST(COALESCE(g.g, 0) AS DOUBLE)
                      / (CAST(nn.n AS DOUBLE) * 1000000.0)) AS s
  FROM s{r - 1} s LEFT JOIN g{r} g USING (idx) CROSS JOIN nn
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT p.brand,
       g.g AS grad_micro,
       CAST(FLOOR(s.s * 1000000000.0) AS BIGINT) AS strength_nano,
       g.cnt AS n_match_rows,
       nn.n AS n_matches
FROM g{n_rounds} g JOIN s{n_rounds} s USING (idx)
     JOIN players p USING (idx) CROSS JOIN nn
"""
    )


@query("bradley_terry_train", oracle=_bt_oracle())
def bradley_terry_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry pairwise-preference model training — the REWARD-
    MODEL shape (an RLHF reward model and an arena-style leaderboard
    are both BT fits over pairwise comparisons): {_BT_ROUNDS} rounds of
    full-batch GD on P(w beats l) = sigma(s_w - s_l) over ~1M
    within-order cross-brand quantity comparisons, 25 players.  Reuses
    the logreg machinery end to end: Elliott algebraic sigmoid
    (IEEE-portable, no exp), FLOOR-microquantized BIGINT gradient
    contributions (winner +resid, loser -resid — the x_j = +/-1
    feature encoding), driver-resident strengths synced per round.

    Scale shape: the match build is ONE order-keyed collect_list
    exchange (the self-join it replaced shuffled the corpus twice and
    pushed every raw match row through a join — r12's worst scale
    cell); pair generation runs map-side over each order's line array
    (bounded by lines-per-order^2) and collapses in the same stage to
    the SUFFICIENT STATISTIC — at most K*(K-1) = 600 (winner, loser,
    n_pair) rows, because every raw match with the same ordered pair
    has the identical quantized residual each round.  That one
    exchange is the only work that scales with match volume; every GD
    round after it is constant-size
    (600 rows x a 25-literal strength array via element_at, then a
    25-group weighted integer agg).  Every round collects its <= 25
    gradient rows and applies the one Python strength update; the
    returned frame is the final round's rows, built on the driver."""
    m, players = _bt_matches(spark, sf_dir)
    # k from the actual player table (metadata-sized collect, the
    # parameter-server probe class) — a hardcoded 25 would index
    # element_at out of range if a synthesis ever yields more brands.
    brands = dict(players.select("idx", "brand").collect())
    k = len(brands)
    s = [0.0] * k
    with Caches() as caches:
        m = caches.persist(m)
        for _ in range(_BT_ROUNDS):
            rows = (
                _bt_exploded(m, s)
                .groupBy("idx")
                .agg(
                    F.sum("c").cast("long").alias("g"),
                    F.sum("n_pair").cast("long").alias("cnt"),
                )
                .collect()
            )  # <= 25 rows: parameter-server strength sync
            n = sum(r["cnt"] for r in rows) // 2
            g = {r["idx"]: r["g"] for r in rows}
            s = [
                s[j]
                - _LR_STEP
                * (float(g.get(j + 1, 0)) / (float(n) * float(_LR_SCALE)))
                for j in range(k)
            ]
    return spark.createDataFrame(
        pd.DataFrame(
            [
                (
                    brands[r["idx"]],
                    r["g"],
                    math.floor(s[r["idx"] - 1] * 1000000000.0),
                    r["cnt"],
                    n,
                )
                for r in rows
            ]
        ),
        "brand STRING, grad_micro BIGINT, strength_nano BIGINT,"
        " n_match_rows BIGINT, n_matches BIGINT",
    )


# ---------------------------------------------------------------------------
# closed-form OLS via normal equations (one-pass distributed training)
# ---------------------------------------------------------------------------

# Shared det/solve SQL fragments: Spark evaluates them via F.expr and the
# DuckDB oracle embeds the same strings, so the IEEE expression trees are
# identical BY CONSTRUCTION (the chi2 portability argument, enforced
# syntactically).  A is the 3x3 symmetric moment matrix in quantized
# units (scale cancels in the Cramer ratio); A_i replaces column i with
# the Xty vector.
_OLS_DET = (
    "(CAST({a00} AS DOUBLE)*(CAST({a11} AS DOUBLE)*CAST({a22} AS DOUBLE)"
    " - CAST({a12} AS DOUBLE)*CAST({a21} AS DOUBLE))"
    " - CAST({a01} AS DOUBLE)*(CAST({a10} AS DOUBLE)*CAST({a22} AS DOUBLE)"
    " - CAST({a12} AS DOUBLE)*CAST({a20} AS DOUBLE))"
    " + CAST({a02} AS DOUBLE)*(CAST({a10} AS DOUBLE)*CAST({a21} AS DOUBLE)"
    " - CAST({a11} AS DOUBLE)*CAST({a20} AS DOUBLE)))"
)


def _ols_det(c):
    """det3 over column-name mapping c: keys a00..a22."""
    return _OLS_DET.format(**c)


def _ols_dets() -> dict[str, str]:
    A = {
        "a00": "m00", "a01": "m01", "a02": "m02",
        "a10": "m01", "a11": "m11", "a12": "m12",
        "a20": "m02", "a21": "m12", "a22": "m22",
    }
    out = {"det": _ols_det(A)}
    for i, col in enumerate(("b0", "b1", "b2")):
        Ai = dict(A)
        for r in range(3):
            Ai[f"a{r}{i}"] = ("b0", "b1", "b2")[r]
        out[f"det{i}"] = _ols_det(Ai)
    return out


_OLS_MOMENTS_SQL = """
  CAST(COUNT(*) AS BIGINT) * 10000 AS m00,
  CAST(SUM(CAST(FLOOR(x1 * 10000.0) AS BIGINT)) AS BIGINT) AS m01,
  CAST(SUM(CAST(FLOOR(x2 * 10000.0) AS BIGINT)) AS BIGINT) AS m02,
  CAST(SUM(CAST(FLOOR((x1 * x1) * 10000.0) AS BIGINT)) AS BIGINT) AS m11,
  CAST(SUM(CAST(FLOOR((x1 * x2) * 10000.0) AS BIGINT)) AS BIGINT) AS m12,
  CAST(SUM(CAST(FLOOR((x2 * x2) * 10000.0) AS BIGINT)) AS BIGINT) AS m22,
  CAST(SUM(CAST(FLOOR(y * 10000.0) AS BIGINT)) AS BIGINT) AS b0,
  CAST(SUM(CAST(FLOOR((x1 * y) * 10000.0) AS BIGINT)) AS BIGINT) AS b1,
  CAST(SUM(CAST(FLOOR((x2 * y) * 10000.0) AS BIGINT)) AS BIGINT) AS b2,
  CAST(COUNT(*) AS BIGINT) AS n_rows
"""


def _ols_oracle() -> str:
    d = _ols_dets()
    return f"""
WITH r AS (
  SELECT l_quantity AS x1, l_discount AS x2, l_extendedprice AS y
  FROM lineitem
),
mom AS (
  SELECT {_OLS_MOMENTS_SQL} FROM r
)
SELECT CAST(g.i AS BIGINT) AS pos,
       CASE g.i WHEN 1 THEN b0 WHEN 2 THEN b1 ELSE b2 END AS xty_q,
       CAST(FLOOR(
         (CASE g.i WHEN 1 THEN {d["det0"]}
                   WHEN 2 THEN {d["det1"]}
                   ELSE {d["det2"]} END / {d["det"]})
         * 1000000000.0) AS BIGINT) AS w_nano,
       n_rows
FROM mom, UNNEST(generate_series(1, 3)) g(i)
"""


@query("ols_normal_equations", oracle=_ols_oracle())
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form linear-regression training via the normal equations —
    the NON-iterative member of the trainer family (logreg_train_gd and
    bradley_terry_train descend; this solves): fit
    l_extendedprice ~ 1 + l_quantity + l_discount by accumulating the
    3x3 moment matrix X'X and the vector X'y as FLOOR-microquantized
    BIGINT sums (exact, order-independent — the kmeans/logreg integer
    discipline) in ONE aggregation pass, then solving the 3x3 system by
    Cramer's rule.  The quantization scale cancels in the Cramer ratio,
    so no unquantization division ever happens; the det expressions are
    the SAME SQL strings evaluated by both engines (_OLS_DET), making
    the IEEE trees identical by construction.

    Output long-form: (pos, exact X'y component, nano-quantized weight,
    n).  On the synthetic fixtures the price column is near-independent
    of quantity, so the fit is intercept-dominated — the hash pins the
    solver, not a data story.

    Scale shape: the entire training is one map-side-combining
    aggregation to a SINGLE row of 10 BIGINTs — no iteration, no second
    pass, no shuffle beyond the 1-row final combine; the solve is a
    constant-size projection on that row.  This is the d^2-moments
    pattern that trains any linear model in one pass while d^2 fits in
    a task (embedding_gram_matrix is its d=64 cousin).  Overflow
    margin: the largest moment (b1 = SUM(FLOOR((x1*y)*1e4))) sums
    ~1.3e10/row, exact to ~7e8 rows (measured 2.4e18 at the 300x
    synthesis's 1.8e8 rows); past that, drop the product quantization a
    decade (the cuped_variance_reduction unit^2 rescale) — documented,
    not silent."""
    r = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_quantity AS x1", "l_discount AS x2", "l_extendedprice AS y"
    )
    mom = r.selectExpr("x1", "x2", "y").groupBy().agg(
        F.expr("CAST(COUNT(*) AS BIGINT) * 10000").alias("m00"),
        F.expr("SUM(CAST(FLOOR(x1 * 10000.0) AS BIGINT))").cast("long").alias("m01"),
        F.expr("SUM(CAST(FLOOR(x2 * 10000.0) AS BIGINT))").cast("long").alias("m02"),
        F.expr("SUM(CAST(FLOOR((x1 * x1) * 10000.0) AS BIGINT))").cast("long").alias("m11"),
        F.expr("SUM(CAST(FLOOR((x1 * x2) * 10000.0) AS BIGINT))").cast("long").alias("m12"),
        F.expr("SUM(CAST(FLOOR((x2 * x2) * 10000.0) AS BIGINT))").cast("long").alias("m22"),
        F.expr("SUM(CAST(FLOOR(y * 10000.0) AS BIGINT))").cast("long").alias("b0"),
        F.expr("SUM(CAST(FLOOR((x1 * y) * 10000.0) AS BIGINT))").cast("long").alias("b1"),
        F.expr("SUM(CAST(FLOOR((x2 * y) * 10000.0) AS BIGINT))").cast("long").alias("b2"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    d = _ols_dets()
    rows = []
    for i in range(3):
        rows.append(
            F.struct(
                F.lit(i + 1).cast("long").alias("pos"),
                F.col(("b0", "b1", "b2")[i]).alias("xty_q"),
                F.expr(
                    f"CAST(FLOOR(({d[f'det{i}']} / {d['det']})"
                    " * 1000000000.0) AS BIGINT)"
                ).alias("w_nano"),
                F.col("n_rows"),
            )
        )
    return mom.select(F.inline(F.array(*rows)))


# ---------------------------------------------------------------------------
# ALS half-step: per-item closed-form ridge solve at fixed user factors
# ---------------------------------------------------------------------------

# 2x2 Cramer fragments shared verbatim by Spark (F.expr) and the DuckDB
# oracle — identical IEEE trees by construction (_OLS_DET discipline).
# Quantized units throughout: A = X'X*1e4 + lambda*1e4*I, b = X'y*1e4;
# the 1e4 cancels in the ratio.
_ALS_DET = (
    "(CAST(a11 AS DOUBLE)*CAST(a22 AS DOUBLE)"
    " - CAST(a12 AS DOUBLE)*CAST(a12 AS DOUBLE))"
)
_ALS_V1 = (
    "((CAST(b1 AS DOUBLE)*CAST(a22 AS DOUBLE)"
    f" - CAST(b2 AS DOUBLE)*CAST(a12 AS DOUBLE)) / {_ALS_DET})"
)
_ALS_V2 = (
    "((CAST(a11 AS DOUBLE)*CAST(b2 AS DOUBLE)"
    f" - CAST(a12 AS DOUBLE)*CAST(b1 AS DOUBLE)) / {_ALS_DET})"
)
_ALS_RATINGS_SQL = """
  SELECT l.l_partkey AS item,
         CAST(1.0 AS DOUBLE) AS fu1,
         CAST(o.o_custkey % 7 AS DOUBLE) / 7.0 AS fu2,
         l.l_quantity AS r
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
"""
_ALS_MOM_SQL = """
  SELECT item,
         CAST(COUNT(*) AS BIGINT) * 10000 + 1000 AS a11,
         CAST(SUM(CAST(FLOOR(fu2 * 10000.0) AS BIGINT)) AS BIGINT) AS a12,
         CAST(SUM(CAST(FLOOR((fu2 * fu2) * 10000.0) AS BIGINT)) AS BIGINT)
           + 1000 AS a22,
         CAST(SUM(CAST(FLOOR(r * 10000.0) AS BIGINT)) AS BIGINT) AS b1,
         CAST(SUM(CAST(FLOOR((fu2 * r) * 10000.0) AS BIGINT)) AS BIGINT) AS b2,
         CAST(COUNT(*) AS BIGINT) AS n_ratings
"""


@query(
    "als_one_round",
    oracle=f"""
WITH r AS ({_ALS_RATINGS_SQL}),
mom AS ({_ALS_MOM_SQL} FROM r GROUP BY item)
SELECT CAST(item AS BIGINT) AS item, n_ratings,
       CAST(FLOOR({_ALS_V1} * 1000000000.0) AS BIGINT) AS v1_nano,
       CAST(FLOOR({_ALS_V2} * 1000000000.0) AS BIGINT) AS v2_nano
FROM mom
""",
)
def als_one_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One alternating-least-squares half-step — the matrix-
    factorization trainer family member (Spark MLlib's flagship
    recommender is exactly this loop): with rank-2 user factors held
    fixed (a deterministic literal function of the customer key), solve
    every item's factor vector in CLOSED FORM via the per-item 2x2
    ridge normal equations (lambda = 0.1 on the quantized diagonal),
    over quantity ratings from the order-lineitem join.  Per-item
    moments are FLOOR-microquantized BIGINT sums; the 2x2 Cramer solve
    shares its SQL strings verbatim with the DuckDB oracle
    (identical IEEE trees, the _OLS_DET discipline).

    This pins the distributed shape of a full ALS implementation: each
    half-step is ONE groupBy(item) of rank^2+rank integer partials
    (map-side combined — the exchange carries 5 BIGINTs per item, never
    ratings), then a constant-size per-item solve; the user half-step
    is the mirror image keyed on user.  Iterating alternately is the
    production loop; one half-step is what a hash can pin without
    driver-resident factor sync.

    Scale: exchange is item-cardinality-sized regardless of rating
    count; no broadcast needed because the fixed factors are a literal
    expression of the key, which is how a real ALS keeps the fixed side
    co-partitioned instead of shuffling it."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_partkey").alias("item"),
        F.col("l_quantity").alias("r"),
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("cust")
    )
    ratings = li.join(od, "k").selectExpr(
        "item",
        "CAST(1.0 AS DOUBLE) AS fu1",
        "CAST(cust % 7 AS DOUBLE) / 7.0 AS fu2",
        "r",
    )
    mom = ratings.groupBy("item").agg(
        F.expr("CAST(COUNT(*) AS BIGINT) * 10000 + 1000").alias("a11"),
        F.expr("SUM(CAST(FLOOR(fu2 * 10000.0) AS BIGINT))")
        .cast("long")
        .alias("a12"),
        F.expr(
            "SUM(CAST(FLOOR((fu2 * fu2) * 10000.0) AS BIGINT)) + 1000"
        )
        .cast("long")
        .alias("a22"),
        F.expr("SUM(CAST(FLOOR(r * 10000.0) AS BIGINT))")
        .cast("long")
        .alias("b1"),
        F.expr("SUM(CAST(FLOOR((fu2 * r) * 10000.0) AS BIGINT))")
        .cast("long")
        .alias("b2"),
        F.count(F.lit(1)).cast("long").alias("n_ratings"),
    )
    return mom.select(
        F.col("item").cast("long").alias("item"),
        "n_ratings",
        F.expr(f"CAST(FLOOR({_ALS_V1} * 1000000000.0) AS BIGINT)").alias(
            "v1_nano"
        ),
        F.expr(f"CAST(FLOOR({_ALS_V2} * 1000000000.0) AS BIGINT)").alias(
            "v2_nano"
        ),
    )


# ---------------------------------------------------------------------------
# full alternating ALS: complete item/user alternations (r12 verdict
# task 4 — the trainer family's remaining half-step)
# ---------------------------------------------------------------------------

_ALS_ALT_ROUNDS = 2  # full alternations: item solve + user solve each

# General per-key ridge moments (f1 no longer the constant 1.0 of the
# half-step, so a11 is a real sum).  SHARED SQL strings: Spark evaluates
# each entry via F.expr inside the agg and the DuckDB oracle embeds the
# identical text — same IEEE trees by construction (_OLS_DET
# discipline).  Every cross-engine sum is an exact BIGINT of
# FLOOR-quantized per-rating contributions, so partials combine
# map-side and the exchange order never matters.
_ALS_ALT_MOM = {
    "a11": (
        "CAST(SUM(CAST(FLOOR((f1 * f1) * 10000.0) AS BIGINT)) AS BIGINT)"
        " + 1000"
    ),
    "a12": "CAST(SUM(CAST(FLOOR((f1 * f2) * 10000.0) AS BIGINT)) AS BIGINT)",
    "a22": (
        "CAST(SUM(CAST(FLOOR((f2 * f2) * 10000.0) AS BIGINT)) AS BIGINT)"
        " + 1000"
    ),
    "b1": "CAST(SUM(CAST(FLOOR((f1 * rt) * 10000.0) AS BIGINT)) AS BIGINT)",
    "b2": "CAST(SUM(CAST(FLOOR((f2 * rt) * 10000.0) AS BIGINT)) AS BIGINT)",
    "n_ratings": "CAST(COUNT(*) AS BIGINT)",
}
# Solved factors are nano-quantized to BIGINT between half-steps, and the
# NEXT half-step consumes CAST(p AS DOUBLE)/1e9 — one correctly-rounded
# divide of an integer both engines hold exactly, so the doubles feeding
# every subsequent FLOOR are bit-identical cross-engine.
_ALS_P1 = f"CAST(FLOOR({_ALS_V1} * 1000000000.0) AS BIGINT)"
_ALS_P2 = f"CAST(FLOOR({_ALS_V2} * 1000000000.0) AS BIGINT)"
_ALS_F1 = "(CAST(p1 AS DOUBLE) / 1000000000.0)"
_ALS_F2 = "(CAST(p2 AS DOUBLE) / 1000000000.0)"


def _als_alt_oracle(n_alt: int = _ALS_ALT_ROUNDS) -> str:
    """Unrolled-CTE replay of the full alternation (the _logreg_oracle
    discipline): per half-step a moment CTE, a solved+quantized factor
    CTE, and a ratings-rejoin CTE at the new factors."""
    mom_cols = ",\n         ".join(
        f"{e} AS {n}" for n, e in _ALS_ALT_MOM.items()
    )
    ctes = [
        """r AS MATERIALIZED (
  SELECT o.o_custkey AS usr, l.l_partkey AS item, l.l_quantity AS rt
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
r0 AS (
  SELECT usr, item, rt, CAST(1.0 AS DOUBLE) AS f1,
         CAST(usr % 7 AS DOUBLE) / 7.0 AS f2
  FROM r
)"""
    ]
    prev = "r0"
    steps = [
        (side, key)
        for _ in range(n_alt)
        for side, key in (("v", "item"), ("u", "usr"))
    ]
    for i, (side, key) in enumerate(steps):
        step = f"{side}{i // 2 + 1}"
        ctes.append(
            f"""{step}m AS (
  SELECT {key}, {mom_cols}
  FROM {prev} GROUP BY {key}
),
{step} AS MATERIALIZED (
  SELECT {key}, n_ratings, {_ALS_P1} AS p1, {_ALS_P2} AS p2 FROM {step}m
)"""
        )
        if i + 1 < len(steps):
            ctes.append(
                f"""r_{step} AS (
  SELECT r.usr, r.item, r.rt, {_ALS_F1} AS f1, {_ALS_F2} AS f2
  FROM r JOIN {step} USING ({key})
)"""
            )
            prev = f"r_{step}"
    last = f"u{n_alt}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(usr AS BIGINT) AS user_id, n_ratings,
       p1 AS u1_nano, p2 AS u2_nano
FROM {last}
"""
    )


@query("als_alternating", oracle=_als_alt_oracle())
def als_alternating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL alternating least squares — {_ALS_ALT_ROUNDS} complete
    alternations (item solve at current user factors, then user solve
    at the new item factors), completing the trainer family's one
    remaining half-step (als_one_round pins a single item solve; this
    is the production loop Spark MLlib's recommender runs).  Rank-2
    ridge (lambda = 0.1 on the quantized diagonal), quantity ratings
    from the order-lineitem join, user factors initialized to the
    half-step's deterministic literal (1, (usr % 7)/7).

    Hash portability: each half-step's moments are FLOOR-quantized
    BIGINT sums (exact, order-independent), each solved factor is
    nano-quantized to a BIGINT before the next half-step consumes it
    as CAST(p AS DOUBLE)/1e9 — so the whole four-half-step trajectory
    is bit-replayable by the unrolled DuckDB oracle, with the moment
    and Cramer SQL strings shared verbatim between engines.

    Scale shape: per half-step, ONE keyed join of ratings with the
    factor-table-being-held-fixed (item- or user-cardinality of 2
    BIGINTs — broadcast at fixture scale, keyed shuffle co-located
    with the following agg at 100 TB) and ONE groupBy whose exchange
    carries 5 BIGINT moments + a count per key, never ratings; the
    per-key solve is a constant-size projection.  Output: final-round
    user factors (user-cardinality table)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_partkey").alias("item"),
        F.col("l_quantity").alias("rt"),
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("usr")
    )
    ratings = li.join(od, "k").select("usr", "item", "rt")
    cur = ratings.selectExpr(
        "usr",
        "item",
        "rt",
        "CAST(1.0 AS DOUBLE) AS f1",
        "CAST(usr % 7 AS DOUBLE) / 7.0 AS f2",
    )
    n_steps = 2 * _ALS_ALT_ROUNDS
    fac = None
    for i in range(n_steps):
        key = "item" if i % 2 == 0 else "usr"
        mom = cur.groupBy(key).agg(
            *[F.expr(e).alias(n) for n, e in _ALS_ALT_MOM.items()]
        )
        fac = mom.select(
            key,
            "n_ratings",
            F.expr(_ALS_P1).alias("p1"),
            F.expr(_ALS_P2).alias("p2"),
        )
        if i + 1 < n_steps:
            cur = ratings.join(fac.select(key, "p1", "p2"), key).selectExpr(
                "usr",
                "item",
                "rt",
                f"{_ALS_F1} AS f1",
                f"{_ALS_F2} AS f2",
            )
    return fac.select(
        F.col("usr").cast("long").alias("user_id"),
        "n_ratings",
        F.col("p1").alias("u1_nano"),
        F.col("p2").alias("u2_nano"),
    )


# ---------------------------------------------------------------------------
# histogram-split decision tree (greedy depth 2) — the GBDT building block
# ---------------------------------------------------------------------------

# Shared SQL fragments (the _OLS_DET discipline).  Feature binning is
# integral (quantity is already whole; discount is a 0..10 percent
# bucket), the target is cent-quantized BIGINT, and the variance-gain
# score is the classic SSE-reduction identity sum_L^2/n_L + sum_R^2/n_R
# - sum^2/n over EXACT integer sufficient statistics — the LightGBM /
# XGBoost histogram method (Ke et al. 2017), whose whole point is that a
# bounded-width (feature x bin) histogram is a sufficient statistic for
# the best split.
_TREE_B1 = "CAST(l_quantity AS BIGINT)"
_TREE_B2 = "CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT)"
_TREE_Y = "CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)"
# Columns: nl/sl cumulative count/sum through bin b, nt/st node totals.
# All four are exact BIGINTs; the doubles below are therefore
# bit-identical across engines (exact-in-double to ~2^53 cents — ~9e13
# dollars per node, documented headroom).
_TREE_GAIN = (
    "((CAST(sl AS DOUBLE)*CAST(sl AS DOUBLE))/CAST(nl AS DOUBLE)"
    " + (CAST(st - sl AS DOUBLE)*CAST(st - sl AS DOUBLE))"
    "/CAST(nt - nl AS DOUBLE)"
    " - (CAST(st AS DOUBLE)*CAST(st AS DOUBLE))/CAST(nt AS DOUBLE))"
)
_TREE_GAIN_Q = f"CAST(FLOOR({_TREE_GAIN}) AS BIGINT)"


def _tree_best_split(hist):
    """Best (feature, threshold) per node from a (node, f, b, n, s)
    histogram: cumulative left stats per (node, f) in bin order,
    candidates where the right side is nonempty, variance gain in
    quantized cents^2, argmax with deterministic (gain, f, b)
    tie-break.  Everything here runs on the metadata-sized histogram
    (nodes x features x bins rows), never the corpus."""
    w_cum = W.partitionBy("node", "f").orderBy("b").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_tot = W.partitionBy("node", "f")
    cand = hist.select(
        "node",
        "f",
        "b",
        F.sum("n").over(w_cum).cast("long").alias("nl"),
        F.sum("s").over(w_cum).cast("long").alias("sl"),
        F.sum("n").over(w_tot).cast("long").alias("nt"),
        F.sum("s").over(w_tot).cast("long").alias("st"),
    ).where(F.col("nl") < F.col("nt"))
    scored = cand.select(
        "node",
        "f",
        "b",
        "nl",
        "sl",
        "nt",
        "st",
        F.expr(_TREE_GAIN_Q).alias("gain_q"),
    )
    w_pick = W.partitionBy("node").orderBy(
        F.desc("gain_q"), F.asc("f"), F.asc("b")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_pick))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def _tree_hist(long_df):
    return long_df.groupBy("node", "f", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yq").cast("long").alias("s"),
    )


def _tree_long(df):
    return df.selectExpr(
        "node",
        "stack(2, CAST(1 AS BIGINT), b1, CAST(2 AS BIGINT), b2) AS (f, b)",
        "yq",
    )


_TREE_ORACLE = f"""
WITH r0 AS (
  SELECT {_TREE_B1} AS b1, {_TREE_B2} AS b2, {_TREE_Y} AS yq FROM lineitem
),
l0 AS (
  SELECT CAST(0 AS BIGINT) AS node, CAST(1 AS BIGINT) AS f, b1 AS b, yq
  FROM r0
  UNION ALL
  SELECT CAST(0 AS BIGINT), CAST(2 AS BIGINT), b2, yq FROM r0
),
h0 AS (
  SELECT node, f, b, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(yq) AS BIGINT) AS s
  FROM l0 GROUP BY 1, 2, 3
),
c0 AS (
  SELECT node, f, b,
         CAST(SUM(n) OVER (PARTITION BY node, f ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS nl,
         CAST(SUM(s) OVER (PARTITION BY node, f ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sl,
         CAST(SUM(n) OVER (PARTITION BY node, f) AS BIGINT) AS nt,
         CAST(SUM(s) OVER (PARTITION BY node, f) AS BIGINT) AS st
  FROM h0
),
p0 AS (
  SELECT node, f, b, nl, nt, gain_q FROM (
    SELECT node, f, b, nl, nt, {_TREE_GAIN_Q} AS gain_q,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY {_TREE_GAIN_Q} DESC, f, b) AS rn
    FROM c0 WHERE nl < nt
  ) WHERE rn = 1
),
r2 AS (
  SELECT CASE WHEN (p.f = 1 AND r.b1 <= p.b) OR (p.f = 2 AND r.b2 <= p.b)
              THEN CAST(1 AS BIGINT) ELSE CAST(2 AS BIGINT) END AS node,
         r.b1, r.b2, r.yq
  FROM r0 r CROSS JOIN p0 p
),
l2 AS (
  SELECT node, CAST(1 AS BIGINT) AS f, b1 AS b, yq FROM r2
  UNION ALL
  SELECT node, CAST(2 AS BIGINT), b2, yq FROM r2
),
h2 AS (
  SELECT node, f, b, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(yq) AS BIGINT) AS s
  FROM l2 GROUP BY 1, 2, 3
),
c2 AS (
  SELECT node, f, b,
         CAST(SUM(n) OVER (PARTITION BY node, f ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS nl,
         CAST(SUM(s) OVER (PARTITION BY node, f ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sl,
         CAST(SUM(n) OVER (PARTITION BY node, f) AS BIGINT) AS nt,
         CAST(SUM(s) OVER (PARTITION BY node, f) AS BIGINT) AS st
  FROM h2
),
p2 AS (
  SELECT node, f, b, nl, nt, gain_q FROM (
    SELECT node, f, b, nl, nt, {_TREE_GAIN_Q} AS gain_q,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY {_TREE_GAIN_Q} DESC, f, b) AS rn
    FROM c2 WHERE nl < nt
  ) WHERE rn = 1
)
SELECT node, f AS split_feature, b AS split_bin, nl AS n_left,
       nt AS n_node, gain_q
FROM p0
UNION ALL
SELECT node, f, b, nl, nt, gain_q FROM p2
"""


@query("decision_tree_histogram_train", oracle=_TREE_ORACLE)
def decision_tree_histogram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy depth-2 regression tree via HISTOGRAM split finding — the
    GBDT building block (LightGBM/XGBoost's histogram method, Ke et
    al. 2017; a training-data pipeline distills quality classifiers
    with exactly this trainer): fit l_extendedprice against integral
    bins of l_quantity (50 bins) and l_discount (11 percent buckets),
    choosing each node's best (feature, threshold) by variance gain
    (SSE reduction) computed from integer histogram sufficient
    statistics; then split the root and repeat per child.  Output: one
    row per node (0 = root, 1/2 = left/right child) with its chosen
    split, left/total counts, and the quantized gain.

    Entirely IN-PLAN (no driver weight sync, unlike the GD trainers):
    the root decision is itself a 1-row table crossed back into the
    row stream, so the driver's noop-sink execution exercises both
    levels and the unrolled DuckDB oracle replays the identical
    algebra — integer histograms, shared _TREE_GAIN IEEE tree,
    (gain, f, b) argmax tie-break.

    Scale shape: each level is ONE corpus pass collapsing map-side to
    a (nodes x features x bins) histogram (<= ~244 rows here) — the
    exchange carries 2 BIGINTs per histogram cell, never rows; split
    scoring/argmax are window passes over that metadata-sized table;
    the level-2 node assignment is a 1-row broadcast cross
    (whitelisted scalar class).  Depth d costs d passes with
    2^d x features x bins cells — at 100 TB the histogram stays
    kilobytes while the corpus never shuffles."""
    r0 = load_table(spark, sf_dir, "lineitem").selectExpr(
        f"{_TREE_B1} AS b1", f"{_TREE_B2} AS b2", f"{_TREE_Y} AS yq"
    )
    root = _tree_best_split(
        _tree_hist(_tree_long(r0.withColumn("node", F.lit(0).cast("long"))))
    )
    r2 = r0.crossJoin(
        F.broadcast(
            root.select(F.col("f").alias("rf"), F.col("b").alias("rb"))
        )
    ).select(
        F.when(
            ((F.col("rf") == 1) & (F.col("b1") <= F.col("rb")))
            | ((F.col("rf") == 2) & (F.col("b2") <= F.col("rb"))),
            F.lit(1),
        )
        .otherwise(F.lit(2))
        .cast("long")
        .alias("node"),
        "b1",
        "b2",
        "yq",
    )
    children = _tree_best_split(_tree_hist(_tree_long(r2)))
    out = root.unionByName(children)
    return out.select(
        "node",
        F.col("f").alias("split_feature"),
        F.col("b").alias("split_bin"),
        F.col("nl").alias("n_left"),
        F.col("nt").alias("n_node"),
        "gain_q",
    )


# ---------------------------------------------------------------------------
# gradient-boosted stumps: sequential residual boosting over the
# histogram machinery above
# ---------------------------------------------------------------------------

_GBDT_ROUNDS = 3
# Leaf predictions: floor of the residual mean as a double ratio of
# exact BIGINTs — NOT integral DIV, because residual sums go negative
# and Spark's div truncates toward zero while // floors; the
# double-floor form is identical on both engines (exact-in-double
# operands, correctly rounded divide, floor).
_GBDT_MEAN_L = "CAST(FLOOR(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)) AS BIGINT)"
_GBDT_MEAN_R = (
    "CAST(FLOOR(CAST(st - sl AS DOUBLE) / CAST(nt - nl AS DOUBLE)) AS BIGINT)"
)


def _gbdt_oracle(rounds: int = _GBDT_ROUNDS) -> str:
    """Unrolled replay of the boosting trajectory: per round a
    histogram CTE, the argmax-split CTE, leaf means, and a residual
    CTE at the fitted stump."""
    ctes = [
        f"""r0 AS MATERIALIZED (
  SELECT {_TREE_B1} AS b1, {_TREE_B2} AS b2, {_TREE_Y} AS yq FROM lineitem
)"""
    ]
    for t in range(1, rounds + 1):
        prev = f"r{t - 1}"
        ctes.append(
            f"""l{t} AS (
  SELECT CAST(1 AS BIGINT) AS f, b1 AS b, yq FROM {prev}
  UNION ALL
  SELECT CAST(2 AS BIGINT), b2, yq FROM {prev}
),
h{t} AS (
  SELECT f, b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yq) AS BIGINT) AS s
  FROM l{t} GROUP BY 1, 2
),
c{t} AS (
  SELECT f, b,
         CAST(SUM(n) OVER (PARTITION BY f ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS nl,
         CAST(SUM(s) OVER (PARTITION BY f ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sl,
         CAST(SUM(n) OVER (PARTITION BY f) AS BIGINT) AS nt,
         CAST(SUM(s) OVER (PARTITION BY f) AS BIGINT) AS st
  FROM h{t}
),
m{t} AS MATERIALIZED (
  SELECT f, b, nl, nt, gain_q, {_GBDT_MEAN_L} AS ml, {_GBDT_MEAN_R} AS mr
  FROM (
    SELECT f, b, nl, sl, nt, st, {_TREE_GAIN_Q} AS gain_q,
           ROW_NUMBER() OVER (ORDER BY {_TREE_GAIN_Q} DESC, f, b) AS rn
    FROM c{t} WHERE nl < nt
  ) WHERE rn = 1
)"""
        )
        if t < rounds:
            ctes.append(
                f"""r{t} AS (
  SELECT r.b1, r.b2,
         r.yq - (CASE WHEN (m.f = 1 AND r.b1 <= m.b)
                        OR (m.f = 2 AND r.b2 <= m.b)
                 THEN m.ml ELSE m.mr END) AS yq
  FROM {prev} r CROSS JOIN m{t} m
)"""
            )
    sel = "\nUNION ALL\n".join(
        f"""SELECT CAST({t} AS BIGINT) AS round_no, f AS split_feature,
       b AS split_bin, nl AS n_left, nt AS n_node, gain_q,
       ml AS mean_left_q, mr AS mean_right_q FROM m{t}"""
        for t in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + sel


@query("gbdt_stump_boost", oracle=_gbdt_oracle())
def gbdt_stump_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted decision stumps — {_GBDT_ROUNDS} rounds of
    least-squares boosting (Friedman 2001, squared loss: each round
    fits a depth-1 histogram stump to the current residuals and
    subtracts its leaf means), the sequential-ensemble companion to
    decision_tree_histogram_train and the distilled core of the
    LightGBM/XGBoost training loop.  Output: one row per boosting
    round with its stump (feature, threshold), counts, variance gain,
    and both integer leaf predictions — gains shrink round over round
    as the signal is consumed.

    Portability: residuals stay EXACT BIGINTs (cent-quantized target
    minus integer leaf means); leaf means use the double-floor ratio
    form (see _GBDT_MEAN_L — integral DIV would truncate negative
    residual sums differently across engines); the split argmax is the
    shared _TREE_GAIN tree with (gain, f, b) tie-break — so the whole
    boosting trajectory is hash-replayable by the unrolled oracle.

    Scale shape: per round ONE corpus pass collapsing map-side to the
    (features x bins) histogram (constant-width exchange); the fitted
    stump re-enters as a 1-row broadcast cross for the residual
    update, so round t's plan chains t scans and t-1 scalar
    broadcasts — linear passes, zero corpus shuffles at any scale."""
    r = load_table(spark, sf_dir, "lineitem").selectExpr(
        f"{_TREE_B1} AS b1", f"{_TREE_B2} AS b2", f"{_TREE_Y} AS yq"
    )
    outs = []
    for t in range(1, _GBDT_ROUNDS + 1):
        stump = _tree_best_split(
            _tree_hist(
                _tree_long(r.withColumn("node", F.lit(0).cast("long")))
            )
        ).select(
            "f",
            "b",
            "nl",
            "nt",
            "gain_q",
            F.expr(_GBDT_MEAN_L).alias("ml"),
            F.expr(_GBDT_MEAN_R).alias("mr"),
        )
        outs.append(
            stump.select(
                F.lit(t).cast("long").alias("round_no"),
                F.col("f").alias("split_feature"),
                F.col("b").alias("split_bin"),
                F.col("nl").alias("n_left"),
                F.col("nt").alias("n_node"),
                "gain_q",
                F.col("ml").alias("mean_left_q"),
                F.col("mr").alias("mean_right_q"),
            )
        )
        if t < _GBDT_ROUNDS:
            r = r.crossJoin(
                F.broadcast(stump.select("f", "b", "ml", "mr"))
            ).select(
                "b1",
                "b2",
                (
                    F.col("yq")
                    - F.when(
                        ((F.col("f") == 1) & (F.col("b1") <= F.col("b")))
                        | ((F.col("f") == 2) & (F.col("b2") <= F.col("b"))),
                        F.col("ml"),
                    ).otherwise(F.col("mr"))
                ).alias("yq"),
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# logistic-loss boosted stumps (second-order / Newton boosting — the
# XGBoost objective with the Elliott sigmoid link)
# ---------------------------------------------------------------------------

_XGB_ROUNDS = 3
# Per-row probability from the accumulated nano-quantized score: the
# Elliott algebraic sigmoid (the _logreg_sigmoid portability argument —
# exp is not correctly rounded across engines; +,-,*,/,abs are), over
# snano/1e9 (exact BIGINT, one correctly-rounded divide).
_XGB_S = "(CAST(snano AS DOUBLE) / 1000000000.0)"
_XGB_P = f"(0.5 * (1.0 + {_XGB_S} / (1.0 + abs({_XGB_S}))))"
# Micro-floored gradient/hessian of logistic loss: g = p - y,
# h = p * (1 - p); Elliott keeps p strictly inside (0, 1), so every
# row's hq >= 1 at any bounded score and leaf hessian sums never
# vanish.
_XGB_GQ = f"CAST(FLOOR(({_XGB_P} - CAST(y AS DOUBLE)) * 1000000.0) AS BIGINT)"
_XGB_HQ = (
    f"CAST(FLOOR(({_XGB_P} * (1.0 - {_XGB_P})) * 1000000.0) AS BIGINT)"
)
# Newton gain and leaf values (lambda = 0): quantization cancels in
# G/H, so leaf values are in natural logit units, nano-floored.
_XGB_GAIN = (
    "((CAST(gl AS DOUBLE)*CAST(gl AS DOUBLE))/CAST(hl AS DOUBLE)"
    " + (CAST(gt - gl AS DOUBLE)*CAST(gt - gl AS DOUBLE))"
    "/CAST(ht - hl AS DOUBLE)"
    " - (CAST(gt AS DOUBLE)*CAST(gt AS DOUBLE))/CAST(ht AS DOUBLE))"
)
_XGB_GAIN_Q = f"CAST(FLOOR({_XGB_GAIN}) AS BIGINT)"
_XGB_WL = (
    "CAST(FLOOR((-(CAST(gl AS DOUBLE)) / CAST(hl AS DOUBLE))"
    " * 1000000000.0) AS BIGINT)"
)
_XGB_WR = (
    "CAST(FLOOR((-(CAST(gt - gl AS DOUBLE)) / CAST(ht - hl AS DOUBLE))"
    " * 1000000000.0) AS BIGINT)"
)
# Feature bins: the first two embedding dims in 1/25-unit buckets
# (~50 bins each for [-1, 1] components).
_XGB_BIN = "CAST(FLOOR(CAST({acc} AS DOUBLE) * 25.0) AS BIGINT)"


def _xgb_oracle(rounds: int = _XGB_ROUNDS) -> str:
    b1 = _XGB_BIN.format(acc="embedding[1]")
    b2 = _XGB_BIN.format(acc="embedding[2]")
    ctes = [
        f"""r0 AS MATERIALIZED (
  SELECT {b1} AS b1, {b2} AS b2, CAST(label % 2 AS BIGINT) AS y,
         CAST(0 AS BIGINT) AS snano
  FROM embeddings
)"""
    ]
    for t in range(1, rounds + 1):
        prev = f"r{t - 1}"
        ctes.append(
            f"""d{t} AS (
  SELECT b1, b2, y, snano, {_XGB_GQ} AS gq, {_XGB_HQ} AS hq FROM {prev}
),
l{t} AS (
  SELECT CAST(1 AS BIGINT) AS f, b1 AS b, gq, hq FROM d{t}
  UNION ALL
  SELECT CAST(2 AS BIGINT), b2, gq, hq FROM d{t}
),
h{t} AS (
  SELECT f, b, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(gq) AS BIGINT) AS g, CAST(SUM(hq) AS BIGINT) AS h
  FROM l{t} GROUP BY 1, 2
),
c{t} AS (
  SELECT f, b,
         CAST(SUM(n) OVER (PARTITION BY f ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS nl,
         CAST(SUM(g) OVER (PARTITION BY f ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS gl,
         CAST(SUM(h) OVER (PARTITION BY f ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS hl,
         CAST(SUM(n) OVER (PARTITION BY f) AS BIGINT) AS nt,
         CAST(SUM(g) OVER (PARTITION BY f) AS BIGINT) AS gt,
         CAST(SUM(h) OVER (PARTITION BY f) AS BIGINT) AS ht
  FROM h{t}
),
m{t} AS MATERIALIZED (
  SELECT f, b, nl, nt, gain_q, {_XGB_WL} AS wl, {_XGB_WR} AS wr
  FROM (
    SELECT f, b, nl, gl, hl, nt, gt, ht, {_XGB_GAIN_Q} AS gain_q,
           ROW_NUMBER() OVER (ORDER BY {_XGB_GAIN_Q} DESC, f, b) AS rn
    FROM c{t} WHERE nl < nt
  ) WHERE rn = 1
)"""
        )
        if t < rounds:
            ctes.append(
                f"""r{t} AS (
  SELECT r.b1, r.b2, r.y,
         r.snano + (CASE WHEN (m.f = 1 AND r.b1 <= m.b)
                           OR (m.f = 2 AND r.b2 <= m.b)
                    THEN m.wl ELSE m.wr END) AS snano
  FROM {prev} r CROSS JOIN m{t} m
)"""
            )
    sel = "\nUNION ALL\n".join(
        f"""SELECT CAST({t} AS BIGINT) AS round_no, f AS split_feature,
       b AS split_bin, nl AS n_left, nt AS n_node, gain_q,
       wl AS w_left_nano, wr AS w_right_nano FROM m{t}"""
        for t in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + sel


@query("gbdt_logit_boost", oracle=_xgb_oracle())
def gbdt_logit_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-loss boosted stumps with SECOND-ORDER (Newton) steps —
    the XGBoost objective (Chen & Guestrin 2016: per-split gain
    G_L^2/H_L + G_R^2/H_R - G^2/H from gradient/hessian sufficient
    statistics, leaf value -G/H), distilled to {_XGB_ROUNDS} depth-1
    rounds over the binary label (label % 2) and two binned embedding
    dims.  Completes the boosting pair: gbdt_stump_boost is the
    squared-loss regressor; this is the classifier a quality-filter
    distillation actually trains.

    Portability: per-row g/h are micro-floored BIGINTs computed from
    the Elliott sigmoid of the accumulated nano-quantized score (exact
    integer accumulation of leaf values, ONE divide before the
    sigmoid), so histograms are exact integer sums and the whole
    trajectory — splits, leaf logits, round over round — is
    hash-replayable by the unrolled oracle from shared SQL strings.

    Scale shape: identical to gbdt_stump_boost — per round one corpus
    pass collapsing map-side to a (features x bins) histogram carrying
    3 BIGINTs per cell, argmax on the metadata-sized table, a 1-row
    broadcast cross for the score update; zero corpus shuffles."""
    b1 = _XGB_BIN.format(acc="element_at(embedding, 1)")
    b2 = _XGB_BIN.format(acc="element_at(embedding, 2)")
    r = load_table(spark, sf_dir, "embeddings").selectExpr(
        f"{b1} AS b1",
        f"{b2} AS b2",
        "CAST(label % 2 AS BIGINT) AS y",
        "CAST(0 AS BIGINT) AS snano",
    )
    w_cum = W.partitionBy("f").orderBy("b").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_tot = W.partitionBy("f")
    outs = []
    for t in range(1, _XGB_ROUNDS + 1):
        d = r.selectExpr(
            "b1", "b2", f"{_XGB_GQ} AS gq", f"{_XGB_HQ} AS hq"
        )
        long_df = d.selectExpr(
            "stack(2, CAST(1 AS BIGINT), b1, CAST(2 AS BIGINT), b2)"
            " AS (f, b)",
            "gq",
            "hq",
        )
        hist = long_df.groupBy("f", "b").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("gq").cast("long").alias("g"),
            F.sum("hq").cast("long").alias("h"),
        )
        cand = hist.select(
            "f",
            "b",
            F.sum("n").over(w_cum).cast("long").alias("nl"),
            F.sum("g").over(w_cum).cast("long").alias("gl"),
            F.sum("h").over(w_cum).cast("long").alias("hl"),
            F.sum("n").over(w_tot).cast("long").alias("nt"),
            F.sum("g").over(w_tot).cast("long").alias("gt"),
            F.sum("h").over(w_tot).cast("long").alias("ht"),
        ).where(F.col("nl") < F.col("nt"))
        w_pick = W.orderBy(F.desc("gain_q"), F.asc("f"), F.asc("b"))
        stump = (
            cand.withColumn("gain_q", F.expr(_XGB_GAIN_Q))
            .withColumn("rn", F.row_number().over(w_pick))
            .where(F.col("rn") == 1)
            .select(
                "f",
                "b",
                "nl",
                "nt",
                "gain_q",
                F.expr(_XGB_WL).alias("wl"),
                F.expr(_XGB_WR).alias("wr"),
            )
        )
        outs.append(
            stump.select(
                F.lit(t).cast("long").alias("round_no"),
                F.col("f").alias("split_feature"),
                F.col("b").alias("split_bin"),
                F.col("nl").alias("n_left"),
                F.col("nt").alias("n_node"),
                "gain_q",
                F.col("wl").alias("w_left_nano"),
                F.col("wr").alias("w_right_nano"),
            )
        )
        if t < _XGB_ROUNDS:
            r = r.crossJoin(
                F.broadcast(stump.select("f", "b", "wl", "wr"))
            ).select(
                "b1",
                "b2",
                "y",
                (
                    F.col("snano")
                    + F.when(
                        ((F.col("f") == 1) & (F.col("b1") <= F.col("b")))
                        | ((F.col("f") == 2) & (F.col("b2") <= F.col("b"))),
                        F.col("wl"),
                    ).otherwise(F.col("wr"))
                ).alias("snano"),
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# multinomial Naive Bayes: train + apply + confusion matrix in one plan
# ---------------------------------------------------------------------------

# Shared log-score fragments (the zipf_fit_audit / dirichlet_lm_topk
# discipline: ln() on INTEGER-valued double inputs is a single IEEE op
# on the identical argument in both engines, then milli-floored — so
# every per-token score is an exact BIGINT and document scores are
# order-independent integer sums).
_NB_MLL = "CAST(FLOOR(ln(CAST(c + 1 AS DOUBLE)) * 1000.0) AS BIGINT)"
_NB_DENOM = "CAST(FLOOR(ln(CAST(tl + v AS DOUBLE)) * 1000.0) AS BIGINT)"
_NB_PRIOR = (
    "(CAST(FLOOR(ln(CAST(docs_l AS DOUBLE)) * 1000.0) AS BIGINT)"
    " - CAST(FLOOR(ln(CAST(nd AS DOUBLE)) * 1000.0) AS BIGINT))"
)
_NB_SCORE = "(prior_m + COALESCE(sp, CAST(0 AS BIGINT)) - n_tok * denom_m)"

_NB_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS term
  FROM documents
),
model AS (
  SELECT term, lang AS lang_m, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
),
mll AS (SELECT term, lang_m, {_NB_MLL} AS mll FROM model),
tl AS (
  SELECT lang AS lang_m, CAST(COUNT(*) AS BIGINT) AS tl
  FROM toks GROUP BY 1
),
dl AS (
  SELECT lang AS lang_m, CAST(COUNT(*) AS BIGINT) AS docs_l
  FROM documents GROUP BY 1
),
gv AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM toks),
gn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
lstats AS (
  SELECT tl.lang_m, {_NB_DENOM} AS denom_m, {_NB_PRIOR} AS prior_m
  FROM tl JOIN dl USING (lang_m) CROSS JOIN gv CROSS JOIN gn
),
sp AS (
  SELECT t.doc_id, m.lang_m, CAST(SUM(m.mll) AS BIGINT) AS sp
  FROM toks t JOIN mll m ON m.term = t.term
  GROUP BY 1, 2
),
ds AS (
  SELECT doc_id, lang AS lang_true, CAST(COUNT(*) AS BIGINT) AS n_tok
  FROM toks GROUP BY 1, 2
),
scores AS (
  SELECT ds.doc_id, ds.lang_true, l.lang_m,
         {_NB_SCORE} AS score_m
  FROM ds CROSS JOIN lstats l
  LEFT JOIN sp ON sp.doc_id = ds.doc_id AND sp.lang_m = l.lang_m
),
pred AS (
  SELECT doc_id, lang_true, lang_m AS lang_pred FROM (
    SELECT doc_id, lang_true, lang_m,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score_m DESC, lang_m) AS rn
    FROM scores
  ) WHERE rn = 1
)
SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY 1, 2
"""


@query("naive_bayes_train", oracle=_NB_ORACLE)
def naive_bayes_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes lang classifier — TRAIN, APPLY, and
    EVALUATE in one plan (the classic closed-form text classifier a
    curation pipeline distills first, before reaching for logreg/GBDT):
    per-(term, lang) occurrence counts with Laplace smoothing become
    milli-floored integer log-likelihoods, each document is scored
    against every language (prior + sum of token scores - n_tok *
    smoothed-denominator), argmax with (score, lang) tie-break, and
    the output is the 5x5 confusion matrix of true vs predicted
    language.

    Portability: ln() runs only on integer-valued doubles (counts,
    totals), milli-floored to BIGINT (the zipf/dirichlet discipline) —
    document scores are exact integer sums, order-independent, so the
    whole train->apply->argmax->confusion pipeline hash-matches the
    DuckDB oracle with no float folds anywhere.

    Scale shape: training is one vocab-sized (term, lang) exchange
    (map-side combined); apply joins the token stream to the sparse
    model ON TERM (keyed shuffle join — only (term, lang) pairs that
    exist; absent pairs contribute exactly 0 and fold into the
    closed-form n_tok * denom term, so the dense V x L model never
    materializes), then one (doc, lang) exchange; the 5-row lang-stats
    table and the 1-row vocab/doc-count scalars are broadcast; the
    confusion rollup is 25 cells.  Nothing after the token exchanges
    scales beyond |corpus| x L."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = with_tokens(d).select(
        "doc_id", "lang", F.explode("tk").alias("term")
    )
    model = (
        toks.groupBy("term", F.col("lang").alias("lang_m"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select("term", "lang_m", F.expr(_NB_MLL).alias("mll"))
    )
    tl = toks.groupBy(F.col("lang").alias("lang_m")).agg(
        F.count(F.lit(1)).cast("long").alias("tl")
    )
    dl = d.groupBy(F.col("lang").alias("lang_m")).agg(
        F.count(F.lit(1)).cast("long").alias("docs_l")
    )
    gv = toks.groupBy().agg(F.count_distinct("term").cast("long").alias("v"))
    gn = d.groupBy().agg(F.count(F.lit(1)).cast("long").alias("nd"))
    lstats = (
        tl.join(dl, "lang_m")
        .crossJoin(F.broadcast(gv))
        .crossJoin(F.broadcast(gn))
        .select(
            "lang_m",
            F.expr(_NB_DENOM).alias("denom_m"),
            F.expr(_NB_PRIOR).alias("prior_m"),
        )
    )
    sp = (
        toks.join(model, "term")
        .groupBy("doc_id", "lang_m")
        .agg(F.sum("mll").cast("long").alias("sp"))
    )
    ds = toks.groupBy("doc_id", F.col("lang").alias("lang_true")).agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    scores = (
        ds.crossJoin(F.broadcast(lstats))
        .join(sp, ["doc_id", "lang_m"], "left")
        .select(
            "doc_id",
            "lang_true",
            "lang_m",
            F.expr(_NB_SCORE).alias("score_m"),
        )
    )
    w_pick = W.partitionBy("doc_id").orderBy(
        F.desc("score_m"), F.asc("lang_m")
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(w_pick))
        .where(F.col("rn") == 1)
        .select("lang_true", F.col("lang_m").alias("lang_pred"))
    )
    return pred.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# PCA top component via power iteration on the quantized Gram matrix
# ---------------------------------------------------------------------------

_PCA_DIM = 16
_PCA_ROUNDS = 3


def _pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full d x d integer Gram of the first {_PCA_DIM} embedding dims:
    (i, j, g) with g = SUM(FLOOR((v_i*v_j)*1e6)) — the
    embedding_gram_matrix build at micro precision, full matrix (both
    triangles) so the matvec below needs no symmetry bookkeeping."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.slice(F.col("embedding").cast("array<double>"), 1, _PCA_DIM).alias(
            "vec"
        )
    )
    e1 = emb.select("vec", F.posexplode("vec").alias("i0", "xi"))
    e2 = e1.select(
        (F.col("i0") + 1).cast("int").alias("i"),
        "xi",
        F.posexplode("vec").alias("j0", "xj"),
    ).select(
        "i",
        (F.col("j0") + 1).cast("int").alias("j"),
        F.floor((F.col("xi") * F.col("xj")) * F.lit(1000000.0))
        .cast("long")
        .alias("t"),
    )
    return e2.groupBy("i", "j").agg(F.sum("t").cast("long").alias("g"))


def _pca_oracle(n_rounds: int = _PCA_ROUNDS) -> str:
    d = _PCA_DIM
    ctes = [
        f"""v AS MATERIALIZED (
  SELECT CAST(embedding AS DOUBLE[])[1:{d}] AS vec FROM embeddings
),
gram AS MATERIALIZED (
  SELECT CAST(u.i AS INT) AS i, CAST(w.j AS INT) AS j,
         CAST(SUM(CAST(FLOOR((vec[CAST(u.i AS INT)] * vec[CAST(w.j AS INT)])
                             * 1000000.0) AS BIGINT)) AS BIGINT) AS g
  FROM v, UNNEST(range(1, {d + 1})) u(i), UNNEST(range(1, {d + 1})) w(j)
  GROUP BY 1, 2
),
q0 AS (
  SELECT CAST(g.i AS INT) AS pos,
         CASE WHEN g.i = 1 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS q
  FROM UNNEST(range(1, {d + 1})) g(i)
)"""
    ]
    for r in range(1, n_rounds + 1):
        ctes.append(
            f"""u{r} AS MATERIALIZED (
  SELECT gram.i AS pos,
         list_reduce(LIST(CAST(gram.g AS DOUBLE) * p.q ORDER BY gram.j),
                     (a, b) -> a + b) AS u
  FROM gram JOIN q{r - 1} p ON p.pos = gram.j
  GROUP BY gram.i
),
n{r} AS (
  SELECT sqrt(list_reduce(LIST(u * u ORDER BY pos), (a, b) -> a + b))
    AS nrm
  FROM u{r}
),
q{r} AS (SELECT pos, u / nrm AS q FROM u{r} CROSS JOIN n{r})"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(q.pos AS BIGINT) AS pos,
       CAST(FLOOR(q.q * 1000000000.0) AS BIGINT) AS v_nano,
       CAST(FLOOR(n.nrm) AS BIGINT) AS lambda_q
FROM q{n_rounds} q CROSS JOIN n{n_rounds} n
"""
    )


@query("pca_power_iteration", oracle=_pca_oracle())
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by POWER
    ITERATION on the integer-quantized Gram matrix — the spectral
    member of the trainer family (PCA/whitening/spectral clustering all
    start here): {_PCA_ROUNDS} rounds of q <- G q / ||G q|| from
    q0 = e1 over the first {_PCA_DIM} dims, final unit vector
    nano-quantized plus the Rayleigh-quotient-style eigenvalue estimate
    ||G q|| (exact integer floor).

    Hash portability end to end: the Gram is exact BIGINTs (per-row
    FLOOR-microquantized products, order-independent sums); every
    matvec component folds its 16 terms in ascending-j order (a Python
    loop with exact 0.0 init vs DuckDB list_reduce — bitwise equal, the
    kaplan_meier fold argument); the norm folds squares in ascending-pos
    order and sqrt is correctly rounded (math.sqrt, not ``** 0.5``: C
    pow carries no such promise).  The driver runs all {_PCA_ROUNDS}
    rounds in Python floats from ONE 256-long collect of the Gram — the
    model-statistic collect class — and returns the final unit vector
    as {_PCA_DIM} rows built on the driver.

    Scale shape: the corpus work is exactly one pass — the double
    posexplode fans each vector's d^2 = {_PCA_DIM * _PCA_DIM} products
    map-side and ONE partial-aggregated exchange collapses to 256
    groups (the embedding_gram_matrix guarantee); iteration cost is
    d^2 per round, corpus-independent, which is why power iteration is
    THE distributed eigensolver shape."""
    d = _PCA_DIM
    # 256 longs: the Gram IS the model statistic
    G = {(r["i"], r["j"]): r["g"] for r in _pca_gram(spark, sf_dir).collect()}
    q = [1.0] + [0.0] * (d - 1)
    for _ in range(_PCA_ROUNDS):
        u = []
        for i in range(1, d + 1):
            acc = 0.0
            for j in range(1, d + 1):  # ascending-j fold, 0.0 init
                acc = acc + float(G[(i, j)]) * q[j - 1]
            u.append(acc)
        acc = 0.0
        for x in u:  # ascending-pos fold
            acc = acc + x * x
        nrm = math.sqrt(acc)
        q = [x / nrm for x in u]
    return spark.createDataFrame(
        pd.DataFrame(
            [
                (i + 1, math.floor(x * 1000000000.0), math.floor(nrm))
                for i, x in enumerate(q)
            ]
        ),
        "pos BIGINT, v_nano BIGINT, lambda_q BIGINT",
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction (the degree-weighted upgrade of
# link_prediction_common_neighbors)
# ---------------------------------------------------------------------------

# Per-wedge weight 1/ln(deg(center)), micro-floored BEFORE the sum
# (quantize-before-sum -> order-independent integer sums; ln on an
# INTEGER-valued double is the zipf/dirichlet portability class).  Any
# center that forms a wedge has degree >= 2, so ln(d) >= ln 2 and the
# reciprocal is finite by construction.
_AA_W = "CAST(FLOOR((1.0 / ln(CAST(d AS DOUBLE))) * 1000000.0) AS BIGINT)"


@query(
    "link_prediction_adamic_adar",
    oracle=f"""
WITH pl AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
centers AS (
  SELECT sym.u AS w, sym.v, deg.d FROM sym JOIN deg ON deg.u = sym.u
  WHERE deg.d <= 64
),
wedges AS (
  SELECT s1.v AS a, s2.v AS b,
         CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         CAST(SUM({_AA_W}) AS BIGINT) AS aa_micro
  FROM (SELECT w, v, d FROM centers) s1
  JOIN (SELECT w, v FROM centers) s2 ON s1.w = s2.w
  WHERE s1.v < s2.v
  GROUP BY 1, 2
)
SELECT w.a, w.b, w.common_neighbors, w.aa_micro
FROM wedges w
WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.u = w.a AND e0.v = w.b)
ORDER BY w.aa_micro DESC, w.a, w.b
LIMIT 50
""",
)
def link_prediction_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction — the degree-weighted refinement of
    link_prediction_common_neighbors (Adamic & Adar 2003; Liben-Nowell
    & Kleinberg showed it beats raw common-neighbor counts): each
    shared neighbor contributes 1/ln(deg(w)) instead of 1, so rare
    co-purchases predict more than ubiquitous ones.  Top-50
    non-adjacent pairs by the micro-floored integer score.

    Portability: deg(w) is an exact integer, ln(integer-double) is the
    single-IEEE-op class (zipf_fit_audit's argument), and the
    reciprocal is micro-floored PER WEDGE before summation — the
    hellinger quantize-before-sum rule — so scores are exact BIGINTs;
    any wedge center has deg >= 2, so the weight is always finite.

    Scale shape: identical to the common-neighbors query (hub-capped
    wedge enumeration from the persisted support->=2 edge list; anti
    join on the pair key; TakeOrderedAndProject top-50) with the
    degree carried through the center join — no extra exchange."""
    e0 = copurchase_edges(spark, sf_dir).persist()
    sym = e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    centers = (
        sym.join(deg.where(F.col("d") <= 64), "u")
        .select(F.col("u").alias("w"), "v", "d")
    )
    s1 = centers.select("w", F.col("v").alias("a"), "d")
    s2 = centers.select("w", F.col("v").alias("b"))
    wedges = (
        s1.join(s2, "w")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(F.expr(_AA_W)).cast("long").alias("aa_micro"),
        )
    )
    open_pairs = wedges.join(
        e0.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return open_pairs.orderBy(
        F.desc("aa_micro"), F.asc("a"), F.asc("b")
    ).limit(50)


# ---------------------------------------------------------------------------
# bagged stump ensemble: all replicas trained in ONE corpus pass
# ---------------------------------------------------------------------------

_BAG_B = 8
# Replica membership: digit b of one md5 per row — parity 1 keeps the
# row (~50% subsample per replica, the "subagging" form of bagging);
# the permutation_test_mean_diff single-digest trick, so the B-replica
# fan-out costs one hash per row.
_BAG_HX = md5_key("bag:", "l_orderkey", "l_linenumber")


@query(
    "bagged_stump_ensemble",
    oracle=f"""
WITH r0 AS (
  SELECT {_TREE_B1} AS b1, {_TREE_B2} AS b2, {_TREE_Y} AS yq,
         {md5_key("bag:", "l_orderkey", "l_linenumber", dialect="duckdb")} AS hx
  FROM lineitem
),
rep AS (
  SELECT b1, b2, yq, CAST(g.b AS BIGINT) AS rb
  FROM r0, UNNEST(range(1, {_BAG_B + 1})) g(b)
  WHERE {hex_digits("hx", "CAST(g.b AS INT)", 1, "duckdb")} % 2 = 1
),
l AS (
  SELECT rb, CAST(1 AS BIGINT) AS f, b1 AS b, yq FROM rep
  UNION ALL
  SELECT rb, CAST(2 AS BIGINT), b2, yq FROM rep
),
h AS (
  SELECT rb, f, b, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(yq) AS BIGINT) AS s
  FROM l GROUP BY 1, 2, 3
),
c AS (
  SELECT rb, f, b,
         CAST(SUM(n) OVER (PARTITION BY rb, f ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS nl,
         CAST(SUM(s) OVER (PARTITION BY rb, f ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sl,
         CAST(SUM(n) OVER (PARTITION BY rb, f) AS BIGINT) AS nt,
         CAST(SUM(s) OVER (PARTITION BY rb, f) AS BIGINT) AS st
  FROM h
)
SELECT rb AS replica, f AS split_feature, b AS split_bin,
       nl AS n_left, nt AS n_node, gain_q
FROM (
  SELECT rb, f, b, nl, nt, {_TREE_GAIN_Q} AS gain_q,
         ROW_NUMBER() OVER (PARTITION BY rb
                            ORDER BY {_TREE_GAIN_Q} DESC, f, b) AS rn
  FROM c WHERE nl < nt
) WHERE rn = 1
""",
)
def bagged_stump_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bagged stump ensemble — the random-forest resampling shape
    (Breiman bagging in its half-sample "subagging" form): {_BAG_B}
    replicas, each a ~50% deterministic hash-subsample of the corpus,
    each fitting the variance-gain histogram stump; the per-replica
    split table IS the split-stability diagnostic a forest trainer
    reads (replicas agreeing on (feature, threshold) = a stable
    signal; scattering = variance).

    The production trick: ALL {_BAG_B} replicas train in ONE corpus
    pass — replica membership is digit b of a single md5 per row
    (permutation_test_mean_diff's device), the membership fan-out is
    map-side, and the histograms partially aggregate into
    (replica x feature x bin) cells before the only exchange.  A naive
    forest trainer scans once per replica; this scans once, period.

    Portability: membership is exact integer digit arithmetic
    (operators/sampling.py's ``hex_digits``); histograms are exact BIGINT sums; the split argmax
    is the shared _TREE_GAIN tree with (gain, f, b) tie-break per
    replica."""
    r0 = load_table(spark, sf_dir, "lineitem").selectExpr(
        f"{_TREE_B1} AS b1",
        f"{_TREE_B2} AS b2",
        f"{_TREE_Y} AS yq",
        f"{_BAG_HX} AS hx",
    )
    rep = (
        r0.select(
            "b1",
            "b2",
            "yq",
            "hx",
            F.explode(F.expr(f"sequence(1, {_BAG_B})")).alias("b"),
        )
        .where(F.expr(f"{hex_digits('hx', 'CAST(b AS INT)', 1)} % 2 = 1"))
        .select(F.col("b").cast("long").alias("rb"), "b1", "b2", "yq")
    )
    long_df = rep.selectExpr(
        "rb",
        "stack(2, CAST(1 AS BIGINT), b1, CAST(2 AS BIGINT), b2) AS (f, b)",
        "yq",
    )
    hist = long_df.groupBy("rb", "f", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yq").cast("long").alias("s"),
    )
    w_cum = W.partitionBy("rb", "f").orderBy("b").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_tot = W.partitionBy("rb", "f")
    cand = hist.select(
        "rb",
        "f",
        "b",
        F.sum("n").over(w_cum).cast("long").alias("nl"),
        F.sum("s").over(w_cum).cast("long").alias("sl"),
        F.sum("n").over(w_tot).cast("long").alias("nt"),
        F.sum("s").over(w_tot).cast("long").alias("st"),
    ).where(F.col("nl") < F.col("nt"))
    w_pick = W.partitionBy("rb").orderBy(
        F.desc("gain_q"), F.asc("f"), F.asc("b")
    )
    return (
        cand.withColumn("gain_q", F.expr(_TREE_GAIN_Q))
        .withColumn("rn", F.row_number().over(w_pick))
        .where(F.col("rn") == 1)
        .select(
            F.col("rb").alias("replica"),
            F.col("f").alias("split_feature"),
            F.col("b").alias("split_bin"),
            F.col("nl").alias("n_left"),
            F.col("nt").alias("n_node"),
            "gain_q",
        )
    )


# ---------------------------------------------------------------------------
# HITS one step on the bipartite customer-part purchase graph
# ---------------------------------------------------------------------------


@query(
    "hits_one_step",
    oracle="""
WITH pl AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
hub AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS h1 FROM pl GROUP BY u
),
auth AS (
  SELECT pl.p, CAST(SUM(hub.h1) AS BIGINT) AS a1,
         CAST(COUNT(*) AS BIGINT) AS n_buyers
  FROM pl JOIN hub ON hub.u = pl.u
  GROUP BY pl.p
)
SELECT CAST(p AS BIGINT) AS part, n_buyers, a1 AS authority
FROM auth
ORDER BY a1 DESC, p
LIMIT 25
""",
)
def hits_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One HITS iteration (Kleinberg 1999) on the bipartite
    customer-part purchase graph — the hubs-and-authorities companion
    to pagerank_one_step: from the uniform authority init, hub(u) =
    |basket(u)| (exact), then authority(p) = sum of its buyers' hub
    scores — parts bought by broad buyers rank above parts bought by
    narrow ones, which is NOT the raw popularity order (n_buyers
    rides along to show the difference).  Top-25 authorities, all
    exact BIGINT arithmetic (one full step with no normalization —
    scale factors don't change HITS rankings).

    Scale shape: distinct bipartite edges (one exchange), hub degrees
    (user-keyed agg), authority = ONE user-keyed join + part-keyed agg
    — the same per-round shape Spark's HITS loop would repeat;
    TakeOrderedAndProject for the top-k."""
    pl = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p"))
        .join(
            load_table(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("u")
            ),
            "k",
        )
        .select("u", "p")
        .distinct()
    )
    hub = pl.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("h1"))
    auth = (
        pl.join(hub, "u")
        .groupBy("p")
        .agg(
            F.sum("h1").cast("long").alias("a1"),
            F.count(F.lit(1)).cast("long").alias("n_buyers"),
        )
    )
    return (
        auth.select(
            F.col("p").cast("long").alias("part"),
            "n_buyers",
            F.col("a1").alias("authority"),
        )
        .orderBy(F.desc("authority"), F.asc("part"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# degree assortativity of the co-purchase graph
# ---------------------------------------------------------------------------

# Newman's degree assortativity = Pearson correlation of the endpoint
# degrees over the SYMMETRIC directed edge list (each undirected edge
# contributes both orientations, so sx = sy and sxx = syy by
# construction and the general Pearson string below degenerates to the
# classic formula).  All sufficient statistics are exact BIGINTs (deg
# is bounded by |V| of one graph component; the scale synthesis keeps
# components disjoint, so degrees do not grow with copies).
_ASSORT_R = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    "        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"
)

_COPURCHASE_EDGES_SQL = """
pl AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u)
"""


@query(
    "degree_assortativity",
    oracle=f"""
WITH {_COPURCHASE_EDGES_SQL},
ed AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM sym JOIN deg du ON du.u = sym.u JOIN deg dv ON dv.u = sym.v
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dx) AS BIGINT) AS sx,
         CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy
  FROM ed
)
SELECT n AS n_directed_edges,
       CAST(FLOOR({_ASSORT_R} * 1000000.0) AS BIGINT) AS assortativity_micro
FROM s
""",
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002) —
    do high-degree parts co-purchase with other high-degree parts?
    Pearson correlation of endpoint degrees over the symmetric
    directed edge list; positive = hub-hub mixing (social-network
    shape), negative = hub-leaf (technological/dependency shape).
    The structural summary a graph-curation pipeline reports next to
    triangle_count's closure statistic.

    All sufficient statistics are exact BIGINT sums over the edge
    list; the only IEEE arithmetic is the final shared Pearson string,
    micro-floored.

    Scale shape: the same support>=2 co-purchase edge build as
    triangle_count (one lineitem self-join on the order key), one
    |V|-sized degree aggregation, two vertex-keyed equi-joins to
    attach endpoint degrees, and a 1-row fold.  Degrees are bounded by
    component size, so the integer products never approach 2^63."""
    raw = copurchase_edges(spark, sf_dir).persist()
    sym = raw.unionByName(
        raw.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    du = deg.select(F.col("u").alias("_ku"), F.col("d").alias("dx"))
    dv = deg.select(F.col("u").alias("_kv"), F.col("d").alias("dy"))
    ed = (
        sym.join(du, sym.u == F.col("_ku"))
        .join(dv, sym.v == F.col("_kv"))
        .select("dx", "dy")
    )
    s = ed.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.expr("CAST(SUM(dx * dx) AS BIGINT)").alias("sxx"),
        F.expr("CAST(SUM(dy * dy) AS BIGINT)").alias("syy"),
        F.expr("CAST(SUM(dx * dy) AS BIGINT)").alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_directed_edges"),
        F.expr(f"CAST(FLOOR({_ASSORT_R} * 1000000.0) AS BIGINT)").alias(
            "assortativity_micro"
        ),
    )


# ---------------------------------------------------------------------------
# local clustering coefficient (per-degree-bucket rollup)
# ---------------------------------------------------------------------------


@query(
    "local_clustering_coefficient",
    oracle=f"""
WITH {_COPURCHASE_EDGES_SQL},
e AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
              THEN e0.u ELSE e0.v END AS src,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
              THEN e0.v ELSE e0.u END AS dst
  FROM e0 JOIN deg du ON du.u = e0.u JOIN deg dv ON dv.u = e0.v
),
tris AS (
  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
  FROM e e1
  JOIN e e2 ON e2.src = e1.dst
  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
corners AS (
  SELECT x AS node FROM tris
  UNION ALL SELECT y FROM tris
  UNION ALL SELECT z FROM tris
),
tri_v AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM corners GROUP BY node
),
coef AS (
  SELECT deg.u AS node, deg.d,
         COALESCE(t.tri, 0) AS tri,
         CAST(2 * COALESCE(t.tri, 0) * 1000000 // (deg.d * (deg.d - 1))
              AS BIGINT) AS coef_ppm
  FROM deg LEFT JOIN tri_v t ON t.node = deg.u
  WHERE deg.d >= 2
)
SELECT CAST(LEAST(d // 5, 10) AS BIGINT) AS deg_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(tri) AS BIGINT) AS n_triangle_corners,
       CAST(SUM(coef_ppm) // COUNT(*) AS BIGINT) AS avg_coef_ppm
FROM coef
GROUP BY 1
""",
)
def local_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient — per-node triangle closure
    2*tri(v) / (deg(v)*(deg(v)-1)) — rolled up to degree buckets (the
    Watts-Strogatz clustering-vs-degree profile a graph pipeline
    reports; the per-degree falloff distinguishes hierarchical from
    random graphs).  Nodes of degree >= 2 with ZERO triangles count
    toward their bucket's average (left join + COALESCE), which is
    what makes it an honest average.

    Triangles are enumerated once each on the (degree, id)-oriented
    edge list (triangle_count's Chiba-Nishizeki device), then exploded
    to their 3 corners and counted per node.  Everything is exact
    integer arithmetic end-to-end: coef_ppm = 2*tri*1e6 DIV d(d-1)
    and the bucket average is an integral DIV of the ppm sum — no
    IEEE doubles anywhere.

    Scale shape: the triangle_count join pyramid (two vertex-keyed
    equi-joins over O(m^1.5)-bounded wedges), a corner explode (3 rows
    per triangle), a node-keyed count, and a |V|-sized degree join
    collapsing to <=11 bucket rows."""
    raw = copurchase_edges(spark, sf_dir).persist()
    e = orient_by_degree(raw).persist()
    e1 = e.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = e.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    e3 = e.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    tris = e1.join(e2, "y").join(e3, ["x", "z"])
    corners = (
        tris.select(F.col("x").alias("node"))
        .unionAll(tris.select(F.col("y").alias("node")))
        .unionAll(tris.select(F.col("z").alias("node")))
    )
    tri_v = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("tri")
    )
    sym = raw.unionByName(
        raw.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    coef = (
        deg.where(F.col("d") >= 2)
        .join(tri_v, deg.u == tri_v.node, "left")
        .select(
            "d",
            F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("tri"),
        )
        .select(
            "d",
            "tri",
            F.expr(
                "CAST(2 * tri * 1000000 DIV (d * (d - 1)) AS BIGINT)"
            ).alias("coef_ppm"),
        )
    )
    return coef.groupBy(
        F.expr("CAST(LEAST(d DIV 5, 10) AS BIGINT)").alias("deg_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("tri").cast("long").alias("n_triangle_corners"),
        F.expr("CAST(SUM(coef_ppm) DIV COUNT(*) AS BIGINT)").alias(
            "avg_coef_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# ridge regression path: closed-form solves at three penalties
# ---------------------------------------------------------------------------

# Ridge adds lambda to the SLOPE diagonal entries of the quantized
# moment matrix (the intercept row m00 is never penalized — standard
# practice).  Penalties are expressed in the moment matrix's own 1e4
# quantized units, so the Cramer substitution is pure integer column
# arithmetic and _OLS_DET's shared strings apply unchanged.
_RIDGE_LAMBDAS = (("l0", 0), ("l_small", 1000000), ("l_large", 100000000))


def _ridge_dets(lam: int) -> dict[str, str]:
    A = {
        "a00": "m00", "a01": "m01", "a02": "m02",
        "a10": "m01", "a11": f"(m11 + {lam})", "a12": "m12",
        "a20": "m02", "a21": "m12", "a22": f"(m22 + {lam})",
    }
    out = {"det": _ols_det(A)}
    for i, col in enumerate(("b0", "b1", "b2")):
        Ai = dict(A)
        for r in range(3):
            Ai[f"a{r}{i}"] = ("b0", "b1", "b2")[r]
        out[f"det{i}"] = _ols_det(Ai)
    return out


def _ridge_oracle() -> str:
    sel = []
    for name, lam in _RIDGE_LAMBDAS:
        d = _ridge_dets(lam)
        for i in range(3):
            sel.append(
                f"SELECT '{name}' AS penalty, CAST({i + 1} AS BIGINT) AS pos,"
                f" CAST(FLOOR(({d[f'det{i}']} / {d['det']})"
                " * 1000000000.0) AS BIGINT) AS w_nano, n_rows FROM mom"
            )
    union = " UNION ALL ".join(sel)
    return f"""
WITH r AS (
  SELECT l_quantity AS x1, l_discount AS x2, l_extendedprice AS y
  FROM lineitem
),
mom AS (
  SELECT {_OLS_MOMENTS_SQL} FROM r
)
{union}
"""


@query("ridge_regression_path", oracle=_ridge_oracle())
def ridge_regression_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge-regression regularization path — the L2-penalized
    completion of ols_normal_equations (what a feature pipeline fits
    when collinear features make the plain normal equations
    ill-conditioned): solve (X'X + lambda*I_slopes) w = X'y at three
    penalties (0 = OLS, small, large) from ONE shared moment pass.
    The intercept is unpenalized (standard practice); lambdas live in
    the moment matrix's own quantized units, so the diagonal shift is
    exact integer column arithmetic and the per-lambda Cramer solves
    reuse _OLS_DET's shared IEEE strings verbatim.

    The three penalties demonstrate shrinkage monotonically: slope
    weights at l_large must sit strictly closer to zero than at l0
    (asserted in tests).

    Scale shape: identical to ols_normal_equations — the entire path
    costs ONE map-side-combining aggregation to a single row of 10
    BIGINTs; all 9 output rows are constant-size projections of that
    row (adding a lambda to the path is free at 100 TB)."""
    r = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_quantity AS x1", "l_discount AS x2", "l_extendedprice AS y"
    )
    mom = r.groupBy().agg(
        F.expr("CAST(COUNT(*) AS BIGINT) * 10000").alias("m00"),
        F.expr("SUM(CAST(FLOOR(x1 * 10000.0) AS BIGINT))").cast("long").alias("m01"),
        F.expr("SUM(CAST(FLOOR(x2 * 10000.0) AS BIGINT))").cast("long").alias("m02"),
        F.expr("SUM(CAST(FLOOR((x1 * x1) * 10000.0) AS BIGINT))").cast("long").alias("m11"),
        F.expr("SUM(CAST(FLOOR((x1 * x2) * 10000.0) AS BIGINT))").cast("long").alias("m12"),
        F.expr("SUM(CAST(FLOOR((x2 * x2) * 10000.0) AS BIGINT))").cast("long").alias("m22"),
        F.expr("SUM(CAST(FLOOR(y * 10000.0) AS BIGINT))").cast("long").alias("b0"),
        F.expr("SUM(CAST(FLOOR((x1 * y) * 10000.0) AS BIGINT))").cast("long").alias("b1"),
        F.expr("SUM(CAST(FLOOR((x2 * y) * 10000.0) AS BIGINT))").cast("long").alias("b2"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    rows = []
    for name, lam in _RIDGE_LAMBDAS:
        d = _ridge_dets(lam)
        for i in range(3):
            rows.append(
                F.struct(
                    F.lit(name).alias("penalty"),
                    F.lit(i + 1).cast("long").alias("pos"),
                    F.expr(
                        f"CAST(FLOOR(({d[f'det{i}']} / {d['det']})"
                        " * 1000000000.0) AS BIGINT)"
                    ).alias("w_nano"),
                    F.col("n_rows"),
                )
            )
    return mom.select(F.inline(F.array(*rows)))


# ---------------------------------------------------------------------------
# bias-baseline recommender (Koren's baseline predictor) + RMSE eval
# ---------------------------------------------------------------------------

# b_i = sum(r - mu) / (reg + n_i) and b_u = sum(r - mu - b_i) /
# (reg + n_u) with reg = 25 (the Netflix-prize damping).  mu and b_i
# are shared IEEE strings over exact centi-unit BIGINTs; the per-row
# residuals feeding b_u and RMSE are floor-quantized BEFORE their
# sums, so no engine ever folds raw doubles.
_BB_REG = 25
_BB_MU = "(CAST(s_all AS DOUBLE) / 100.0 / CAST(n_all AS DOUBLE))"
_BB_BI = (
    f"((CAST(si AS DOUBLE) / 100.0 - CAST(ni AS DOUBLE) * {_BB_MU})"
    f" / CAST({_BB_REG} + ni AS DOUBLE))"
)
_BB_BU = "(CAST(su_q AS DOUBLE) / 10000.0" f" / CAST({_BB_REG} + nu AS DOUBLE))"
_BB_RMSE = "sqrt(CAST(se_q AS DOUBLE) / 10000.0 / CAST(n_all AS DOUBLE))"
_BB_RMSE_MU = "sqrt(CAST(se0_q AS DOUBLE) / 10000.0 / CAST(n_all AS DOUBLE))"


@query(
    "bias_baseline_recommender",
    oracle=f"""
WITH r AS (
  SELECT o.o_custkey AS usr, l.l_partkey AS item,
         CAST(FLOOR(l.l_quantity * 100.0) AS BIGINT) AS rc
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(rc) AS BIGINT) AS s_all
  FROM r
),
bi AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS ni,
         CAST(SUM(rc) AS BIGINT) AS si
  FROM r GROUP BY item
),
bi2 AS (
  SELECT bi.item, bi.ni, {_BB_BI} AS b_i
  FROM bi CROSS JOIN tot
),
ru AS (
  SELECT r.usr,
         CAST(COUNT(*) AS BIGINT) AS nu,
         CAST(SUM(CAST(FLOOR((CAST(r.rc AS DOUBLE) / 100.0 - {_BB_MU}
                              - bi2.b_i) * 10000.0) AS BIGINT)) AS BIGINT)
           AS su_q
  FROM r JOIN bi2 ON bi2.item = r.item CROSS JOIN tot
  GROUP BY r.usr
),
bu2 AS (SELECT usr, nu, {_BB_BU} AS b_u FROM ru),
ev AS (
  SELECT CAST(SUM(CAST(FLOOR(
           (CAST(r.rc AS DOUBLE) / 100.0 - {_BB_MU} - bi2.b_i - bu2.b_u)
           * (CAST(r.rc AS DOUBLE) / 100.0 - {_BB_MU} - bi2.b_i - bu2.b_u)
           * 10000.0) AS BIGINT)) AS BIGINT) AS se_q,
         CAST(SUM(CAST(FLOOR(
           (CAST(r.rc AS DOUBLE) / 100.0 - {_BB_MU})
           * (CAST(r.rc AS DOUBLE) / 100.0 - {_BB_MU})
           * 10000.0) AS BIGINT)) AS BIGINT) AS se0_q,
         CAST(COUNT(DISTINCT r.item) AS BIGINT) AS n_items,
         CAST(COUNT(DISTINCT r.usr) AS BIGINT) AS n_users
  FROM r JOIN bi2 ON bi2.item = r.item JOIN bu2 ON bu2.usr = r.usr
       CROSS JOIN tot
)
SELECT tot.n_all AS n_ratings, ev.n_items, ev.n_users,
       CAST(FLOOR({_BB_MU} * 1000000.0) AS BIGINT) AS mu_micro,
       CAST(FLOOR({_BB_RMSE_MU} * 1000000.0) AS BIGINT) AS rmse_mu_micro,
       CAST(FLOOR({_BB_RMSE} * 1000000.0) AS BIGINT) AS rmse_micro
FROM ev CROSS JOIN tot
""",
)
def bias_baseline_recommender(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias-baseline recommender (Koren 2009's baseline predictor
    mu + b_i + b_u — the damped-means model every collaborative
    filter is benchmarked against, and the half of ALS that explains
    most of its RMSE): item biases from damped residuals vs the
    global mean, user biases from damped residuals vs the
    item-adjusted prediction, then in-sample RMSE against both the
    full model and the mu-only baseline.  rmse < rmse_mu is asserted
    in tests — the model must beat predicting the mean.

    Ratings are (customer, part, quantity) from the order-lineitem
    join.  mu and each b_i are shared IEEE strings over exact
    centi-unit BIGINTs; the per-row residuals feeding b_u and both
    RMSEs are floor-quantized to BIGINT BEFORE their sums (the
    quantize-before-sum rule), so fold order never surfaces.

    Scale shape: one corpus equi-join (lineitem x orders on the order
    key), an item-keyed bias aggregation (|items| rows), a user-keyed
    bias aggregation (|users| rows), and one final scoring pass
    joining both bias tables back on their keys — the classic
    3-pass/2-join baseline-predictor dataflow, every join keyed and
    linear, nothing ever collected."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    r = l.join(
        o.select("o_orderkey", "o_custkey"), l.l_orderkey == o.o_orderkey
    ).select(
        F.col("o_custkey").alias("usr"),
        F.col("l_partkey").alias("item"),
        F.expr("CAST(FLOOR(l_quantity * 100.0) AS BIGINT)").alias("rc"),
    ).persist()
    tot = r.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("rc").cast("long").alias("s_all"),
    )
    bi = r.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("ni"),
        F.sum("rc").cast("long").alias("si"),
    )
    bi2 = bi.crossJoin(F.broadcast(tot)).select(
        "item", "ni", "n_all", "s_all", F.expr(_BB_BI).alias("b_i")
    )
    scored = r.join(bi2, "item")
    ru = scored.groupBy("usr").agg(
        F.count(F.lit(1)).cast("long").alias("nu"),
        F.expr(
            f"CAST(SUM(CAST(FLOOR((CAST(rc AS DOUBLE) / 100.0 - {_BB_MU}"
            " - b_i) * 10000.0) AS BIGINT)) AS BIGINT)"
        ).alias("su_q"),
    )
    bu2 = ru.select("usr", "nu", F.expr(_BB_BU).alias("b_u"))
    ev = (
        scored.join(bu2, "usr")
        .groupBy()
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR("
                f"(CAST(rc AS DOUBLE) / 100.0 - {_BB_MU} - b_i - b_u)"
                f" * (CAST(rc AS DOUBLE) / 100.0 - {_BB_MU} - b_i - b_u)"
                " * 10000.0) AS BIGINT)) AS BIGINT)"
            ).alias("se_q"),
            F.expr(
                "CAST(SUM(CAST(FLOOR("
                f"(CAST(rc AS DOUBLE) / 100.0 - {_BB_MU})"
                f" * (CAST(rc AS DOUBLE) / 100.0 - {_BB_MU})"
                " * 10000.0) AS BIGINT)) AS BIGINT)"
            ).alias("se0_q"),
            F.countDistinct("item").cast("long").alias("n_items"),
            F.countDistinct("usr").cast("long").alias("n_users"),
        )
    )
    return ev.crossJoin(F.broadcast(tot)).select(
        F.col("n_all").alias("n_ratings"),
        "n_items",
        "n_users",
        F.expr(f"CAST(FLOOR({_BB_MU} * 1000000.0) AS BIGINT)").alias(
            "mu_micro"
        ),
        F.expr(f"CAST(FLOOR({_BB_RMSE_MU} * 1000000.0) AS BIGINT)").alias(
            "rmse_mu_micro"
        ),
        F.expr(f"CAST(FLOOR({_BB_RMSE} * 1000000.0) AS BIGINT)").alias(
            "rmse_micro"
        ),
    )


# ---------------------------------------------------------------------------
# modularity of the brand partition on the co-purchase graph
# ---------------------------------------------------------------------------

# Per-community modularity contribution q_c = e_c/m - (d_c/2m)^2 from
# exact integer edge/degree sums; the only IEEE arithmetic is this one
# shared string, micro-floored per community (25 brands).
_MOD_QC = (
    "((CAST(e_in AS DOUBLE) / CAST(m AS DOUBLE))"
    " - (CAST(d_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))"
    "   * (CAST(d_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))"
)


@query(
    "modularity_brand_partition",
    oracle=f"""
WITH {_COPURCHASE_EDGES_SQL},
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
bu AS (SELECT p_partkey, p_brand FROM part),
eb AS (
  SELECT pa.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS e_in
  FROM e0 JOIN bu pa ON pa.p_partkey = e0.u
          JOIN bu pb ON pb.p_partkey = e0.v
  WHERE pa.p_brand = pb.p_brand
  GROUP BY 1
),
db AS (
  SELECT b.p_brand AS brand, CAST(SUM(deg.d) AS BIGINT) AS d_c,
         CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg JOIN bu b ON b.p_partkey = deg.u
  GROUP BY 1
)
SELECT db.brand, db.n_nodes,
       CAST(COALESCE(eb.e_in, 0) AS BIGINT) AS e_in, db.d_c,
       CAST(FLOOR({_MOD_QC.replace("e_in", "COALESCE(eb.e_in, 0)")}
            * 1000000.0) AS BIGINT) AS q_contrib_micro
FROM db LEFT JOIN eb ON eb.brand = db.brand CROSS JOIN m
""",
)
def modularity_brand_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the BRAND partition on the co-purchase
    graph — does co-purchasing concentrate within part brands?  The
    partition-quality measure community detection optimizes (Newman &
    Girvan 2004), here evaluated for the domain-given brand communities:
    per brand c, q_c = e_c/m - (d_c/2m)^2, whose sum over the 25 brands
    is the graph's modularity Q.  A label_propagation_step consumer
    uses exactly this query (swap the community column) to score the
    discovered partition.

    Exactness: within-community edge counts e_c, degree sums d_c, and
    the edge total m are exact BIGINTs; q_c is one shared IEEE string
    over those integers, micro-floored per community.  Brands with
    nodes but zero internal edges report e_in = 0 via the left join —
    their (negative) degree-penalty term still counts.

    Scale shape: the support>=2 co-purchase edge build (one lineitem
    self-join on the order key), two part-keyed equi-joins to attach
    endpoint brands, a 25-row community agg, a |V|-sized degree agg
    joined to brands, and a 1-row edge-total broadcast cross — every
    join keyed, everything downstream of the edge build bounded by
    |V| + 25 rows."""
    raw = copurchase_edges(spark, sf_dir).persist()
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), F.col("p_brand").alias("brand")
    )
    m = raw.groupBy().agg(F.count(F.lit(1)).cast("long").alias("m"))
    eb = (
        raw.join(
            part.select(F.col("pk").alias("u"), F.col("brand").alias("bu")),
            "u",
        )
        .join(
            part.select(F.col("pk").alias("v"), F.col("brand").alias("bv")),
            "v",
        )
        .where(F.col("bu") == F.col("bv"))
        .groupBy(F.col("bu").alias("brand"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    sym = raw.unionByName(
        raw.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    db = (
        deg.join(part.select(F.col("pk").alias("u"), "brand"), "u")
        .groupBy("brand")
        .agg(
            F.sum("d").cast("long").alias("d_c"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
    )
    out = (
        db.join(eb, "brand", "left")
        .select(
            "brand",
            "n_nodes",
            F.expr("CAST(COALESCE(e_in, 0) AS BIGINT)").alias("e_in"),
            "d_c",
        )
        .crossJoin(F.broadcast(m))
    )
    return out.select(
        "brand",
        "n_nodes",
        "e_in",
        "d_c",
        F.expr(f"CAST(FLOOR({_MOD_QC} * 1000000.0) AS BIGINT)").alias(
            "q_contrib_micro"
        ),
    )


# ---------------------------------------------------------------------------
# harmonic centrality from the top-degree seed set (3-hop truncated)
# ---------------------------------------------------------------------------


@query(
    "harmonic_centrality_seeds",
    oracle=f"""
WITH {_COPURCHASE_EDGES_SQL},
seeds AS (
  SELECT u AS seed FROM deg ORDER BY d DESC, u LIMIT 4
),
f1 AS (
  SELECT DISTINCT s.seed, e.v AS node
  FROM seeds s JOIN sym e ON e.u = s.seed
  WHERE e.v <> s.seed
),
f2 AS (
  SELECT DISTINCT f1.seed, e.v AS node
  FROM f1 JOIN sym e ON e.u = f1.node
  WHERE e.v <> f1.seed
    AND NOT EXISTS (SELECT 1 FROM f1 x
                    WHERE x.seed = f1.seed AND x.node = e.v)
),
f3 AS (
  SELECT DISTINCT f2.seed, e.v AS node
  FROM f2 JOIN sym e ON e.u = f2.node
  WHERE e.v <> f2.seed
    AND NOT EXISTS (SELECT 1 FROM f1 x
                    WHERE x.seed = f2.seed AND x.node = e.v)
    AND NOT EXISTS (SELECT 1 FROM f2 y
                    WHERE y.seed = f2.seed AND y.node = e.v)
)
SELECT s.seed,
       CAST(COALESCE(c1.n, 0) AS BIGINT) AS n1,
       CAST(COALESCE(c2.n, 0) AS BIGINT) AS n2,
       CAST(COALESCE(c3.n, 0) AS BIGINT) AS n3,
       CAST(6 * COALESCE(c1.n, 0) + 3 * COALESCE(c2.n, 0)
            + 2 * COALESCE(c3.n, 0) AS BIGINT) AS harmonic_sixths
FROM seeds s
LEFT JOIN (SELECT seed, COUNT(*) AS n FROM f1 GROUP BY seed) c1
       ON c1.seed = s.seed
LEFT JOIN (SELECT seed, COUNT(*) AS n FROM f2 GROUP BY seed) c2
       ON c2.seed = s.seed
LEFT JOIN (SELECT seed, COUNT(*) AS n FROM f3 GROUP BY seed) c3
       ON c3.seed = s.seed
""",
)
def harmonic_centrality_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality (3-hop truncated) of the four highest-degree
    co-purchase hubs — the reachability-weighted influence measure
    (Boldi & Vigna 2014) that, unlike closeness, handles disconnected
    graphs gracefully: sum of 1/d over nodes at distance d from each
    seed.  With d in {{1,2,3}} the harmonic sum is EXACT in sixths:
    6*n1 + 3*n2 + 2*n3 — zero IEEE arithmetic anywhere in the query.

    Seeds are a deterministic order-statistic selection (degree desc,
    id asc, LIMIT 4 — a TakeOrdered, no global sort materialized).
    Each BFS ring is a seed-labeled frontier equi-join on the edge
    list with anti-joins against the previous rings (the
    reachability_frontier_bfs device, 4 seeds at once): working set
    bounded by 4*|V| at any density.

    Scale shape: the support>=2 edge build, then 3 rounds of
    (frontier x sym) keyed equi-join + left-anti dedup — frontiers are
    vertex-bounded, never corpus-sized; the final fold is 4 rows."""
    raw = copurchase_edges(spark, sf_dir).persist()
    sym = raw.unionByName(
        raw.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    seeds = (
        deg.orderBy(F.col("d").desc(), F.col("u"))
        .limit(4)
        .select(F.col("u").alias("seed"))
        .persist()
    )
    f1 = (
        seeds.join(sym, seeds.seed == sym.u)
        .where(F.col("v") != F.col("seed"))
        .select("seed", F.col("v").alias("node"))
        .distinct()
        .persist()
    )
    f2 = (
        f1.join(sym, f1.node == sym.u)
        .where(F.col("v") != F.col("seed"))
        .select("seed", F.col("v").alias("node"))
        .distinct()
        .join(f1, ["seed", "node"], "left_anti")
        .persist()
    )
    f3 = (
        f2.join(sym, f2.node == sym.u)
        .where(F.col("v") != F.col("seed"))
        .select("seed", F.col("v").alias("node"))
        .distinct()
        .join(f1, ["seed", "node"], "left_anti")
        .join(f2, ["seed", "node"], "left_anti")
    )
    c1 = f1.groupBy("seed").agg(F.count(F.lit(1)).cast("long").alias("n1"))
    c2 = f2.groupBy("seed").agg(F.count(F.lit(1)).cast("long").alias("n2"))
    c3 = f3.groupBy("seed").agg(F.count(F.lit(1)).cast("long").alias("n3"))
    return (
        seeds.join(c1, "seed", "left")
        .join(c2, "seed", "left")
        .join(c3, "seed", "left")
        .select(
            "seed",
            F.expr("CAST(COALESCE(n1, 0) AS BIGINT)").alias("n1"),
            F.expr("CAST(COALESCE(n2, 0) AS BIGINT)").alias("n2"),
            F.expr("CAST(COALESCE(n3, 0) AS BIGINT)").alias("n3"),
            F.expr(
                "CAST(6 * COALESCE(n1, 0) + 3 * COALESCE(n2, 0)"
                " + 2 * COALESCE(n3, 0) AS BIGINT)"
            ).alias("harmonic_sixths"),
        )
    )


# ---------------------------------------------------------------------------
# item-item cosine similarity (collaborative-filtering neighbors)
# ---------------------------------------------------------------------------

# Cosine over binary user-item interactions: co / sqrt(ni * nj) — the
# one shared IEEE string (exact BIGINT co-counts and item frequencies
# underneath), micro-floored BEFORE the top-k rank so the selection is
# an integer order statistic with (i, j) tie-breaks.
_IIC_COS = (
    "(CAST(co AS DOUBLE)"
    " / sqrt(CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)))"
)


@query(
    "item_item_cosine_topk",
    oracle=f"""
WITH r AS (
  SELECT DISTINCT o.o_custkey AS usr, l.l_partkey AS item
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
ni AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY item),
co AS (
  SELECT a.item AS i, b.item AS j, CAST(COUNT(*) AS BIGINT) AS co
  FROM r a JOIN r b ON a.usr = b.usr
  WHERE a.item < b.item
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
sc AS (
  SELECT co.i, co.j, co.co, x.n AS ni, y.n AS nj,
         CAST(FLOOR({_IIC_COS} * 1000000.0) AS BIGINT) AS cos_micro
  FROM co JOIN ni x ON x.item = co.i JOIN ni y ON y.item = co.j
)
SELECT i AS item_i, j AS item_j, co AS n_co_users, ni, nj, cos_micro
FROM sc
ORDER BY cos_micro DESC, i, j
LIMIT 20
""",
)
def item_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine similarity over binary user-item interactions —
    the neighborhood model behind "customers who bought X also bought
    Y" (Sarwar et al. 2001; Linden et al. 2003, the Amazon item-CF
    paper): distinct (customer, part) baskets, pairwise co-interaction
    counts with support >= 2, cosine co/sqrt(ni*nj), and the global
    top-20 most-similar pairs.

    Exactness: co-counts and item frequencies are exact BIGINTs; the
    cosine is one shared IEEE string, micro-floored BEFORE ranking, so
    the top-k selection is an integer order statistic with (i, j) id
    tie-breaks — deterministic on both engines.

    Scale shape: the pair build self-joins the interaction table on
    the USER key, so the blow-up is bounded by per-user basket size
    (the copurchase_edges argument on the user axis — baskets are
    activity-bounded, never corpus-bounded), and support >= 2 prunes
    the accidental-co-occurrence tail before the frequency joins.
    Top-20 is a TakeOrdered (per-partition heaps + a 20-row driver
    merge), never a global sort."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # NOTE (r13 optimization round): the copurchase_edges rework
    # (collect_set baskets + map-side TRANSFORM pair expansion, one
    # exchange) was tried here and REVERTED — measured 3x SLOWER.  The
    # asymmetry: per-ORDER baskets hold <= ~7 parts, so the expansion is
    # tiny codegen-free work; per-USER baskets hold hundreds of items,
    # and O(|basket|^2) struct allocation through interpreted
    # higher-order lambdas loses badly to the whole-stage-codegen'd
    # equi-join + hash count below.  The join form is kept deliberately.
    r = (
        l.join(o.select("o_orderkey", "o_custkey"),
               l.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("usr"), F.col("l_partkey").alias("item")
        )
        .distinct()
        .persist()
    )
    ni = r.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = r.select("usr", F.col("item").alias("i"))
    b = r.select("usr", F.col("item").alias("j"))
    # r14 (guide §2.3 "aggregate before you shuffle" — inverted here by
    # measurement): the pair stream is 97% UNIQUE keys (13.1M pairs,
    # 12.7M distinct at sf0.1 — co-pairs repeat only across users, and a
    # map task holds a user subset), so the map-side partial aggregate
    # built a 13M-entry hash table that reduced almost nothing.  The
    # explicit repartition makes the exchange pure (map side just writes
    # shuffle rows) and the count runs once, reduce-side: same single
    # exchange, measured 4.2-5.6 s -> 3.3-4.0 s on the co stage.  A numpy
    # sort-count kernel after the repartition was tried and was SLOWER
    # (4.7 s — the 13M-row Arrow boundary costs more than the hash agg
    # saves); prefix-filter pruning is inapplicable: the global top-20
    # cosine is ~0.141 here, and the frequency upper bound
    # sqrt(min(ni,nj)/max(ni,nj)) prunes nothing at that threshold.
    co = (
        a.join(b, "usr")
        .where(F.col("i") < F.col("j"))
        .select("i", "j")
        .repartition("i", "j")
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
        .where(F.col("co") >= 2)
    )
    sc = (
        co.join(ni.select(F.col("item").alias("i"), F.col("n").alias("ni")),
                "i")
        .join(ni.select(F.col("item").alias("j"), F.col("n").alias("nj")),
              "j")
        .select(
            "i", "j", "co", "ni", "nj",
            F.expr(
                f"CAST(FLOOR({_IIC_COS} * 1000000.0) AS BIGINT)"
            ).alias("cos_micro"),
        )
    )
    return (
        sc.orderBy(F.col("cos_micro").desc(), "i", "j")
        .limit(20)
        .select(
            F.col("i").alias("item_i"),
            F.col("j").alias("item_j"),
            F.col("co").alias("n_co_users"),
            "ni",
            "nj",
            "cos_micro",
        )
    )


# ---------------------------------------------------------------------------
# DBSCAN core/border/noise classification (partition-local, cell-blocked)
# ---------------------------------------------------------------------------

# eps = 1.2 in embedding units -> 1200 milli; distances compare in
# exact milli^2 integers against eps^2 = 1,440,000.  minPts = 3
# neighbors (excluding self).
_DBSCAN_EPS2 = 1200 * 1200
_DBSCAN_MINPTS = 3


@query(
    "dbscan_core_points",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         CAST(4 * (CASE WHEN CAST(embedding[1] AS DOUBLE) > 0.0
                        THEN 1 ELSE 0 END)
              + 2 * (CASE WHEN CAST(embedding[2] AS DOUBLE) > 0.0
                          THEN 1 ELSE 0 END)
              + (CASE WHEN CAST(embedding[3] AS DOUBLE) > 0.0
                      THEN 1 ELSE 0 END) AS BIGINT) AS cell,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0)
                                  AS BIGINT)) AS qv
  FROM embeddings
),
pr AS (
  SELECT a.vec_id AS i, b.vec_id AS j
  FROM q a JOIN q b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(list_zip(a.qv, b.qv),
                                x -> (x[1] - x[2]) * (x[1] - x[2])))
        <= {_DBSCAN_EPS2}
),
nbr AS (
  SELECT i, j FROM pr UNION ALL SELECT j AS i, i AS j FROM pr
),
cnt AS (
  SELECT i AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_nbrs
  FROM nbr GROUP BY i
),
lab AS (
  SELECT q.vec_id, q.cell,
         COALESCE(c.n_nbrs, 0) AS n_nbrs,
         CASE WHEN COALESCE(c.n_nbrs, 0) >= {_DBSCAN_MINPTS} THEN 'core'
              WHEN EXISTS (
                SELECT 1 FROM nbr
                JOIN cnt cc ON cc.vec_id = nbr.j
                WHERE nbr.i = q.vec_id AND cc.n_nbrs >= {_DBSCAN_MINPTS})
              THEN 'border'
              ELSE 'noise' END AS klass
  FROM q LEFT JOIN cnt c ON c.vec_id = q.vec_id
)
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CASE WHEN klass = 'core' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_core,
       CAST(SUM(CASE WHEN klass = 'border' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_border,
       CAST(SUM(CASE WHEN klass = 'noise' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_noise
FROM lab GROUP BY cell
""",
)
def dbscan_core_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density classification (Ester et al. 1996) of the
    embedding corpus into core / border / noise points, in the
    partition-local form distributed DBSCAN implementations use
    (MR-DBSCAN / RDD-DBSCAN: partition space, run the epsilon-
    neighborhood machinery exactly WITHIN each partition): cells are
    the sign-octants of the first 3 embedding dims, neighborhoods are
    exact within a cell, and each point is core (>= {_DBSCAN_MINPTS}
    neighbors within eps), border (neighbor of a core), or noise.

    INTEGER-EXACT: dims quantize to milli BIGINTs, squared L2
    distances are exact integer folds compared against eps^2 =
    {_DBSCAN_EPS2} — no sqrt, no IEEE anywhere.

    Scale shape: the pair build is an equi-join on the cell key (the
    semantic_dedup within-cluster device — at production scale the
    quantizer is a finer grid over clustered data, keeping cells
    bucket-capped; the octant cells here exercise the identical
    dataflow), one neighbor-count agg, a core-neighbor semi-join for
    the border rule, and an 8-row class rollup."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "CAST(4 * (CASE WHEN CAST(element_at(embedding, 1) AS DOUBLE)"
            " > 0.0 THEN 1 ELSE 0 END)"
            " + 2 * (CASE WHEN CAST(element_at(embedding, 2) AS DOUBLE)"
            " > 0.0 THEN 1 ELSE 0 END)"
            " + (CASE WHEN CAST(element_at(embedding, 3) AS DOUBLE)"
            " > 0.0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("cell"),
        F.expr(
            "transform(embedding,"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
        ).alias("qv"),
    ).persist()
    a = q.select(
        F.col("cell"), F.col("vec_id").alias("i"), F.col("qv").alias("qa")
    )
    b = q.select(
        F.col("cell"), F.col("vec_id").alias("j"), F.col("qv").alias("qb")
    )
    pr = (
        a.join(b, "cell")
        .where(F.col("i") < F.col("j"))
        .where(
            F.expr(
                "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
                f" <= {_DBSCAN_EPS2}"
            )
        )
        .select("i", "j")
    )
    nbr = pr.unionByName(
        pr.select(F.col("j").alias("i"), F.col("i").alias("j"))
    ).persist()
    cnt = nbr.groupBy(F.col("i").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nbrs")
    ).persist()
    core = cnt.where(F.col("n_nbrs") >= _DBSCAN_MINPTS).select(
        F.col("vec_id").alias("j")
    )
    border_ids = (
        nbr.join(core, "j")
        .select(F.col("i").alias("vec_id"))
        .distinct()
        .withColumn("has_core_nbr", F.lit(1))
    )
    lab = (
        q.select("vec_id", "cell")
        .join(cnt, "vec_id", "left")
        .join(border_ids, "vec_id", "left")
        .select(
            "cell",
            F.expr(
                f"CASE WHEN COALESCE(n_nbrs, 0) >= {_DBSCAN_MINPTS}"
                " THEN 'core'"
                " WHEN has_core_nbr IS NOT NULL THEN 'border'"
                " ELSE 'noise' END"
            ).alias("klass"),
        )
    )
    return lab.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.expr(
            "CAST(SUM(CASE WHEN klass = 'core' THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_core"),
        F.expr(
            "CAST(SUM(CASE WHEN klass = 'border' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_border"),
        F.expr(
            "CAST(SUM(CASE WHEN klass = 'noise' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_noise"),
    )
