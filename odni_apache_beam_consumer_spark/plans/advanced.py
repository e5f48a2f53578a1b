"""Advanced relational surface: correlated subqueries, pivot/unpivot,
distribution window functions, ordered list aggregation, sketches.

The reference has none of these (its only transforms are a Kafka read and
a print, ``/root/reference/main.py:85-109``); this pack closes the last
ANSI-SQL capability rows a user of a general analytics engine expects.

Subquery queries go through ``spark.sql`` on purpose: EXISTS / IN /
correlated-scalar subqueries exercise Catalyst's subquery *decorrelation*
(rewrite to semi/anti/aggregate-join), which is its own capability beyond
the hand-written join queries in relational.py — at 100 TB the rewritten
plan is a broadcast or shuffled hash join, never a per-row re-execution.

Temp views are per-query-prefixed (``sq_``, ``ssq_``, ``inq_``) so
concurrent/interleaved query runs in one shared session never clash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from odni_apache_beam_consumer_spark.catalog import load_table
from odni_apache_beam_consumer_spark.operators.sampling import hex_digits, md5_key
from odni_apache_beam_consumer_spark.plans.registry import query

# ---------------------------------------------------------------------------
# subqueries (EXISTS / IN / correlated scalar) — Catalyst decorrelation
# ---------------------------------------------------------------------------


@query(
    "exists_subquery",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
""",
)
def exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: priority counts for orders with at least one line
    shipped after the order date.  Catalyst decorrelates the EXISTS into a
    left-semi hash join on l_orderkey — one shuffle, no per-row subquery
    execution; at 100 TB this is the only viable physical shape."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sq_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("sq_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM sq_orders o
        WHERE o.o_orderdate >= CAST('1995-01-01' AS TIMESTAMP_NTZ)
          AND o.o_orderdate < CAST('1995-07-01' AS TIMESTAMP_NTZ)
          AND EXISTS (
            SELECT 1 FROM sq_lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o_orderpriority
        """
    )


@query(
    "in_subquery",
    oracle="""
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-06-01'
    AND l_shipdate < TIMESTAMP '1995-07-01'
    AND l_quantity >= 45
)
""",
)
def in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated IN-subquery: suppliers that shipped a large line in a
    month window.  Decorrelates to semi-join against the deduplicated
    subquery result; the supplier side is dimension-sized so AQE picks a
    broadcast."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("inq_supplier")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("inq_lineitem")
    return spark.sql(
        """
        SELECT s_suppkey, s_name FROM inq_supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM inq_lineitem
          WHERE l_shipdate >= CAST('1995-06-01' AS TIMESTAMP_NTZ)
            AND l_shipdate < CAST('1995-07-01' AS TIMESTAMP_NTZ)
            AND l_quantity >= 45
        )
        """
    )


@query(
    "scalar_subquery",
    oracle="""
SELECT p_brand, COUNT(*) AS n_small_lines, ROUND(SUM(l_extendedprice), 2) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l_quantity < (
  SELECT ROUND(0.5 * AVG(l2.l_quantity), 6) FROM lineitem l2
  WHERE l2.l_partkey = l.l_partkey
)
GROUP BY p_brand
""",
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lines with quantity below half the part's average.
    The correlated scalar subquery decorrelates into a per-part AVG
    aggregate joined back on l_partkey — the aggregate side is one row per
    part (dimension-sized ⇒ broadcast at any sf).  The threshold is
    ROUND()ed to 6dp on both engines so float summation order can never
    flip the comparison for a boundary row."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("ssq_lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("ssq_part")
    return spark.sql(
        """
        SELECT p_brand, COUNT(*) AS n_small_lines,
               ROUND(SUM(l_extendedprice), 2) AS revenue
        FROM ssq_lineitem l JOIN ssq_part p ON p.p_partkey = l.l_partkey
        WHERE l_quantity < (
          SELECT ROUND(0.5 * AVG(l2.l_quantity), 6) FROM ssq_lineitem l2
          WHERE l2.l_partkey = l.l_partkey
        )
        GROUP BY p_brand
        """
    )


# ---------------------------------------------------------------------------
# pivot / unpivot
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@query(
    "pivot_priority_counts",
    oracle="""
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS "1-URGENT",
       COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS "2-HIGH",
       COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS "3-MEDIUM",
       COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS "4-NOT SPECIFIED",
       COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS "5-LOW"
FROM orders GROUP BY 1
""",
)
def pivot_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot: order counts per year × priority.  The value list is
    passed explicitly — with it, Spark pivots in ONE aggregation pass; left
    implicit it needs an extra distinct-values job first (a full scan you
    never want at 100 TB).  Missing cells coalesce to 0 to match the
    conditional-aggregation oracle."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "order_year",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(p) for p in _PRIORITIES],
    )


@query(
    "unpivot_nation_metrics",
    oracle="""
WITH wide AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS DOUBLE) AS n_customers,
         ROUND(SUM(c_acctbal), 2) AS total_acctbal,
         ROUND(MAX(c_acctbal), 2) AS max_acctbal
  FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, 'n_customers' AS metric, n_customers AS value FROM wide
UNION ALL
SELECT c_nationkey, 'total_acctbal', total_acctbal FROM wide
UNION ALL
SELECT c_nationkey, 'max_acctbal', max_acctbal FROM wide
""",
)
def unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (``DataFrame.unpivot`` / SQL ``stack``): one row
    per (nation, metric).  The melt itself is a zero-shuffle projection —
    only the preceding groupBy exchanges data."""
    c = load_table(spark, sf_dir, "customer")
    wide = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("double").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
    )
    return wide.unpivot(
        ids=["c_nationkey"],
        values=["n_customers", "total_acctbal", "max_acctbal"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# ---------------------------------------------------------------------------
# distribution window functions / ordered list aggregation
# ---------------------------------------------------------------------------


@query(
    "window_distribution",
    oracle="""
SELECT c_custkey, c_mktsegment,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       ntile(4) OVER w AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist / ntile per
    market segment.  The ORDER BY includes c_custkey as a total-order
    tiebreak — ntile assigns by row position, so a non-total order would be
    nondeterministic across engines (and across Spark runs)."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "order_lines_agg",
    oracle="""
SELECT l_orderkey,
       COUNT(*) AS n_lines,
       string_agg(l_linenumber, ',' ORDER BY l_linenumber) AS line_numbers,
       ROUND(SUM(l_extendedprice), 2) AS total_price
FROM lineitem GROUP BY l_orderkey
""",
)
def order_lines_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered list aggregation: per order, the sorted line numbers as one
    string (collect_list → sort_array → transform → concat_ws, all JVM
    array kernels).  The numeric sort happens BEFORE the string cast —
    sorting the strings would order '10' < '2'."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("l_linenumber")),
                lambda x: x.cast("string"),
            ),
        ).alias("line_numbers"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# sketches
# ---------------------------------------------------------------------------
#
# NOTE on the within_5pct oracles below (approx_distinct_users,
# hll_sketch_store): at rsd=0.02 the 5% bound is a ~2.5-sigma
# PROBABILISTIC envelope, not a guarantee — the TRUE literal is pinned
# EMPIRICALLY for the committed fixtures (every sf dir, every group).
# A new scale factor, seed, or a change to Spark's HLL implementation
# can legitimately flip the flag on correct behavior; if that happens,
# widen the envelope toward 3x rsd (or re-pin against the new fixtures)
# rather than suspecting the sketch plumbing first.


@query(
    "approx_distinct_users",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM events
GROUP BY event_type
""",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user sketch per event type, audited
    in-query against the exact count.  At 100 TB the sketch is the
    point: constant memory per group, map-side partially aggregated,
    mergeable across partitions — exact COUNT(DISTINCT) needs a full
    shuffle of every distinct value.

    The raw HLL estimate is engine-specific by construction, so it
    cannot be hash-compared; what CAN be is the sketch's CONTRACT —
    ``within_5pct`` checks the estimate against the exact count inside
    the query, and the oracle pins it to literal TRUE (the 2.5x-rsd
    envelope at rsd=0.02).  A drifting estimator flips the flag and
    fails the driver's hash; tests/test_advanced.py additionally
    measures the actual error."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count_distinct("user_id").cast("long").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users")) * 100
                <= F.col("exact_users") * 5
            ).alias("within_5pct"),
        )
    )


@query(
    "hll_sketch_store",
    oracle="""
SELECT c_mktsegment,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_customers,
       TRUE AS within_5pct
FROM customer
GROUP BY c_mktsegment
UNION ALL
SELECT '__ALL__' AS c_mktsegment,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_customers,
       TRUE AS within_5pct
FROM customer
""",
)
def hll_sketch_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch store (Apache DataSketches HLL,
    Spark 3.5+ built-ins): build one serialized sketch per market
    segment, then MERGE the stored sketches to re-derive region-free
    rollups — the incremental-stats pattern at 100 TB: daily jobs
    persist per-partition sketch binaries (bytes, constant size), and
    any later rollup unions sketches instead of rescanning raw data.

    Output: per-segment + merged __ALL__ rows, each carrying the exact
    count and ``within_5pct`` — the estimate (derived FROM the stored
    sketches; for __ALL__, from the sketch UNION, not from rows) checked
    against exact inside the query.  Sketch binaries and estimates are
    engine-specific, so the CONTRACT is what the driver hashes: the
    oracle pins every flag to literal TRUE — a broken sketch merge or a
    drifting estimator flips the __ALL__ row and fails the hash.
    tests/test_advanced.py measures the actual error."""
    c = load_table(spark, sf_dir, "customer")
    per_seg = c.groupBy("c_mktsegment").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
        F.count_distinct("c_custkey").cast("long").alias("exact_customers"),
    )
    merged = per_seg.agg(
        F.hll_union_agg("sk").alias("sk"),
        F.sum("exact_customers").cast("long").alias("exact_customers"),
    ).select(
        F.lit("__ALL__").alias("c_mktsegment"),
        F.hll_sketch_estimate("sk").alias("approx_customers"),
        "exact_customers",
    )
    return (
        per_seg.select(
            "c_mktsegment",
            F.hll_sketch_estimate("sk").alias("approx_customers"),
            "exact_customers",
        )
        .unionByName(merged)
        .select(
            "c_mktsegment",
            "exact_customers",
            (
                F.abs(F.col("approx_customers") - F.col("exact_customers")) * 100
                <= F.col("exact_customers") * 5
            ).alias("within_5pct"),
        )
    )


@query(
    "quantile_sketch_merge",
    oracle="""
WITH sk AS (
  SELECT l_returnflag AS flag,
         CAST(FLOOR(l_extendedprice / 500) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2
),
merged AS (
  SELECT flag, bin, cnt FROM sk
  UNION ALL
  SELECT '__ALL__' AS flag, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM sk GROUP BY bin
),
cum AS (
  SELECT flag, bin, cnt,
         SUM(cnt) OVER (PARTITION BY flag ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS c,
         SUM(cnt) OVER (PARTITION BY flag) AS total
  FROM merged
)
SELECT flag,
       CAST(MAX(total) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST((MIN(CASE WHEN c * 100 >= 25 * total THEN bin END) + 1) * 500
            AS BIGINT) AS p25_upper,
       CAST((MIN(CASE WHEN c * 100 >= 50 * total THEN bin END) + 1) * 500
            AS BIGINT) AS p50_upper,
       CAST((MIN(CASE WHEN c * 100 >= 75 * total THEN bin END) + 1) * 500
            AS BIGINT) AS p75_upper,
       CAST((MIN(CASE WHEN c * 100 >= 90 * total THEN bin END) + 1) * 500
            AS BIGINT) AS p90_upper
FROM cum GROUP BY flag
""",
)
def quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch as an ALGEBRAIC aggregate — the
    deterministic, driver-hash-checkable cousin of KLL/t-digest: a
    fixed-width histogram (bin = FLOOR(price / 500)) whose bin counts are
    the sketch.  Like the HLL store above, the point is MERGEABILITY:
    per-group sketches build with one map-side-combined hash aggregation,
    and the ``__ALL__`` rollup row is re-derived by merging the STORED
    per-flag sketches (summing bin counts), never by rescanning rows —
    the incremental-stats pattern where daily jobs persist tiny
    (group, bin, count) tables and any later quantile query unions them.
    Quantile estimates are bin upper edges at the smallest bin whose
    cumulative count reaches ceil(q * n) — within one bin width (500) of
    exact, bounded error asserted against percentile_approx in
    tests/test_advanced.py.

    Portability: every output is integer arithmetic (FLOOR of one IEEE
    divide, integer cumulative compare ``c*100 >= q*total``) — no ROUND,
    no float aggregate in the hash.

    Scale shape: sketch build is one hash agg with map-side partials
    (|flags| x ~210 bins out); the quantile extraction windows over the
    SKETCH (tiny), not the data — at 100 TB only the first aggregation
    touches rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    sk = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") / 500).cast("long").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    merged = sk.unionByName(
        sk.groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.lit("__ALL__").alias("flag"), "bin", "cnt")
    )
    w_cum = (
        W.partitionBy("flag")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_tot = W.partitionBy("flag")
    cum = merged.select(
        "flag",
        "bin",
        F.sum("cnt").over(w_cum).alias("c"),
        F.sum("cnt").over(w_tot).alias("total"),
    )

    def q_upper(pct: int, name: str) -> F.Column:
        return (
            (
                F.min(
                    F.when(
                        F.col("c") * 100 >= F.col("total") * pct, F.col("bin")
                    )
                )
                + 1
            )
            * 500
        ).cast("long").alias(name)

    return cum.groupBy("flag").agg(
        F.max("total").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        q_upper(25, "p25_upper"),
        q_upper(50, "p50_upper"),
        q_upper(75, "p75_upper"),
        q_upper(90, "p90_upper"),
    )


def _sketch_cell(prefix: str, dialect: str = "spark") -> str:
    """Count-sketch cell in [0, 64) of hash row ``j`` for ``user_id``:
    two md5 hex digits of ``<prefix><j>:<user_id>``, mod 64."""
    m = md5_key(prefix, "j", "user_id", dialect=dialect)
    return f"(({hex_digits(m, dialect=dialect)}) % 64)"


@query(
    "countmin_heavy_hitters",
    oracle=f"""
WITH e AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
cells AS (
  SELECT j, {_sketch_cell("cms", "duckdb")} AS idx,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM e, UNNEST(range(0, 3)) AS ju(j)
  GROUP BY 1, 2
),
exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM e GROUP BY user_id
),
top AS (
  SELECT user_id, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, user_id LIMIT 10
),
probes AS (
  SELECT t.user_id, t.exact_cnt, j,
         {_sketch_cell("cms", "duckdb")} AS idx
  FROM top t, UNNEST(range(0, 3)) AS ju(j)
)
SELECT p.user_id, p.exact_cnt,
       CAST(MIN(c.cnt) AS BIGINT) AS cms_estimate,
       CAST(MIN(c.cnt) - p.exact_cnt AS BIGINT) AS overestimate
FROM probes p JOIN cells c ON c.j = p.j AND c.idx = p.idx
GROUP BY p.user_id, p.exact_cnt
""",
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) as a pure
    DataFrame aggregate, audited against exact counts: d=3 md5-derived
    hash rows x w=64 counters — 192 cells total — estimate a key's
    frequency as the MIN over its d counters.  Deterministic (two md5
    hex digits rendered for both engines by operators/sampling.py's
    ``hex_digits``) and MERGEABLE: cells are plain sums, so
    per-partition/per-day sketches union by adding counters — the
    constant-memory frequency store for keys too numerous to count
    exactly, sibling of the HLL distinct store above and the quantile
    histogram sketch.

    Output: the top-10 users by exact count with their CMS estimates and
    the overestimate (CMS error is one-sided: estimate >= truth always,
    asserted for EVERY key in tests/test_advanced.py; at ~2k users in 64
    counters, collisions make the audit non-vacuous).

    Scale shape: the sketch build is one hash aggregation over a 3x
    map-side fan-out with partial aggregation collapsing to <=192 rows
    per partition before the exchange; the probe side joins a 30-row
    broadcast against the 192-cell sketch — at 100 TB only the build
    pass touches rows, and the exact side of the audit would be sampled
    or dropped (it exists here to witness the error bound)."""
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id")
    )
    tripled = e.select(
        "user_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j")
    )
    cells = tripled.groupBy(
        "j", F.expr(_sketch_cell("cms")).alias("idx")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.col("exact_cnt").desc(), "user_id").limit(10)
    probes = top.select(
        "user_id",
        "exact_cnt",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
    ).withColumn("idx", F.expr(_sketch_cell("cms")))
    return (
        F.broadcast(probes)
        .join(cells, ["j", "idx"])
        .groupBy("user_id", "exact_cnt")
        .agg(
            F.min("cnt").cast("long").alias("cms_estimate"),
            (F.min("cnt") - F.col("exact_cnt")).cast("long").alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# ordered-set aggregates (arg_min/arg_max) — OHLC bars
# ---------------------------------------------------------------------------


@query(
    "ohlc_bars",
    oracle="""
WITH e AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS bar_hour,
         value,
         (epoch_us(ts) // 1000000) * 1000000000 + event_id AS ord
  FROM events
)
SELECT event_type, bar_hour,
       arg_min(value, ord) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, ord) AS close,
       ROUND(SUM(value), 2) AS volume,
       COUNT(*) AS n_events
FROM e GROUP BY event_type, bar_hour
""",
)
def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type: the ordered-set-aggregate
    capability (``min_by``/``max_by`` — first/last value by an ordering
    key inside a hash aggregate, no window function and no sort).

    Scale shape: ONE hash aggregation (map-side partial min_by/max_by
    combine, like any algebraic agg) — the window-function alternative
    (row_number over (type, hour) then filter) would sort every group;
    min_by folds in O(1) state per group.  The ordering key is packed
    into a FIXED-WIDTH BIGINT (epoch_sec * 1e9 + event_id): a string key
    would put a var-length field in the aggregate buffer, which Spark's
    HashAggregateExec can't mutate in place — the plan silently degrades
    to SortAggregate (sort-per-partition, O(n log n)).  Equal-second
    events tie-break deterministically by event id on both engines."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("bar_hour"),
        "value",
        (
            F.expr("unix_micros(ts) div 1000000") * F.lit(1000000000)
            + F.col("event_id")
        ).alias("ord"),
    )
    return e.groupBy("event_type", "bar_hour").agg(
        F.min_by("value", "ord").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ord").alias("close"),
        F.round(F.sum("value"), 2).alias("volume"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# data-quality expectations gate (Deequ-style ingest validation)
# ---------------------------------------------------------------------------


@query(
    "dq_expectations",
    oracle="""
SELECT 'orders.custkey_null' AS check_name,
       CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS n_violations,
       COUNT(*) AS n_checked
FROM orders
UNION ALL
SELECT 'orders.status_domain',
       CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT),
       COUNT(*)
FROM orders
UNION ALL
SELECT 'orders.totalprice_nonpositive',
       CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT), COUNT(*)
FROM orders
UNION ALL
SELECT 'orders.orderkey_dup',
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT), COUNT(*)
FROM orders
UNION ALL
SELECT 'lineitem.discount_range',
       CAST(COUNT(*) FILTER (WHERE l_discount NOT BETWEEN 0 AND 1) AS BIGINT),
       COUNT(*)
FROM lineitem
UNION ALL
SELECT 'lineitem.quantity_nonpositive',
       CAST(COUNT(*) FILTER (WHERE l_quantity <= 0) AS BIGINT), COUNT(*)
FROM lineitem
UNION ALL
SELECT 'lineitem.orphan_orderkey',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL),
       (SELECT COUNT(*) FROM lineitem)
""",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-validation gate: a declared expectation suite (null rate,
    value domain, range, uniqueness, referential integrity) evaluated in
    as few passes as the checks allow, emitted long-form
    (check_name, n_violations, n_checked) — the Deequ/expectations
    pattern a pipeline runs before promoting a batch.

    Scale shape: all per-table checks for one table fold into ONE scan
    (conditional partial aggs side by side); the FK check is a broadcast
    anti-join (orders keys are the small side at any realistic
    fact/dimension ratio) counted map-side.  Nothing here shuffles more
    than one row per check."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def viol(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    n = F.count(F.lit(1)).alias("n_checked")
    o_wide = o.agg(
        viol(F.col("o_custkey").isNull()).alias("custkey_null"),
        viol(~F.col("o_orderstatus").isin("O", "F", "P")).alias("status_domain"),
        viol(F.col("o_totalprice") <= 0).alias("totalprice_nonpositive"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("orderkey_dup"),
        n,
    )
    l_wide = li.agg(
        viol(~F.col("l_discount").between(0, 1)).alias("discount_range"),
        viol(F.col("l_quantity") <= 0).alias("quantity_nonpositive"),
        n,
    )
    orphan = (
        li.join(F.broadcast(o.select("o_orderkey")),
                li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        .crossJoin(li.agg(F.count(F.lit(1)).alias("n_checked")))
        .select(F.lit("lineitem.orphan_orderkey").alias("check_name"),
                "n_violations", "n_checked")
    )

    def long_form(wide: DataFrame, table: str, checks: list[str]) -> DataFrame:
        rows = [
            wide.select(
                F.lit(f"{table}.{c}").alias("check_name"),
                F.col(c).alias("n_violations"),
                "n_checked",
            )
            for c in checks
        ]
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out

    return (
        long_form(o_wide, "orders",
                  ["custkey_null", "status_domain", "totalprice_nonpositive",
                   "orderkey_dup"])
        .unionByName(long_form(l_wide, "lineitem",
                               ["discount_range", "quantity_nonpositive"]))
        .unionByName(orphan)
    )


@query(
    "weighted_median_price",
    oracle="""
WITH c AS (
  SELECT l_returnflag,
         l_extendedprice AS p,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice) AS cum,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tot
  FROM lineitem
)
SELECT l_returnflag,
       ROUND(MIN(p), 2) AS weighted_median_price,
       ROUND(MIN(tot), 2) AS total_weight
FROM c
WHERE cum >= tot / 2
GROUP BY l_returnflag
""",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the price at which half the total QUANTITY sits
    below, per return flag — the robust central-tendency statistic when
    rows carry unequal mass (plain median treats a 1-unit and a 50-unit
    line item alike).  Definition: smallest price whose running quantity
    mass reaches half the total.

    Shape: one window pass per group key (running weight, RANGE frame so
    equal prices are peers — both engines' default, which makes the
    boundary row engine-independent) + one tiny group-min.  The window
    partitions on the 3-value return flag, so local parallelism is
    group-bound; at 100 TB with few groups, two-pass instead: histogram
    the weight into price bins (one hash agg), find the half-mass bin,
    then exact-scan only that bin — same answer, no giant sort."""
    li = load_table(spark, sf_dir, "lineitem")
    w_cum = W.partitionBy("l_returnflag").orderBy("l_extendedprice")
    c = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("p"),
        F.sum("l_quantity").over(w_cum).alias("cum"),
        F.sum("l_quantity").over(W.partitionBy("l_returnflag")).alias("tot"),
    )
    return (
        c.where(F.col("cum") >= F.col("tot") / 2)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("p"), 2).alias("weighted_median_price"),
            F.round(F.min("tot"), 2).alias("total_weight"),
        )
    )


@query(
    "join_cardinality_estimate",
    oracle=f"""
WITH a AS (
  SELECT user_id FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL
),
b AS (
  SELECT user_id FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
),
exact AS (
  SELECT CAST(SUM(ca.n * cb.n) AS BIGINT) AS exact_pairs
  FROM (SELECT user_id, COUNT(*) AS n FROM a GROUP BY user_id) ca
  JOIN (SELECT user_id, COUNT(*) AS n FROM b GROUP BY user_id) cb
    USING (user_id)
),
cells_a AS (
  SELECT j, {_sketch_cell("jce", "duckdb")} AS idx,
         CAST(COUNT(*) AS BIGINT) AS ca
  FROM a, UNNEST(range(0, 3)) AS ju(j) GROUP BY 1, 2
),
cells_b AS (
  SELECT j, {_sketch_cell("jce", "duckdb")} AS idx,
         CAST(COUNT(*) AS BIGINT) AS cb
  FROM b, UNNEST(range(0, 3)) AS ju(j) GROUP BY 1, 2
),
per_row AS (
  SELECT a.j, CAST(SUM(a.ca * b.cb) AS BIGINT) AS dot
  FROM cells_a a JOIN cells_b b ON a.j = b.j AND a.idx = b.idx
  GROUP BY a.j
)
SELECT exact.exact_pairs,
       CAST(MIN(per_row.dot) AS BIGINT) AS cms_estimate,
       CAST((MIN(per_row.dot) - exact.exact_pairs) * 1000000
            // exact.exact_pairs AS BIGINT) AS overestimate_ppm
FROM per_row CROSS JOIN exact
GROUP BY exact.exact_pairs
""",
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality estimation via Count-Min inner product
    (Cormode & Muthukrishnan's AMS-style dot-product estimator): the
    size of views JOIN purchases ON user_id is SUM_u a(u)*b(u) — the
    quantity an optimizer (or a capacity planner deciding whether a join
    is even runnable) needs BEFORE shuffling anything.  Each side builds
    a 3x64 count sketch in one scan (hash seed 'jce', independent of
    countmin_heavy_hitters' 'cms'); the estimate is the MIN over rows
    of the per-row sketch dot product, one-sided (>= truth) because
    collisions only add mass.  Audited against the exact product-sum,
    with the overestimate in ppm.

    Mergeable like every sketch in this family (cells are sums), so
    per-partition or per-day sketches union by adding counters — at
    100 TB both sketches fall out of metadata-collection scans and the
    planner never touches the fact tables.

    Scale shape: two hash aggregations that collapse to <= 192 cells
    map-side; the sketch join is 192x192-bounded; the exact audit side
    (two key-grained aggs + an equi-join) exists to witness the error
    and would be sampled or dropped in production."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    a = e.where(F.col("event_type") == "view").select("user_id")
    b = e.where(F.col("event_type") == "purchase").select("user_id")

    def cells(side: DataFrame, out: str) -> DataFrame:
        tripled = side.select(
            "user_id",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
        )
        return (
            tripled.select(
                "j", F.expr(_sketch_cell("jce")).alias("idx")
            )
            .groupBy("j", "idx")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    per_row = (
        cells(a, "ca")
        .join(cells(b, "cb"), ["j", "idx"])
        .groupBy("j")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
    )
    exact = (
        a.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("na"))
        .join(
            b.groupBy("user_id").agg(F.count(F.lit(1)).alias("nb")),
            "user_id",
        )
        .agg(F.sum(F.col("na") * F.col("nb")).cast("long").alias("exact_pairs"))
    )
    return (
        per_row.crossJoin(F.broadcast(exact))
        .groupBy("exact_pairs")
        .agg(F.min("dot").cast("long").alias("cms_estimate"))
        .select(
            "exact_pairs",
            "cms_estimate",
            F.expr(
                "CAST((cms_estimate - exact_pairs) * 1000000 "
                "DIV exact_pairs AS BIGINT)"
            ).alias("overestimate_ppm"),
        )
    )
