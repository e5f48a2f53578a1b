"""Window functions + time-window aggregations (SURVEY.md §2.2 rows:
window functions, streaming windows in their batch-expressible form).

The reference has none of these (SURVEY.md §2.2: ABSENT).  The tumbling /
sliding / session queries and the two outer purchase-click joins here are
the *batch* duals of the streaming operators in
``odni_apache_beam_consumer_spark/streaming/windows.py`` — the batch duals
call these functions (watermarks are no-ops on batch frames), so the
DuckDB oracle checks the streaming code itself, and batch-stream
equivalence (SURVEY.md §5.2) tests its streaming execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.catalog import load_table
from odni_apache_beam_consumer_spark.plans.registry import query
from odni_apache_beam_consumer_spark.streaming.windows import (
    TS_FMT_SPARK,
    interval_join,
    session_counts,
    sliding_counts,
    tumbling_counts,
)

TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@query(
    "window_rank",
    oracle="""
SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 2) AS total_price,
       ROW_NUMBER() OVER w AS rn,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
""",
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window functions over a hash-partitioned window.

    One shuffle on the partition key; rank/dense_rank/row_number all share
    the same Window physical operator and sort.
    """
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("total_price"),
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "window_running_sum",
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber,
       ROUND(SUM(l_quantity) OVER (PARTITION BY l_suppkey
                                   ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                            l_quantity
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_qty
FROM lineitem
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) sum with an explicit ROWS frame.

    The synthetic lineitem does NOT have unique (l_orderkey,
    l_linenumber) (118k duplicate pairs at sf0.1), so the summed column
    itself is the final ORDER BY tiebreak: rows that tie on every order
    key then carry EQUAL quantities, making the prefix sums — and
    therefore the emitted multiset — order-invariant across engines.
    Without it, one full-key tie at sf0.1 let Spark and DuckDB order two
    unequal quantities differently (found by the sf0.1 sweep; invisible
    at sf0.01)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_quantity").over(w), 2).alias("running_qty"),
    )


@query(
    "window_lag_lead",
    oracle="""
SELECT event_id, user_id,
       ROUND(COALESCE(LAG(value)  OVER w, -1), 4) AS prev_value,
       ROUND(COALESCE(LEAD(value) OVER w, -1), 4) AS next_value,
       COALESCE(CAST(date_diff('second', CAST(LAG(ts) OVER w AS TIMESTAMP),
                               CAST(ts AS TIMESTAMP)) AS BIGINT), -1) AS secs_since_prev
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD analytics: per-user previous/next event value and
    inter-event gap in seconds."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.coalesce(F.lag("value").over(w), F.lit(-1.0)), 4).alias("prev_value"),
        F.round(F.coalesce(F.lead("value").over(w), F.lit(-1.0)), 4).alias("next_value"),
        F.coalesce(
            (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)).cast("bigint"),
            F.lit(-1).cast("bigint"),
        ).alias("secs_since_prev"),
    )


@query(
    "window_frame_range",
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber,
       ROUND(AVG(l_extendedprice) OVER (PARTITION BY l_suppkey
                                        ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                                 l_extendedprice
                                        ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6)
         AS smoothed_price
FROM lineitem
WHERE l_suppkey <= 3
""",
)
def window_frame_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS frame (moving average over 5 rows).

    Same tie discipline as window_running_sum: (l_orderkey,
    l_linenumber) is NOT unique in the synthetic lineitem, so the
    averaged column is the final ORDER BY tiebreak — rows still tied
    after it are fully interchangeable (identical emitted columns and,
    by symmetry, an identical output multiset), making the moving
    average engine-order-invariant."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_suppkey") <= 3)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
        .rowsBetween(-2, 2)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.avg("l_extendedprice").over(w), 6).alias("smoothed_price"),
    )


@query(
    "tumbling_window_agg",
    oracle=f"""
SELECT STRFTIME(time_bucket(INTERVAL 6 HOURS, CAST(ts AS TIMESTAMP)), '{TS_FMT_DUCK}')
         AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6h event-time window aggregate: the streaming operator
    ``streaming.windows.tumbling_counts`` run on the batch events table.

    Spark's window start is epoch-aligned, which for whole-hour widths
    matches DuckDB's midnight-aligned time_bucket.
    """
    return tumbling_counts(load_table(spark, sf_dir, "events"), width="6 hours")


@query(
    "sliding_window_agg",
    oracle=f"""
WITH b AS (
  SELECT time_bucket(INTERVAL 12 HOURS, CAST(ts AS TIMESTAMP)) AS wb, event_type, value
  FROM events
), w AS (
  SELECT wb AS wstart, event_type, value FROM b
  UNION ALL
  SELECT wb - INTERVAL 12 HOURS, event_type, value FROM b
)
SELECT STRFTIME(wstart, '{TS_FMT_DUCK}') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM w GROUP BY 1, 2
""",
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-day width, 12h slide — every event lands in
    exactly two windows (Spark expands rows, then hash-aggregates).  The
    streaming operator ``streaming.windows.sliding_counts`` on the batch
    events table."""
    return sliding_counts(
        load_table(spark, sf_dir, "events"), width="1 day", slide="12 hours"
    )


@query(
    "session_window_agg",
    oracle=f"""
WITH o AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         CASE WHEN CAST(ts AS TIMESTAMP)
                   - LAG(CAST(ts AS TIMESTAMP))
                     OVER (PARTITION BY user_id ORDER BY ts) <= INTERVAL 30 MINUTES
              THEN 0 ELSE 1 END AS new_session
  FROM events
), s AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
)
SELECT user_id,
       STRFTIME(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
       STRFTIME(MAX(ts) + INTERVAL 30 MINUTES, '{TS_FMT_DUCK}') AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM s GROUP BY user_id, sid
""",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user — the
    streaming operator ``streaming.windows.session_counts`` (Spark's
    native ``session_window``: merging-state windows, end = last ts +
    gap) on the batch events table.  The oracle reconstructs identical
    sessions with LAG + cumulative SUM.
    """
    return session_counts(load_table(spark, sf_dir, "events"), gap="30 minutes")


@query(
    "purchase_click_outer_attribution",
    oracle="""
SELECT p.event_id AS p_event_id,
       p.user_id AS p_user_id,
       c.event_id AS c_event_id,
       c.value AS c_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT OUTER JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts > p.ts
 AND c.ts <= p.ts + INTERVAL 1 HOUR
""",
)
def purchase_click_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch dual of ``streaming.windows.interval_join(how="leftOuter")``
    — the SAME function body runs here on batch frames (watermarks no-op),
    so the driver's DuckDB hash check covers the join semantics while
    tests/test_streaming.py::test_interval_join_equivalence[leftOuter]
    proves the streaming execution (watermark-held state, null emission
    after horizon closure) converges to exactly this result.

    Scale shape: an equi-join on user_id with a range residual; both
    sides shuffle once on the key, the time predicate evaluates in the
    join (no explode, no second exchange), and the outer side's NULL
    rows cost nothing extra.  In streaming the same condition bounds
    both state stores."""
    e = load_table(spark, sf_dir, "events")
    return interval_join(
        e.where(F.col("event_type") == "purchase"),
        e.where(F.col("event_type") == "click"),
        how="leftOuter",
        horizon="1 hour",
    ).drop("c_user_id")


@query(
    "funnel_attribution",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
step1 AS (
  SELECT *,
         arg_max(event_id, ts) FILTER (event_type = 'view') OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND INTERVAL 1 SECOND PRECEDING
         ) AS attr_view
  FROM e
),
step2 AS (
  SELECT *,
         arg_max(event_id, ts) FILTER (event_type = 'click') OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND INTERVAL 1 SECOND PRECEDING
         ) AS attr_click,
         arg_max(COALESCE(attr_view, -1), ts) FILTER (event_type = 'click') OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND INTERVAL 1 SECOND PRECEDING
         ) AS attr_click_view
  FROM step1
)
SELECT user_id, event_id AS purchase_id,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       attr_click AS click_id,
       NULLIF(attr_click_view, -1) AS view_id
FROM step2 WHERE event_type = 'purchase'
""",
)
def funnel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel attribution (view -> click -> purchase, 24 h per
    step): each purchase attributes to the latest click strictly before
    it within 24 h, and that click to the latest view strictly before IT
    within 24 h — the last-touch attribution every product-analytics
    pipeline computes, and the batch dual of the stateful streaming
    operator streaming/stateful.py::funnel_attribution_stream (same
    semantics, per-user state instead of windows; equivalence proven in
    tests/test_streaming.py).

    Scale shape: ONE shuffle on user_id and one sort serves BOTH
    attribution steps (two window passes over the same ordering — no
    second exchange); the conditional arg-max inside a RANGE frame stays
    JVM-side.  (user_id, ts) is unique in the data, so argmax-by-ts is
    deterministic; ts is second-granularity, so Spark's [-86400, -1]
    seconds frame == DuckDB's [24 HOURS PRECEDING, 1 SECOND PRECEDING].
    (24 h per step, not 1 h: the synthetic per-user event cadence is
    ~11 h, so a 1 h horizon leaves the funnel vacuously cold — 24 h
    yields all three outcome classes at every scale factor.)  Oracle
    nuance: DuckDB's arg_max SKIPS NULL arguments, so the click's
    possibly-NULL view rides through a -1 sentinel (COALESCE/NULLIF) —
    otherwise DuckDB silently substitutes an older click's view where
    Spark keeps the latest click's NULL."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    sec = F.unix_timestamp("ts")
    e = e.withColumn("sec", sec)
    w = (
        W.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-86400, -1)
    )
    s1 = e.withColumn(
        "attr_view",
        F.max(
            F.when(F.col("event_type") == "view", F.struct("sec", "event_id"))
        ).over(w)["event_id"],
    )
    click_struct = F.when(
        F.col("event_type") == "click",
        F.struct("sec", "event_id", "attr_view"),
    )
    s2 = s1.withColumn("attr_click", F.max(click_struct).over(w))
    return (
        s2.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.date_format("ts", TS_FMT_SPARK).alias("purchase_ts"),
            F.col("attr_click")["event_id"].alias("click_id"),
            F.col("attr_click")["attr_view"].alias("view_id"),
        )
    )


@query(
    "purchase_click_full_outer",
    oracle="""
SELECT p.event_id AS p_event_id,
       p.user_id AS p_user_id,
       c.event_id AS c_event_id,
       c.user_id AS c_user_id,
       c.value AS c_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts > p.ts
 AND c.ts <= p.ts + INTERVAL 1 HOUR
""",
)
def purchase_click_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch dual of ``streaming.windows.interval_join(how="fullOuter")``
    (the SAME function body; watermarks no-op on batch frames) — completes
    the stream-stream join family's oracle coverage: unmatched rows from
    BOTH sides survive with nulls.  Same scale shape as the left-outer dual:
    one user_id shuffle per side, time predicate as join residual."""
    e = load_table(spark, sf_dir, "events")
    return interval_join(
        e.where(F.col("event_type") == "purchase"),
        e.where(F.col("event_type") == "click"),
        how="fullOuter",
        horizon="1 hour",
    )


@query(
    "rolling_1h_user_value",
    oracle="""
SELECT event_id, user_id,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       ROUND(SUM(value) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
       ), 4) AS rolling_1h_value,
       CAST(COUNT(*) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS rolling_1h_events
FROM events
""",
)
def rolling_1h_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: for every event, the sum/count of the
    same user's events in the trailing hour — the event-time rolling
    window (distinct from row-count frames: the frame width is WALL
    TIME, so burst periods aggregate more rows).  Spark expresses
    interval frames by ordering on epoch MICROSECONDS with a numeric
    rangeBetween — exactly DuckDB's RANGE BETWEEN INTERVAL, and equal-ts
    peers are in-frame on both engines by the RANGE definition.  The
    precision matters: ordering on unix_timestamp (whole seconds) made
    one sf0.1 row disagree with the oracle — a pair 3600.4 s apart
    truncates to exactly 3600 and wrongly enters the frame; every ts in
    the test data carries sub-second microseconds, so the boundary WILL
    be hit at scale (the sf0.1 determinism sweep caught it).  One keyed
    window sort per user; at 100 TB this is the standard trailing-window
    feature generator (fraud velocity checks, rate features) and runs
    per key with no global state."""
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round(F.sum("value").over(w), 4).alias("rolling_1h_value"),
        F.count(F.lit(1)).over(w).alias("rolling_1h_events"),
    )
