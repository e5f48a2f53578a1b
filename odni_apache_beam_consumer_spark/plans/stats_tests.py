"""Statistical-analysis battery: rank correlation, autocorrelation,
one-way ANOVA, Kruskal-Wallis, and robust trend estimation.

These extend the experimentation/monitoring surface (welch_t_test,
mann_whitney_u, cusum_changepoint, daily_revenue_anomalies) with the
remaining tests an analytics platform reports: monotone association
between two series (Spearman), serial dependence of a daily series
(ACF), k-group mean comparison (ANOVA F and its nonparametric
companion Kruskal-Wallis), and a Theil-Sen robust slope.

Parity note: the reference (/root/reference main.py, a 111-line Beam
Kafka echo demo) has no statistics surface; these queries follow
BASELINE.json's north star (the operator set a large-scale
training-data/analytics pipeline needs).

Portability discipline (see plans/registry.py header): every sum that
crosses an exchange is an exact BIGINT in quantized units; every
IEEE-double expression is a module-level SQL string evaluated verbatim
by BOTH engines (identical expression trees); doubles are milli/micro
FLOORed before they reach the result hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.catalog import load_table
from odni_apache_beam_consumer_spark.operators.sampling import hex_digits, md5_key
from odni_apache_beam_consumer_spark.operators.text_ops import with_tokens
from odni_apache_beam_consumer_spark.plans.registry import query

# ---------------------------------------------------------------------------
# Spearman rank correlation between daily series
# ---------------------------------------------------------------------------

# The day axis is CALENDAR-bounded (~2.4k rows/decade at any corpus
# size), so the rank windows below run over a metadata-sized table no
# matter how many orders feed it — the same bounded-axis argument as
# mann_whitney_u's value histogram.
#
# Midranks via the doubled-rank trick: rank2 = 2*RANK() + |ties| - 1 is
# an exact BIGINT equal to twice the conventional midrank, so Pearson's
# formula on rank2 columns needs no fractional ranks (the factor 2
# cancels in the correlation).
_SPEAR_RANK2 = (
    "2 * RANK() OVER (ORDER BY {col}) "
    "+ COUNT(*) OVER (PARTITION BY {col}) - 1"
)

# Pearson correlation from exact integer sufficient statistics; the
# single shared IEEE tree for both engines.  n <= ~2.4k/decade and
# rank2 <= 2n, so every integer product here is far below 2^53 — the
# DOUBLE casts are exact.
_SPEAR_RHO = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    "        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"
)

_SPEAR_SUMS_SQL = """
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(rx) AS BIGINT) AS sx,
  CAST(SUM(ry) AS BIGINT) AS sy,
  CAST(SUM(rx * rx) AS BIGINT) AS sxx,
  CAST(SUM(ry * ry) AS BIGINT) AS syy,
  CAST(SUM(rx * ry) AS BIGINT) AS sxy
"""


@query(
    "spearman_daily_corr",
    oracle=f"""
WITH daily AS (
  SELECT STRFTIME(DATE_TRUNC('day', o_orderdate), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS nord,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS rev_c,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ncust
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT 'orders_vs_revenue' AS pair,
         CAST({_SPEAR_RANK2.format(col="nord")} AS BIGINT) AS rx,
         CAST({_SPEAR_RANK2.format(col="rev_c")} AS BIGINT) AS ry
  FROM daily
  UNION ALL
  SELECT 'orders_vs_customers' AS pair,
         CAST({_SPEAR_RANK2.format(col="nord")} AS BIGINT) AS rx,
         CAST({_SPEAR_RANK2.format(col="ncust")} AS BIGINT) AS ry
  FROM daily
),
s AS (
  SELECT pair, {_SPEAR_SUMS_SQL} FROM pairs GROUP BY pair
)
SELECT pair, n AS n_days,
       CAST(FLOOR({_SPEAR_RHO} * 1000000.0) AS BIGINT) AS rho_micro
FROM s
""",
)
def spearman_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily business series — the
    monotone-association measure a monitoring platform reports when a
    relationship is nonlinear (Pearson on midranks): daily order count
    vs daily revenue, and daily order count vs daily distinct
    customers.

    Midranks use the doubled-rank integer trick (rank2 = 2*RANK() +
    ties - 1, exact BIGINT; the factor 2 cancels in the correlation),
    so the entire sufficient-statistic table is exact integers and the
    only IEEE expression is the final shared correlation string,
    micro-floored.

    Scale shape: the fact table collapses to the CALENDAR-bounded day
    axis first (one hash exchange; ~2.4k rows/decade at any corpus
    size), so the rank windows and the Pearson fold run over a
    metadata-sized table — the mann_whitney_u bounded-axis argument.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias(
            "day"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("nord"),
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)"
        ).alias("rev_c"),
        F.countDistinct("o_custkey").cast("long").alias("ncust"),
    )
    pairs = None
    for pair, ycol in (
        ("orders_vs_revenue", "rev_c"),
        ("orders_vs_customers", "ncust"),
    ):
        p = daily.select(
            F.lit(pair).alias("pair"),
            F.expr(
                f"CAST({_SPEAR_RANK2.format(col='nord')} AS BIGINT)"
            ).alias("rx"),
            F.expr(
                f"CAST({_SPEAR_RANK2.format(col=ycol)} AS BIGINT)"
            ).alias("ry"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    s = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.expr("CAST(SUM(rx * rx) AS BIGINT)").alias("sxx"),
        F.expr("CAST(SUM(ry * ry) AS BIGINT)").alias("syy"),
        F.expr("CAST(SUM(rx * ry) AS BIGINT)").alias("sxy"),
    )
    return s.select(
        "pair",
        F.col("n").alias("n_days"),
        F.expr(f"CAST(FLOOR({_SPEAR_RHO} * 1000000.0) AS BIGINT)").alias(
            "rho_micro"
        ),
    )


# ---------------------------------------------------------------------------
# autocorrelation function of the daily revenue series
# ---------------------------------------------------------------------------

# Sample-ACF estimator at lag k over the index-ordered day series:
#   r_k = sum_{t>k} (x_t - mu)(x_{t-k} - mu) / sum_t (x_t - mu)^2
# expanded so every data-dependent sum is an exact BIGINT (ck = sum of
# lag cross products, ak/bk = one-sided sums) and mu enters only in the
# final shared IEEE tree.
_ACF_MU = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_ACF_R = (
    f"((CAST(ck AS DOUBLE) - {_ACF_MU} * (CAST(ak AS DOUBLE)"
    f" + CAST(bk AS DOUBLE)) + CAST(nk AS DOUBLE) * {_ACF_MU} * {_ACF_MU})"
    f" / (CAST(s2 AS DOUBLE) - CAST(n AS DOUBLE) * {_ACF_MU} * {_ACF_MU}))"
)

_ACF_MAX_LAG = 7


@query(
    "autocorr_daily_revenue",
    oracle=f"""
WITH daily AS (
  SELECT DATE_TRUNC('day', o_orderdate) AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) // 100000
              AS BIGINT) AS x
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT x,
         {", ".join(f"LAG(x, {k}) OVER (ORDER BY day) AS l{k}" for k in range(1, _ACF_MAX_LAG + 1))}
  FROM daily
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2,
         {", ".join(
             f"CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN x * l{k} END) AS BIGINT) AS ck{k},"
             f" CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN x END) AS BIGINT) AS ak{k},"
             f" CAST(SUM(l{k}) AS BIGINT) AS bk{k},"
             f" CAST(COUNT(l{k}) AS BIGINT) AS nk{k}"
             for k in range(1, _ACF_MAX_LAG + 1)
         )}
  FROM lagged
),
long AS (
  {" UNION ALL ".join(
      f"SELECT CAST({k} AS BIGINT) AS lag, n, s1, s2,"
      f" ck{k} AS ck, ak{k} AS ak, bk{k} AS bk, nk{k} AS nk FROM g"
      for k in range(1, _ACF_MAX_LAG + 1)
  )}
)
SELECT lag, nk AS n_pairs,
       CAST(FLOOR({_ACF_R} * 1000000.0) AS BIGINT) AS acf_micro
FROM long
""",
)
def autocorr_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1..{_ACF_MAX_LAG}) of the daily
    revenue series — the serial-dependence diagnostic behind
    seasonality detection and forecast-residual checks (a weekly cycle
    shows as an acf_micro spike at lag 7).

    The series is index-ordered over days PRESENT in the data (an
    index-domain ACF; the generator's calendar is near-complete, and
    gap semantics are pinned by the oracle either way).  Revenue is
    quantized to exact kilo-unit BIGINTs before any sum: x*x sums stay
    under 2^63 through the 1000x synthesis (6e9-unit days -> 3.6e13
    per row, ~2.4k rows), and mu enters only in the final shared IEEE
    string, micro-floored.

    Scale shape: one hash exchange onto the calendar-bounded day axis;
    the {_ACF_MAX_LAG} LAG windows and the single-row fold run over
    ~2.4k rows/decade regardless of corpus size.  The lag fan-out is a
    column fan-out (one window pass computes all lags), not a row
    fan-out."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))"
            " DIV 100000 AS BIGINT)"
        ).alias("x")
    )
    lag_cols = [
        F.expr(f"LAG(x, {k}) OVER (ORDER BY day)").alias(f"l{k}")
        for k in range(1, _ACF_MAX_LAG + 1)
    ]
    lagged = daily.select("x", *lag_cols)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.expr("CAST(SUM(x * x) AS BIGINT)").alias("s2"),
    ]
    for k in range(1, _ACF_MAX_LAG + 1):
        aggs += [
            F.expr(
                f"CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN x * l{k} END)"
                " AS BIGINT)"
            ).alias(f"ck{k}"),
            F.expr(
                f"CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN x END) AS BIGINT)"
            ).alias(f"ak{k}"),
            F.expr(f"CAST(SUM(l{k}) AS BIGINT)").alias(f"bk{k}"),
            F.expr(f"CAST(COUNT(l{k}) AS BIGINT)").alias(f"nk{k}"),
        ]
    g = lagged.groupBy().agg(*aggs)
    rows = [
        F.struct(
            F.lit(k).cast("long").alias("lag"),
            F.col("n"),
            F.col("s1"),
            F.col("s2"),
            F.col(f"ck{k}").alias("ck"),
            F.col(f"ak{k}").alias("ak"),
            F.col(f"bk{k}").alias("bk"),
            F.col(f"nk{k}").alias("nk"),
        )
        for k in range(1, _ACF_MAX_LAG + 1)
    ]
    long = g.select(F.inline(F.array(*rows)))
    return long.select(
        "lag",
        F.col("nk").alias("n_pairs"),
        F.expr(f"CAST(FLOOR({_ACF_R} * 1000000.0) AS BIGINT)").alias(
            "acf_micro"
        ),
    )


# ---------------------------------------------------------------------------
# one-way ANOVA F across k experiment arms
# ---------------------------------------------------------------------------

_ANOVA_K = 4

# Per-arm unit-scale mean and within-arm sum of squares from exact
# BIGINT sufficient statistics (s = micro-unit sum, ss = unit^2 second
# moment via the CUPED rescale-before-square rule).  Each per-arm
# double is milli-FLOORed to a BIGINT before the across-arm sums, so
# the engines never add raw doubles in engine-specific order.
_ANOVA_MEAN = "(CAST(s AS DOUBLE) / 10000.0 / CAST(nn AS DOUBLE))"
_ANOVA_SSW = (
    "(CAST(ss AS DOUBLE)"
    " - (CAST(s AS DOUBLE) / 10000.0) * (CAST(s AS DOUBLE) / 10000.0)"
    " / CAST(nn AS DOUBLE))"
)
# SSB = sum_g n_g*m_g^2 - N*m^2; the first term is per-arm (milli-
# floored then summed), the grand-mean term uses exact totals.
_ANOVA_NM2 = f"(CAST(nn AS DOUBLE) * {_ANOVA_MEAN} * {_ANOVA_MEAN})"
_ANOVA_F = (
    "(((CAST(snm2_milli AS DOUBLE) / 1000.0"
    "   - (CAST(st AS DOUBLE) / 10000.0) * (CAST(st AS DOUBLE) / 10000.0)"
    "     / CAST(nt AS DOUBLE))"
    f"  / CAST({_ANOVA_K - 1} AS DOUBLE))"
    " / ((CAST(ssw_milli AS DOUBLE) / 1000.0)"
    f"    / CAST(nt - {_ANOVA_K} AS DOUBLE)))"
)


@query(
    "anova_f_oneway",
    oracle=f"""
WITH u AS (
  SELECT user_id, user_id % {_ANOVA_K} AS arm,
         CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS qy
  FROM events GROUP BY user_id
),
g AS (
  SELECT arm,
         CAST(COUNT(*) AS BIGINT) AS nn,
         CAST(SUM(qy) AS BIGINT) AS s,
         CAST(SUM((qy // 10000) * (qy // 10000)) AS BIGINT) AS ss
  FROM u GROUP BY arm
),
p AS (
  SELECT arm, nn, s,
         CAST(FLOOR({_ANOVA_SSW} * 1000.0) AS BIGINT) AS ssw_milli,
         CAST(FLOOR({_ANOVA_NM2} * 1000.0) AS BIGINT) AS nm2_milli
  FROM g
),
t AS (
  SELECT CAST(SUM(nn) AS BIGINT) AS nt,
         CAST(SUM(s) AS BIGINT) AS st,
         CAST(SUM(ssw_milli) AS BIGINT) AS ssw_milli,
         CAST(SUM(nm2_milli) AS BIGINT) AS snm2_milli
  FROM p
)
SELECT nt AS n_users, CAST({_ANOVA_K} AS BIGINT) AS k_arms,
       CAST({_ANOVA_K - 1} AS BIGINT) AS df_between,
       CAST(nt - {_ANOVA_K} AS BIGINT) AS df_within,
       ssw_milli, snm2_milli,
       CAST(FLOOR({_ANOVA_F} * 1000.0) AS BIGINT) AS f_milli
FROM t
""",
)
def anova_f_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F test across {_ANOVA_K} experiment arms — the
    k-group generalization of welch_t_test's two-arm comparison (the
    omnibus test a platform runs before pairwise contrasts): per-arm
    user means of the micro-quantized metric, between/within sums of
    squares, and the F statistic.

    Portability: per-user sums are exact micro BIGINTs; second moments
    follow the CUPED rescale-before-square rule; each ARM's double
    terms (within-arm SS, n*mean^2) are milli-floored to BIGINT before
    the across-arm sum, so neither engine ever folds raw doubles in
    its own order; F itself is one shared IEEE string.

    Scale shape: one user-keyed exchange, a {_ANOVA_K}-row conditional
    aggregate (map-side combined), and constant-size algebra — the
    welch_t_test shape with k rows instead of 1."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT)"
        ).alias("qy")
    ).select(F.expr(f"user_id % {_ANOVA_K}").alias("arm"), "qy")
    g = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("qy").cast("long").alias("s"),
        F.expr(
            "CAST(SUM((qy DIV 10000) * (qy DIV 10000)) AS BIGINT)"
        ).alias("ss"),
    )
    p = g.select(
        "nn",
        "s",
        F.expr(f"CAST(FLOOR({_ANOVA_SSW} * 1000.0) AS BIGINT)").alias(
            "ssw_milli"
        ),
        F.expr(f"CAST(FLOOR({_ANOVA_NM2} * 1000.0) AS BIGINT)").alias(
            "nm2_milli"
        ),
    )
    t = p.groupBy().agg(
        F.sum("nn").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ssw_milli").cast("long").alias("ssw_milli"),
        F.sum("nm2_milli").cast("long").alias("snm2_milli"),
    )
    return t.select(
        F.col("nt").alias("n_users"),
        F.lit(_ANOVA_K).cast("long").alias("k_arms"),
        F.lit(_ANOVA_K - 1).cast("long").alias("df_between"),
        (F.col("nt") - _ANOVA_K).cast("long").alias("df_within"),
        "ssw_milli",
        "snm2_milli",
        F.expr(f"CAST(FLOOR({_ANOVA_F} * 1000.0) AS BIGINT)").alias(
            "f_milli"
        ),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H across k experiment arms
# ---------------------------------------------------------------------------

# Doubled-rank sufficient statistics on the deci-quantized value axis
# (mann_whitney_u's histogram device, generalized to k arms): per
# distinct value, per-arm counts; rank2 = 2*midrank is exact BIGINT.
# H = [12/(N(N+1)) * sum_a R_a^2/n_a - 3(N+1)] / (1 - sum(t^3-t)/(N^3-N))
# with R_a = r2_a/2 — written with the doubled sums:
#   sum_a R_a^2/n_a = sum_a r2_a^2 / (4 n_a).
_KW_CORE = " + ".join(
    f"(CAST(r2_{a} AS DOUBLE) * CAST(r2_{a} AS DOUBLE)"
    f" / (4.0 * CAST(n_{a} AS DOUBLE)))"
    for a in range(_ANOVA_K)
)
_KW_H = (
    f"(((12.0 / (CAST(nt AS DOUBLE) * CAST(nt + 1 AS DOUBLE)))"
    f" * ({_KW_CORE})"
    " - 3.0 * CAST(nt + 1 AS DOUBLE))"
    " / (1.0 - CAST(ties AS DOUBLE)"
    " / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)"
    "    - CAST(nt AS DOUBLE))))"
)

_KW_ARM_COUNT = (
    "CAST(SUM(CASE WHEN arm = {a} THEN 1 ELSE 0 END) AS BIGINT) AS c{a}"
)


@query(
    "kruskal_wallis_h",
    oracle=f"""
WITH u AS (
  SELECT user_id, user_id % {_ANOVA_K} AS arm,
         CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS qy
  FROM events GROUP BY user_id
),
v AS (SELECT arm, qy // 1000 AS qv FROM u),
g AS (
  SELECT qv,
         {", ".join(_KW_ARM_COUNT.format(a=a) for a in range(_ANOVA_K))},
         CAST(COUNT(*) AS BIGINT) AS grp
  FROM v GROUP BY qv
),
rk AS (
  SELECT {", ".join(f"c{a}" for a in range(_ANOVA_K))}, grp,
         2 * (CAST(SUM(grp) OVER (ORDER BY qv
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              - grp) + grp + 1 AS rank2
  FROM g
),
t AS (
  SELECT {", ".join(f"CAST(SUM(c{a}) AS BIGINT) AS n_{a}," f" CAST(SUM(c{a} * rank2) AS BIGINT) AS r2_{a}" for a in range(_ANOVA_K))},
         CAST(SUM(grp) AS BIGINT) AS nt,
         CAST(SUM(grp * grp * grp - grp) AS BIGINT) AS ties
  FROM rk
)
SELECT nt AS n_users, ties,
       {", ".join(f"n_{a}" for a in range(_ANOVA_K))},
       CAST(FLOOR({_KW_H} * 1000.0) AS BIGINT) AS h_milli
FROM t
""",
)
def kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test across {_ANOVA_K} experiment arms — the
    nonparametric companion to anova_f_oneway (rank-based omnibus test
    for skewed metrics), generalizing mann_whitney_u's machinery to k
    groups: midranks of the deci-quantized per-user metric via the
    doubled-rank integer trick, per-arm doubled rank sums (exact
    BIGINTs), and the tie-corrected H statistic from one shared IEEE
    string, milli-floored.

    Scale shape: one user-keyed exchange, then a hash agg onto the
    bounded deci-unit VALUE axis (distinct metric values, not users —
    the mann_whitney_u histogram argument), a single-partition rank
    window over that bounded axis, and a 1-row fold.  Overflow: the
    tie term sums grp^3 — exact below ~2e6 users per distinct
    deci-value (same documented bound as mann_whitney_u)."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT)"
        ).alias("qy")
    ).select(F.expr(f"user_id % {_ANOVA_K}").alias("arm"), "qy")
    v = u.select("arm", F.expr("qy DIV 1000").alias("qv"))
    g = v.groupBy("qv").agg(
        *[
            F.expr(
                f"CAST(SUM(CASE WHEN arm = {a} THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias(f"c{a}")
            for a in range(_ANOVA_K)
        ],
        F.count(F.lit(1)).cast("long").alias("grp"),
    )
    rk = g.select(
        *[F.col(f"c{a}") for a in range(_ANOVA_K)],
        "grp",
        F.expr(
            "2 * (CAST(SUM(grp) OVER (ORDER BY qv"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
            " - grp) + grp + 1"
        ).alias("rank2"),
    )
    t_aggs = []
    for a in range(_ANOVA_K):
        t_aggs.append(F.expr(f"CAST(SUM(c{a}) AS BIGINT)").alias(f"n_{a}"))
        t_aggs.append(
            F.expr(f"CAST(SUM(c{a} * rank2) AS BIGINT)").alias(f"r2_{a}")
        )
    t_aggs.append(F.expr("CAST(SUM(grp) AS BIGINT)").alias("nt"))
    t_aggs.append(
        F.expr("CAST(SUM(grp * grp * grp - grp) AS BIGINT)").alias("ties")
    )
    t = rk.groupBy().agg(*t_aggs)
    return t.select(
        F.col("nt").alias("n_users"),
        "ties",
        *[F.col(f"n_{a}") for a in range(_ANOVA_K)],
        F.expr(f"CAST(FLOOR({_KW_H} * 1000.0) AS BIGINT)").alias("h_milli"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend of the daily revenue series
# ---------------------------------------------------------------------------

_TS_MAX_LAG = 30

# Pairwise slope in kilo-units/day; each pair's slope is one shared
# IEEE divide of exact integers, so both engines order pairs
# identically.  The median is an exact ORDER-STATISTIC selection
# (lower median via row_number), never an average of doubles.
_TS_SLOPE = "(CAST(xj - xi AS DOUBLE) / CAST(k AS DOUBLE))"


@query(
    "theil_sen_trend",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1992-01-01',
              CAST(DATE_TRUNC('day', o_orderdate) AS DATE)) AS BIGINT)
           AS di,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) // 100000
              AS BIGINT) AS x
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT a.di AS i, g.k AS k, a.x AS xi, b.x AS xj
  FROM daily a
  JOIN (SELECT UNNEST(range(1, {_TS_MAX_LAG + 1})) AS k) g ON TRUE
  JOIN daily b ON b.di = a.di + g.k
),
sl AS (
  SELECT i, k,
         CAST(FLOOR({_TS_SLOPE} * 1000000.0) AS BIGINT) AS slope_micro
  FROM pairs
),
ranked AS (
  SELECT slope_micro,
         ROW_NUMBER() OVER (ORDER BY slope_micro, i, k) AS rn,
         COUNT(*) OVER () AS n
  FROM sl
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       slope_micro AS median_slope_micro,
       CAST((SELECT SUM(CASE WHEN slope_micro > 0 THEN 1 ELSE 0 END)
             FROM sl) AS BIGINT) AS n_pos,
       CAST((SELECT SUM(CASE WHEN slope_micro < 0 THEN 1 ELSE 0 END)
             FROM sl) AS BIGINT) AS n_neg
FROM ranked WHERE rn = (n + 1) // 2
""",
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator over the daily revenue series —
    the median of pairwise slopes, immune to outlier days that wreck a
    least-squares fit (the robust companion to ols_normal_equations on
    the time axis).  Pairs are restricted to lags 1..{_TS_MAX_LAG}
    days (the bounded-lag Theil-Sen variant), which turns the O(n^2)
    all-pairs build into a single EQUI-join on (day + k): explode the
    {_TS_MAX_LAG} lags map-side, join daily-to-daily on the shifted
    day index.

    Slopes are one shared IEEE divide of exact kilo-unit integers,
    micro-floored BEFORE ranking, and the median is an exact order-
    statistic selection (lower median, deterministic (slope, i, k)
    tie-break) — no double averaging anywhere.

    Scale shape: everything happens on the calendar-bounded day axis
    (~2.4k rows/decade -> <=72k pairs/decade at any corpus size); the
    only corpus-sized work is the initial day-grained collapse."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr(
            "CAST(datediff(CAST(date_trunc('day', o_orderdate) AS DATE),"
            " DATE'1992-01-01') AS BIGINT)"
        ).alias("di")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT))"
            " DIV 100000 AS BIGINT)"
        ).alias("x")
    )
    a = daily.select("di", F.col("x").alias("xi")).withColumn(
        "k", F.explode(F.expr(f"sequence(1, {_TS_MAX_LAG})"))
    ).select("di", F.col("k").cast("long").alias("k"), "xi",
             (F.col("di") + F.col("k")).alias("dj"))
    b = daily.select(F.col("di").alias("dj"), F.col("x").alias("xj"))
    sl = a.join(b, "dj").select(
        F.col("di").alias("i"),
        "k",
        F.expr(f"CAST(FLOOR({_TS_SLOPE} * 1000000.0) AS BIGINT)").alias(
            "slope_micro"
        ),
    )
    ranked = sl.select(
        "slope_micro",
        F.expr("ROW_NUMBER() OVER (ORDER BY slope_micro, i, k)").alias("rn"),
        F.expr("COUNT(*) OVER ()").alias("n"),
    )
    stats = sl.groupBy().agg(
        F.expr(
            "CAST(SUM(CASE WHEN slope_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_pos"),
        F.expr(
            "CAST(SUM(CASE WHEN slope_micro < 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_neg"),
    )
    med = ranked.where(F.expr("rn = (n + 1) DIV 2")).select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("slope_micro").alias("median_slope_micro"),
    )
    return med.crossJoin(F.broadcast(stats))


# ---------------------------------------------------------------------------
# Gini concentration of customer revenue per market segment
# ---------------------------------------------------------------------------

# Grouped-data Gini via midranks on the quantized VALUE axis:
#   G = (2 * sum_i r_i x_i) / (n * sum x) - (n + 1) / n
# with r_i the midrank of customer i under ascending revenue.  Per
# distinct deca-unit value v: c_v customers, t_v = c_v * v total, and
# rank2_v = 2*midrank (exact BIGINT), so sum_i r_i x_i = (sum_v t_v *
# rank2_v) / 2 — the entire statistic is exact integers until the one
# shared IEEE string below.  s2 = sum_v t_v*rank2_v, t = sum_v t_v.
_GINI = (
    "((CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)))"
    " - (CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)))"
)


@query(
    "gini_revenue_concentration",
    oracle=f"""
WITH cr AS (
  SELECT c.c_mktsegment AS seg,
         CAST(COALESCE(SUM(CAST(FLOOR(o.o_totalprice * 100.0) AS BIGINT)), 0)
              // 1000 AS BIGINT) AS v
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_mktsegment
),
g AS (
  SELECT seg, v, CAST(COUNT(*) AS BIGINT) AS c_v,
         CAST(COUNT(*) * v AS BIGINT) AS t_v
  FROM cr GROUP BY seg, v
),
rk AS (
  SELECT seg, c_v, t_v,
         2 * (CAST(SUM(c_v) OVER (PARTITION BY seg ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              - c_v) + c_v + 1 AS rank2
  FROM g
),
s AS (
  SELECT seg, CAST(SUM(c_v) AS BIGINT) AS n,
         CAST(SUM(t_v) AS BIGINT) AS t,
         CAST(SUM(t_v * rank2) AS BIGINT) AS s2
  FROM rk GROUP BY seg
)
SELECT seg, n AS n_customers, t AS total_deca,
       CAST(FLOOR({_GINI} * 1000000.0) AS BIGINT) AS gini_micro
FROM s
""",
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue per market segment — the
    inequality/concentration measure behind whale-customer dashboards
    and data-curation balance audits (revenue_contribution_pareto's
    scalar summary).  Zero-order customers count with revenue 0, so
    the coefficient describes the whole population.

    Grouped-data construction: customers collapse to the deca-unit
    revenue VALUE axis (bounded by the value range, never the customer
    count — the mann_whitney_u histogram device), midranks use the
    doubled-rank trick, and the rank-weighted sum s2 is an exact
    BIGINT (worst-case t_v * rank2 stays under 2^63 through the 300x
    synthesis; past ~1000x, coarsen the deca grain a decade —
    documented, not silent).  The only IEEE arithmetic is the final
    shared Gini string, micro-floored.

    Scale shape: one customer-keyed exchange (the orders left join +
    per-customer sum), one hash agg onto the bounded (segment, value)
    axis, a per-segment cumulative window over that bounded axis, and
    a 5-row fold."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cr = (
        c.join(
            o.select("o_custkey", "o_totalprice"),
            c.c_custkey == o.o_custkey,
            "left",
        )
        .groupBy("c_custkey", F.col("c_mktsegment").alias("seg"))
        .agg(
            F.expr(
                "CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100.0)"
                " AS BIGINT)), 0) DIV 1000 AS BIGINT)"
            ).alias("v")
        )
    )
    g = cr.groupBy("seg", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c_v"),
        F.expr("CAST(COUNT(*) * v AS BIGINT)").alias("t_v"),
    )
    rk = g.select(
        "seg",
        "c_v",
        "t_v",
        F.expr(
            "2 * (CAST(SUM(c_v) OVER (PARTITION BY seg ORDER BY v"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
            " - c_v) + c_v + 1"
        ).alias("rank2"),
    )
    s = rk.groupBy("seg").agg(
        F.sum("c_v").cast("long").alias("n"),
        F.sum("t_v").cast("long").alias("t"),
        F.expr("CAST(SUM(t_v * rank2) AS BIGINT)").alias("s2"),
    )
    return s.select(
        "seg",
        F.col("n").alias("n_customers"),
        F.col("t").alias("total_deca"),
        F.expr(f"CAST(FLOOR({_GINI} * 1000000.0) AS BIGINT)").alias(
            "gini_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR selection over per-(lang, token) chi2 scores
# ---------------------------------------------------------------------------

# BH step-up at FDR level alpha = 5%: order hypotheses by p ascending
# and select all ranks <= the largest i with p_(i) <= i*alpha/m.  The
# p here is the SURROGATE p = 1000/(1000 + chi2_milli) — a calibrated
# monotone transform of the chi2 statistic (NOT a tail probability; a
# portable chi2 CDF would need erf, which IEEE does not pin across
# libms).  The selection machinery — global order statistics, the
# step-up threshold scan, the rejection set — is the real BH
# procedure, and the acceptance condition is evaluated in EXACT
# integer cross-multiplied form:
#   1000/(1000+chi2) <= i*5/(100*m)  <=>  100000*m <= 5*i*(1000+chi2).
_BH_ALPHA_NUM, _BH_ALPHA_DEN = 5, 100

_BH_SCORED_SQL = """
  SELECT t.lang, t.term, t.a, d.df,
         CAST(FLOOR(
           (CAST(nn.n AS DOUBLE)
            * ((CAST(t.a AS DOUBLE)
                * CAST(nn.n - d.df - (l.docs_l - t.a) AS DOUBLE))
               - (CAST(d.df - t.a AS DOUBLE)
                  * CAST(l.docs_l - t.a AS DOUBLE)))
            * ((CAST(t.a AS DOUBLE)
                * CAST(nn.n - d.df - (l.docs_l - t.a) AS DOUBLE))
               - (CAST(d.df - t.a AS DOUBLE)
                  * CAST(l.docs_l - t.a AS DOUBLE))))
           / (CAST(d.df AS DOUBLE) * CAST(nn.n - d.df AS DOUBLE)
              * CAST(l.docs_l AS DOUBLE) * CAST(nn.n - l.docs_l AS DOUBLE))
           * 1000.0) AS BIGINT) AS chi2_milli
  FROM a_tl t JOIN df_t d USING (term) JOIN n_l l USING (lang)
       CROSS JOIN nn
  WHERE d.df >= 5 AND d.df < nn.n
"""


@query(
    "bh_fdr_token_selection",
    oracle=f"""
WITH pres AS (
  SELECT DISTINCT doc_id, lang,
         unnest(string_split(trim(text), ' ')) AS term
  FROM documents
),
a_tl AS (
  SELECT term, lang, CAST(COUNT(*) AS BIGINT) AS a
  FROM pres GROUP BY 1, 2
),
df_t AS (
  SELECT term, CAST(SUM(a) AS BIGINT) AS df FROM a_tl GROUP BY 1
),
n_l AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs_l
  FROM documents GROUP BY 1
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
scored AS ({_BH_SCORED_SQL}),
ranked AS (
  SELECT lang, chi2_milli,
         CAST(ROW_NUMBER() OVER (ORDER BY chi2_milli DESC, lang, term)
              AS BIGINT) AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM scored
),
flagged AS (
  SELECT lang, chi2_milli, i, m,
         CASE WHEN 1000 * {_BH_ALPHA_DEN} * m
                   <= {_BH_ALPHA_NUM} * i * (1000 + chi2_milli)
              THEN 1 ELSE 0 END AS ok
  FROM ranked
),
cut AS (
  SELECT COALESCE(MAX(CASE WHEN ok = 1 THEN i END), 0) AS k FROM flagged
)
SELECT f.lang,
       CAST(COUNT(*) AS BIGINT) AS m_hyp,
       CAST(SUM(CASE WHEN f.i <= cut.k THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       MAX(f.m) AS m_total,
       CAST(MAX(cut.k) AS BIGINT) AS k_total,
       CAST(MIN(CASE WHEN f.i <= cut.k THEN f.chi2_milli END) AS BIGINT)
         AS min_sel_chi2_milli
FROM flagged f CROSS JOIN cut
GROUP BY f.lang
""",
)
def bh_fdr_token_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR selection over the per-(lang,
    token) chi2 association scores — the multiple-testing control a
    feature-selection pipeline applies before trusting thousands of
    simultaneous chi2_token_class_assoc tests: rank all hypotheses,
    find the largest rank whose (surrogate) p-value clears i*alpha/m,
    and report the per-language selected counts and threshold.

    The surrogate p = 1000/(1000 + chi2_milli) is a monotone transform
    of the statistic, NOT a chi2 tail probability (a portable CDF
    would need erf, which libms round differently); the step-up scan
    itself is the exact BH procedure, and the acceptance test is
    integer cross-multiplied — no IEEE arithmetic anywhere in the
    selection.

    Scale shape: the same vocabulary-sized scored table as
    chi2_token_class_assoc (presence explode -> (term, lang) agg ->
    vocab rollups); the global rank window runs over the VOCAB axis
    (bounded by vocabulary, not corpus), then a 1-row cutoff broadcast
    and a ~5-row per-lang fold."""
    d = load_table(spark, sf_dir, "documents")
    pres = with_tokens(d).select(
        "doc_id", "lang", F.explode(F.array_distinct("tk")).alias("term")
    )
    a_tl = pres.groupBy("term", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    df_t = a_tl.groupBy("term").agg(F.sum("a").cast("long").alias("df"))
    n_l = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("docs_l"))
    nn = d.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = (
        a_tl.join(df_t, "term")
        .join(F.broadcast(n_l), "lang")
        .crossJoin(F.broadcast(nn))
        .where((F.col("df") >= 5) & (F.col("df") < F.col("n")))
    )
    ad = F.col("a").cast("double") * (
        F.col("n") - F.col("df") - (F.col("docs_l") - F.col("a"))
    ).cast("double")
    bc = (F.col("df") - F.col("a")).cast("double") * (
        F.col("docs_l") - F.col("a")
    ).cast("double")
    num = ad - bc
    chi2 = (F.col("n").cast("double") * num * num) / (
        F.col("df").cast("double")
        * (F.col("n") - F.col("df")).cast("double")
        * F.col("docs_l").cast("double")
        * (F.col("n") - F.col("docs_l")).cast("double")
    )
    scored = j.select(
        "lang",
        "term",
        F.floor(chi2 * 1000.0).cast("long").alias("chi2_milli"),
    )
    ranked = scored.select(
        "lang",
        "chi2_milli",
        F.expr(
            "CAST(ROW_NUMBER() OVER (ORDER BY chi2_milli DESC, lang, term)"
            " AS BIGINT)"
        ).alias("i"),
        F.expr("CAST(COUNT(*) OVER () AS BIGINT)").alias("m"),
    )
    flagged = ranked.select(
        "lang",
        "chi2_milli",
        "i",
        "m",
        F.expr(
            f"CASE WHEN 1000 * {_BH_ALPHA_DEN} * m"
            f" <= {_BH_ALPHA_NUM} * i * (1000 + chi2_milli)"
            " THEN 1 ELSE 0 END"
        ).alias("ok"),
    ).persist()
    cut = flagged.groupBy().agg(
        F.expr("COALESCE(MAX(CASE WHEN ok = 1 THEN i END), 0)").alias("k")
    )
    return (
        flagged.crossJoin(F.broadcast(cut))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m_hyp"),
            F.expr(
                "CAST(SUM(CASE WHEN i <= k THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_selected"),
            F.max("m").alias("m_total"),
            F.expr("CAST(MAX(k) AS BIGINT)").alias("k_total"),
            F.expr(
                "CAST(MIN(CASE WHEN i <= k THEN chi2_milli END) AS BIGINT)"
            ).alias("min_sel_chi2_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval for the mean user metric
# ---------------------------------------------------------------------------

# One md5 per user drives all replicates (the permutation_test device):
# hex digit d of md5('boot:' || user_id) is an approximately uniform
# 16-way symbol, mapped to a pseudo-Poisson(1) weight by thresholding
# the hex-grained CDF: P(w=0)=6/16, P(w=1)=6/16, P(w=2)=2/16,
# P(w=3)=1/16, P(w=4)=1/16 — the closest 1/16-grained match to
# Poisson(1)'s (.368, .368, .184, .061, .019) pmf.  The weights are
# i.i.d. across (user, replicate), which is exactly the Poisson
# bootstrap (Chamandy et al.) — the one-pass resampling scheme used at
# terabyte scale where true multinomial resampling is impossible.
_BOOT_B = 32
_BOOT_W = (
    "(CASE WHEN hd < 6 THEN 0 WHEN hd < 12 THEN 1"
    " WHEN hd < 14 THEN 2 WHEN hd < 15 THEN 3 ELSE 4 END)"
)
_BOOT_MEAN = "(CAST(swy AS DOUBLE) / 10000.0 / CAST(sw AS DOUBLE))"


@query(
    "poisson_bootstrap_ci",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS qy,
         {md5_key("boot:", "user_id", dialect="duckdb")} AS hx
  FROM events GROUP BY user_id
),
rep AS (
  SELECT qy, CAST(g.b AS BIGINT) AS b,
         {hex_digits("hx", "CAST(g.b AS INT)", 1, "duckdb")} AS hd
  FROM u, UNNEST(range(1, {_BOOT_B + 1})) g(b)
),
w AS (SELECT b, qy, CAST({_BOOT_W} AS BIGINT) AS wt FROM rep),
rs AS (
  SELECT b, CAST(SUM(wt) AS BIGINT) AS sw,
         CAST(SUM(wt * qy) AS BIGINT) AS swy
  FROM w GROUP BY b
),
rm AS (
  SELECT b, CAST(FLOOR({_BOOT_MEAN} * 1000.0) AS BIGINT) AS m_milli
  FROM rs
),
rk AS (
  SELECT m_milli, ROW_NUMBER() OVER (ORDER BY m_milli, b) AS rn FROM rm
),
ob AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(qy) AS BIGINT) AS sy
  FROM u
)
SELECT ob.n_users,
       CAST({_BOOT_B} AS BIGINT) AS n_replicates,
       CAST(FLOOR((CAST(ob.sy AS DOUBLE) / 10000.0
                   / CAST(ob.n_users AS DOUBLE)) * 1000.0) AS BIGINT)
         AS point_mean_milli,
       (SELECT m_milli FROM rk WHERE rn = 2) AS boot_lo_milli,
       (SELECT m_milli FROM rk WHERE rn = {_BOOT_B - 1}) AS boot_hi_milli
FROM ob
""",
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean per-user
    metric (Chamandy et al., "Estimating uncertainty for massive data
    streams" — THE resampling scheme for terabyte-scale data, because
    each row draws its replicate weights independently in one pass,
    no global multinomial needed): 32 replicates whose Poisson(1)
    weights come from the hex digits of ONE md5 per user, replicate
    means sorted, and the 2nd/31st order statistics reported as the
    ~94% interval around the point mean.

    The hex-grained weight pmf (6,6,2,1,1)/16 is the closest
    1/16-resolution match to Poisson(1); weights are exact integers,
    replicate sums exact BIGINTs, and each replicate mean is one
    shared IEEE divide, milli-floored BEFORE the order-statistic
    rank (so the selection is integer-exact).

    Scale shape: one user-keyed exchange, a map-side 32x explode
    partially aggregated into 32 groups of 2 BIGINTs, a rank window
    over 32 rows, and a 1-row point estimate — the permutation_test
    shape with resampling weights instead of sign flips."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT)"
        ).alias("qy")
    ).select(
        "qy",
        F.expr(md5_key("boot:", "user_id")).alias("hx"),
    )
    rep = u.select(
        "qy", F.explode(F.expr(f"sequence(1, {_BOOT_B})")).alias("b"), "hx"
    ).select(
        "qy",
        F.col("b").cast("long").alias("b"),
        F.expr(hex_digits("hx", "CAST(b AS INT)", 1)).alias("hd"),
    )
    w = rep.select("b", "qy", F.expr(f"CAST({_BOOT_W} AS BIGINT)").alias("wt"))
    rs = w.groupBy("b").agg(
        F.sum("wt").cast("long").alias("sw"),
        F.expr("CAST(SUM(wt * qy) AS BIGINT)").alias("swy"),
    )
    rm = rs.select(
        "b",
        F.expr(f"CAST(FLOOR({_BOOT_MEAN} * 1000.0) AS BIGINT)").alias(
            "m_milli"
        ),
    )
    rk = rm.select(
        "m_milli",
        F.expr("ROW_NUMBER() OVER (ORDER BY m_milli, b)").alias("rn"),
    )
    lo = rk.where(F.col("rn") == 2).select(
        F.col("m_milli").alias("boot_lo_milli")
    )
    hi = rk.where(F.col("rn") == _BOOT_B - 1).select(
        F.col("m_milli").alias("boot_hi_milli")
    )
    ob = u.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("qy").cast("long").alias("sy"),
    )
    return (
        ob.select(
            "n_users",
            F.lit(_BOOT_B).cast("long").alias("n_replicates"),
            F.expr(
                "CAST(FLOOR((CAST(sy AS DOUBLE) / 10000.0"
                " / CAST(n_users AS DOUBLE)) * 1000.0) AS BIGINT)"
            ).alias("point_mean_milli"),
        )
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
    )
