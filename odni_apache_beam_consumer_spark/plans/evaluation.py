"""Model- and ranking-evaluation queries: histogram AUC, calibration
bins, reciprocal-rank fusion, NDCG@10, and leave-one-out target
encoding.

A training-data platform doesn't just build datasets — it EVALUATES the
classifiers that gate them (the quality filter behind
classifier_quality_filter needs an AUC and a calibration table before
anyone trusts its threshold) and the rankers that retrieve them (BM25 /
recency rankers get fused and judged with NDCG).  These five queries are
that evaluation surface, each expressed as pure JVM column expressions.

Reference parity: the reference (/root/reference/main.py) has no
data-plane transforms; these extend the north-star LLM-pipeline surface
(BASELINE.json:6) alongside plans/retrieval.py and plans/llm.py.

Hash-portability conventions (see plans/registry.py docstring): every
ratio is integer ppm via `a * 1000000 DIV b` (Spark) / `a * 1000000 //
b` (DuckDB); scores are floored to milli/micro integer units BEFORE any
aggregation so sums are order-independent; the only float op anywhere is
log2 of a SMALL INTEGER (NDCG's position discount), floored to
micro-units — a fixed IEEE expression tree with integer input, identical
on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.catalog import load_table
from odni_apache_beam_consumer_spark.operators.sampling import hex_digits, md5_key
from odni_apache_beam_consumer_spark.plans.registry import query

# RRF's rank-damping constant (Cormack et al.'s k=60) and the per-ranker
# candidate depth.  Depth matters at scale: each ranker contributes a
# TOP-_RRF_DEPTH list (TakeOrderedAndProject), so the fusion join is
# O(depth), never O(corpus).
_RRF_K = 60
_RRF_DEPTH = 200


def _scored_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(y, s_milli): binary label (label % 2) and the classifier score —
    the embedding's first component floored to integer milli-units.

    Milli (not micro) is deliberate: it QUANTIZES the score axis so the
    AUC/calibration histogram has a bounded number of distinct bins
    (~700 here, <= a few thousand for any [-few, few] score range) —
    that bound is what makes the ordered prefix-sum stage below
    corpus-size-independent."""
    return load_table(spark, sf_dir, "embeddings").select(
        (F.col("label") % 2).cast("long").alias("y"),
        F.floor(
            F.expr("cast(element_at(embedding, 1) as double)") * 1000.0
        )
        .cast("long")
        .alias("s_milli"),
    )


@query(
    "classifier_auc_rank",
    oracle="""
WITH scored AS (
  SELECT CAST(label % 2 AS BIGINT) AS y,
         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000.0) AS BIGINT)
           AS s_milli
  FROM embeddings
),
hist AS (
  SELECT s_milli,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
  FROM scored GROUP BY s_milli
),
pref AS (
  SELECT n_pos, n_neg,
         CAST(COALESCE(SUM(n_neg) OVER (
           ORDER BY s_milli
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS neg_below
  FROM hist
),
tot AS (
  SELECT CAST(SUM(n_pos) AS BIGINT) AS total_pos,
         CAST(SUM(n_neg) AS BIGINT) AS total_neg,
         CAST(SUM(n_pos * (2 * neg_below + n_neg)) AS BIGINT) AS num2
  FROM pref
)
SELECT total_pos, total_neg, num2,
       CAST(num2 * 1000000 // (2 * total_pos * total_neg) AS BIGINT)
         AS auc_ppm
FROM tot
""",
)
def classifier_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney AUC of the embedding-score classifier against the
    binary label, computed EXACTLY in integers: num2 counts every
    (positive, negative) pair twice-if-concordant / once-if-tied
    (`p_s * (2 * negs_below_s + negs_at_s)` summed over score bins), so
    auc_ppm = num2 * 1e6 DIV (2 * P * N) with zero float arithmetic —
    ties get the standard 1/2 credit and partial-agg order can't matter.

    Scale shape: this is HISTOGRAM AUC — the corpus-sized work is one
    hash aggregation onto the quantized score axis (map-side combined);
    the ordered prefix sum then runs over the ~thousands of DISTINCT
    score bins, not the rows, so the single-partition window is bounded
    by the quantization (milli-units), not the corpus.  The naive
    rank-based formulation sorts ALL rows globally; this never sorts
    anything bigger than the histogram."""
    hist = (
        _scored_embeddings(spark, sf_dir)
        .groupBy("s_milli")
        .agg(
            F.sum("y").cast("long").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
        )
    )
    w = (
        Window.orderBy("s_milli")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = hist.withColumn(
        "neg_below",
        F.coalesce(F.sum("n_neg").over(w), F.lit(0)).cast("long"),
    )
    return pref.agg(
        F.sum("n_pos").cast("long").alias("total_pos"),
        F.sum("n_neg").cast("long").alias("total_neg"),
        F.sum(
            F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg"))
        )
        .cast("long")
        .alias("num2"),
    ).select(
        "total_pos",
        "total_neg",
        "num2",
        F.expr(
            "CAST(num2 * 1000000 DIV (2 * total_pos * total_neg) AS BIGINT)"
        ).alias("auc_ppm"),
    )


@query(
    "calibration_bins",
    oracle="""
WITH scored AS (
  SELECT CAST(label % 2 AS BIGINT) AS y,
         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000.0) AS BIGINT)
           AS s_milli
  FROM embeddings
),
bounds AS (
  SELECT MIN(s_milli) AS lo, MAX(s_milli) AS hi FROM scored
),
norm AS (
  SELECT y,
         CAST((s_milli - lo) * 1000000 // (hi - lo + 1) AS BIGINT) AS p_ppm
  FROM scored CROSS JOIN bounds
)
SELECT CAST(p_ppm * 10 // 1000000 AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm,
       CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS avg_p_ppm
FROM norm
GROUP BY 1
""",
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) table for the same classifier: min-max
    normalize the score to integer ppm, decile-bin it, and compare each
    bin's predicted level (avg_p_ppm) against its empirical positive
    rate (pos_rate_ppm) — the table a reliability diagram plots, and the
    evidence behind choosing classifier_quality_filter's threshold.

    Everything is integer: normalization is `(s - lo) * 1e6 DIV
    (hi - lo + 1)` (the +1 keeps the max strictly under 1e6, so the
    decile formula `p * 10 DIV 1e6` lands in 0..9 with no LEAST clamp),
    and both per-bin rates are integer DIV ppm.

    Scale shape: the bounds are a 1-row aggregate broadcast-crossed back
    (whitelisted NLJ); binning is map-side arithmetic; ONE hash
    aggregation onto <= 10 groups with map-side partials."""
    scored = _scored_embeddings(spark, sf_dir)
    bounds = scored.agg(
        F.min("s_milli").alias("lo"), F.max("s_milli").alias("hi")
    )
    norm = scored.crossJoin(F.broadcast(bounds)).select(
        "y",
        F.expr(
            "CAST((s_milli - lo) * 1000000 DIV (hi - lo + 1) AS BIGINT)"
        ).alias("p_ppm"),
    )
    return (
        norm.groupBy(
            F.expr("CAST(p_ppm * 10 DIV 1000000 AS BIGINT)").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.expr(
                "CAST(sum(y) * 1000000 DIV count(*) AS BIGINT)"
            ).alias("pos_rate_ppm"),
            F.expr("CAST(sum(p_ppm) DIV count(*) AS BIGINT)").alias(
                "avg_p_ppm"
            ),
        )
    )


@query(
    "reciprocal_rank_fusion",
    oracle=f"""
WITH ra AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
              AS BIGINT) AS rnk_len
  FROM documents
  ORDER BY n_chars DESC, doc_id LIMIT {_RRF_DEPTH}
),
rb AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY md5(text), doc_id)
              AS BIGINT) AS rnk_md5
  FROM documents
  ORDER BY md5(text), doc_id LIMIT {_RRF_DEPTH}
),
fused AS (
  SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
         COALESCE(ra.rnk_len, 0) AS rnk_len,
         COALESCE(rb.rnk_md5, 0) AS rnk_md5,
         CAST(CASE WHEN ra.rnk_len IS NULL THEN 0
              ELSE 1000000000 // ({_RRF_K} + ra.rnk_len) END
            + CASE WHEN rb.rnk_md5 IS NULL THEN 0
              ELSE 1000000000 // ({_RRF_K} + rb.rnk_md5) END
            AS BIGINT) AS rrf_nano
  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
)
SELECT doc_id, rnk_len, rnk_md5, rrf_nano
FROM fused
ORDER BY rrf_nano DESC, doc_id
LIMIT 50
""",
)
def reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two retrieval rankers — the
    standard way to merge heterogeneous rankings (BM25 + embedding +
    recency) without score calibration, since RRF only consumes RANKS.
    The two rankers here are deterministic stand-ins (length-desc and
    md5-lexicographic); a production call fuses bm25_topk with an ANN
    ranking the same way.

    Per-ranker contributions are integer nano-units (1e9 DIV (k + rank))
    so the fused score is an exact integer sum; absent docs contribute 0
    and keep rank 0 as the "not retrieved by this ranker" sentinel.

    Scale shape: each ranker is a corpus top-_RRF_DEPTH
    (TakeOrderedAndProject per-partition heaps — the global sort never
    happens); the FULL OUTER fusion join runs over <= 2 * depth rows,
    broadcast-sized no matter the corpus; final top-50 is again a heap.
    The row_number windows run AFTER the depth cut, over depth-bounded
    single partitions."""
    docs = load_table(spark, sf_dir, "documents")
    ra = (
        docs.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("n_chars"), F.asc("doc_id")))
            .cast("long")
            .alias("rnk_len"),
        )
    )
    rb = (
        docs.select("doc_id", F.md5("text").alias("h"))
        .orderBy(F.asc("h"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.asc("h"), F.asc("doc_id")))
            .cast("long")
            .alias("rnk_md5"),
        )
    )
    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("rnk_len", F.lit(0)).cast("long").alias("rnk_len"),
        F.coalesce("rnk_md5", F.lit(0)).cast("long").alias("rnk_md5"),
        (
            F.when(
                F.col("rnk_len").isNull(), F.lit(0).cast("long")
            ).otherwise(
                F.expr(f"1000000000 DIV ({_RRF_K} + rnk_len)")
            )
            + F.when(
                F.col("rnk_md5").isNull(), F.lit(0).cast("long")
            ).otherwise(
                F.expr(f"1000000000 DIV ({_RRF_K} + rnk_md5)")
            )
        )
        .cast("long")
        .alias("rrf_nano"),
    )
    return fused.orderBy(F.desc("rrf_nano"), F.asc("doc_id")).limit(50)


@query(
    "ndcg_at_10",
    oracle="""
WITH ranked AS (
  SELECT lang,
         CAST(doc_id % 4 AS BIGINT) AS rel,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS pos
  FROM documents
),
gains AS (
  SELECT lang, pos,
         CAST(CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3
              ELSE 7 END AS BIGINT) AS gain,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1
                                     WHEN 2 THEN 3 ELSE 7 END DESC,
                                     pos) AS ideal_pos
  FROM ranked
),
dcg AS (
  SELECT lang,
         CAST(SUM(CASE WHEN pos <= 10 THEN
           gain * CAST(FLOOR(1000000.0 / log2(pos + 1)) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS dcg_micro,
         CAST(SUM(CASE WHEN ideal_pos <= 10 THEN
           gain * CAST(FLOOR(1000000.0 / log2(ideal_pos + 1)) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS idcg_micro
  FROM gains GROUP BY lang
)
SELECT lang, dcg_micro, idcg_micro,
       CAST(dcg_micro * 1000000 // idcg_micro AS BIGINT) AS ndcg_ppm
FROM dcg
""",
)
def ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per language for the length-desc ranker against graded
    relevance labels (doc_id % 4 as the deterministic stand-in for an
    editorial 0-3 grade; gains are the standard 2^rel - 1).  One such
    row per query group is how ranker A/B tests are scored.

    The position discount 1/log2(pos+1) is the ONLY float op: log2 of a
    small integer is a single IEEE double op with identical input on
    both engines, floored to integer micro-units per position, so every
    aggregate is an integer SUM and the final NDCG is integer-DIV ppm.
    IDCG re-ranks the SAME graded list by gain (ties broken by observed
    position — any tie-break gives the same IDCG since only gain enters
    the sum).

    Scale shape: both row_number windows partition by the query group
    (lang), so ranking parallelizes across query groups — no global
    sort; the DCG aggregation is <= 10 surviving rows per group each
    side, map-side combined.  At 100 TB with millions of query groups
    this is embarrassingly parallel."""
    gain = (
        F.when(F.col("rel") == 0, 0)
        .when(F.col("rel") == 1, 1)
        .when(F.col("rel") == 2, 3)
        .otherwise(7)
        .cast("long")
    )
    ranked = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            (F.col("doc_id") % 4).cast("long").alias("rel"),
            "n_chars",
            "doc_id",
        )
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.desc("n_chars"), F.asc("doc_id")
                )
            ),
        )
        .withColumn("gain", gain)
        .withColumn(
            "ideal_pos",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.desc("gain"), F.asc("pos")
                )
            ),
        )
    )
    disc = lambda col: (  # noqa: E731 — FLOOR(1e6 / log2(pos+1)) micro-discount
        F.floor(F.lit(1000000.0) / F.log2(F.col(col) + 1)).cast("long")
    )
    dcg = ranked.groupBy("lang").agg(
        F.sum(
            F.when(F.col("pos") <= 10, F.col("gain") * disc("pos")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("dcg_micro"),
        F.sum(
            F.when(
                F.col("ideal_pos") <= 10, F.col("gain") * disc("ideal_pos")
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("idcg_micro"),
    )
    return dcg.select(
        "lang",
        "dcg_micro",
        "idcg_micro",
        F.expr("CAST(dcg_micro * 1000000 DIV idcg_micro AS BIGINT)").alias(
            "ndcg_ppm"
        ),
    )


@query(
    "target_encoding_loo",
    oracle="""
WITH base AS (
  SELECT event_type,
         CAST(FLOOR(value * 100) AS BIGINT) AS v_centi
  FROM events
),
stats AS (
  SELECT event_type, v_centi,
         CAST(SUM(v_centi) OVER (PARTITION BY event_type) AS BIGINT)
           AS sum_centi,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM base
),
loo AS (
  SELECT event_type, n,
         CAST((sum_centi - v_centi) * 10000 // (n - 1) AS BIGINT)
           AS loo_micro
  FROM stats WHERE n >= 2
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MIN(loo_micro) AS BIGINT) AS loo_min_micro,
       CAST(MAX(loo_micro) AS BIGINT) AS loo_max_micro,
       CAST(SUM(loo_micro) // MAX(n) AS BIGINT) AS loo_avg_micro
FROM loo
GROUP BY event_type
""",
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type against the event
    value — the feature-engineering staple that replaces a categorical
    with the mean target of its OTHER members (LOO kills the
    self-leakage that plain mean encoding has).  Output is the per-type
    audit: member count and the min/max/avg of the per-row encodings in
    integer micro-units.

    Each row's encoding is `(sum - self) * 10000 DIV (n - 1)` over
    centi-unit targets — exact integer arithmetic, no float means; the
    n >= 2 guard drops categories where LOO is undefined.

    Scale shape: ONE exchange — the unordered sum/count windows and the
    final groupBy share the event_type hash partitioning, so Spark
    reuses the same shuffle for both (the naive
    groupBy-then-join-back costs a second shuffle plus a join).  Window
    frames are whole-partition (no ordering), so they evaluate as a
    single pass per group."""
    w = Window.partitionBy("event_type")
    base = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("v_centi"),
    )
    loo = (
        base.withColumn("sum_centi", F.sum("v_centi").over(w).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(w).cast("long"))
        .where(F.col("n") >= 2)
        .select(
            "event_type",
            "n",
            F.expr(
                "CAST((sum_centi - v_centi) * 10000 DIV (n - 1) AS BIGINT)"
            ).alias("loo_micro"),
        )
    )
    return loo.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.min("loo_micro").cast("long").alias("loo_min_micro"),
        F.max("loo_micro").cast("long").alias("loo_max_micro"),
        F.expr("CAST(sum(loo_micro) DIV max(n) AS BIGINT)").alias(
            "loo_avg_micro"
        ),
    )


def _fold(dialect: str = "spark") -> str:
    """Fold assignment: two md5 hex digits of vec_id -> 0..255, mod 5 —
    the same deterministic-bucket idiom as operators/sampling.py's kfold."""
    m = md5_key("", "vec_id", dialect=dialect)
    return f"CAST(({hex_digits(m, dialect=dialect)}) % 5 AS BIGINT)"


@query(
    "auc_by_fold",
    oracle=f"""
WITH scored AS (
  SELECT {_fold("duckdb")} AS fold,
         CAST(label % 2 AS BIGINT) AS y,
         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000.0) AS BIGINT)
           AS s_milli
  FROM embeddings
),
hist AS (
  SELECT fold, s_milli,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
  FROM scored GROUP BY fold, s_milli
),
pref AS (
  SELECT fold, n_pos, n_neg,
         CAST(COALESCE(SUM(n_neg) OVER (
           PARTITION BY fold ORDER BY s_milli
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS neg_below
  FROM hist
),
tot AS (
  SELECT fold,
         CAST(SUM(n_pos) AS BIGINT) AS total_pos,
         CAST(SUM(n_neg) AS BIGINT) AS total_neg,
         CAST(SUM(n_pos * (2 * neg_below + n_neg)) AS BIGINT) AS num2
  FROM pref GROUP BY fold
)
SELECT fold, total_pos, total_neg,
       CAST(num2 * 1000000 // (2 * total_pos * total_neg) AS BIGINT)
         AS auc_ppm
FROM tot
WHERE total_pos > 0 AND total_neg > 0
""",
)
def auc_by_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold AUC for cross-validated evaluation — the same exact
    integer histogram-AUC as classifier_auc_rank, GROUPED by a
    deterministic md5-bucket fold assignment (the kfold_assignment
    convention).  The per-fold spread is what a model gate reads to
    distinguish a robust classifier from a lucky split.

    This query exists to witness the histogram formulation's key
    structural property: the prefix-sum window PARTITIONS BY FOLD, so
    cross-validated evaluation parallelizes across folds with no global
    sort anywhere — k folds cost the same wall-clock as one.  Folds
    that lack both classes are excluded (AUC undefined).

    Scale shape: one hash aggregation onto (fold, score-bin) — map-side
    combined, bounded by k x bins; the ordered window runs per fold over
    bin counts only; the final rollup is k rows."""
    scored = load_table(spark, sf_dir, "embeddings").select(
        F.expr(_fold()).alias("fold"),
        (F.col("label") % 2).cast("long").alias("y"),
        F.floor(
            F.expr("cast(element_at(embedding, 1) as double)") * 1000.0
        )
        .cast("long")
        .alias("s_milli"),
    )
    hist = scored.groupBy("fold", "s_milli").agg(
        F.sum("y").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
    )
    w = (
        Window.partitionBy("fold")
        .orderBy("s_milli")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = hist.withColumn(
        "neg_below",
        F.coalesce(F.sum("n_neg").over(w), F.lit(0)).cast("long"),
    )
    return (
        pref.groupBy("fold")
        .agg(
            F.sum("n_pos").cast("long").alias("total_pos"),
            F.sum("n_neg").cast("long").alias("total_neg"),
            F.sum(
                F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg"))
            )
            .cast("long")
            .alias("num2"),
        )
        .where((F.col("total_pos") > 0) & (F.col("total_neg") > 0))
        .select(
            "fold",
            "total_pos",
            "total_neg",
            F.expr(
                "CAST(num2 * 1000000 DIV (2 * total_pos * total_neg) AS BIGINT)"
            ).alias("auc_ppm"),
        )
    )


@query(
    "cohens_kappa_agreement",
    oracle="""
WITH rated AS (
  SELECT CASE WHEN n_chars < 220 THEN 0
              WHEN n_chars < 380 THEN 1 ELSE 2 END AS ra,
         CASE WHEN len(string_split(trim(text), ' ')) < 40 THEN 0
              WHEN len(string_split(trim(text), ' ')) < 70 THEN 1
              ELSE 2 END AS rb
  FROM documents
),
conf AS (
  SELECT ra, rb, CAST(COUNT(*) AS BIGINT) AS cnt FROM rated GROUP BY ra, rb
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM conf),
tr AS (SELECT CAST(SUM(cnt) AS BIGINT) AS trace FROM conf WHERE ra = rb),
marg AS (
  SELECT r.k, r.row_cnt, c.col_cnt FROM
    (SELECT ra AS k, CAST(SUM(cnt) AS BIGINT) AS row_cnt FROM conf GROUP BY ra) r
    JOIN
    (SELECT rb AS k, CAST(SUM(cnt) AS BIGINT) AS col_cnt FROM conf GROUP BY rb) c
    ON c.k = r.k
),
pe AS (SELECT CAST(SUM(row_cnt * col_cnt) AS BIGINT) AS pe_num FROM marg)
SELECT tot.n,
       CAST(tr.trace * 1000000 // tot.n AS BIGINT) AS po_ppm,
       CAST(pe.pe_num * 1000000 // (tot.n * tot.n) AS BIGINT) AS pe_ppm,
       CAST((tr.trace * tot.n - pe.pe_num) * 1000000
            // (tot.n * tot.n - pe.pe_num) AS BIGINT) AS kappa_ppm
FROM tot, tr, pe
""",
)
def cohens_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent raters — the
    chance-corrected inter-annotator agreement measure every labeling /
    LLM-judge pipeline reports before trusting its labels.  The two
    raters here are deterministic length heuristics over different
    signals (character count vs whitespace token count, each binned to
    3 ordinal grades), so agreement is high but not perfect — a
    realistic kappa.

    All arithmetic is exact integer ppm from confusion-matrix counts:
    po = trace/n, pe = sum_i(row_i * col_i)/n^2, and kappa =
    (po-pe)/(1-pe) computed as (trace*n - pe_num) * 1e6 DIV
    (n^2 - pe_num) — one integer DIV, no float means anywhere.

    Scale shape: rating is map-side; the confusion matrix is ONE hash
    agg into k^2 (= 9) cells; marginals, trace, and kappa all derive
    from those 9 rows — the corpus is touched exactly once regardless
    of size.  Marginal joins are broadcast (9x3-row tables)."""
    rated = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("n_chars") < 220, 0)
        .when(F.col("n_chars") < 380, 1)
        .otherwise(2)
        .alias("ra"),
        F.when(F.size(F.split(F.trim("text"), " ")) < 40, 0)
        .when(F.size(F.split(F.trim("text"), " ")) < 70, 1)
        .otherwise(2)
        .alias("rb"),
    )
    conf = rated.groupBy("ra", "rb").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    rows = conf.groupBy(F.col("ra").alias("k")).agg(
        F.sum("cnt").cast("long").alias("row_cnt")
    )
    cols = conf.groupBy(F.col("rb").alias("k")).agg(
        F.sum("cnt").cast("long").alias("col_cnt")
    )
    pe = (
        rows.join(F.broadcast(cols), "k")
        .agg(F.sum(F.col("row_cnt") * F.col("col_cnt")).cast("long").alias("pe_num"))
    )
    totals = conf.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("trace"),
    )
    return (
        totals.crossJoin(F.broadcast(pe))
        .select(
            "n",
            F.expr("CAST(trace * 1000000 DIV n AS BIGINT)").alias("po_ppm"),
            F.expr("CAST(pe_num * 1000000 DIV (n * n) AS BIGINT)").alias(
                "pe_ppm"
            ),
            F.expr(
                "CAST((trace * n - pe_num) * 1000000 "
                "DIV (n * n - pe_num) AS BIGINT)"
            ).alias("kappa_ppm"),
        )
    )


def _pass_fail_prod_sql(k: int) -> str:
    """DuckDB-side fail probability C(n-c,k)/C(n,k) as the explicit
    left-to-right product of k small-integer ratios."""
    terms = " * ".join(
        f"(CAST(n - c - {i} AS DOUBLE) / CAST(n - {i} AS DOUBLE))"
        for i in range(k)
    )
    return f"CASE WHEN n - c < {k} THEN CAST(0.0 AS DOUBLE) ELSE {terms} END"


def _pass_fail_prod_col(k: int):
    """Spark-side twin of :func:`_pass_fail_prod_sql` — the SAME
    multiplication chain, left to right, so the IEEE double is
    bit-identical on both engines."""
    prod = None
    for i in range(k):
        term = (F.col("n") - F.col("c") - F.lit(i)).cast("double") / (
            F.col("n") - F.lit(i)
        ).cast("double")
        prod = term if prod is None else prod * term
    return F.when(F.col("n") - F.col("c") < k, F.lit(0.0)).otherwise(prod)


_PASS_AT_KS = [1, 5, 10]


@query(
    "pass_at_k_estimate",
    oracle="""
WITH tasks AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id
)
"""
    + "\nUNION ALL\n".join(
        f"""
SELECT CAST({k} AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_tasks,
       CAST(SUM(CAST(FLOOR(1000000 * ({_pass_fail_prod_sql(k)}))
                AS BIGINT)) AS BIGINT) AS sum_fail_ppm,
       CAST((COUNT(*) * 1000000
             - SUM(CAST(FLOOR(1000000 * ({_pass_fail_prod_sql(k)}))
                   AS BIGINT))) // COUNT(*) AS BIGINT) AS pass_at_k_ppm
FROM tasks WHERE n >= {k}
"""
        for k in _PASS_AT_KS
    ),
)
def pass_at_k_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbiased pass@k estimator (Chen et al. 2021, the Codex
    paper's Eq. 1 — THE standard LLM code/eval metric): per task with n
    samples and c successes, pass@k = 1 - C(n-c,k)/C(n,k), averaged
    over tasks, for k in {1, 5, 10}.  Fixture mapping: a user's events
    are the task's samples, purchases its successes — the estimator's
    arithmetic is what the hash pins, per task and in aggregate.

    The combinatorial ratio is computed as the explicit left-to-right
    product of k small-integer ratios (never factorials — C(n,k)
    overflows BIGINT by n ~ 60), floored to ppm PER TASK before the
    SUM, so the aggregate is an order-independent BIGINT: the registry
    float discipline (fixed IEEE expression tree over small integers,
    floor, then exact integer aggregation).  Tasks with n < k are
    excluded for that k (the estimator is undefined); n - c < k means
    failure is impossible and the fail term is exactly 0.

    Scale shape: ONE user-keyed hash agg over events (map-side
    partials), localCheckpointed task stats (|users| rows), then three
    k-branches each a map-only projection + single-row aggregate —
    cost is the one events scan; the k fan-out touches only the tiny
    task table."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    tasks = (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    out = None
    for k in _PASS_AT_KS:
        fail_ppm = F.floor(F.lit(1000000) * _pass_fail_prod_col(k)).cast(
            "long"
        )
        branch = (
            tasks.where(F.col("n") >= k)
            .select(fail_ppm.alias("fp"))
            .agg(
                F.lit(k).cast("long").alias("k"),
                F.count(F.lit(1)).cast("long").alias("n_tasks"),
                F.sum("fp").cast("long").alias("sum_fail_ppm"),
                F.call_function(
                    "div",
                    F.count(F.lit(1)) * 1000000 - F.sum("fp"),
                    F.count(F.lit(1)),
                )
                .cast("long")
                .alias("pass_at_k_ppm"),
            )
        )
        out = branch if out is None else out.unionByName(branch)
    return out


# ---------------------------------------------------------------------------
# CUPED variance reduction (experimentation analytics)
# ---------------------------------------------------------------------------

# Shared IEEE fragments (the _OLS_DET discipline): theta and rho^2 from
# the pooled quantized moments, evaluated from identical SQL strings by
# Spark and DuckDB.  All moment combination happens in DOUBLE (the raw
# BIGINT cross-products n*Sxx would overflow int64), which is
# deterministic because *, -, / are correctly rounded.
# First moments (sx, sy) stay in micro units; SECOND moments square the
# per-user value AFTER an integer-divide down to unit scale — qx*qx in
# micro^2 overflows int64 at the 300x synthesis (5e20) and a fortiori
# at 100 TB, and even (qx*qx)//1e8 computes the hazardous micro^2
# product first; (qx//1e4)^2 keeps every intermediate in unit scale
# (per-user bound ~3e9 whole units, pooled sums exact to ~3e9 users).
# The formulas below therefore rescale sx/sy to unit scale
# (one correctly-rounded divide each); theta and rho^2 are
# scale-consistent ratios either way.
_SXU = "(CAST(sx AS DOUBLE) / 10000.0)"
_SYU = "(CAST(sy AS DOUBLE) / 10000.0)"
_CUPED_THETA = (
    f"((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - {_SXU}*{_SYU})"
    f" / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - {_SXU}*{_SXU}))"
)
_CUPED_RHO2 = (
    f"(((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - {_SXU}*{_SYU})"
    f" * (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - {_SXU}*{_SYU}))"
    f" / ((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - {_SXU}*{_SXU})"
    f" * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - {_SYU}*{_SYU})))"
)
_CUPED_ADJ = (
    "((CAST(sya AS DOUBLE) - {theta}"
    " * (CAST(sxa AS DOUBLE)"
    "    - CAST(na AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))"
    " / CAST(na AS DOUBLE))"
).format(theta=_CUPED_THETA)

_CUPED_USER_SQL = """
  SELECT user_id, user_id % 2 AS arm,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                       THEN CAST(FLOOR(value * 10000.0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS qx,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                       THEN CAST(FLOOR(value * 10000.0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS qy
  FROM events GROUP BY user_id
"""


@query(
    "cuped_variance_reduction",
    oracle=f"""
WITH u AS ({_CUPED_USER_SQL}),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qx) AS BIGINT) AS sx, CAST(SUM(qy) AS BIGINT) AS sy,
         CAST(SUM((qx // 10000) * (qx // 10000)) AS BIGINT) AS sxx,
         CAST(SUM((qx // 10000) * (qy // 10000)) AS BIGINT) AS sxy,
         CAST(SUM((qy // 10000) * (qy // 10000)) AS BIGINT) AS syy
  FROM u
),
a AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS na,
         CAST(SUM(qx) AS BIGINT) AS sxa, CAST(SUM(qy) AS BIGINT) AS sya
  FROM u GROUP BY arm
)
SELECT CAST(a.arm AS BIGINT) AS arm, a.na AS n_users, a.sya AS sum_y_q,
       CAST(FLOOR(CAST(a.sya AS DOUBLE) / CAST(a.na AS DOUBLE)) AS BIGINT)
         AS mean_y_q,
       CAST(FLOOR({_CUPED_ADJ}) AS BIGINT) AS mean_y_adj_q,
       CAST(FLOOR({_CUPED_THETA} * 1000000000.0) AS BIGINT) AS theta_nano,
       CAST(FLOOR({_CUPED_RHO2} * 1000000.0) AS BIGINT)
         AS var_reduction_ppm
FROM a CROSS JOIN g
""",
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013, 'Improving the Sensitivity of Online
    Controlled Experiments') — THE industry-standard experiment
    variance-reduction method: per experiment arm (user_id parity as
    the deterministic assignment), the raw and covariate-adjusted mean
    of the post-period metric, where the adjustment
    Y - theta*(X - mean(X)) uses theta = cov(X, Y)/var(X) estimated
    from the pooled pre-period covariate X.  var_reduction_ppm = rho^2
    in ppm is the fraction of metric variance CUPED removes — the
    number an experimentation platform quotes when it says 'ships
    experiments N% faster'.

    Pre period is the first half of the fixture calendar (before
    2024-01-16), post the rest; per-user pre/post metric sums are
    FLOOR-microquantized BIGINTs, and the pooled SECOND moments are
    computed from per-user values integer-divided to UNIT scale BEFORE
    squaring (micro^2 intermediates overflow int64 at the 300x
    synthesis — caught by the scale cell; squaring the rescaled value
    also removes the per-user product hazard: the bound is now ~3e9
    whole units per user, not ~3e9 micro-units).  Moment combination
    and the theta/rho^2/adjustment
    expressions are shared SQL strings between Spark and the DuckDB
    oracle (identical IEEE trees).

    Scale shape: one user-keyed agg (the corpus exchange), then ONE
    1-row pooled moment agg and ONE 2-row arm agg over the per-user
    table, combined by a broadcast cross join — the classic
    two-level-rollup shape, nothing after the user agg scales with
    events."""
    e = load_table(spark, sf_dir, "events")
    cutoff = "TIMESTAMP '2024-01-16 00:00:00'"
    u = e.groupBy("user_id").agg(
        F.expr(
            f"CAST(SUM(CASE WHEN ts < {cutoff} THEN"
            " CAST(FLOOR(value * 10000.0) AS BIGINT) ELSE 0 END) AS BIGINT)"
        ).alias("qx"),
        F.expr(
            f"CAST(SUM(CASE WHEN ts >= {cutoff} THEN"
            " CAST(FLOOR(value * 10000.0) AS BIGINT) ELSE 0 END) AS BIGINT)"
        ).alias("qy"),
    ).select(F.expr("user_id % 2").alias("arm"), "qx", "qy")
    # qx/qy are nonnegative, so integral DIV (truncating) == '//'
    # (flooring).  Rescale to UNIT scale per user BEFORE squaring (r12
    # advice): (qx*qx)//1e8 computes the product in micro^2 first, which
    # silently wraps once a single user's qx exceeds ~3e9 micro-units;
    # (qx//1e4)^2 keeps every intermediate in unit scale, raising the
    # per-user overflow bound to ~3e9 WHOLE units (~10^4x headroom).
    ux = F.call_function("div", F.col("qx"), F.lit(10000))
    uy = F.call_function("div", F.col("qy"), F.lit(10000))
    g = u.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qx").cast("long").alias("sx"),
        F.sum("qy").cast("long").alias("sy"),
        F.sum(ux * ux).cast("long").alias("sxx"),
        F.sum(ux * uy).cast("long").alias("sxy"),
        F.sum(uy * uy).cast("long").alias("syy"),
    )
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("na"),
        F.sum("qx").cast("long").alias("sxa"),
        F.sum("qy").cast("long").alias("sya"),
    )
    return a.crossJoin(F.broadcast(g)).select(
        F.col("arm").cast("long").alias("arm"),
        F.col("na").alias("n_users"),
        F.col("sya").alias("sum_y_q"),
        F.expr(
            "CAST(FLOOR(CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)) AS BIGINT)"
        ).alias("mean_y_q"),
        F.expr(f"CAST(FLOOR({_CUPED_ADJ}) AS BIGINT)").alias("mean_y_adj_q"),
        F.expr(
            f"CAST(FLOOR({_CUPED_THETA} * 1000000000.0) AS BIGINT)"
        ).alias("theta_nano"),
        F.expr(
            f"CAST(FLOOR({_CUPED_RHO2} * 1000000.0) AS BIGINT)"
        ).alias("var_reduction_ppm"),
    )


# ---------------------------------------------------------------------------
# experimentation test battery: Welch's t, Mann-Whitney U, SRM check
# (the significance tests an experimentation platform runs next to
# cuped_variance_reduction's variance reduction)
# ---------------------------------------------------------------------------

# Per-user metric shared by all three tests: whole-period micro-quantized
# value sum, deterministic arm assignment by user parity (the CUPED
# convention).
_AB_USER_SQL = """
  SELECT user_id, user_id % 2 AS arm,
         CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS qy
  FROM events GROUP BY user_id
"""

# Welch fragments (shared IEEE trees; the CUPED rescale-before-square
# discipline for second moments — unit-scale per user before squaring).
_WELCH_M = "(CAST(sy{i} AS DOUBLE) / 10000.0 / CAST(n{i} AS DOUBLE))"
_WELCH_V = (
    "((CAST(syy{i} AS DOUBLE)"
    " - (CAST(sy{i} AS DOUBLE) / 10000.0)"
    " * (CAST(sy{i} AS DOUBLE) / 10000.0) / CAST(n{i} AS DOUBLE))"
    " / CAST(n{i} - 1 AS DOUBLE))"
)
_WELCH_SE2 = (
    f"({_WELCH_V.format(i=1)} / CAST(n1 AS DOUBLE)"
    f" + {_WELCH_V.format(i=0)} / CAST(n0 AS DOUBLE))"
)
_WELCH_T = (
    f"(({_WELCH_M.format(i=1)} - {_WELCH_M.format(i=0)})"
    f" / sqrt({_WELCH_SE2}))"
)
_WELCH_DF = (
    f"(({_WELCH_SE2} * {_WELCH_SE2})"
    f" / (({_WELCH_V.format(i=1)} / CAST(n1 AS DOUBLE))"
    f" * ({_WELCH_V.format(i=1)} / CAST(n1 AS DOUBLE))"
    " / CAST(n1 - 1 AS DOUBLE)"
    f" + ({_WELCH_V.format(i=0)} / CAST(n0 AS DOUBLE))"
    f" * ({_WELCH_V.format(i=0)} / CAST(n0 AS DOUBLE))"
    " / CAST(n0 - 1 AS DOUBLE)))"
)

def _ab_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark dual of _AB_USER_SQL: per-user arm + exact micro metric."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT)"
            ).alias("qy")
        )
        .select(F.expr("user_id % 2").alias("arm"), "qy")
    )


_WELCH_ARMS_SQL = """
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN arm = 0 THEN qy ELSE 0 END) AS BIGINT) AS sy0,
         CAST(SUM(CASE WHEN arm = 1 THEN qy ELSE 0 END) AS BIGINT) AS sy1,
         CAST(SUM(CASE WHEN arm = 0
                  THEN (qy // 10000) * (qy // 10000) ELSE 0 END) AS BIGINT)
           AS syy0,
         CAST(SUM(CASE WHEN arm = 1
                  THEN (qy // 10000) * (qy // 10000) ELSE 0 END) AS BIGINT)
           AS syy1
"""


@query(
    "welch_t_test",
    oracle=f"""
WITH u AS ({_AB_USER_SQL}),
g AS ({_WELCH_ARMS_SQL} FROM u)
SELECT n0, n1,
       CAST(FLOOR({_WELCH_M.format(i=0)} * 1000.0) AS BIGINT) AS mean0_milli,
       CAST(FLOOR({_WELCH_M.format(i=1)} * 1000.0) AS BIGINT) AS mean1_milli,
       CAST(FLOOR({_WELCH_T} * 1000.0) AS BIGINT) AS t_milli,
       CAST(FLOOR({_WELCH_DF} * 1000.0) AS BIGINT) AS df_milli
FROM g
""",
)
def welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between experiment arms — the
    default difference-in-means significance test an experimentation
    platform reports next to CUPED's variance reduction: per-arm user
    means of the micro-quantized metric, Welch's t statistic, and the
    Welch-Satterthwaite degrees of freedom, all milli-floored.

    Portability: per-user sums are exact BIGINT micro-units; second
    moments follow cuped_variance_reduction's rescale-before-square
    rule (unit scale per user, so a heavy user cannot overflow the
    product); every double expression (means, variances, t, df) is a
    shared SQL string — identical IEEE trees, sqrt correctly rounded.

    Scale shape: one user-keyed exchange, then a SINGLE 1-row
    conditional-sum pivot over the per-user table (map-side combined);
    the t/df algebra is a constant-size projection on that row."""
    u = _ab_users(spark, sf_dir)
    g = u.groupBy().agg(
        F.expr("CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)").alias("n0"),
        F.expr("CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("n1"),
        F.expr("CAST(SUM(CASE WHEN arm = 0 THEN qy ELSE 0 END) AS BIGINT)").alias("sy0"),
        F.expr("CAST(SUM(CASE WHEN arm = 1 THEN qy ELSE 0 END) AS BIGINT)").alias("sy1"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 0"
            " THEN (qy DIV 10000) * (qy DIV 10000) ELSE 0 END) AS BIGINT)"
        ).alias("syy0"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 1"
            " THEN (qy DIV 10000) * (qy DIV 10000) ELSE 0 END) AS BIGINT)"
        ).alias("syy1"),
    )
    return g.select(
        "n0",
        "n1",
        F.expr(
            f"CAST(FLOOR({_WELCH_M.format(i=0)} * 1000.0) AS BIGINT)"
        ).alias("mean0_milli"),
        F.expr(
            f"CAST(FLOOR({_WELCH_M.format(i=1)} * 1000.0) AS BIGINT)"
        ).alias("mean1_milli"),
        F.expr(f"CAST(FLOOR({_WELCH_T} * 1000.0) AS BIGINT)").alias("t_milli"),
        F.expr(f"CAST(FLOOR({_WELCH_DF} * 1000.0) AS BIGINT)").alias(
            "df_milli"
        ),
    )


# Mann-Whitney fragments.  The rank axis is the DECI-unit quantized
# per-user metric (qy // 1000), which (a) bounds the distinct-value
# table by the metric's value range instead of the user count — the
# classifier_auc_rank histogram trick, so the ordered prefix window
# never sees corpus-sized input — and (b) produces real tied groups,
# exercising the tie-corrected variance.  rank2 doubles every rank so
# midranks stay exact integers.
_MWU_VAR = (
    "((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)"
    " * (CAST(n_a + n_b + 1 AS DOUBLE)"
    " - CAST(ties AS DOUBLE)"
    " / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b - 1 AS DOUBLE))))"
)
_MWU_Z = (
    "((CAST(u2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
    f" / (2.0 * sqrt({_MWU_VAR})))"
)


@query(
    "mann_whitney_u",
    oracle=f"""
WITH u AS ({_AB_USER_SQL}),
v AS (SELECT arm, qy // 1000 AS qv FROM u),
g AS (
  SELECT qv,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(COUNT(*) AS BIGINT) AS grp
  FROM v GROUP BY qv
),
rk AS (
  SELECT na, nb, grp,
         2 * (CAST(SUM(grp) OVER (ORDER BY qv
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              - grp) + grp + 1 AS rank2
  FROM g
),
t AS (
  SELECT CAST(SUM(na) AS BIGINT) AS n_a,
         CAST(SUM(nb) AS BIGINT) AS n_b,
         CAST(SUM(na * rank2) AS BIGINT) AS r2a,
         CAST(SUM(grp * grp * grp - grp) AS BIGINT) AS ties
  FROM rk
)
SELECT n_a, n_b, ties,
       CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
       CAST(FLOOR({_MWU_Z} * 1000.0) AS BIGINT) AS z_milli
FROM (SELECT n_a, n_b, ties, r2a,
             r2a - n_a * (n_a + 1) AS u2_a FROM t)
""",
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between experiment arms —
    the NONPARAMETRIC companion to welch_t_test (what a platform
    reports when the metric is skewed and means mislead): midranks of
    the deci-quantized per-user metric via the doubled-rank integer
    trick (rank2 = 2*cum_before + group + 1, so tied-group midranks
    are exact BIGINTs), U statistic in doubled form (u2_a = 2*U_A,
    exact integer), and the tie-corrected normal approximation z,
    milli-floored from shared IEEE strings.

    Scale shape: one user-keyed exchange, then a hash agg onto the
    bounded deci-unit value axis (the classifier_auc_rank histogram
    argument — the single-partition rank window runs over distinct
    metric VALUES, never users).  Overflow: the tie term sums grp^3 —
    exact below ~2e6 users per distinct deci-value; past that, coarsen
    the quantization a decade (documented, not silent)."""
    u = _ab_users(spark, sf_dir)
    v = u.select("arm", F.expr("qy DIV 1000").alias("qv"))
    g = v.groupBy("qv").agg(
        F.expr(
            "CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("na"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("nb"),
        F.count(F.lit(1)).cast("long").alias("grp"),
    )
    w = Window.orderBy("qv").rowsBetween(Window.unboundedPreceding, 0)
    rk = g.select(
        "na",
        "nb",
        "grp",
        (
            2 * (F.sum("grp").over(w).cast("long") - F.col("grp"))
            + F.col("grp")
            + 1
        ).alias("rank2"),
    )
    t = rk.groupBy().agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum(F.col("na") * F.col("rank2")).cast("long").alias("r2a"),
        F.sum(
            F.col("grp") * F.col("grp") * F.col("grp") - F.col("grp")
        )
        .cast("long")
        .alias("ties"),
    )
    return t.select(
        "n_a",
        "n_b",
        "ties",
        (F.col("r2a") - F.col("n_a") * (F.col("n_a") + 1))
        .cast("long")
        .alias("u2_a"),
    ).select(
        "n_a",
        "n_b",
        "ties",
        "u2_a",
        F.expr(f"CAST(FLOOR({_MWU_Z} * 1000.0) AS BIGINT)").alias("z_milli"),
    )


# SRM fragments: the chi-squared goodness-of-fit of the observed arm
# counts against the designed 50/50 split, 1 degree of freedom.
_SRM_EXP = "((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0)"
_SRM_CHI2 = (
    f"(((CAST(n0 AS DOUBLE) - {_SRM_EXP})"
    f" * (CAST(n0 AS DOUBLE) - {_SRM_EXP})"
    f" + (CAST(n1 AS DOUBLE) - {_SRM_EXP})"
    f" * (CAST(n1 AS DOUBLE) - {_SRM_EXP})) / {_SRM_EXP})"
)


@query(
    "sample_ratio_mismatch",
    oracle=f"""
WITH u AS ({_AB_USER_SQL}),
c AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM u
)
SELECT n0, n1,
       CAST(FLOOR({_SRM_CHI2} * 1000.0) AS BIGINT) AS chi2_milli,
       CAST(FLOOR({_SRM_CHI2} * 1000.0) AS BIGINT) > 3841 AS srm_detected
FROM c
""",
)
def sample_ratio_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the data-quality gate every
    experimentation platform runs BEFORE reading any metric (a
    triggered/logging bug shows up as arm counts drifting off the
    designed 50/50 long before it corrupts conclusions): chi-squared
    goodness-of-fit of the observed per-arm user counts against the
    even split, 1 df, with the standard alpha=0.05 critical value
    3.841 as the milli-integer flag threshold.

    Scale shape: one user-keyed exchange (shared with the other arm
    tests), then a 1-row conditional-count pivot; the chi2 algebra is
    a constant projection from shared IEEE strings."""
    u = _ab_users(spark, sf_dir)
    c = u.groupBy().agg(
        F.expr(
            "CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n0"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n1"),
    )
    return c.select(
        "n0",
        "n1",
        F.expr(f"CAST(FLOOR({_SRM_CHI2} * 1000.0) AS BIGINT)").alias(
            "chi2_milli"
        ),
        (
            F.expr(f"CAST(FLOOR({_SRM_CHI2} * 1000.0) AS BIGINT)")
            > F.lit(3841)
        ).alias("srm_detected"),
    )


# Permutation-test fragments.  B = 32 permutations from ONE md5 per
# user: digit i of md5('perm:' || user_id) is an (approximately)
# independent uniform hex symbol, so its parity re-assigns the user's
# arm for permutation i — 32 sign flips for one hash computation, the
# map-side-cheap form of the permutation null.
_PERM_B = 32
_PERM_DIFF = (
    "(CAST(sy1 AS DOUBLE) / 10000.0 / CAST(n1 AS DOUBLE)"
    " - CAST(sy0 AS DOUBLE) / 10000.0 / CAST(n0 AS DOUBLE))"
)
_PERM_STATS_SQL = """
  CAST(SUM(CASE WHEN pa = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
  CAST(SUM(CASE WHEN pa = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
  CAST(SUM(CASE WHEN pa = 0 THEN qy ELSE 0 END) AS BIGINT) AS sy0,
  CAST(SUM(CASE WHEN pa = 1 THEN qy ELSE 0 END) AS BIGINT) AS sy1
"""


@query(
    "permutation_test_mean_diff",
    oracle=f"""
WITH u AS ({_AB_USER_SQL}),
h AS (
  SELECT user_id, user_id % 2 AS arm, qy,
         {md5_key("perm:", "user_id", dialect="duckdb")} AS hx
  FROM u
),
perm AS (
  SELECT qy, CAST(g.b AS BIGINT) AS b,
         {hex_digits("hx", "CAST(g.b AS INT)", 1, "duckdb")} % 2 AS pa
  FROM h, UNNEST(range(1, {_PERM_B + 1})) g(b)
),
ps AS (
  SELECT b, {_PERM_STATS_SQL} FROM perm GROUP BY b
),
pd AS (
  SELECT b, CAST(FLOOR(abs({_PERM_DIFF}) * 1000.0) AS BIGINT) AS adm
  FROM ps
),
ob AS (
  SELECT {_PERM_STATS_SQL.replace("pa", "arm")} FROM h
),
od AS (
  SELECT CAST(FLOOR({_PERM_DIFF} * 1000.0) AS BIGINT) AS diff_obs_milli,
         CAST(FLOOR(abs({_PERM_DIFF}) * 1000.0) AS BIGINT) AS obs_adm
  FROM ob
)
SELECT od.diff_obs_milli,
       CAST({_PERM_B} AS BIGINT) AS n_perm,
       CAST(SUM(CASE WHEN pd.adm >= od.obs_adm THEN 1 ELSE 0 END)
            AS BIGINT) AS n_extreme,
       CAST((SUM(CASE WHEN pd.adm >= od.obs_adm THEN 1 ELSE 0 END) + 1)
            * 1000000 // ({_PERM_B} + 1) AS BIGINT) AS p_ppm
FROM pd CROSS JOIN od
GROUP BY od.diff_obs_milli
""",
)
def permutation_test_mean_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation (randomization) test for the arm mean difference —
    the assumption-free significance gate next to welch_t_test /
    mann_whitney_u: re-assign every user's arm under {_PERM_B}
    deterministic sign permutations, recompute the mean difference
    under each, and report how often the null's |difference| reaches
    the observed one (add-one p estimate, ppm).

    The permutation source is ONE md5 per user — digit i of
    md5('perm:' || user_id) supplies permutation i's assignment — so
    the {_PERM_B}x fan-out carries no per-row hashing beyond the
    single digest (digits rendered by operators/sampling.py's
    ``hex_digits``, exact integers everywhere; the only doubles are
    the shared mean-difference strings, milli-floored before any
    comparison).

    Scale shape: one user-keyed exchange, a map-side {_PERM_B}x
    explode of (qy, digit) pairs partially aggregated into {_PERM_B}
    groups of 4 BIGINTs, and a 1-row broadcast cross of the observed
    statistic — the permutation null at 100 TB costs {_PERM_B}
    conditional sums over one corpus pass, which is exactly why the
    single-hash digit trick matters there."""
    e = load_table(spark, sf_dir, "events")
    u = (
        e.groupBy("user_id")
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT)"
            ).alias("qy")
        )
        .select(
            "user_id",
            F.expr("user_id % 2").alias("arm"),
            "qy",
            F.expr(md5_key("perm:", "user_id")).alias("hx"),
        )
    )
    perm = u.select(
        "qy",
        F.explode(F.expr(f"sequence(1, {_PERM_B})")).alias("b"),
        "hx",
    ).select(
        "qy",
        F.col("b").cast("long").alias("b"),
        F.expr(f"{hex_digits('hx', 'CAST(b AS INT)', 1)} % 2").alias("pa"),
    )
    def _stats(df, flag):
        return df.agg(
            F.expr(
                f"CAST(SUM(CASE WHEN {flag} = 0 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n0"),
            F.expr(
                f"CAST(SUM(CASE WHEN {flag} = 1 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n1"),
            F.expr(
                f"CAST(SUM(CASE WHEN {flag} = 0 THEN qy ELSE 0 END) AS BIGINT)"
            ).alias("sy0"),
            F.expr(
                f"CAST(SUM(CASE WHEN {flag} = 1 THEN qy ELSE 0 END) AS BIGINT)"
            ).alias("sy1"),
        )
    pd_ = _stats(perm.groupBy("b"), "pa").select(
        F.expr(
            f"CAST(FLOOR(abs({_PERM_DIFF}) * 1000.0) AS BIGINT)"
        ).alias("adm")
    )
    od = _stats(u.groupBy(), "arm").select(
        F.expr(
            f"CAST(FLOOR({_PERM_DIFF} * 1000.0) AS BIGINT)"
        ).alias("diff_obs_milli"),
        F.expr(
            f"CAST(FLOOR(abs({_PERM_DIFF}) * 1000.0) AS BIGINT)"
        ).alias("obs_adm"),
    )
    return (
        pd_.crossJoin(F.broadcast(od))
        .groupBy("diff_obs_milli")
        .agg(
            F.lit(_PERM_B).cast("long").alias("n_perm"),
            F.expr(
                "CAST(SUM(CASE WHEN adm >= obs_adm THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_extreme"),
            F.expr(
                "CAST((SUM(CASE WHEN adm >= obs_adm THEN 1 ELSE 0 END) + 1)"
                f" * 1000000 DIV ({_PERM_B} + 1) AS BIGINT)"
            ).alias("p_ppm"),
        )
    )


# Difference-in-differences fragments.  Per-user panel difference
# d = qy - qx (post minus pre, micro); d can be NEGATIVE, so the unit
# rescale before squaring uses the double-floor form — integral DIV
# truncates toward zero while // floors, and they disagree exactly on
# negatives (the _GBDT_MEAN_L lesson).
_DID_DU = "CAST(FLOOR(CAST(qy - qx AS DOUBLE) / 10000.0) AS BIGINT)"
_DID_MEAN = "(CAST(sd{i} AS DOUBLE) / 10000.0 / CAST(n{i} AS DOUBLE))"
_DID_VAR = (
    "((CAST(sdd{i} AS DOUBLE)"
    " - (CAST(sd{i} AS DOUBLE) / 10000.0)"
    " * (CAST(sd{i} AS DOUBLE) / 10000.0) / CAST(n{i} AS DOUBLE))"
    " / CAST(n{i} - 1 AS DOUBLE))"
)
_DID_EFFECT = f"({_DID_MEAN.format(i=1)} - {_DID_MEAN.format(i=0)})"
_DID_SE = (
    f"sqrt({_DID_VAR.format(i=1)} / CAST(n1 AS DOUBLE)"
    f" + {_DID_VAR.format(i=0)} / CAST(n0 AS DOUBLE))"
)


@query(
    "did_estimator",
    oracle=f"""
WITH u AS ({_CUPED_USER_SQL}),
d AS (SELECT arm, qx, qy, {_DID_DU} AS du FROM u),
g AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN arm = 0 THEN qy - qx ELSE 0 END) AS BIGINT)
           AS sd0,
         CAST(SUM(CASE WHEN arm = 1 THEN qy - qx ELSE 0 END) AS BIGINT)
           AS sd1,
         CAST(SUM(CASE WHEN arm = 0 THEN du * du ELSE 0 END) AS BIGINT)
           AS sdd0,
         CAST(SUM(CASE WHEN arm = 1 THEN du * du ELSE 0 END) AS BIGINT)
           AS sdd1,
         CAST(SUM(CASE WHEN arm = 0 THEN qx ELSE 0 END) AS BIGINT) AS sx0,
         CAST(SUM(CASE WHEN arm = 1 THEN qx ELSE 0 END) AS BIGINT) AS sx1
  FROM d
)
SELECT n0, n1,
       CAST(FLOOR({_DID_MEAN.format(i=0)} * 1000.0) AS BIGINT)
         AS delta0_milli,
       CAST(FLOOR({_DID_MEAN.format(i=1)} * 1000.0) AS BIGINT)
         AS delta1_milli,
       CAST(FLOOR({_DID_EFFECT} * 1000.0) AS BIGINT) AS did_milli,
       CAST(FLOOR(({_DID_EFFECT} / {_DID_SE}) * 1000.0) AS BIGINT)
         AS t_milli
FROM g
""",
)
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the panel causal estimator (the
    pre/post x treatment/control 2x2 every launch review draws): with
    CUPED's calendar split as the pre/post periods and user parity as
    the arms, estimate the treatment effect as the between-arm
    difference of within-user post-minus-pre changes, with the
    panel-robust SE from per-user difference variances (equivalent to
    a t-test on the user-level deltas — the clustered-by-user form).

    Portability: per-user deltas are exact BIGINT micro-differences;
    second moments rescale the SIGNED delta with the double-floor form
    before squaring (integral DIV truncates negatives differently);
    means/variances/effect/t come from shared IEEE strings.

    Scale shape: one user-keyed exchange (the CUPED exchange), then a
    single 1-row conditional pivot — nothing else touches the
    corpus."""
    e = load_table(spark, sf_dir, "events")
    cutoff = "TIMESTAMP '2024-01-16 00:00:00'"
    u = e.groupBy("user_id").agg(
        F.expr(
            f"CAST(SUM(CASE WHEN ts < {cutoff} THEN"
            " CAST(FLOOR(value * 10000.0) AS BIGINT) ELSE 0 END) AS BIGINT)"
        ).alias("qx"),
        F.expr(
            f"CAST(SUM(CASE WHEN ts >= {cutoff} THEN"
            " CAST(FLOOR(value * 10000.0) AS BIGINT) ELSE 0 END) AS BIGINT)"
        ).alias("qy"),
    ).select(F.expr("user_id % 2").alias("arm"), "qx", "qy")
    d = u.select("arm", "qx", "qy", F.expr(_DID_DU).alias("du"))
    g = d.groupBy().agg(
        F.expr(
            "CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n0"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n1"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 0 THEN qy - qx ELSE 0 END) AS BIGINT)"
        ).alias("sd0"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 1 THEN qy - qx ELSE 0 END) AS BIGINT)"
        ).alias("sd1"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 0 THEN du * du ELSE 0 END) AS BIGINT)"
        ).alias("sdd0"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 1 THEN du * du ELSE 0 END) AS BIGINT)"
        ).alias("sdd1"),
    )
    return g.select(
        "n0",
        "n1",
        F.expr(
            f"CAST(FLOOR({_DID_MEAN.format(i=0)} * 1000.0) AS BIGINT)"
        ).alias("delta0_milli"),
        F.expr(
            f"CAST(FLOOR({_DID_MEAN.format(i=1)} * 1000.0) AS BIGINT)"
        ).alias("delta1_milli"),
        F.expr(f"CAST(FLOOR({_DID_EFFECT} * 1000.0) AS BIGINT)").alias(
            "did_milli"
        ),
        F.expr(
            f"CAST(FLOOR(({_DID_EFFECT} / {_DID_SE}) * 1000.0) AS BIGINT)"
        ).alias("t_milli"),
    )


# Two-proportion z-test fragments (pooled-variance form).
_TPZ_P = "(CAST(c{i} AS DOUBLE) / CAST(n{i} AS DOUBLE))"
_TPZ_POOL = "((CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE))" \
    " / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)))"
_TPZ_Z = (
    f"(({_TPZ_P.format(i=1)} - {_TPZ_P.format(i=0)})"
    f" / sqrt({_TPZ_POOL} * (1.0 - {_TPZ_POOL})"
    " * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))))"
)


@query(
    "two_proportion_ztest",
    oracle=f"""
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) % 2
              AS BIGINT) AS conv
  FROM events GROUP BY user_id
),
g AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
  FROM u
)
SELECT n0, n1, c0, c1,
       CAST(c0 * 1000000 // n0 AS BIGINT) AS rate0_ppm,
       CAST(c1 * 1000000 // n1 AS BIGINT) AS rate1_ppm,
       CAST(FLOOR({_TPZ_Z} * 1000.0) AS BIGINT) AS z_milli
FROM g
""",
)
def two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion — the single most
    common A/B statistic, in its pooled-variance form: per-arm
    converter counts, exact integer ppm rates, and the z score from
    shared IEEE strings over exact BIGINT counts.  The conversion flag
    is the parity of the user's purchase count — a deterministic
    ~50%-base-rate definition that stays non-degenerate at every
    fixture scale (any-purchase converts EVERYONE here, collapsing the
    pooled variance to 0); the hash pins the solver, not a data
    story.

    Scale shape: one user-keyed exchange computing the per-user
    converted flag (MAX of a CASE — map-side combined), then a 1-row
    conditional pivot; constant-size algebra after."""
    e = load_table(spark, sf_dir, "events")
    u = (
        e.groupBy("user_id")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN event_type = 'purchase'"
                " THEN 1 ELSE 0 END) % 2 AS BIGINT)"
            ).alias("conv")
        )
        .select(F.expr("user_id % 2").alias("arm"), "conv")
    )
    g = u.groupBy().agg(
        F.expr(
            "CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n0"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n1"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)"
        ).alias("c0"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)"
        ).alias("c1"),
    )
    return g.select(
        "n0",
        "n1",
        "c0",
        "c1",
        F.expr("CAST(c0 * 1000000 DIV n0 AS BIGINT)").alias("rate0_ppm"),
        F.expr("CAST(c1 * 1000000 DIV n1 AS BIGINT)").alias("rate1_ppm"),
        F.expr(f"CAST(FLOOR({_TPZ_Z} * 1000.0) AS BIGINT)").alias("z_milli"),
    )


# Post-stratification fragments: strata are per-user event-count
# buckets (capped decade buckets — deterministic, corpus-independent
# boundaries); per-stratum mean differences are combined with
# population-share weights.  Per-stratum terms are nano-floored BEFORE
# the cross-stratum sum (quantize-before-sum over the ~10-row stratum
# table).
_PS_DELTA = (
    "(CAST(sy1 AS DOUBLE) / 10000.0 / CAST(n1 AS DOUBLE)"
    " - CAST(sy0 AS DOUBLE) / 10000.0 / CAST(n0 AS DOUBLE))"
)
_PS_TERM = (
    f"CAST(FLOOR(({_PS_DELTA})"
    " * (CAST(n0 + n1 AS DOUBLE) / CAST(ntot AS DOUBLE))"
    " * 1000000000.0) AS BIGINT)"
)


@query(
    "poststratified_effect",
    oracle=f"""
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
         CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS qy,
         CAST(LEAST(COUNT(*) // 10, 9) AS BIGINT) AS stratum
  FROM events GROUP BY user_id
),
s AS (
  SELECT stratum,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN arm = 0 THEN qy ELSE 0 END) AS BIGINT) AS sy0,
         CAST(SUM(CASE WHEN arm = 1 THEN qy ELSE 0 END) AS BIGINT) AS sy1
  FROM u GROUP BY stratum
),
tot AS (SELECT CAST(SUM(n0 + n1) AS BIGINT) AS ntot FROM s),
terms AS (
  SELECT s.stratum, s.n0, s.n1,
         CAST(FLOOR({_PS_DELTA} * 1000.0) AS BIGINT) AS delta_milli,
         {_PS_TERM} AS term_nano
  FROM s CROSS JOIN tot
  WHERE s.n0 > 0 AND s.n1 > 0
)
SELECT stratum, n0, n1, delta_milli, term_nano,
       CAST(SUM(term_nano) OVER () AS BIGINT) AS effect_total_nano
FROM terms
""",
)
def poststratified_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified treatment-effect estimate — the
    observational-causal companion to did_estimator (stratify on a
    pre-treatment covariate, estimate the effect within each stratum,
    combine with population-share weights; with deterministic strata
    this is exact post-stratification, the simplest propensity-style
    adjustment): strata are capped per-user activity buckets
    (events // 10, max 9), per-stratum arm mean differences are
    combined as sum_s (N_s / N) * delta_s.  Output: the per-stratum
    table (counts, milli delta, nano-floored weighted term) plus the
    combined effect replicated per row.

    Portability: per-user metrics are exact micro BIGINTs; each
    stratum's weighted term is nano-floored BEFORE the cross-stratum
    sum (hellinger quantize-before-sum), so the combined effect is an
    exact integer sum over the ~10-row stratum table; strata with an
    empty arm are excluded on both engines identically.

    Scale shape: one user-keyed exchange, a ~10-group conditional
    pivot, a 1-row total broadcast-crossed back, and a full-range
    window over the 10-row term table — constant work after the user
    agg."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT)"
        ).alias("qy"),
        F.expr("CAST(LEAST(COUNT(*) DIV 10, 9) AS BIGINT)").alias("stratum"),
    ).select(F.expr("user_id % 2").alias("arm"), "qy", "stratum")
    s = u.groupBy("stratum").agg(
        F.expr(
            "CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n0"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n1"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 0 THEN qy ELSE 0 END) AS BIGINT)"
        ).alias("sy0"),
        F.expr(
            "CAST(SUM(CASE WHEN arm = 1 THEN qy ELSE 0 END) AS BIGINT)"
        ).alias("sy1"),
    )
    tot = s.groupBy().agg(F.sum(F.col("n0") + F.col("n1")).cast("long").alias("ntot"))
    terms = (
        s.crossJoin(F.broadcast(tot))
        .where((F.col("n0") > 0) & (F.col("n1") > 0))
        .select(
            "stratum",
            "n0",
            "n1",
            F.expr(f"CAST(FLOOR({_PS_DELTA} * 1000.0) AS BIGINT)").alias(
                "delta_milli"
            ),
            F.expr(_PS_TERM).alias("term_nano"),
        )
    )
    w_all = Window.partitionBy()
    return terms.select(
        "stratum",
        "n0",
        "n1",
        "delta_milli",
        "term_nano",
        F.sum("term_nano").over(w_all).cast("long").alias("effect_total_nano"),
    )


# ---------------------------------------------------------------------------
# isotonic calibration via the max-min (PAV) formula over score deciles
# ---------------------------------------------------------------------------


@query(
    "isotonic_calibration_pav",
    oracle="""
WITH scored AS (
  SELECT CAST(label % 2 AS BIGINT) AS y,
         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000.0) AS BIGINT)
           AS s_milli
  FROM embeddings
),
bounds AS (
  SELECT MIN(s_milli) AS lo, MAX(s_milli) AS hi FROM scored
),
norm AS (
  SELECT y,
         CAST((s_milli - lo) * 1000000 // (hi - lo + 1) AS BIGINT) AS p_ppm
  FROM scored CROSS JOIN bounds
),
bins AS (
  SELECT CAST(p_ppm * 10 // 1000000 AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM norm GROUP BY 1
),
pairs AS (
  SELECT j.bin AS jb, l.bin AS lb
  FROM bins j JOIN bins l ON j.bin <= l.bin
),
iv AS (
  SELECT p.jb, p.lb,
         CAST(SUM(b.n_pos) * 1000000 // SUM(b.n) AS BIGINT) AS rate_ppm
  FROM pairs p JOIN bins b ON b.bin BETWEEN p.jb AND p.lb
  GROUP BY p.jb, p.lb
),
mn AS (
  SELECT i.bin, v.jb,
         CAST(MIN(v.rate_ppm) AS BIGINT) AS m
  FROM bins i JOIN iv v ON v.jb <= i.bin AND v.lb >= i.bin
  GROUP BY i.bin, v.jb
),
fit AS (
  SELECT bin, CAST(MAX(m) AS BIGINT) AS iso_fit_ppm FROM mn GROUP BY bin
)
SELECT b.bin, b.n, b.n_pos,
       CAST(b.n_pos * 1000000 // b.n AS BIGINT) AS raw_rate_ppm,
       f.iso_fit_ppm
FROM bins b JOIN fit f ON f.bin = b.bin
""",
)
def isotonic_calibration_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of the embedding classifier via pool-
    adjacent-violators, computed with the exact max-min formula
    fitted_i = max_{j<=i} min_{l>=i} mean(y over bins j..l) (Ayer et
    al. 1955; Robertson, Wright & Dykstra) — the monotone recalibration
    every production scoring pipeline applies when calibration_bins
    shows a non-monotone reliability curve.

    The entire fit is INTEGER-EXACT: interval rates are ppm integral
    divisions of exact BIGINT pos/count sums, and because floor
    commutes with min/max selection over a finite set, the floored
    max-min equals the floor of the true rational PAV fit — zero IEEE
    arithmetic anywhere (pinned against a plain-Python fractions PAV
    in tests).

    Scale shape: the corpus collapses to <= 10 decile bins first (one
    hash agg with map-side partials — the calibration_bins dataflow);
    the max-min machinery (55 intervals, 550 (i,j) cells) runs on the
    BIN axis, corpus-size-independent.  The bin-range joins are
    broadcast crosses of a 10-row table (whitelisted)."""
    scored = _scored_embeddings(spark, sf_dir)
    bounds = scored.agg(
        F.min("s_milli").alias("lo"), F.max("s_milli").alias("hi")
    )
    norm = scored.crossJoin(F.broadcast(bounds)).select(
        "y",
        F.expr(
            "CAST((s_milli - lo) * 1000000 DIV (hi - lo + 1) AS BIGINT)"
        ).alias("p_ppm"),
    )
    bins = (
        norm.groupBy(
            F.expr("CAST(p_ppm * 10 DIV 1000000 AS BIGINT)").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .persist()
    )
    j = bins.select(F.col("bin").alias("jb"))
    l = bins.select(F.col("bin").alias("lb"))
    pairs = j.join(F.broadcast(l), F.col("jb") <= F.col("lb"))
    iv = (
        pairs.join(
            F.broadcast(bins.select("bin", "n", "n_pos")),
            F.expr("bin BETWEEN jb AND lb"),
        )
        .groupBy("jb", "lb")
        .agg(
            F.expr(
                "CAST(SUM(n_pos) * 1000000 DIV SUM(n) AS BIGINT)"
            ).alias("rate_ppm")
        )
    )
    mn = (
        bins.select(F.col("bin"))
        .join(
            F.broadcast(iv),
            F.expr("jb <= bin AND lb >= bin"),
        )
        .groupBy("bin", "jb")
        .agg(F.min("rate_ppm").cast("long").alias("m"))
    )
    fit = mn.groupBy("bin").agg(
        F.max("m").cast("long").alias("iso_fit_ppm")
    )
    return bins.join(fit, "bin").select(
        "bin",
        "n",
        "n_pos",
        F.expr("CAST(n_pos * 1000000 DIV n AS BIGINT)").alias(
            "raw_rate_ppm"
        ),
        "iso_fit_ppm",
    )
