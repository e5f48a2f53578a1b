"""Retrieval & tokenizer-induction queries: BM25 scoring, inverted-index
(postings) construction, a BPE merge step, and recency-weighted
engagement scoring.

These are the IR-and-tokenizer workloads a training-data platform runs
next to dedup/curation at 100 TB: score documents against probe queries
(decontamination against eval sets is BM25-first in most pipelines),
build the block-partitioned postings lists that back those lookups,
derive tokenizer merges from corpus statistics, and rank users/documents
by recency-weighted activity for sampling.  All four are pure JVM column
expressions (higher-order array functions, window aggregates) — no
Python UDFs — so they stay inside whole-stage codegen.

Reference parity: the reference (/root/reference/main.py) has no
data-plane transforms at all; these queries extend the north-star
LLM-pipeline surface (BASELINE.json:6) alongside plans/llm.py and
plans/curation.py.

Hash-portability conventions (see plans/registry.py docstring): scores
that sum floats per group are carried as FLOOR(x * 1e6) micro-units and
integer-summed (order-independent, no -0.0); postings content is
compared via md5 over the comma-joined delta gaps (arrays never cross
the driver's pandas bridge); varint byte lengths use integer threshold
compares, never log().
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.caches import iterate
from odni_apache_beam_consumer_spark.catalog import load_table, spread
from odni_apache_beam_consumer_spark.operators.text_ops import with_tokens
from odni_apache_beam_consumer_spark.plans.registry import query

# BM25 hyperparameters (the Robertson/Sparck-Jones defaults).  Literal
# doubles, identical on both engines.
_K1 = 1.2
_B = 0.75
# Probe terms for the scoring query — common corpus words so every doc
# scores (deterministic literals; a real decontamination run would join
# against an eval-set term table instead).
_PROBE_TERMS = ("spark", "table", "query")

# Postings are block-partitioned: every (term, block) group holds at most
# _BLOCK doc ids, so no collect_list is ever unbounded (a stop-word's
# postings at 100 TB are billions of doc ids — the block split is the
# same skip-block layout Lucene uses, and it keeps every aggregation
# group O(_BLOCK)).
_BLOCK = 128


@query(
    "bm25_topk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
  FROM documents
),
dlen AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_len
  FROM dlen
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks
  WHERE term IN ('{_PROBE_TERMS[0]}', '{_PROBE_TERMS[1]}', '{_PROBE_TERMS[2]}')
  GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT t.doc_id, t.term,
         CAST(FLOOR(
           LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (t.tf * ({_K1} + 1.0))
           / (t.tf + {_K1} * (1.0 - {_B} + {_B} * l.dl
                              * s.n_docs / s.total_len))
           * 1000000.0
         ) AS BIGINT) AS term_score_micro
  FROM tf t
  JOIN df d ON d.term = t.term
  JOIN dlen l ON l.doc_id = t.doc_id
  CROSS JOIN stats s
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       CAST(SUM(term_score_micro) AS BIGINT) AS bm25_micro
FROM scored
GROUP BY doc_id
ORDER BY bm25_micro DESC, doc_id
LIMIT 50
""",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-50 documents for a fixed probe-term set
    — the retrieval scorer behind eval-set decontamination and
    retrieval-augmented curation (tf saturation + length normalization,
    which plain tf-idf lacks).

    Per-term scores are floored to integer micro-units BEFORE the per-doc
    sum, so the aggregate is an order-independent integer SUM (the probe
    terms can arrive in any partial-agg order); the float part is a fixed
    tree of IEEE ops over integer inputs, identical on both engines.

    Scale shape: doc lengths and term frequencies are two hash
    aggregations over the token stream (map-side combined); the dlen
    table is materialized ONCE (eager localCheckpoint) because both the
    per-doc score join and the 1-row corpus-stats aggregate consume it —
    without it each reader re-runs the full token-stream aggregation,
    doubling corpus passes.  localCheckpoint (not persist) so the block
    self-drains via the ContextCleaner once the plan is released instead
    of pinning cache in a shared session.  The df and corpus-stats
    tables are probe-sized / 1-row and broadcast; top-50 runs as
    TakeOrderedAndProject (per-partition heaps, no global sort).  At
    100 TB the probe-term IN filter prunes the tf build to a sliver of
    the (doc, term) space before anything shuffles."""
    toks = (
        with_tokens(spread(load_table(spark, sf_dir, "documents")))
        .select("doc_id", F.explode("tk").alias("term"))
    )
    dlen = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dl"))
        .localCheckpoint(eager=True)
    )
    stats = dlen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    tf = (
        toks.where(F.col("term").isin(*_PROBE_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (_K1 + 1.0))
                / (
                    F.col("tf")
                    + _K1
                    * (
                        1.0
                        - _B
                        + _B
                        * F.col("dl")
                        * F.col("n_docs")
                        / F.col("total_len")
                    )
                )
                * 1000000.0
            )
            .cast("long")
            .alias("term_score_micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.sum("term_score_micro").cast("long").alias("bm25_micro"),
        )
        .orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
        .limit(50)
    )


@query(
    "postings_index_build",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT term, doc_id FROM (
    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
    FROM documents
  )
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY term
),
blocked AS (
  SELECT t.term, t.doc_id, d.df,
         CAST((ROW_NUMBER() OVER (PARTITION BY t.term ORDER BY t.doc_id)
               - 1) // {_BLOCK} AS BIGINT) AS block_id
  FROM toks t JOIN df d ON d.term = t.term
  WHERE d.df >= 10
),
per_block AS (
  SELECT term, block_id, df,
         list(doc_id ORDER BY doc_id) AS p
  FROM blocked GROUP BY term, block_id, df
)
SELECT term, block_id, df,
       CAST(len(p) AS BIGINT) AS n_in_block,
       p[1] AS first_doc,
       p[len(p)] AS last_doc,
       md5(COALESCE(array_to_string(
         list_transform(generate_series(2, len(p)),
                        i -> CAST(p[CAST(i AS INT)]
                                  - p[CAST(i AS INT) - 1] AS VARCHAR)),
         ','), '')) AS gaps_md5,
       CAST(len(p) + COALESCE(list_sum(
         list_transform(generate_series(2, len(p)), i ->
           CASE WHEN p[CAST(i AS INT)] - p[CAST(i AS INT) - 1] >= 2097152
                  THEN 3
                WHEN p[CAST(i AS INT)] - p[CAST(i AS INT) - 1] >= 16384
                  THEN 2
                WHEN p[CAST(i AS INT)] - p[CAST(i AS INT) - 1] >= 128
                  THEN 1
                ELSE 0 END)), 0) AS BIGINT) AS varint_bytes
FROM per_block
""",
)
def postings_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: block-partitioned, delta-encoded
    postings lists for every term with df >= 10 — the storage artifact
    behind the BM25 query above (and the classic at-scale MapReduce
    workload).  Each output row is one 128-doc postings block: bounds,
    md5 over the comma-joined delta gaps (content check without shipping
    arrays), and the varint-encoded byte size (1 byte per gap < 2^7,
    2 < 2^14, 3 < 2^21, 4 beyond — integer threshold compares, no log).

    Scale shape: ONE corpus scan.  The distinct (term, doc) table
    shuffles once; df comes from an unordered COUNT window over the term
    partition and block ids from a row_number window over the SAME
    partitioning — both windows share one term-keyed exchange, so there
    is no separate df aggregation and no join back (the naive
    build-df-then-join plan costs a second corpus scan and a shuffle
    join).  Every aggregation group is then <= 128 rows BY CONSTRUCTION
    — a stop-word with a billion postings becomes ~8M independent blocks
    instead of one unbounded collect_list (the same skip-block layout
    Lucene uses)."""
    toks = (
        with_tokens(spread(load_table(spark, sf_dir, "documents")))
        .select("doc_id", F.explode("tk").alias("term"))
        .distinct()
    )
    w_term = Window.partitionBy("term")
    w_ord = Window.partitionBy("term").orderBy("doc_id")
    blocked = (
        toks.withColumn("df", F.count(F.lit(1)).over(w_term))
        .withColumn(
            "block_id",
            ((F.row_number().over(w_ord) - 1) / _BLOCK).cast("long"),
        )
        .where(F.col("df") >= 10)
    )
    per_block = blocked.groupBy("term", "block_id", "df").agg(
        F.sort_array(F.collect_list("doc_id")).alias("p")
    )
    p = F.col("p")
    # Gaps via zip_with over offset slices: slice() with length 0 yields
    # an empty array, so 1-element blocks produce zero gaps — unlike
    # Spark's sequence(2, 1), which counts DOWN ([2, 1]) and would index
    # out of bounds (DuckDB's generate_series(2, 1) is empty).
    gaps = F.expr(
        "zip_with(slice(p, 2, size(p) - 1), slice(p, 1, size(p) - 1), "
        "(a, b) -> a - b)"
    )
    return per_block.select(
        "term",
        "block_id",
        "df",
        F.size(p).cast("long").alias("n_in_block"),
        F.element_at(p, 1).alias("first_doc"),
        F.element_at(p, F.size(p)).alias("last_doc"),
        F.md5(
            F.concat_ws(
                ",", F.transform(gaps, lambda g: g.cast("string"))
            )
        ).alias("gaps_md5"),
        (
            F.size(p)
            + F.coalesce(
                F.aggregate(
                    F.transform(
                        gaps,
                        lambda g: F.when(g >= 2097152, F.lit(3))
                        .when(g >= 16384, F.lit(2))
                        .when(g >= 128, F.lit(1))
                        .otherwise(F.lit(0)),
                    ),
                    F.lit(0),
                    lambda acc, x: acc + x,
                ),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("varint_bytes"),
    )


@query(
    "bpe_merge_step",
    oracle="""
WITH words AS MATERIALIZED (
  SELECT term AS w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(string_split(trim(text), ' ')) AS term FROM documents
  )
  GROUP BY term
),
pairs AS (
  SELECT substr(w, CAST(i AS INT), 2) AS pair,
         CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM words, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
  WHERE len(w) >= 2
  GROUP BY 1
),
ranked AS (
  SELECT pair, pair_count,
         ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rnk
  FROM pairs
)
SELECT pair, pair_count, CAST(rnk AS BIGINT) AS rnk,
       rnk = 1 AS selected
FROM ranked WHERE rnk <= 20
""",
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One byte-pair-encoding merge step: the top-20 adjacent character
    pairs by corpus-weighted frequency, with the argmax flagged as the
    selected merge — the inner loop of tokenizer training (Sennrich et
    al.'s BPE), run corpus-statistically.

    Scale shape: THE key BPE-at-scale trick is that pair counting runs
    over the word-frequency table (vocabulary-sized, ~100k rows no
    matter the corpus), not the token stream — one corpus-wide hash agg
    builds the vocab, then the pair fan-out is map-side over tiny data
    and the pair agg output is alphabet^2-bounded.  The full tokenizer
    loops this step, re-segmenting the VOCAB (never the corpus) after
    each merge; top-20 runs as TakeOrderedAndProject."""
    words = (
        with_tokens(spread(load_table(spark, sf_dir, "documents")))
        .select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.length("w") >= 2)
    )
    pairs = (
        words.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substring(w, i, 2))"
                )
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
    )
    w_rank = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return (
        pairs.select(
            "pair",
            "pair_count",
            F.row_number().over(w_rank).cast("long").alias("rnk"),
        )
        .where(F.col("rnk") <= 20)
        .withColumn("selected", F.col("rnk") == 1)
    )


@query(
    "recency_weighted_engagement",
    oracle="""
WITH anchor AS (
  SELECT MAX(DATE_TRUNC('day', ts)) AS a FROM events
),
weighted AS (
  SELECT e.user_id,
         CAST(FLOOR(e.value * 100) AS BIGINT)
           * GREATEST(0, 30 - datediff('day', DATE_TRUNC('day', e.ts),
                                       anchor.a)) AS w_centi
  FROM events e CROSS JOIN anchor
  WHERE e.user_id IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(w_centi) AS BIGINT) AS score_centi
FROM weighted
GROUP BY user_id
ORDER BY score_centi DESC, user_id
LIMIT 100
""",
)
def recency_weighted_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement scoring: top-100 users by
    SUM(value * ramp(age)) where ramp is a 30-day linear decay anchored
    at the corpus's max event date — the feature-store staple behind
    "who is active lately" sampling and churn features.

    The decay weight is INTEGER (GREATEST(0, 30 - age_days)) and the
    value is floored to centi-units first, so the score aggregate is an
    exact integer SUM — no float decay (an exponential 2^-age variant
    needs either order-dependent float sums or overflow-prone integer
    scaling; the linear ramp keeps the whole pipeline in BIGINT).  The
    anchor is data-derived (MAX day), never wall-clock, so the query is
    deterministic and replayable.

    Scale shape: the anchor is a 1-row aggregate broadcast-crossed back
    (whitelisted NLJ); weighting is map-side; ONE user-keyed hash agg
    with map-side partials; top-100 is TakeOrderedAndProject.  At 100 TB
    a date-partitioned events table prunes the scan to the 30-day ramp
    window before any of this runs."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    anchor = e.agg(
        F.max(F.date_trunc("day", "ts")).alias("a")
    )
    weighted = e.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        (
            F.floor(F.col("value") * 100).cast("long")
            * F.greatest(
                F.lit(0),
                F.lit(30)
                - F.datediff(F.col("a"), F.date_trunc("day", F.col("ts"))),
            )
        ).alias("w_centi"),
    )
    return (
        weighted.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("w_centi").cast("long").alias("score_centi"),
        )
        .orderBy(F.desc("score_centi"), F.asc("user_id"))
        .limit(100)
    )


@query(
    "zipf_fit_audit",
    oracle="""
WITH vocab AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(trim(text), ' ')) AS term FROM documents)
  GROUP BY term ORDER BY cnt DESC, term LIMIT 100
),
pts AS (
  SELECT CAST(FLOOR(ln(ROW_NUMBER() OVER (ORDER BY cnt DESC, term))
                    * 1000) AS BIGINT) AS x_milli,
         CAST(FLOOR(ln(cnt) * 1000) AS BIGINT) AS y_milli
  FROM vocab
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_milli) AS BIGINT) AS sx,
         CAST(SUM(y_milli) AS BIGINT) AS sy,
         CAST(SUM(x_milli * y_milli) AS BIGINT) AS sxy,
         CAST(SUM(x_milli * x_milli) AS BIGINT) AS sxx
  FROM pts
)
SELECT n,
       CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
         AS zipf_slope_ppm
FROM s
""",
)
def zipf_fit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the top-100 vocabulary: the
    least-squares slope of log(count) against log(rank), in integer ppm
    — natural text sits near -1e6 (Zipf's law); OCR junk, template
    spam, or truncated corpora bend the slope, making this a one-number
    corpus-health gate next to token_entropy and repetition_filter.

    Integer discipline under a float law: ln(rank) and ln(count) are
    single IEEE ops on INTEGER inputs (identical on both engines),
    floored to milli-units, so every regression moment (sx, sy, sxy,
    sxx) is an exact integer sum — order-independent, overflow-safe
    (milli-log values are <= ~15,000, their products <= 2.25e8, and the
    cross-moment products stay under 2^63 by ~6 orders) — and the
    closed-form slope is one integer DIV.

    Scale shape: the vocab build is the standard explode + hash agg
    with map-side combine; top-100 is TakeOrderedAndProject; the
    regression runs over exactly 100 rows.  At 100 TB only the vocab
    agg touches the corpus."""
    vocab = (
        with_tokens(spread(load_table(spark, sf_dir, "documents")))
        .select(F.explode("tk").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(100)
    )
    pts = vocab.select(
        F.floor(
            F.log(
                F.row_number()
                .over(Window.orderBy(F.desc("cnt"), F.asc("term")))
                .cast("double")
            )
            * 1000
        )
        .cast("long")
        .alias("x_milli"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1000)
        .cast("long")
        .alias("y_milli"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x_milli").cast("long").alias("sx"),
        F.sum("y_milli").cast("long").alias("sy"),
        F.sum(F.col("x_milli") * F.col("y_milli")).cast("long").alias("sxy"),
        F.sum(F.col("x_milli") * F.col("x_milli")).cast("long").alias("sxx"),
    )
    return s.select(
        "n",
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000 DIV (n * sxx - sx * sx) "
            "AS BIGINT)"
        ).alias("zipf_slope_ppm"),
    )


_BPE_ROUNDS = 4


def _bpe_train_oracle(n_rounds: int) -> str:
    """Unrolled SQL replay of n_rounds full BPE merges (select argmax
    pair -> greedy re-segment the vocab -> repeat), the kcore_peel
    fixed-round-oracle pattern.  Greedy left-to-right occurrence merging
    is exact: overlapping matches only arise for runs of one repeated
    symbol, where greedy keeps every other match — expressed as islands
    of consecutive match positions keeping even offsets."""
    ctes = [
        """words AS MATERIALIZED (
  SELECT w, freq FROM (
    SELECT term AS w, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
      SELECT unnest(string_split(trim(text), ' ')) AS term FROM documents
    )
    GROUP BY term
  ) WHERE len(w) >= 2
),
s0 AS MATERIALIZED (
  SELECT w, freq, CAST(i AS BIGINT) AS pos, substr(w, CAST(i AS INT), 1) AS sym
  FROM words, UNNEST(generate_series(1, len(w))) AS g(i)
)"""
    ]
    for r in range(1, n_rounds + 1):
        p = r - 1
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT w, freq, pos, sym,
         LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
  FROM s{p}
),
top{r} AS MATERIALIZED (
  SELECT sym AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM p{r} WHERE nxt IS NOT NULL
  GROUP BY 1, 2
  ORDER BY cnt DESC, a, b LIMIT 1
),
cand{r} AS MATERIALIZED (
  SELECT p.w, p.pos,
         ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.pos) AS rn
  FROM p{r} p, top{r} t
  WHERE p.sym = t.a AND p.nxt = t.b
),
valid{r} AS MATERIALIZED (
  SELECT w, pos FROM (
    SELECT w, pos,
           ROW_NUMBER() OVER (PARTITION BY w, pos - rn ORDER BY pos) - 1
             AS off
    FROM cand{r}
  ) WHERE off % 2 = 0
),
s{r} AS MATERIALIZED (
  SELECT p.w, p.freq,
         ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.pos) AS pos,
         CASE WHEN v.pos IS NOT NULL THEN t.a || t.b ELSE p.sym END AS sym
  FROM p{r} p
  CROSS JOIN top{r} t
  LEFT JOIN valid{r} v ON v.w = p.w AND v.pos = p.pos
  WHERE NOT EXISTS (
    SELECT 1 FROM valid{r} v2 WHERE v2.w = p.w AND v2.pos = p.pos - 1
  )
),
m{r} AS MATERIALIZED (
  SELECT CAST({r} AS BIGINT) AS round, t.a || t.b AS merged,
         t.cnt AS pair_count,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM s{r}) AS vocab_symbols
  FROM top{r} t
)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT * FROM m{r}" for r in range(1, n_rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


@query("bpe_train", oracle=_bpe_train_oracle(_BPE_ROUNDS))
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer training, {n} merge rounds (Sennrich et al.):
    each round counts adjacent symbol pairs corpus-weighted over the
    VOCAB segmentation, selects the argmax pair (ties by pair text), and
    greedily re-segments every vocab word before the next round —
    completing the loop that bpe_merge_step exposes as a single step,
    under the same fixed-round oracle discipline as kcore_peel.  Output:
    per round, the merged symbol, its corpus-weighted count, and the
    vocab segmentation size after the merge.

    Greedy left-to-right occurrence merging is exact, not approximated:
    two candidate matches only overlap when the pair is a repeated
    symbol (a==b), i.e. inside runs of one symbol — there greedy keeps
    every other match, expressed as islands of consecutive candidate
    positions filtered to even offsets (window functions on both
    engines; no per-row Python, no sequential scan).

    Scale shape: THE BPE-at-scale property — every round runs over the
    vocabulary segmentation (~|vocab| x avg word length rows, corpus-
    size-independent after the one corpus-wide word count), so 10 or
    10,000 merges never rescan the corpus.  Per round: one pair hash
    agg, a 1-row argmax broadcast-crossed back (whitelisted NLJ), two
    window passes keyed by word, and a ``caches.iterate`` checkpoint to
    cut lineage.  Candidate islands need no shuffle beyond the word
    keying already in place."""
    words = (
        with_tokens(spread(load_table(spark, sf_dir, "documents")))
        .select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .where(F.length("w") >= 2)
    )
    return bpe_train_rounds(words, _BPE_ROUNDS)


def bpe_train_rounds(
    words: DataFrame, n_rounds: int, merges_out: list | None = None
) -> DataFrame:
    """The BPE training loop over a (w, freq) vocabulary table — exposed
    separately so tests can drive adversarial vocabularies (repeated-
    symbol runs, overlapping candidates) through the exact production
    path.  See bpe_train for semantics and scale shape.

    ``merges_out`` (a list) collects the learned (a, b) pair per round —
    one 1-row ``first()`` per round on the round's checkpoint, which
    carries its merged pair — so :func:`bpe_apply_merges` can replay the
    merge table in priority order (the inference half).

    r14 (guide §2.4): the segmentation lives as ONE array column per
    word instead of an exploded (w, pos, sym) table.  Pair counting
    explodes adjacent pairs map-side into the same hash aggregation as
    before, and the greedy even-offset-island merge collapses to a
    map-side left-to-right array fold (:func:`_greedy_merge_fold` —
    provably the same semantics, see its docstring), removing every
    per-round word-keyed window and (w, pos) join: per round the plan
    is exactly ONE pair-count exchange plus ONE vocab-size aggregate,
    where the exploded form paid a lead() window, two
    row_number() windows, a left-anti and a left join, and a renumber
    window — all shuffling the |vocab| x word-length symbol table.
    All arithmetic is integer/string — no float enters, so the
    trajectory is bit-identical by construction; the adversarial
    greedy-reference tests (test_retrieval.py) and the unchanged
    unrolled DuckDB oracle pin it."""
    s = (
        words.select("w", "freq", F.split("w", "").alias("syms"))
        .localCheckpoint(eager=True)
    )
    seen = []  # each round's input: the previous round's checkpoint

    def merge(prev: DataFrame) -> DataFrame:
        seen.append(prev)
        s = prev.select("w", "freq", "syms")
        pairs = (
            s.select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1),"
                        " (x, i) -> struct(x AS a, syms[i + 1] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1)
        # NOTE (r14, measured): dropping the per-round checkpoint and
        # letting later rounds re-run the fold chain map-side was tried
        # and REVERTED — warm A/B bpe_train 3.7 -> 6.6 s, bpe_apply
        # 3.7 -> 5.9 s.  The fold's O(len^2) array allocation is cheap
        # once but not r times per round; materializing each round wins
        # (the inverse of the DSIR persist result — guide §5 cuts both
        # ways, measure each case).  Each round's frame also carries its
        # merged pair (a, b, cnt), so the metrics read the checkpoint.
        return s.crossJoin(F.broadcast(top)).select(
            "w",
            "freq",
            _greedy_merge_fold(F.col("syms"), F.col("a"), F.col("b")).alias("syms"),
            "a",
            "b",
            "cnt",
        )

    last = iterate(s, merge, n_rounds)
    rounds = seen[1:] + [last]
    if merges_out is not None:
        merges_out.extend(tuple(f.select("a", "b").first()) for f in rounds)
    return functools.reduce(
        DataFrame.unionByName,
        [
            f.groupBy("a", "b", "cnt")
            .agg(F.sum(F.size("syms")).cast("long").alias("vocab_symbols"))
            .select(
                F.lit(r).cast("long").alias("round"),
                F.concat("a", "b").alias("merged"),
                F.col("cnt").alias("pair_count"),
                "vocab_symbols",
            )
            for r, f in enumerate(rounds, 1)
        ],
    )


def _greedy_merge_fold(syms, a, b):
    """One BPE merge rule applied as a map-side left-to-right array fold
    — exactly the even-offset-island greedy semantics of the exploded
    form it replaces (r14):

    * island semantics: candidates are positions where (sym, nxt) =
      (a, b) in the ROUND-START segmentation; within a run of
      overlapping candidates the even offsets merge.
    * fold semantics: append each round-start token x unless the
      accumulator's last token equals ``a`` and x equals ``b``, in
      which case replace it with ``a || b``.

    These coincide because a token CREATED by this fold (always the
    string a || b, strictly longer than ``a``) can never itself match
    as the ``a`` of a later step — so ``element_at(acc, -1) = a`` holds
    exactly for unconsumed round-start tokens, which is the island
    rule's "candidate whose left side is not already consumed".  Runs
    of a repeated symbol (a = b) alternate merge/append — the even
    offsets.  Pinned against the plain-Python Sennrich reference by
    tests/test_retrieval.py on adversarial vocabularies (runs,
    overlaps, merged-symbol chains)."""
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: (
            F.when(F.size(acc) == 0, F.array(x))
            .when(
                (F.element_at(acc, -1) == a) & (x == b),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.concat(a, b)),
                ),
            )
            .otherwise(F.concat(acc, F.array(x)))
        ),
    )


def bpe_apply_merges(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """BPE INFERENCE: re-segment a (w, freq) vocabulary by replaying a
    learned merge table in priority order (Sennrich et al.'s apply step)
    — each rule greedily merges all its occurrences left-to-right before
    the next rule runs, the same even-offset-island machinery as
    training but with the (a, b) pair a LITERAL per round, so apply
    needs no pair counting, no argmax, and no joins at all: per rule one
    lead() window, one island filter, one re-number — all keyed by word.

    Output: one row per word — ``n_tokens`` and the space-joined
    ``tokens`` segmentation.

    Scale shape: cost is |vocab| x avg word length rows per rule, fully
    parallel on the word key and corpus-size-independent (the same
    BPE-at-scale property as training); real tokenizer deployments apply
    thousands of rules this way as a map-side loop, then join the
    segmented vocab back to the corpus by word.

    r14 (guide §2.4): the whole replay is now ZERO-shuffle — every rule
    is one :func:`_greedy_merge_fold` over the word's symbol array with
    (a, b) as literals, chained in a single map-side projection (the
    exploded form paid one lead() window + two row_number() windows +
    two (w, pos) joins + a renumber window + an eager localCheckpoint
    PER RULE, and a final collect_list groupBy).  Same greedy
    even-offset-island semantics — see _greedy_merge_fold."""
    col = F.split("w", "")
    for a, b in merges:
        col = _greedy_merge_fold(col, F.lit(a), F.lit(b))
    return words.select(
        "w",
        "freq",
        F.size(col).cast("long").alias("n_tokens"),
        F.array_join(col, " ").alias("tokens"),
    )


def _bpe_apply_oracle(n_rounds: int) -> str:
    """Unrolled SQL: the TRAINING chain (same CTE text as
    _bpe_train_oracle, which derives top{r} per round over the len>=2
    vocab) plus an APPLY chain that replays each top{r} pair over the
    FULL vocabulary with the same even-offset-island greedy merge, then
    emits per-word (n_tokens, tokens)."""
    ctes = [
        """words AS MATERIALIZED (
  SELECT w, freq FROM (
    SELECT term AS w, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
      SELECT unnest(string_split(trim(text), ' ')) AS term FROM documents
    )
    GROUP BY term
  ) WHERE len(w) >= 2
),
wall AS MATERIALIZED (
  SELECT w, freq FROM (
    SELECT term AS w, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
      SELECT unnest(string_split(trim(text), ' ')) AS term FROM documents
    )
    GROUP BY term
  ) WHERE len(w) >= 1
),
s0 AS MATERIALIZED (
  SELECT w, freq, CAST(i AS BIGINT) AS pos, substr(w, CAST(i AS INT), 1) AS sym
  FROM words, UNNEST(generate_series(1, len(w))) AS g(i)
),
a0 AS MATERIALIZED (
  SELECT w, freq, CAST(i AS BIGINT) AS pos, substr(w, CAST(i AS INT), 1) AS sym
  FROM wall, UNNEST(generate_series(1, len(w))) AS g(i)
)"""
    ]
    for r in range(1, n_rounds + 1):
        p = r - 1
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT w, freq, pos, sym,
         LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
  FROM s{p}
),
top{r} AS MATERIALIZED (
  SELECT sym AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM p{r} WHERE nxt IS NOT NULL
  GROUP BY 1, 2
  ORDER BY cnt DESC, a, b LIMIT 1
),
cand{r} AS MATERIALIZED (
  SELECT p.w, p.pos,
         ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.pos) AS rn
  FROM p{r} p, top{r} t
  WHERE p.sym = t.a AND p.nxt = t.b
),
valid{r} AS MATERIALIZED (
  SELECT w, pos FROM (
    SELECT w, pos,
           ROW_NUMBER() OVER (PARTITION BY w, pos - rn ORDER BY pos) - 1
             AS off
    FROM cand{r}
  ) WHERE off % 2 = 0
),
s{r} AS MATERIALIZED (
  SELECT p.w, p.freq,
         ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.pos) AS pos,
         CASE WHEN v.pos IS NOT NULL THEN t.a || t.b ELSE p.sym END AS sym
  FROM p{r} p
  CROSS JOIN top{r} t
  LEFT JOIN valid{r} v ON v.w = p.w AND v.pos = p.pos
  WHERE NOT EXISTS (
    SELECT 1 FROM valid{r} v2 WHERE v2.w = p.w AND v2.pos = p.pos - 1
  )
),
ap{r} AS MATERIALIZED (
  SELECT w, freq, pos, sym,
         LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
  FROM a{p}
),
acand{r} AS MATERIALIZED (
  SELECT p.w, p.pos,
         ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.pos) AS rn
  FROM ap{r} p, top{r} t
  WHERE p.sym = t.a AND p.nxt = t.b
),
avalid{r} AS MATERIALIZED (
  SELECT w, pos FROM (
    SELECT w, pos,
           ROW_NUMBER() OVER (PARTITION BY w, pos - rn ORDER BY pos) - 1
             AS off
    FROM acand{r}
  ) WHERE off % 2 = 0
),
a{r} AS MATERIALIZED (
  SELECT p.w, p.freq,
         ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.pos) AS pos,
         CASE WHEN v.pos IS NOT NULL THEN t.a || t.b ELSE p.sym END AS sym
  FROM ap{r} p
  CROSS JOIN top{r} t
  LEFT JOIN avalid{r} v ON v.w = p.w AND v.pos = p.pos
  WHERE NOT EXISTS (
    SELECT 1 FROM avalid{r} v2 WHERE v2.w = p.w AND v2.pos = p.pos - 1
  )
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT w, freq, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       STRING_AGG(sym, ' ' ORDER BY pos) AS tokens
FROM a{n_rounds}
GROUP BY w, freq
"""
    )


@query("bpe_apply", oracle=_bpe_apply_oracle(_BPE_ROUNDS))
def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer INFERENCE — the other half of bpe_train: train the
    merge table ({n} rounds, same argmax-per-round loop), then replay it
    in priority order over the FULL corpus vocabulary (length-1 words
    included — they segment to themselves; training only sees len>=2)
    with :func:`bpe_apply_merges`, emitting each word's token count and
    segmentation.  Applying the rules in learned priority order
    reproduces the training segmentation on training words — a
    train/apply divergence (wrong rule order, non-greedy occurrence
    handling, a lost island) shifts segmentations and fails the hash;
    agreement with the plain-Python Sennrich reference apply is asserted
    in tests/test_retrieval_ops.py.

    Scale shape: training as bpe_train; the merge table crosses the
    driver as {n} literal pairs (metadata-sized first() per round, the
    probe-set-literal discipline); apply is join-free — per rule one
    lead window + island filter + renumber, all keyed by word over the
    corpus-size-independent vocab segmentation."""
    docs = with_tokens(spread(load_table(spark, sf_dir, "documents")))
    vocab = (
        docs.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .where(F.length("w") >= 1)
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str]] = []
    bpe_train_rounds(vocab.where(F.length("w") >= 2), _BPE_ROUNDS, merges_out=merges)
    return bpe_apply_merges(vocab, merges)


_MU = 2000  # Dirichlet prior mass (Zhai & Lafferty's recommended range)


@query(
    "dirichlet_lm_topk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
  FROM documents
),
dlen AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
),
stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS clen FROM dlen),
ctf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS ctf
  FROM toks
  WHERE term IN ('{_PROBE_TERMS[0]}', '{_PROBE_TERMS[1]}', '{_PROBE_TERMS[2]}')
  GROUP BY term
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks
  WHERE term IN ('{_PROBE_TERMS[0]}', '{_PROBE_TERMS[1]}', '{_PROBE_TERMS[2]}')
  GROUP BY doc_id, term
),
scored AS (
  SELECT d.doc_id,
         CASE WHEN t.tf IS NOT NULL THEN 1 ELSE 0 END AS hit,
         CAST(FLOOR(LN((COALESCE(t.tf, 0) * s.clen + {_MU}.0 * c.ctf)
                       / ((d.dl + {_MU}.0) * s.clen)) * 1000000.0)
              AS BIGINT) AS term_micro
  FROM dlen d
  CROSS JOIN ctf c
  CROSS JOIN stats s
  LEFT JOIN tf t ON t.doc_id = d.doc_id AND t.term = c.term
)
SELECT doc_id,
       CAST(SUM(hit) AS BIGINT) AS n_terms_hit,
       CAST(SUM(term_micro) AS BIGINT) AS lm_micro
FROM scored
GROUP BY doc_id
ORDER BY lm_micro DESC, doc_id
LIMIT 50
""",
)
def dirichlet_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai &
    Lafferty SIGIR'01, mu=2000) — the probabilistic counterpart to
    bm25_topk: score(q,d) = sum over query terms of
    ln((tf + mu*P(t|C)) / (dl + mu)).  Unlike BM25, EVERY document
    scores on EVERY query term (the collection-model prior covers
    absent terms), so smoothing quality — not term overlap — drives the
    ranking; the two scorers disagreeing on a document is the classic
    relevance-tuning signal.

    Per-term scores are floored to integer micro-units before the
    per-doc sum (order-independent integer aggregate); the float part
    is one fixed tree of IEEE ops over integer inputs — the exact
    discipline bm25_topk proved driver-green.

    Scale shape: same two token-stream hash aggs as BM25 (dlen
    materialized ONCE via eager localCheckpoint — consumed by the grid
    and the 1-row corpus stat; unlike persist(), the checkpoint block
    self-drains through the ContextCleaner when the plan is released,
    so a shared session doesn't accumulate cached blocks per call);
    the doc x query-term grid is a broadcast nested-loop of the
    PROBE-SIZED ctf table against dlen — |D| x |q| rows, the inherent
    LM-scoring cost — with tf LEFT-joined in; top-50 is
    TakeOrderedAndProject."""
    toks = (
        with_tokens(spread(load_table(spark, sf_dir, "documents")))
        .select("doc_id", F.explode("tk").alias("term"))
    )
    dlen = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("dl"))
        .localCheckpoint(eager=True)
    )
    stats = dlen.agg(F.sum("dl").cast("long").alias("clen"))
    probe = toks.where(F.col("term").isin(*_PROBE_TERMS))
    ctf = probe.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("ctf"))
    tf = probe.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    scored = (
        dlen.crossJoin(F.broadcast(ctf))
        .crossJoin(F.broadcast(stats))
        .join(tf, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            F.when(F.col("tf").isNotNull(), 1).otherwise(0).alias("hit"),
            F.floor(
                F.log(
                    (F.coalesce(F.col("tf"), F.lit(0)) * F.col("clen")
                     + float(_MU) * F.col("ctf"))
                    / ((F.col("dl") + float(_MU)) * F.col("clen"))
                )
                * 1000000.0
            )
            .cast("long")
            .alias("term_micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("hit").cast("long").alias("n_terms_hit"),
            F.sum("term_micro").cast("long").alias("lm_micro"),
        )
        .orderBy(F.desc("lm_micro"), F.asc("doc_id"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-family) tokenizer training
# ---------------------------------------------------------------------------

_UNI_ROUNDS = 3
_UNI_MAX_PIECE = 4  # longest candidate piece (chars)
_UNI_MAX_WLEN = 8  # longest trainable word (bounds the DP lattice depth)
_UNI_SEED_MULTI = 40  # multi-char seed pieces kept (top by corpus count)
_UNI_TARGET = 24  # multi-char pieces kept after the final prune




def _uni_dp_expr(max_piece: int) -> str:
    """The Viterbi lattice DP as one Catalyst fold: frontier of
    (total cost, chosen piece length) structs per position, candidates
    sorted by (tot, k) so the argmin tie-break is deterministic; a
    piece missing from the broadcast cost map ``pm`` yields a NULL tot
    and is filtered out."""
    return (
        "aggregate(sequence(1, length(w)), "
        "array(struct(CAST(0 AS BIGINT) AS tot, CAST(0 AS INT) AS k)), "
        "(acc, p) -> concat(acc, array(element_at(array_sort(filter("
        f"transform(sequence(1, least({max_piece}, p)), "
        "k -> struct(element_at(acc, p - k + 1).tot + "
        "element_at(pm, substring(w, p - k + 1, k)) AS tot, "
        "CAST(k AS INT) AS k)), c -> c.tot IS NOT NULL)), 1))))"
    )


def _uni_bt_expr(max_wlen: int) -> str:
    """Backtrack fold over the ``dp`` frontier: walks from the word's
    end following the chosen piece lengths, collecting pieces
    LAST-TO-FIRST (reverse before joining for reading order)."""
    return (
        f"aggregate(sequence(1, {max_wlen}), "
        "struct(CAST(length(w) AS INT) AS pos, "
        "CAST(array() AS ARRAY<STRING>) AS ps), "
        "(st, i) -> IF(st.pos > 0, "
        "struct(CAST(st.pos - element_at(dp, st.pos + 1).k AS INT) AS pos, "
        "concat(st.ps, array(substring(w, "
        "st.pos - element_at(dp, st.pos + 1).k + 1, "
        "element_at(dp, st.pos + 1).k))) AS ps), st), "
        "st -> st.ps)"
    )


def unigram_train_rounds(
    words: DataFrame,
    n_rounds: int = _UNI_ROUNDS,
    max_piece: int = _UNI_MAX_PIECE,
    max_wlen: int = _UNI_MAX_WLEN,
    seed_multi: int = _UNI_SEED_MULTI,
    target: int = _UNI_TARGET,
    w8: DataFrame | None = None,
) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo '18, the SentencePiece model
    family) as fixed-round Viterbi-EM over a (w, freq) vocabulary:

    * **seed**: every substring of length 1..max_piece of every vocab
      word, corpus-weighted; the top ``seed_multi`` multi-char pieces
      (count desc, piece asc) plus ALL single characters (so every word
      stays segmentable) form the piece inventory, which is then FIXED
      for all rounds — EM re-estimates probabilities, the final prune
      shrinks the inventory.
    * **E-step (hard/Viterbi)**: each word's best segmentation under the
      current piece costs, costs in integer MILLI-log-units
      (cost = -floor(ln(cnt/total)*1000), the dirichlet_lm/bm25
      portability discipline) with deterministic (cost, k) tie-breaks.
      The whole lattice DP runs INSIDE one Catalyst expression per word:
      the piece->cost table is collected into a 1-row map column
      (metadata-sized, broadcast-crossed: the whitelisted 1-row NLJ
      pattern) and ``aggregate(sequence(1, length(w)), ...)`` folds the
      Viterbi frontier left to right, then a second fold backtracks the
      chosen pieces — zero Python in the data path, zero shuffles, one
      map-only pass.
    * **M-step**: piece count = corpus-weighted uses in the best
      segmentations + 1 (Laplace, keeps unused pieces alive), re-cost.
    * **prune**: after the last round keep the ``target`` best
      multi-char pieces (count desc, piece asc) plus all single chars.

    Returns (piece, use_cnt, cost_milli): raw final-round uses and the
    final M-step cost.

    Scale shape — the unigram-at-scale property mirrors bpe_train's:
    after the one corpus-wide word count, every round is vocab-sized.
    Per round: one broadcast of the piece-cost map (|pieces| entries),
    one map-only DP pass over vocab rows inside whole-stage codegen,
    one explode + hash agg for piece uses (map-side partials; bounded
    by |pieces|), one vocab-sized left join.  No lattice shuffles: the
    per-word DP never leaves its row.  ``caches.iterate`` checkpoints
    each round."""
    # One corpus-derived materialization: every later pass (seed count +
    # one DP pass per round) is vocab-sized and reads this checkpoint,
    # never the corpus again (the bpe_train discipline).
    # r14 (guide §5): callers that ALSO segment the trainable vocabulary
    # (unigram_lm_apply, wordpiece_apply, tokenizer_fertility_audit) pass
    # their already-materialized filtered table as ``w8`` — previously
    # each built its own copy from the unpersisted word count, so the
    # corpus scan + word-count exchange executed twice per query.  The
    # filter is idempotent and re-applied to a passed ``w8`` (it fuses
    # into the downstream scans, no extra job), so a caller's table that
    # was filtered differently, or not at all, cannot change the model.
    keep = F.length("w").between(2, max_wlen)
    w8 = words.where(keep).localCheckpoint(eager=True) if w8 is None else w8.where(keep)
    occ = (
        w8
        .select(
            "w",
            "freq",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, length(w)), i -> "
                    f"transform(sequence(1, least({max_piece}, length(w) - i + 1)), "
                    f"k -> substring(w, i, k))))"
                )
            ).alias("piece"),
        )
    )
    seed = occ.groupBy("piece").agg(F.sum("freq").cast("long").alias("cnt"))
    chars = seed.where(F.length("piece") == 1)
    multi = (
        seed.where(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(seed_multi)
    )
    vocab = chars.unionByName(multi).localCheckpoint(eager=True)

    dp_expr = _uni_dp_expr(max_piece)
    bt_expr = _uni_bt_expr(max_wlen)

    def recost(v: DataFrame) -> DataFrame:
        total = v.agg(F.sum("cnt").cast("long").alias("total"))
        return v.crossJoin(F.broadcast(total)).select(
            "piece",
            (-F.floor(
                F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
                * 1000.0
            ))
            .cast("long")
            .alias("cost_milli"),
        )

    def em_round(vocab: DataFrame) -> DataFrame:
        cost = recost(vocab)
        pm = cost.agg(
            F.map_from_entries(
                F.collect_list(F.struct("piece", "cost_milli"))
            ).alias("pm")
        )
        seg = (
            w8.crossJoin(F.broadcast(pm))
            .withColumn("dp", F.expr(dp_expr))
            .withColumn("ps", F.expr(bt_expr))
        )
        uses = (
            seg.select("freq", F.explode("ps").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("use_cnt"))
        )
        return (
            vocab.select("piece")
            .join(uses, "piece", "left")
            .select(
                "piece",
                (F.coalesce(F.col("use_cnt"), F.lit(0)) + 1)
                .cast("long")
                .alias("cnt"),
            )
        )

    vocab = iterate(vocab, em_round, n_rounds)
    final_cost = recost(vocab)
    multi_kept = (
        vocab.where(F.length("piece") > 1)
        .withColumn(
            "rnk",
            F.row_number().over(
                # Unpartitioned window over the multi-char piece
                # inventory only — bounded (seed_multi rows), the
                # documented bounded-input exemption class.
                Window.orderBy(F.desc("cnt"), F.asc("piece"))
            ),
        )
        .where(F.col("rnk") <= target)
        .drop("rnk")
    )
    kept = vocab.where(F.length("piece") == 1).unionByName(multi_kept)
    return (
        kept.join(final_cost, "piece")
        .select(
            "piece",
            (F.col("cnt") - 1).cast("long").alias("use_cnt"),
            "cost_milli",
        )
    )


def _unigram_train_ctes(
    n_rounds: int = _UNI_ROUNDS,
    max_piece: int = _UNI_MAX_PIECE,
    max_wlen: int = _UNI_MAX_WLEN,
    seed_multi: int = _UNI_SEED_MULTI,
    target: int = _UNI_TARGET,
) -> list:
    """Unrolled SQL replay of the Viterbi-EM rounds — the kcore/bpe
    fixed-round-oracle pattern, but over the segmentation LATTICE: per
    round, the DP unrolls into one CTE per lattice position (b{r}p{p}
    selects each word's best arrival at position p via ROW_NUMBER over
    (total cost, piece length) — the same tie-break as the Spark fold),
    then a backtrack chain (t{r}s{i}) walks the chosen pieces and feeds
    the M-step counts.  All CTEs MATERIALIZED (the r8 DuckDB
    CTE-inlining OOM lesson)."""
    ctes = [
        f"""words AS MATERIALIZED (
  SELECT w, freq FROM (
    SELECT term AS w, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
      SELECT unnest(string_split(trim(text), ' ')) AS term FROM documents
    )
    GROUP BY term
  ) WHERE len(w) BETWEEN 2 AND {max_wlen}
),
lat AS MATERIALIZED (
  SELECT w, freq, CAST(i + k - 1 AS BIGINT) AS p, CAST(k AS BIGINT) AS k,
         substr(w, CAST(i AS INT), CAST(k AS INT)) AS piece
  FROM words,
       UNNEST(generate_series(1, len(w))) AS gi(i),
       UNNEST(generate_series(1, {max_piece})) AS gk(k)
  WHERE i + k - 1 <= len(w)
),
seed AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM lat GROUP BY piece
),
v0 AS MATERIALIZED (
  SELECT piece, cnt FROM seed WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
    FROM seed WHERE len(piece) > 1
  ) WHERE rn <= {seed_multi}
)"""
    ]
    for r in range(1, n_rounds + 1):
        pr = r - 1
        ctes.append(
            f"""c{pr} AS MATERIALIZED (
  SELECT piece,
         CAST(-FLOOR(LN(CAST(cnt AS DOUBLE) /
              (SELECT CAST(SUM(cnt) AS DOUBLE) FROM v{pr})) * 1000)
              AS BIGINT) AS cost
  FROM v{pr}
),
e{r} AS MATERIALIZED (
  SELECT l.w, l.p, l.k, c.cost FROM lat l JOIN c{pr} c ON c.piece = l.piece
),
b{r}p0 AS MATERIALIZED (
  SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS tot,
         CAST(0 AS BIGINT) AS k
  FROM words
)"""
        )
        for p in range(1, max_wlen + 1):
            prior = " UNION ALL ".join(
                f"SELECT * FROM b{r}p{p - k}"
                for k in range(1, min(max_piece, p) + 1)
            )
            ctes.append(
                f"""b{r}p{p} AS MATERIALIZED (
  SELECT w, CAST({p} AS BIGINT) AS pos, tot, k FROM (
    SELECT e.w, b.tot + e.cost AS tot, e.k,
           ROW_NUMBER() OVER (PARTITION BY e.w
                              ORDER BY b.tot + e.cost, e.k) AS rn
    FROM e{r} e JOIN ({prior}) b
      ON b.w = e.w AND b.pos = {p} - e.k
    WHERE e.p = {p}
  ) WHERE rn = 1
)"""
            )
        ball = " UNION ALL ".join(
            f"SELECT * FROM b{r}p{p}" for p in range(max_wlen + 1)
        )
        ctes.append(f"b{r} AS MATERIALIZED ({ball})")
        ctes.append(
            f"""t{r}s0 AS MATERIALIZED (
  SELECT b.w, wo.freq, b.pos, b.k
  FROM b{r} b JOIN words wo ON wo.w = b.w AND b.pos = len(wo.w)
  WHERE b.pos > 0
)"""
        )
        for i in range(1, max_wlen):
            ctes.append(
                f"""t{r}s{i} AS MATERIALIZED (
  SELECT t.w, t.freq, b.pos, b.k
  FROM t{r}s{i - 1} t JOIN b{r} b ON b.w = t.w AND b.pos = t.pos - t.k
  WHERE t.pos - t.k > 0
)"""
            )
        tall = " UNION ALL ".join(
            f"SELECT * FROM t{r}s{i}" for i in range(max_wlen)
        )
        ctes.append(
            f"""use{r} AS MATERIALIZED (
  SELECT substr(w, CAST(pos - k + 1 AS INT), CAST(k AS INT)) AS piece,
         CAST(SUM(freq) AS BIGINT) AS cnt
  FROM ({tall})
  GROUP BY piece
),
v{r} AS MATERIALIZED (
  SELECT v.piece, CAST(COALESCE(u.cnt, 0) + 1 AS BIGINT) AS cnt
  FROM v{pr} v LEFT JOIN use{r} u ON u.piece = v.piece
)"""
        )
    n = n_rounds
    ctes.append(
        f"""cfin AS MATERIALIZED (
  SELECT piece,
         CAST(-FLOOR(LN(CAST(cnt AS DOUBLE) /
              (SELECT CAST(SUM(cnt) AS DOUBLE) FROM v{n})) * 1000)
              AS BIGINT) AS cost
  FROM v{n}
),
kept AS MATERIALIZED (
  SELECT piece, cnt FROM v{n} WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
    FROM v{n} WHERE len(piece) > 1
  ) WHERE rn <= {target}
)"""
    )
    return ctes


def _unigram_train_oracle() -> str:
    return (
        "WITH "
        + ",\n".join(_unigram_train_ctes())
        + """
SELECT k.piece, CAST(k.cnt - 1 AS BIGINT) AS use_cnt, c.cost AS cost_milli
FROM kept k JOIN cfin c ON c.piece = k.piece
"""
    )


def _unigram_apply_oracle(
    max_piece: int = _UNI_MAX_PIECE, max_wlen: int = _UNI_MAX_WLEN
) -> str:
    """Train chain (same CTE text as _unigram_train_oracle) + an APPLY
    chain: the pruned final model re-runs the lattice DP over the FULL
    trainable vocabulary and each word's ordered best segmentation is
    assembled with string_agg(ORDER BY pos)."""
    ctes = list(_unigram_train_ctes())
    ctes.append(
        """capp AS MATERIALIZED (
  SELECT k.piece, c.cost FROM kept k JOIN cfin c ON c.piece = k.piece
),
ea AS MATERIALIZED (
  SELECT l.w, l.p, l.k, c.cost FROM lat l JOIN capp c ON c.piece = l.piece
),
bap0 AS MATERIALIZED (
  SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS tot,
         CAST(0 AS BIGINT) AS k
  FROM words
)"""
    )
    for p in range(1, max_wlen + 1):
        prior = " UNION ALL ".join(
            f"SELECT * FROM bap{p - k}" for k in range(1, min(max_piece, p) + 1)
        )
        ctes.append(
            f"""bap{p} AS MATERIALIZED (
  SELECT w, CAST({p} AS BIGINT) AS pos, tot, k FROM (
    SELECT e.w, b.tot + e.cost AS tot, e.k,
           ROW_NUMBER() OVER (PARTITION BY e.w
                              ORDER BY b.tot + e.cost, e.k) AS rn
    FROM ea e JOIN ({prior}) b
      ON b.w = e.w AND b.pos = {p} - e.k
    WHERE e.p = {p}
  ) WHERE rn = 1
)"""
        )
    ball = " UNION ALL ".join(f"SELECT * FROM bap{p}" for p in range(max_wlen + 1))
    ctes.append(f"ba AS MATERIALIZED ({ball})")
    ctes.append(
        """tas0 AS MATERIALIZED (
  SELECT b.w, wo.freq, b.pos, b.k
  FROM ba b JOIN words wo ON wo.w = b.w AND b.pos = len(wo.w)
  WHERE b.pos > 0
)"""
    )
    for i in range(1, max_wlen):
        ctes.append(
            f"""tas{i} AS MATERIALIZED (
  SELECT t.w, t.freq, b.pos, b.k
  FROM tas{i - 1} t JOIN ba b ON b.w = t.w AND b.pos = t.pos - t.k
  WHERE t.pos - t.k > 0
)"""
        )
    tall = " UNION ALL ".join(f"SELECT * FROM tas{i}" for i in range(max_wlen))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT w, CAST(freq AS BIGINT) AS freq,
       CAST(COUNT(*) AS BIGINT) AS n_pieces,
       string_agg(substr(w, CAST(pos - k + 1 AS INT), CAST(k AS INT)),
                  ' ' ORDER BY pos) AS pieces
FROM ({tall})
GROUP BY w, freq
"""
    )


@query("unigram_lm_train", oracle=_unigram_train_oracle())
def unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-family) tokenizer training over the
    documents corpus — the OTHER production tokenizer family next to
    bpe_train: fixed-round Viterbi-EM re-estimates piece probabilities
    over the word-vocabulary segmentation lattice, then prunes to the
    target inventory.  Full semantics, tie-breaks, and the scale shape
    (map-only lattice DP inside one Catalyst expression, broadcast
    piece-cost map, one vocab-sized hash agg per round) are documented
    on :func:`unigram_train_rounds`; exact agreement with a plain-Python
    EM reference is pinned by tests/test_unigram_lm.py."""
    words = (
        with_tokens(spread(load_table(spark, sf_dir, "documents")))
        .select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    return unigram_train_rounds(words)


@query("unigram_lm_apply", oracle=_unigram_apply_oracle())
def unigram_lm_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM INFERENCE — the other half of unigram_lm_train,
    completing the tokenizer family symmetry (bpe_train / bpe_apply,
    unigram train / apply): the pruned trained model re-segments the
    full trainable vocabulary by the same Viterbi lattice DP, emitting
    each word's piece count and ordered best segmentation.  Every word
    stays segmentable because the prune keeps all single characters.

    Scale shape: training as in unigram_lm_train; the apply pass is one
    broadcast of the pruned piece-cost map plus a single map-only fold
    per word (the DP and backtrack run inside the row — zero shuffles,
    zero Python), then join the segmented vocab back to the corpus by
    word, exactly the bpe_apply deployment note."""
    words = (
        with_tokens(spread(load_table(spark, sf_dir, "documents")))
        .select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    # ONE corpus pass: the filtered vocabulary is materialized once and
    # feeds both training and the apply fold (r14, guide §5 — the
    # unpersisted form re-ran the corpus scan + word-count exchange for
    # each consumer).
    w8 = words.where(F.length("w").between(2, _UNI_MAX_WLEN)).localCheckpoint(
        eager=True
    )
    model = unigram_train_rounds(words, w8=w8)
    pm = model.agg(
        F.map_from_entries(F.collect_list(F.struct("piece", "cost_milli"))).alias(
            "pm"
        )
    )
    seg = (
        w8.crossJoin(F.broadcast(pm))
        .withColumn("dp", F.expr(_uni_dp_expr(_UNI_MAX_PIECE)))
        .withColumn("ps", F.expr(_uni_bt_expr(_UNI_MAX_WLEN)))
    )
    return seg.select(
        "w",
        "freq",
        F.size("ps").cast("long").alias("n_pieces"),
        # the backtrack collects pieces last-to-first; reverse for
        # reading order (matches the oracle's ORDER BY pos)
        F.array_join(F.reverse("ps"), " ").alias("pieces"),
    )


# ---------------------------------------------------------------------------
# WordPiece apply (greedy longest-match-first inference, BERT family)
# ---------------------------------------------------------------------------

# Continuation pieces rarer than this corpus-weighted count are excluded
# from the vocabulary's ##-form — the bounded-vocab property that makes
# [UNK] reachable in real WordPiece (BERT ships ~30k pieces, not every
# observed continuation).
_WP_MIN_CONT = 3


def _wp_greedy_expr(max_piece: int, max_wlen: int) -> str:
    """Greedy longest-match-first segmentation as one Catalyst fold —
    the WordPiece counterpart of _uni_dp_expr's Viterbi: the state
    struct carries (next position, emitted pieces, failed); each step
    scans candidate lengths LONGEST-FIRST (descending sequence) against
    the position-appropriate vocabulary map (``mi`` word-initial,
    ``mc`` continuation) and either consumes the first hit or marks the
    word [UNK] — BERT's exact inference rule.  Each step advances >= 1
    char, so max_wlen steps always terminate the fold."""
    filt = (
        f"filter(sequence(least({max_piece}, length(w) - s.pos + 1), 1, -1), "
        "l -> map_contains_key(IF(s.pos = 1, mi, mc), "
        "substring(w, s.pos, l)))"
    )
    piece = f"substring(w, s.pos, element_at({filt}, 1))"
    return (
        f"aggregate(sequence(1, {max_wlen}), "
        "named_struct('pos', CAST(1 AS INT), "
        "'ps', CAST(array() AS ARRAY<STRING>), 'fail', false), "
        "(s, i) -> IF(s.fail OR s.pos > length(w), s, "
        f"IF(size({filt}) = 0, "
        "named_struct('pos', s.pos, 'ps', s.ps, 'fail', true), "
        f"named_struct('pos', CAST(s.pos + element_at({filt}, 1) AS INT), "
        f"'ps', concat(s.ps, array(IF(s.pos = 1, {piece}, "
        f"concat('##', {piece})))), 'fail', false))))"
    )


def _wordpiece_apply_oracle(
    max_piece: int = _UNI_MAX_PIECE,
    max_wlen: int = _UNI_MAX_WLEN,
    min_cont: int = _WP_MIN_CONT,
) -> str:
    """Train chain (identical CTE text to _unigram_train_oracle, so the
    vocabulary is the same learned inventory) + a GREEDY chain: step t
    extends every live word by its longest matching piece (position-
    appropriate set), words with no match fall out as [UNK], and the
    survivors' ordered pieces are assembled with string_agg."""
    ctes = list(_unigram_train_ctes())
    ctes.append(
        f"""wpflags AS MATERIALIZED (
  SELECT piece,
         MAX(CASE WHEN p = k THEN 1 ELSE 0 END) AS init_seen,
         SUM(CASE WHEN p > k THEN freq ELSE 0 END) AS cont_cnt
  FROM lat GROUP BY piece
),
wpvocab AS MATERIALIZED (
  SELECT k.piece, 1 AS ini FROM kept k
    JOIN wpflags f ON f.piece = k.piece WHERE f.init_seen = 1
  UNION ALL
  SELECT k.piece, 0 AS ini FROM kept k
    JOIN wpflags f ON f.piece = k.piece WHERE f.cont_cnt >= {min_cont}
),
wg0 AS MATERIALIZED (
  SELECT w, freq, CAST(1 AS BIGINT) AS pos, 0 AS fail FROM words
)"""
    )
    for t in range(1, max_wlen + 1):
        ctes.append(
            f"""wm{t} AS MATERIALIZED (
  SELECT s.w, s.freq, s.pos, MAX(LENGTH(c.piece)) AS ml
  FROM wg{t - 1} s LEFT JOIN wpvocab c
    ON ((s.pos = 1) = (c.ini = 1))
   AND LENGTH(c.piece) <= len(s.w) - s.pos + 1
   AND c.piece = substr(s.w, CAST(s.pos AS INT), LENGTH(c.piece))
  WHERE s.fail = 0 AND s.pos <= len(s.w)
  GROUP BY s.w, s.freq, s.pos
),
wtok{t} AS MATERIALIZED (
  SELECT w, freq, pos AS start, ml AS k FROM wm{t} WHERE ml IS NOT NULL
),
wg{t} AS MATERIALIZED (
  SELECT w, freq, CAST(pos + COALESCE(ml, 0) AS BIGINT) AS pos,
         CASE WHEN ml IS NULL THEN 1 ELSE 0 END AS fail
  FROM wm{t}
)"""
        )
    tall = " UNION ALL ".join(
        f"SELECT * FROM wtok{t}" for t in range(1, max_wlen + 1)
    )
    fall = " UNION ALL ".join(
        f"SELECT w, freq FROM wg{t} WHERE fail = 1"
        for t in range(1, max_wlen + 1)
    )
    ctes.append(f"wtoks AS MATERIALIZED ({tall})")
    ctes.append(f"wfails AS MATERIALIZED ({fall})")
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT w, CAST(freq AS BIGINT) AS freq,
       CAST(COUNT(*) AS BIGINT) AS n_pieces,
       string_agg(CASE WHEN start > 1
                       THEN '##' || substr(w, CAST(start AS INT), CAST(k AS INT))
                       ELSE substr(w, CAST(start AS INT), CAST(k AS INT)) END,
                  ' ' ORDER BY start) AS pieces
FROM wtoks
WHERE w NOT IN (SELECT w FROM wfails)
GROUP BY w, freq
UNION ALL
SELECT w, CAST(freq AS BIGINT) AS freq, CAST(1 AS BIGINT) AS n_pieces,
       '[UNK]' AS pieces
FROM wfails
"""
    )


@query("wordpiece_apply", oracle=_wordpiece_apply_oracle())
def wordpiece_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece INFERENCE (greedy longest-match-first, the BERT
    tokenizer's rule) — the THIRD production segmentation strategy next
    to bpe_apply (merge replay) and unigram_lm_apply (Viterbi), run
    over the SAME learned inventory as unigram_lm_apply so the three
    families are directly comparable on one corpus: at each position
    take the longest vocabulary piece (word-initial form at position 1,
    '##'-continuation form after), and if none matches the whole word
    degrades to [UNK].  The continuation vocabulary is bounded the way
    a real shipped vocab is: continuations with corpus-weighted count
    below _WP_MIN_CONT are excluded, which is exactly what makes [UNK]
    reachable.

    Scale shape: training as unigram_lm_train (vocab-sized rounds); the
    position-classification pass is one vocab-sized explode + hash agg;
    inference is ONE broadcast of the two piece maps plus a map-only
    greedy fold per word inside whole-stage codegen — zero shuffles,
    zero Python, the bpe_apply/unigram_lm_apply deployment shape.  At
    100 TB the segmented vocabulary then broadcast-joins back to the
    token stream by word, so corpus cost stays one scan.

    Reference parity: extends the north-star LLM-pipeline surface
    (BASELINE.json); the reference (/root/reference/main.py) has no
    data-plane transforms."""
    words = (
        with_tokens(spread(load_table(spark, sf_dir, "documents")))
        .select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    # ONE corpus pass shared by training and inference (r14, guide §5).
    w8 = words.where(
        F.length("w").between(2, _UNI_MAX_WLEN)
    ).localCheckpoint(eager=True)
    model = unigram_train_rounds(words, w8=w8)
    # Position classification: where does each piece occur inside the
    # trainable vocabulary? (word-initial vs continuation, the latter
    # corpus-weighted for the min-count vocab bound)
    occ = w8.select(
        F.col("freq"),
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(w)), i -> "
                f"transform(sequence(1, least({_UNI_MAX_PIECE}, "
                f"length(w) - i + 1)), "
                f"k -> struct(substring(w, i, k) AS piece, i AS i))))"
            )
        ).alias("s"),
    ).select(F.col("s.piece").alias("piece"), F.col("s.i").alias("i"), "freq")
    flags = occ.groupBy("piece").agg(
        F.max((F.col("i") == 1).cast("int")).alias("init_seen"),
        F.sum(F.when(F.col("i") > 1, F.col("freq")).otherwise(0)).alias(
            "cont_cnt"
        ),
    )
    pieces = model.join(flags, "piece")
    maps = pieces.agg(
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col("init_seen") == 1, F.struct("piece", F.lit(1))
                )
            )
        ).alias("mi"),
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col("cont_cnt") >= _WP_MIN_CONT,
                    F.struct("piece", F.lit(1)),
                )
            )
        ).alias("mc"),
    )
    seg = w8.crossJoin(F.broadcast(maps)).withColumn(
        "st", F.expr(_wp_greedy_expr(_UNI_MAX_PIECE, _UNI_MAX_WLEN))
    )
    return seg.select(
        "w",
        "freq",
        F.when(F.col("st.fail"), F.lit(1))
        .otherwise(F.size("st.ps"))
        .cast("long")
        .alias("n_pieces"),
        F.when(F.col("st.fail"), F.lit("[UNK]"))
        .otherwise(F.array_join("st.ps", " "))
        .alias("pieces"),
    )


def _fertility_oracle() -> str:
    """Both applies re-derived from their registered oracle chains,
    embedded as subqueries (identical training CTE text — the shared
    inventory is what isolates the segmentation STRATEGY in the
    comparison), aggregated to the standard corpus metrics."""
    return f"""
WITH uni AS (
  SELECT w, freq, n_pieces, pieces, 0 AS is_unk
  FROM ( {_unigram_apply_oracle()} ) u
),
wp AS (
  SELECT w, freq, n_pieces, pieces,
         CASE WHEN pieces = '[UNK]' THEN 1 ELSE 0 END AS is_unk
  FROM ( {_wordpiece_apply_oracle()} ) v
),
fam AS (
  SELECT 'unigram_viterbi' AS family, w, freq, n_pieces, is_unk FROM uni
  UNION ALL
  SELECT 'wordpiece_greedy' AS family, w, freq, n_pieces, is_unk FROM wp
),
div AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_diverging_words
  FROM uni u JOIN wp v ON v.w = u.w
  WHERE replace(v.pieces, '##', '') <> u.pieces
)
SELECT family,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(freq) AS BIGINT) AS n_occurrences,
       CAST(SUM(freq * n_pieces) AS BIGINT) AS weighted_tokens,
       CAST(SUM(freq * len(w)) AS BIGINT) AS weighted_chars,
       CAST(SUM(freq * n_pieces) * 1000 // SUM(freq) AS BIGINT)
         AS fertility_milli,
       CAST(SUM(freq * len(w)) * 1000 // SUM(freq * n_pieces) AS BIGINT)
         AS chars_per_token_milli,
       CAST(SUM(is_unk) AS BIGINT) AS n_unk_words,
       (SELECT n_diverging_words FROM div) AS n_diverging_words
FROM fam
GROUP BY family
"""


@query("tokenizer_fertility_audit", oracle=_fertility_oracle())
def tokenizer_fertility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY comparison — the metric that actually decides
    which segmentation strategy ships (tokens-per-word drives context
    usage and training cost): Viterbi (unigram-LM) vs greedy
    longest-match-first (WordPiece) over the SAME learned inventory, so
    the numbers isolate the inference strategy from vocabulary quality.
    Corpus-weighted tokens, chars-per-token compression, and the
    greedy-only [UNK] casualty count, all in exact integers (milli
    units via DIV).  Viterbi's fertility lower-bounds greedy's on this
    corpus — an observed fixture property, NOT a theorem: greedy's
    [UNK] degradation counts a whole OOV word as 1 piece, so a long
    OOV tail can invert the inequality (the shape test documents this).

    Scale shape: ONE training pass (vocab-sized rounds, see
    unigram_train_rounds), the two map-only apply folds over the
    trainable vocabulary, and a 2-group final aggregate.  At 100 TB the
    corpus never re-scans: fertility is freq-weighted from the one
    word-count table every tokenizer stage already shares."""
    words = (
        with_tokens(spread(load_table(spark, sf_dir, "documents")))
        .select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    # ONE corpus pass shared by training and both apply folds (r14, §5).
    w8 = words.where(
        F.length("w").between(2, _UNI_MAX_WLEN)
    ).localCheckpoint(eager=True)
    model = unigram_train_rounds(words, w8=w8).localCheckpoint(eager=True)

    # Viterbi apply (the unigram_lm_apply body over the shared model)
    pm = model.agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", "cost_milli"))
        ).alias("pm")
    )
    uni = (
        w8.crossJoin(F.broadcast(pm))
        .withColumn("dp", F.expr(_uni_dp_expr(_UNI_MAX_PIECE)))
        .withColumn("ps", F.expr(_uni_bt_expr(_UNI_MAX_WLEN)))
        .select(
            F.lit("unigram_viterbi").alias("family"),
            "w",
            "freq",
            F.size("ps").cast("long").alias("n_pieces"),
            F.array_join(F.reverse("ps"), " ").alias("pieces"),
            F.lit(0).alias("is_unk"),
        )
    )

    # Greedy apply (the wordpiece_apply body over the same model)
    occ = w8.select(
        "freq",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(w)), i -> "
                f"transform(sequence(1, least({_UNI_MAX_PIECE}, "
                f"length(w) - i + 1)), "
                f"k -> struct(substring(w, i, k) AS piece, i AS i))))"
            )
        ).alias("s"),
    ).select(F.col("s.piece").alias("piece"), F.col("s.i").alias("i"), "freq")
    flags = occ.groupBy("piece").agg(
        F.max((F.col("i") == 1).cast("int")).alias("init_seen"),
        F.sum(F.when(F.col("i") > 1, F.col("freq")).otherwise(0)).alias(
            "cont_cnt"
        ),
    )
    maps = model.join(flags, "piece").agg(
        F.map_from_entries(
            F.collect_list(
                F.when(F.col("init_seen") == 1, F.struct("piece", F.lit(1)))
            )
        ).alias("mi"),
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col("cont_cnt") >= _WP_MIN_CONT,
                    F.struct("piece", F.lit(1)),
                )
            )
        ).alias("mc"),
    )
    wp = (
        w8.crossJoin(F.broadcast(maps))
        .withColumn("st", F.expr(_wp_greedy_expr(_UNI_MAX_PIECE, _UNI_MAX_WLEN)))
        .select(
            F.lit("wordpiece_greedy").alias("family"),
            "w",
            "freq",
            F.when(F.col("st.fail"), F.lit(1))
            .otherwise(F.size("st.ps"))
            .cast("long")
            .alias("n_pieces"),
            F.when(F.col("st.fail"), F.lit("[UNK]"))
            .otherwise(F.array_join("st.ps", " "))
            .alias("pieces"),
            F.when(F.col("st.fail"), F.lit(1)).otherwise(F.lit(0)).alias(
                "is_unk"
            ),
        )
    )

    # Pairwise non-vacuity column: strategies can tie on COUNTS while
    # choosing different segmentations (Viterbi optimizes cost, greedy
    # takes longest-first) — the divergence count is what shows the
    # audit is comparing two genuinely different algorithms.
    div = (
        uni.select("w", F.col("pieces").alias("up"))
        .join(wp.select("w", F.col("pieces").alias("gp")), "w")
        .where(F.regexp_replace("gp", "##", "") != F.col("up"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_diverging_words"))
    )

    return (
        uni.unionByName(wp)
        .groupBy("family")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("n_occurrences"),
            F.sum(F.col("freq") * F.col("n_pieces"))
            .cast("long")
            .alias("weighted_tokens"),
            F.sum(F.col("freq") * F.length("w"))
            .cast("long")
            .alias("weighted_chars"),
            F.expr(
                "CAST(SUM(freq * n_pieces) * 1000 DIV SUM(freq) AS BIGINT)"
            ).alias("fertility_milli"),
            F.expr(
                "CAST(SUM(freq * length(w)) * 1000 "
                "DIV SUM(freq * n_pieces) AS BIGINT)"
            ).alias("chars_per_token_milli"),
            F.sum("is_unk").cast("long").alias("n_unk_words"),
        )
        .crossJoin(F.broadcast(div))
    )
