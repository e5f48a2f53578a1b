"""Corpus-curation queries: the selection/filtering layer a training-data
pipeline runs between raw ingest and tokenization.

Adds four capabilities on top of the dedup/similarity packs:

* ``semantic_dedup`` — SemDeDup-shaped near-dup removal: cluster the
  embedding space with a deterministic coarse quantizer, then compare
  vectors only *within* a cluster (the pruning that makes embedding dedup
  tractable at corpus scale), dropping the higher-id member of every
  too-similar pair.
* ``dedup_keep_best`` — canonical-document selection: among exact
  duplicates keep the highest-quality copy (longest, then lowest id) —
  the "which copy survives" policy layer over exact dedup's "which docs
  collide" (operators/dedup.py::exact_dedup_groups keeps min-id; this
  keeps best-quality and reports what was dropped).
* ``token_entropy`` — per-document unigram Shannon entropy, the standard
  gibberish/boilerplate signal (low entropy = repetitive text); computed
  entirely array-side (zero shuffles).
* ``common_ngram_coverage`` — fraction of each document's 5-grams that
  occur in ≥ 2 documents: the boilerplate-coverage signal behind
  exact-substring dedup policies.

All four have full DuckDB oracles. Float discipline follows
plans/registry.py: identical fold order on both engines (sorted arrays +
left-to-right folds), ROUND before comparison.

Reference parity: the reference (/root/reference/main.py) has no curation
surface; these map to the north-star LLM-pipeline rows of SURVEY.md §2.2.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.caches import Caches
from odni_apache_beam_consumer_spark.catalog import load_table, spread
from odni_apache_beam_consumer_spark.operators import dedup as D
from odni_apache_beam_consumer_spark.operators.similarity import dot, with_vec
from odni_apache_beam_consumer_spark.operators.text_ops import STOPWORDS, with_tokens
from odni_apache_beam_consumer_spark.plans.registry import query

_SEM_TAU = 0.25  # synthetic embeddings are near-orthogonal; ~p99 of pair cosine


@query(
    "semantic_dedup",
    oracle=f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS dd
  FROM embeddings
),
c AS (
  SELECT vec_id AS cid, vec AS cvec, list_dot_product(vec, vec) AS cdd
  FROM v WHERE vec_id % 50 = 0
),
assigned AS (
  SELECT vec_id, cid, vec, dd FROM (
    SELECT v.vec_id, c.cid, v.vec, v.dd,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
             c.cdd - 2 * list_dot_product(v.vec, c.cvec), c.cid) AS rn
    FROM v CROSS JOIN c
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.cid, a.vec_id AS keep_id, b.vec_id AS drop_id,
         ROUND(list_dot_product(a.vec, b.vec) / (sqrt(a.dd) * sqrt(b.dd)), 6) AS cosine
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.vec, b.vec) / (sqrt(a.dd) * sqrt(b.dd)) >= {_SEM_TAU}
)
SELECT cid, drop_id, COUNT(*) AS n_dups, ROUND(MAX(cosine), 6) AS best_cos
FROM pairs GROUP BY cid, drop_id
""",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: coarse-quantize (nearest of the
    deterministic seed centroids, every 50th vector), compare only within
    a cluster, drop the higher-id member of each pair with cosine >= tau.

    Scale shape: the centroid table is k rows -> broadcast; assignment is
    map-side cross-score + WindowGroupLimit argmin (same plan as
    plans/ml.py::kmeans_one_step). The assigned table is persisted so the
    within-cluster self-join reads ONE materialization instead of
    recomputing the assignment pipeline per side; the join is an equi-join
    on cid, so pair enumeration is O(sum cluster_size^2), not O(N^2) —
    cluster count grows with the corpus (k ~ N/target_cluster_size) to
    keep buckets bounded; a hot cluster is split by raising k or salting
    the cid, same guard as operators/dedup.py's LSH buckets."""
    v = (
        with_vec(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", "vec", dot("vec", "vec").alias("dd"))
    )
    c = v.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("vec").alias("cvec"),
        F.col("dd").alias("cdd"),
    )
    score = F.col("cdd") - 2 * dot("vec", "cvec")
    w = W.partitionBy("vec_id").orderBy(score.asc(), F.col("cid").asc())
    assigned = (
        v.crossJoin(F.broadcast(c))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cid", "vec", "dd")
        .persist()
    )
    a = assigned.select(
        "cid",
        F.col("vec_id").alias("keep_id"),
        F.col("vec").alias("va"),
        F.col("dd").alias("dda"),
    )
    b = assigned.select(
        F.col("cid").alias("cid_b"),
        F.col("vec_id").alias("drop_id"),
        F.col("vec").alias("vb"),
        F.col("dd").alias("ddb"),
    )
    cos = dot("va", "vb") / (F.sqrt("dda") * F.sqrt("ddb"))
    pairs = (
        a.join(b, (F.col("cid") == F.col("cid_b")) & (F.col("keep_id") < F.col("drop_id")))
        .where(cos >= _SEM_TAU)
        .select("cid", "drop_id", F.round(cos, 6).alias("cosine"))
    )
    return pairs.groupBy("cid", "drop_id").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.round(F.max("cosine"), 6).alias("best_cos"),
    )


@query(
    "dedup_keep_best",
    oracle="""
WITH dup AS (
  SELECT doc_id, lang, source, n_chars, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang, source, n_chars - 1, text
  FROM documents WHERE doc_id % 3 = 0
),
g AS (
  SELECT doc_id, lang, source, n_chars, md5(text) AS content_hash FROM dup
),
ranked AS (
  SELECT doc_id, lang, source, n_chars, content_hash,
         ROW_NUMBER() OVER (PARTITION BY content_hash
                            ORDER BY n_chars DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
  FROM g
)
SELECT content_hash, doc_id AS kept_id, lang, source,
       CAST(n_chars AS BIGINT) AS n_chars, CAST(n_copies AS BIGINT) AS n_copies
FROM ranked WHERE rn = 1 AND n_copies > 1
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection over exact-duplicate groups: within
    each content-hash group keep the best copy (longest text, then lowest
    id); emit only multi-copy groups with their survivor.

    Scale shape: ONE shuffle on the content hash (uniform by
    construction); the per-group pick is WindowGroupLimit (top-1 per
    key, no sort of the full partition). This is the policy layer over
    operators/dedup.py::exact_dedup_groups — same exchange, richer
    survivor rule. Input is documents unioned with truncated-length
    copies of every 3rd doc (same text, n_chars-1, shifted id) so the
    keep-longest policy has real groups to pick from."""
    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    dup = raw.unionByName(
        raw.where(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "lang",
            "source",
            (F.col("n_chars") - 1).alias("n_chars"),
            "text",
        )
    )
    d = dup.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("content_hash")
    )
    byg = W.partitionBy("content_hash")
    ranked = d.select(
        "content_hash",
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.row_number()
        .over(byg.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(byg).alias("n_copies"),
    )
    return (
        ranked.where((F.col("rn") == 1) & (F.col("n_copies") > 1))
        .select(
            "content_hash",
            F.col("doc_id").alias("kept_id"),
            "lang",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("n_copies").cast("bigint").alias("n_copies"),
        )
    )


@query(
    "token_entropy",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, string_split(trim(text), ' ') AS tk FROM documents
),
c AS (
  SELECT doc_id, lang, len(tk) AS n,
         list_transform(list_sort(list_distinct(tk)),
                        x -> CAST(len(list_filter(tk, t -> t = x)) AS DOUBLE)) AS cnts
  FROM t
),
s AS (
  SELECT doc_id, lang, n, len(cnts) AS n_distinct,
         list_reduce(list_transform(cnts, c -> c * ln(c)), (a, b) -> a + b) AS s
  FROM c
)
SELECT doc_id, lang, CAST(n AS BIGINT) AS n_tokens,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       ROUND(ln(n) - s / n, 6) AS token_entropy
FROM s
""",
)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy, via the algebraic form
    H = ln(n) - (1/n) * sum(c * ln c) over per-token counts c.

    Scale shape: ZERO shuffles — counts come from array-side
    filter/transform over the token array (O(distinct x len) per doc,
    map-only, whole-stage codegen), not an explode + two hash
    aggregations whose exchange would carry one row per (doc, token).
    Fold-order parity with the oracle: counts are taken over the SORTED
    distinct tokens and summed left-to-right on both engines (Spark
    ``aggregate`` starting at 0.0 == DuckDB ``list_reduce`` over the
    transformed list, since 0.0 + x is exact)."""
    d = with_tokens(load_table(spark, sf_dir, "documents"))
    tk = F.col("tk")
    cnts = F.transform(
        F.array_sort(F.array_distinct(tk)),
        lambda x: F.size(F.filter(tk, lambda t: t == x)).cast("double"),
    )
    d = d.select(
        "doc_id",
        "lang",
        F.size(tk).alias("n"),
        cnts.alias("cnts"),
    )
    s = F.aggregate(
        F.col("cnts"), F.lit(0.0), lambda acc, c: acc + c * F.log(c)
    )
    return d.select(
        "doc_id",
        "lang",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.size("cnts").cast("bigint").alias("n_distinct"),
        F.round(F.log("n") - s / F.col("n"), 6).alias("token_entropy"),
    )


@query(
    "common_ngram_coverage",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(tk) - 4),
                                      i -> array_to_string(tk[i:i+4], ' '))) AS grams
  FROM t WHERE len(tk) >= 5
),
dg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
dftab AS (SELECT gram FROM dg GROUP BY gram HAVING COUNT(*) >= 2),
cov AS (
  SELECT doc_id, COUNT(*) AS n_common
  FROM dg JOIN dftab USING (gram) GROUP BY doc_id
)
SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS n_grams,
       CAST(COALESCE(cov.n_common, 0) AS BIGINT) AS n_common,
       ROUND(COALESCE(cov.n_common, 0) / len(g.grams), 6) AS common_coverage
FROM g LEFT JOIN cov ON g.doc_id = cov.doc_id
""",
)
def common_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate coverage: the fraction of each document's distinct
    5-grams that appear in >= 2 documents (the signal behind
    exact-substring / boilerplate-removal policies).

    Scale shape: the (doc, gram) table is built map-side (array transform
    + one explode) and persisted so the DF count and the coverage join
    read one materialization; the cross-doc gram table is the ONLY
    all-corpus aggregation (one shuffle keyed on the gram hash —
    uniform); the common-gram list is then broadcast back (boilerplate
    vocabularies are small by definition — cap or spill to a shuffle
    join if a corpus exceeds the broadcast threshold). Docs shorter than
    5 tokens have no 5-grams and are excluded on both sides."""
    d = with_tokens(spread(load_table(spark, sf_dir, "documents"))).where(
        F.size("tk") >= 5
    )
    tk = F.col("tk")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 4),
            lambda i: F.concat_ws(" ", F.slice(tk, i, 5)),
        )
    )
    # Persist the gram ARRAYS (one row per doc), not the exploded pairs:
    # the n-gram construction is the expensive stage and base feeds three
    # consumers (the DF table, the coverage join, and the final n_grams
    # projection) — re-exploding from the cache is cheap by comparison.
    base = d.select("doc_id", grams.alias("grams")).persist()
    dg = base.select("doc_id", F.explode("grams").alias("gram"))
    dftab = (
        dg.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("gram")
    )
    cov = (
        dg.join(F.broadcast(dftab), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        base.select("doc_id", F.size("grams").cast("bigint").alias("n_grams"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint").alias("n_common"),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0)) / F.col("n_grams"), 6
            ).alias("common_coverage"),
        )
    )


# ---------------------------------------------------------------------------
# cross-document duplicated-passage detection (winnowing inverted index)


@query(
    "duplicate_passage_pairs",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
sh AS (
  SELECT doc_id, i, md5(array_to_string(tk[i:i+2], ' ')) AS h
  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i) WHERE len(tk) >= 3
),
nsh AS (SELECT doc_id, MAX(i) AS max_i FROM sh GROUP BY doc_id),
wins AS (
  SELECT s.doc_id,
         MIN(s.h) OVER (PARTITION BY s.doc_id ORDER BY s.i
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         s.i, n.max_i
  FROM sh s JOIN nsh n ON n.doc_id = s.doc_id
),
fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE i <= max_i - 3),
df AS (SELECT fp, COUNT(*) AS n_docs FROM fps GROUP BY fp),
keep AS (SELECT f.doc_id, f.fp FROM fps f JOIN df d ON d.fp = f.fp
         WHERE d.n_docs BETWEEN 2 AND 10)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 2
""",
)
def duplicate_passage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-passage detection: document pairs that
    share >= 2 winnowing fingerprints (md5 of 3-word shingles, min over
    each 4-shingle window — the same MOSS selection rule as
    ``doc_fingerprint``, plans/llm.py). This is the passage-level
    complement to whole-document near-dedup: it surfaces copied
    paragraphs/boilerplate spans inside otherwise-different documents,
    the signal exact-substring dedup policies act on.

    Scale shape: winnowing runs ENTIRELY array-side per document —
    shingle hashes, 4-window minima, and per-doc distinct are all
    higher-order array expressions inside one map stage (no explode of
    the shingle table, no doc_id-partitioned window, no global DISTINCT
    shuffle; ``array_distinct`` already dedups within the only scope
    that matters, the document). The first shuffle is the
    document-frequency groupBy on the winnowed (much smaller) index.
    The fingerprint table is persisted and reused for (a) the df table
    and (b) both sides of the pair join. The df-cap (fingerprints shared
    by > 10 docs are dropped) is the boilerplate guard: every join bucket
    holds <= 10 rows, so pair fan-out per fingerprint is <= 45 regardless
    of corpus size — the same O(df^2) bound the banded-LSH operators
    enforce. Winnowing itself keeps ~1/window of all shingle hashes, so
    the index is a fraction of the shingle table's size at 100 TB.
    """
    # size(tk) >= 6 <=> at least 4 shingles <=> at least one 4-window
    # (also keeps both sequence() calls ascending — Spark's sequence(a, b)
    # runs DESCENDING when b < a, it does not return empty).
    d = with_tokens(spread(load_table(spark, sf_dir, "documents"))).where(
        F.size("tk") >= 6
    )
    fps = (
        d.select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(tk) - 2),"
                " i -> md5(concat_ws(' ', slice(tk, i, 3))))"
            ).alias("hs"),
        )
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(hs) - 3),"
                        " i -> array_min(slice(hs, i, 4)))"
                    )
                )
            ).alias("fp"),
        )
        .persist()
    )
    dftab = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where((F.col("n_docs") >= 2) & (F.col("n_docs") <= 10))
        .select("fp")
    )
    keep = fps.join(dftab, "fp")
    a, b = keep.alias("a"), keep.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


# ---------------------------------------------------------------------------
# quality-threshold sweep (curation dial calibration)


_SWEEP_THRESHOLDS = [round(0.1 * k, 1) for k in range(1, 10)]


@query(
    "quality_threshold_sweep",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents
),
s AS (
  SELECT doc_id, len(tk) AS n_tokens,
         ROUND(0.5 * (len(list_distinct(tk)) / len(tk))
               + 0.3 * (len(list_filter(tk, x -> list_contains({STOPWORDS!r}, x))) / len(tk))
               + 0.2 * LEAST(len(tk) / 100.0, 1.0), 6) AS q
  FROM t
)
SELECT thr, CAST(COUNT(*) FILTER (WHERE q >= thr) AS BIGINT) AS n_kept,
       ROUND(COALESCE(SUM(n_tokens) FILTER (WHERE q >= thr), 0)
             / GREATEST(COUNT(*) FILTER (WHERE q >= thr), 1), 4) AS mean_tokens_kept
FROM s, UNNEST({_SWEEP_THRESHOLDS!r}::DOUBLE[]) AS u(thr)
GROUP BY thr
""",
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-dial calibration: for each candidate quality cutoff, how
    many documents survive and how long they are — the sweep behind
    picking a corpus filter threshold.

    Scale shape: ONE scan and ONE constant-width aggregate.  All nine
    thresholds are conditional sums inside a single map-side-combined
    agg (the exchange carries one 18-column row per partition), then the
    wide row unpivots to (threshold, ...) rows via ``stack`` —
    driver-free, and 9× cheaper than the explode-then-group form whose
    shuffle carries every (doc, threshold) pair."""
    d = with_tokens(load_table(spark, sf_dir, "documents"))
    tk = F.col("tk")
    nt = F.size(tk)
    q = F.round(
        0.5 * (F.size(F.array_distinct(tk)) / nt)
        + 0.3
        * (F.size(F.filter(tk, lambda x: F.array_contains(F.lit(STOPWORDS), x))) / nt)
        + 0.2 * F.least(nt / F.lit(100.0), F.lit(1.0)),
        6,
    )
    s = d.select(nt.alias("n_tokens"), q.alias("q"))
    aggs = []
    for i, thr in enumerate(_SWEEP_THRESHOLDS):
        keep = F.col("q") >= thr
        aggs.append(F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias(f"n{i}"))
        aggs.append(
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0)).cast("long").alias(f"t{i}")
        )
    wide = s.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({thr} AS DOUBLE), n{i}, t{i}" for i, thr in enumerate(_SWEEP_THRESHOLDS)
    )
    return wide.select(
        F.expr(
            f"stack({len(_SWEEP_THRESHOLDS)}, {stack_args}) AS (thr, n_kept, _tok)"
        )
    ).select(
        "thr",
        "n_kept",
        F.round(F.col("_tok") / F.greatest(F.col("n_kept"), F.lit(1)), 4).alias(
            "mean_tokens_kept"
        ),
    )


# ---------------------------------------------------------------------------
# similarity search: top-k most similar documents per document
# ---------------------------------------------------------------------------


@query(
    "similar_docs_topk",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(tk) - 3)) AS u(i)
  WHERE len(tk) >= 5
),
sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 10),
sh2 AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b,
         CAST(c * 1000000 // (sa.nsh + sb.nsh - c) AS BIGINT) / 1000000.0 AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
),
sym AS (
  SELECT doc_a AS query_doc, doc_b AS neighbor, jaccard FROM pairs
  UNION ALL
  SELECT doc_b AS query_doc, doc_a AS neighbor, jaccard FROM pairs
),
ranked AS (
  SELECT query_doc, neighbor, jaccard,
         ROW_NUMBER() OVER (PARTITION BY query_doc
                            ORDER BY jaccard DESC, neighbor ASC) AS rnk
  FROM sym
)
SELECT query_doc, neighbor, jaccard, rnk FROM ranked WHERE rnk <= 3
""",
)
def similar_docs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity SEARCH (not dedup): for every document, the top-3
    most similar other documents by exact 5-gram Jaccard, among candidates
    sharing at least one non-boilerplate shingle (document frequency
    <= 10).  This is the retrieval dual of ``dedup_ngram_jaccard`` — no
    similarity threshold, a per-query rank instead: the shape behind
    "find me near-matches of this doc" and template-family mining.

    Scale shape: identical inverted-index candidate generation as the
    Jaccard dedup family (persisted shingle table, broadcast-anti df cap
    bounding every posting list at 10 -> <= 45 pairs per shingle), then a
    symmetrize (map-only union) and one per-doc window ranked by
    (rounded jaccard, neighbor id) — WindowGroupLimit pushes the top-3
    cut below the sort, so no doc's full candidate list is ever
    materialized.  At 100 TB the df cap IS the cost bound: pairs are
    O(sum over kept shingles of df^2), independent of corpus size for
    fixed cap."""
    # Eagerly checkpoint the top-3 table (<= 3 rows/doc — far smaller
    # than the corpus) and release every cache (the pair set plus the
    # operator-internal shingle table) before returning.
    with Caches() as caches:
        return caches.result(_similar_docs_topk_lazy(spark, sf_dir, caches))


def _similar_docs_topk_lazy(spark: SparkSession, sf_dir: str, caches: Caches) -> DataFrame:
    """Build the lazy top-3 plan; its persists register in ``caches``.

    Split out so plan-shape tests can assert the WindowGroupLimit pushdown
    and that both symmetrize branches read the cached pairs — the public
    query checkpoints eagerly, which hides both from the returned plan."""
    # The symmetrize union consumes `pairs` twice; persist it so the
    # inverted-index join + groupBy above it run once (the shingle table
    # below it is already cached inside ngram_jaccard_pairs, but that
    # does not cover the pair-generation stages).  Pair sets are df-cap-
    # bounded, so the cache is small at any corpus size.
    pairs = caches.persist(
        D.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"),
            caches,
            shingle_words=5,
            threshold=0.0,
            max_doc_freq=10,
        )
    )
    sym = pairs.select(
        F.col("doc_a").alias("query_doc"),
        F.col("doc_b").alias("neighbor"),
        "jaccard",
    ).unionAll(
        pairs.select(
            F.col("doc_b").alias("query_doc"),
            F.col("doc_a").alias("neighbor"),
            "jaccard",
        )
    )
    w = W.partitionBy("query_doc").orderBy(F.desc("jaccard"), F.asc("neighbor"))
    out = (
        sym.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("query_doc", "neighbor", "jaccard", "rnk")
    )
    return out


# ---------------------------------------------------------------------------
# bloom-routed ingest dedup (semi-join reduction)
# ---------------------------------------------------------------------------


@query(
    "bloom_prefilter_dedup",
    oracle="""
SELECT i.doc_id, i.lang, md5(i.text) AS text_md5
FROM documents i
WHERE i.doc_id % 4 = 1
  AND NOT EXISTS (
    SELECT 1 FROM documents c
    WHERE c.doc_id % 4 <> 1 AND c.text = i.text
  )
""",
)
def bloom_prefilter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest dedup with Bloom semi-join reduction: the incoming quarter
    of the corpus (doc_id % 4 == 1) is exact-deduped against the
    existing three quarters, but routed through a broadcast Bloom bitmap
    first — rows the bitmap proves absent never reach the anti join's
    shuffle (operators/bloom.py::bloom_anti_join).  The result is
    bit-identical to a plain anti join (the oracle IS the plain NOT
    EXISTS), so the driver's hash check proves the no-false-negative
    property end-to-end on real data, not just in unit tests.

    Scale shape: bloom build = one 1024-row-bounded bit_or agg over the
    corpus scan; probe = two <=1024-row broadcast joins, map-side; only
    maybe-members (true dups + ~(occupancy)^2 false positives) carry
    into the exact anti join's exchange.  At 100 TB ingest rates with a
    mostly-fresh stream this removes almost the entire shuffle."""
    from odni_apache_beam_consumer_spark.operators import bloom as B

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    corpus = docs.where(F.pmod(F.col("doc_id"), F.lit(4)) != 1)
    incoming = docs.where(F.pmod(F.col("doc_id"), F.lit(4)) == 1)
    out = B.bloom_anti_join(incoming, corpus, "text")
    return out.select("doc_id", "lang", F.md5("text").alias("text_md5"))


@query(
    "substring_span_dedup",
    oracle="""
WITH spans AS (
  SELECT doc_id, span_md5
  FROM (
    SELECT doc_id,
           list_transform(
             list_filter(generate_series(1, len(text) - 63),
                         i -> substr(md5(substr(text, CAST(i AS INT), 4)),
                                     1, 1) = '0'),
             i -> md5(substr(text, CAST(i AS INT), 64))) AS hs
    FROM documents
    WHERE len(text) >= 64
  ), UNNEST(hs) AS u(span_md5)
),
dup AS (
  SELECT span_md5,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         MIN(doc_id) AS min_doc,
         MAX(doc_id) AS max_doc
  FROM spans
  GROUP BY span_md5
  HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT span_md5, n_docs, n_occurrences, min_doc, max_doc
FROM dup
ORDER BY n_docs DESC, n_occurrences DESC, span_md5
LIMIT 100
""",
)
def substring_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication scan (the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" workload, via
    content-defined anchoring): hash the 64-char span at every ANCHOR
    position — positions whose local 4-gram md5 starts with '0', an
    expected 1-in-16 of positions — and report the top-100 spans that
    recur across >= 2 documents: boilerplate headers, license blocks,
    and templated passages that document-level dedup never sees because
    the SURROUNDING text differs.  A removal pass would cut or
    down-weight exactly these spans; doc-level near-dedup
    (dedup_minhash et al.) is blind to them.

    Content-defined (not fixed-stride) anchoring is the load-bearing
    choice: a fixed stride only collides when two copies of a duplicate
    start at offsets congruent mod the stride — an arbitrary 17-char
    prefix shift hides every window.  Anchor positions are determined
    by the TEXT ITSELF (the CDC / winnowing trick), so inside any
    shared region the anchors fall at identical content-relative
    offsets in every copy, and a duplicated region of length L is
    detected with probability 1 - (15/16)^(L-63) (>= 98% at L ~ 128,
    ~1 at paragraph scale) at ANY alignment — the same guarantee class
    as suffix-array dedup, without the suffix array.

    Scale shape: anchoring + hashing run INSIDE one higher-order-
    function projection (filter -> transform over the position
    sequence), so the only exploded stream is the ~len/16 16-byte span
    hashes — raw text never leaves its scan task and never shuffles;
    ONE hash aggregation on span_md5 with map-side combine; the
    HAVING >= 2 filter drops the unique-span long tail before the
    top-100 heap (TakeOrderedAndProject).  No pairwise comparison ever
    materializes — duplication is read off group cardinalities, the
    same group-then-filter shape as dedup_exact."""
    spans = (
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") >= 64)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform("
                    "  filter(sequence(1, length(text) - 63),"
                    "         i -> substring(md5(substring(text, i, 4)),"
                    "                        1, 1) = '0'),"
                    "  i -> md5(substring(text, i, 64)))"
                )
            ).alias("span_md5"),
        )
    )
    dup = (
        spans.groupBy("span_md5")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )
    return dup.orderBy(
        F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span_md5")
    ).limit(100)


@query(
    "jaccard_prefix_filter_join",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, '^[^ ]+ ', '') AS text
  FROM documents WHERE doc_id % 10 = 0
),
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(tk) - 3)) AS u(i)
  WHERE len(tk) >= 5
),
sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       CAST(sa.nsh + sb.nsh - n_shared AS BIGINT) AS n_union,
       CAST(n_shared * 1000000 // (sa.nsh + sb.nsh - n_shared) AS BIGINT)
         AS jaccard_ppm
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_shared * 1000000 >= 500000 * (sa.nsh + sb.nsh - n_shared)
""",
)
def jaccard_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard >= 0.5 self-join via PREFIX FILTERING — the
    provably-lossless similarity-join pruning (SSJoin / All-Pairs /
    PPJoin family), as the counterpart to dedup_jaccard_capped's df-cap:
    the cap is a heuristic that can silently drop a pair whose every
    shared shingle is boilerplate-hot; prefix filtering prunes by each
    document's RAREST shingles under a global frequency order and the
    lemma guarantees no qualifying pair is lost.

    The oracle is deliberately the UNPRUNED brute force (group all
    shared-shingle pairs, filter by exact Jaccard — the same form as
    dedup_ngram_jaccard's oracle): the driver's hash equality is
    therefore a machine-checked proof of losslessness on real data, not
    just the lemma on paper.

    Scale shape: see operators/dedup.py::jaccard_prefix_filter_pairs —
    candidate cost concentrates on rare shingles by construction
    (frequent shingles fall outside every prefix), the persisted shingle
    table feeds rank/prefix/verify stages once, and verification touches
    only surviving candidates."""
    from odni_apache_beam_consumer_spark.plans.llm import dedup_corpus

    return D.jaccard_prefix_filter_pairs(
        dedup_corpus(spark, sf_dir), Caches(), shingle_words=5, threshold=0.5
    )


# ---------------------------------------------------------------------------
# N-gram LM perplexity quality filter (CCNet/KenLM-class)
# ---------------------------------------------------------------------------

_LM_TOPK_BIGRAMS = 500  # pruned model size (top bigrams by count)
_LM_HELDOUT_MOD = 10  # doc_id % MOD = 0 trains the model


@query(
    "ngram_lm_perplexity_filter",
    oracle=f"""
WITH held AS MATERIALIZED (
  SELECT doc_id, string_split(trim(text), ' ') AS ts
  FROM documents WHERE doc_id % {_LM_HELDOUT_MOD} = 0
),
hbig AS MATERIALIZED (
  SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i + 1 AS INT)] AS w2
  FROM held, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
),
ctx AS MATERIALIZED (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS c FROM hbig GROUP BY w1
),
vsz AS MATERIALIZED (
  SELECT CAST(COUNT(DISTINCT term) + 1 AS BIGINT) AS v FROM (
    SELECT unnest(ts) AS term FROM held
  )
),
model AS MATERIALIZED (
  SELECT w1, w2,
         CAST(-FLOOR(LN(CAST(bc + 1 AS DOUBLE) / (cc + v)) * 1000)
              AS BIGINT) AS nll
  FROM (
    SELECT b.w1, b.w2, b.bc, c.c AS cc,
           ROW_NUMBER() OVER (ORDER BY b.bc DESC, b.w1, b.w2) AS rn
    FROM (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS bc
          FROM hbig GROUP BY w1, w2) b
    JOIN ctx c ON c.w1 = b.w1
  ), vsz
  WHERE rn <= {_LM_TOPK_BIGRAMS}
),
docs AS MATERIALIZED (
  SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents
),
dbig AS MATERIALIZED (
  SELECT doc_id, ts[CAST(i AS INT)] AS w1, ts[CAST(i + 1 AS INT)] AS w2
  FROM docs, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
  WHERE len(ts) >= 2
),
scored AS MATERIALIZED (
  SELECT d.doc_id,
         COALESCE(m.nll,
           CAST(-FLOOR(LN(1.0 / (COALESCE(c.c, 0) + vsz.v)) * 1000)
                AS BIGINT)) AS nll
  FROM dbig d
  LEFT JOIN model m ON m.w1 = d.w1 AND m.w2 = d.w2
  LEFT JOIN ctx c ON c.w1 = d.w1
  CROSS JOIN vsz
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(nll) AS BIGINT) AS nll_milli,
       CAST(SUM(nll) // COUNT(*) AS BIGINT) AS avg_nll_milli,
       CAST((SUM(nll) // COUNT(*)) // 500 AS BIGINT) AS ppl_bucket
FROM scored
GROUP BY doc_id
""",
)
def ngram_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram LM perplexity scoring — the CCNet/KenLM-class quality
    signal (Wenzek et al. '20): train a bigram LM on a held-out corpus
    slice (doc_id % 10 = 0), prune it to the top-K bigrams, then score
    EVERY document's per-token negative log-likelihood against the
    broadcast model and bucket documents by average NLL (CCNet's
    head/middle/tail split is a quantile cut over exactly this score;
    the integer bucket here is the deterministic analogue).  Completes
    the model-based quality family next to classifier_quality_filter
    (supervised), token_entropy (self-statistics), and
    repetition_filter (structure).

    Laplace-smoothed conditional with pruning-as-unseen:
    P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V) for kept bigrams, 1/(c(w1)+V)
    for pruned/unseen pairs (c(w1)=0 when the context itself is new) —
    one coalesce per bigram, no special cases.  NLL is floored to
    integer MILLI-units per bigram before the per-doc sum (the
    bm25/dirichlet portability discipline); the per-doc average uses
    integer DIV.

    Scale shape: the model pass is two hash aggs over the HELD-OUT
    slice only (a predicate-pruned sliver of the corpus).  The scoring
    pass is the part that must scale to 100 TB: the document bigram
    stream (explode, pipelined inside the scan stage) probes the pruned
    model and the context counts through BROADCAST HASH JOINS — O(1)
    per probe — and the per-doc sum partial-aggregates map-side before
    the single doc_id exchange, so only |docs| partial rows ever cross
    the wire.  The first cut of this query folded the bigram stream
    inside each row against 1-row MAP columns instead ("zero
    shuffles"), which benchmarked at the LINEAR envelope at 300x
    (852 s): Spark's GetMapValue on a map column is a linear scan, so
    every probe cost O(|context vocab|) and the "shuffle-free" design
    hid an O(corpus x vocab) term.  Broadcast hash joins are the
    honest scale shape (pinned by tests/test_plans.py: no
    BroadcastNestedLoopJoin anywhere, partial HashAggregate below the
    one doc_id exchange).  The vocabulary-size scalar V crosses the
    driver as one integer (the documented metadata-sized class).
    """
    docs = with_tokens(spread(load_table(spark, sf_dir, "documents")))
    held = docs.where(F.col("doc_id") % _LM_HELDOUT_MOD == 0)

    def bigrams(df: DataFrame, *extra: str) -> DataFrame:
        return df.select(
            *extra,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> struct(element_at(tk, i) AS w1, "
                    "element_at(tk, i + 1) AS w2))"
                )
            ).alias("b"),
        ).select(*extra, "b.w1", "b.w2")

    hbig = bigrams(held)
    ctx = hbig.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # one integer across the driver: |held-out vocab| + 1 (metadata-sized)
    v_lit = int(
        held.select(F.explode("tk").alias("term"))
        .agg((F.countDistinct("term") + 1).cast("long").alias("v"))
        .first()[0]
    )
    bc = hbig.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("bc")
    )
    model = (
        bc.join(ctx, "w1")
        .withColumn(
            "rn",
            F.row_number().over(
                # Unpartitioned window over the bigram-count table only —
                # bounded by the held-out vocabulary squared and cut to
                # top-K immediately (the documented bounded-input class).
                W.orderBy(F.desc("bc"), F.asc("w1"), F.asc("w2"))
            ),
        )
        .where(F.col("rn") <= _LM_TOPK_BIGRAMS)
        .select(
            "w1",
            "w2",
            (-F.floor(
                F.log(
                    (F.col("bc") + 1).cast("double")
                    / (F.col("c") + F.lit(v_lit)).cast("double")
                )
                * 1000.0
            ))
            .cast("long")
            .alias("mnll"),
        )
    )
    scored = (
        bigrams(docs.where(F.size("tk") >= 2), "doc_id")
        .join(F.broadcast(model), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col("mnll"),
                (-F.floor(
                    F.log(
                        F.lit(1.0)
                        / (F.coalesce(F.col("c"), F.lit(0)) + F.lit(v_lit))
                        .cast("double")
                    )
                    * 1000.0
                )).cast("long"),
            ).alias("nll"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("nll").cast("long").alias("nll_milli"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "nll_milli",
        F.expr("nll_milli DIV n_bigrams").alias("avg_nll_milli"),
        F.expr("(nll_milli DIV n_bigrams) DIV 500").alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. '23)
# ---------------------------------------------------------------------------


def _dsir_model_ctes(tag: str, where: str, topk: int) -> str:
    """Oracle CTE block for one Laplace bigram model over the docs
    matching ``where`` — mirrors the ngram_lm_perplexity_filter model
    build, parameterized so the DSIR oracle can instantiate it twice
    (target slice + raw corpus)."""
    return f"""h{tag} AS MATERIALIZED (
  SELECT doc_id, string_split(trim(text), ' ') AS ts
  FROM documents WHERE {where}
),
b{tag} AS MATERIALIZED (
  SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i + 1 AS INT)] AS w2
  FROM h{tag}, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
),
c{tag} AS MATERIALIZED (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS c FROM b{tag} GROUP BY w1
),
v{tag} AS MATERIALIZED (
  SELECT CAST(COUNT(DISTINCT term) + 1 AS BIGINT) AS v FROM (
    SELECT unnest(ts) AS term FROM h{tag}
  )
),
m{tag} AS MATERIALIZED (
  SELECT w1, w2,
         CAST(-FLOOR(LN(CAST(bc + 1 AS DOUBLE) / (cc + v)) * 1000)
              AS BIGINT) AS nll
  FROM (
    SELECT b.w1, b.w2, b.bc, c.c AS cc,
           ROW_NUMBER() OVER (ORDER BY b.bc DESC, b.w1, b.w2) AS rn
    FROM (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS bc
          FROM b{tag} GROUP BY w1, w2) b
    JOIN c{tag} c ON c.w1 = b.w1
  ), v{tag}
  WHERE rn <= {topk}
)"""


_DSIR_TARGET_WHERE = "lang <> 'en'"


@query(
    "dsir_importance_resample",
    oracle=f"""
WITH {_dsir_model_ctes('t', _DSIR_TARGET_WHERE, _LM_TOPK_BIGRAMS)},
{_dsir_model_ctes('r', 'TRUE', _LM_TOPK_BIGRAMS)},
docs AS MATERIALIZED (
  SELECT doc_id, lang, string_split(trim(text), ' ') AS ts FROM documents
),
dbig AS MATERIALIZED (
  SELECT doc_id, lang, ts[CAST(i AS INT)] AS w1, ts[CAST(i + 1 AS INT)] AS w2
  FROM docs, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
  WHERE len(ts) >= 2
),
scored AS MATERIALIZED (
  SELECT d.doc_id, d.lang,
         COALESCE(mr.nll,
           CAST(-FLOOR(LN(1.0 / (COALESCE(cr.c, 0) + vr.v)) * 1000)
                AS BIGINT))
         - COALESCE(mt.nll,
           CAST(-FLOOR(LN(1.0 / (COALESCE(ct.c, 0) + vt.v)) * 1000)
                AS BIGINT)) AS ratio
  FROM dbig d
  LEFT JOIN mt ON mt.w1 = d.w1 AND mt.w2 = d.w2
  LEFT JOIN ct ON ct.w1 = d.w1
  LEFT JOIN mr ON mr.w1 = d.w1 AND mr.w2 = d.w2
  LEFT JOIN cr ON cr.w1 = d.w1
  CROSS JOIN vt CROSS JOIN vr
)
SELECT doc_id, lang,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(ratio) AS BIGINT) AS ratio_milli,
       CAST(SUM(ratio) // COUNT(*) AS BIGINT) AS avg_ratio_milli,
       CAST(CASE WHEN SUM(ratio) // COUNT(*) >= 0 THEN 1 ELSE 0 END
            AS BIGINT) AS selected
FROM scored
GROUP BY doc_id, lang
""",
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. '23)
    — THE standard recipe for tilting a raw crawl toward a target
    domain: fit cheap n-gram LMs to the TARGET slice (here the
    non-English documents — the rare domain to upsample) and to the
    RAW corpus, weight every document by its log importance ratio
    log p_target(x) - log p_raw(x) under those models, and keep the
    documents whose average ratio clears the bar (the deterministic
    analogue of DSIR's Gumbel top-k resample; a production run would
    threshold on a quantile of the weight distribution).

    Both models are the ngram_lm_perplexity_filter Laplace bigram
    build (top-K pruned, pruned/unseen pairs falling back to
    1/(c(w1)+V)); the per-bigram ratio is the difference of the two
    integer milli-NLLs, so the per-doc sum stays an order-independent
    integer aggregate and the selection bit is pure integer compare.

    Scale shape: two model builds over predicate-pruned slices (the
    target build scans only its slice; the raw build is two hash aggs
    over the token stream), then ONE scoring pass over the corpus with
    FOUR broadcast hash joins (target/raw model + context tables — the
    852s->16s lesson from the perplexity filter applies doubly here)
    and a map-side partial agg into the single doc_id exchange.  The
    two vocabulary scalars cross the driver as integers (documented
    metadata-sized class)."""
    docs = with_tokens(spread(load_table(spark, sf_dir, "documents")))

    def bigrams(df: DataFrame, *extra: str) -> DataFrame:
        return df.select(
            *extra,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> struct(element_at(tk, i) AS w1, "
                    "element_at(tk, i + 1) AS w2))"
                )
            ).alias("b"),
        ).select(*extra, "b.w1", "b.w2")

    def model_of(held: DataFrame, nll_out: str, c_out: str):
        hb = bigrams(held)
        ctx = hb.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias(c_out))
        v_lit = int(
            held.select(F.explode("tk").alias("term"))
            .agg((F.countDistinct("term") + 1).cast("long").alias("v"))
            .first()[0]
        )
        bc = hb.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).cast("long").alias("bc")
        )
        model = (
            bc.join(ctx, "w1")
            .withColumn(
                "rn",
                F.row_number().over(
                    # bounded input: the bigram-count table, cut to top-K
                    W.orderBy(F.desc("bc"), F.asc("w1"), F.asc("w2"))
                ),
            )
            .where(F.col("rn") <= _LM_TOPK_BIGRAMS)
            .select(
                "w1",
                "w2",
                (-F.floor(
                    F.log(
                        (F.col("bc") + 1).cast("double")
                        / (F.col(c_out) + F.lit(v_lit)).cast("double")
                    )
                    * 1000.0
                ))
                .cast("long")
                .alias(nll_out),
            )
        )
        return model, ctx, v_lit

    m_t, c_t, v_t = model_of(docs.where(F.col("lang") != "en"), "tnll", "tc")
    m_r, c_r, v_r = model_of(docs, "rnll", "rc")

    def fallback(c_col: str, v_lit: int):
        return (
            -F.floor(
                F.log(
                    F.lit(1.0)
                    / (F.coalesce(F.col(c_col), F.lit(0)) + F.lit(v_lit))
                    .cast("double")
                )
                * 1000.0
            )
        ).cast("long")

    scored = (
        bigrams(docs.where(F.size("tk") >= 2), "doc_id", "lang")
        .join(F.broadcast(m_t), ["w1", "w2"], "left")
        .join(F.broadcast(c_t), "w1", "left")
        .join(F.broadcast(m_r), ["w1", "w2"], "left")
        .join(F.broadcast(c_r), "w1", "left")
        .select(
            "doc_id",
            "lang",
            (
                F.coalesce(F.col("rnll"), fallback("rc", v_r))
                - F.coalesce(F.col("tnll"), fallback("tc", v_t))
            ).alias("ratio"),
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("ratio").cast("long").alias("ratio_milli"),
        )
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "ratio_milli",
        F.expr("ratio_milli DIV n_bigrams").alias("avg_ratio_milli"),
        F.expr(
            "CAST(IF(ratio_milli DIV n_bigrams >= 0, 1, 0) AS BIGINT)"
        ).alias("selected"),
    )


# ---------------------------------------------------------------------------
# DoReMi-style Group-DRO domain reweighting (Xie et al. '23b)
# ---------------------------------------------------------------------------

_DRO_SHARDS = 4  # one multiplicative-weights step per deterministic shard
_DRO_TOPK_UNIGRAMS = 800  # pruned unigram model size (top terms by count)
_DRO_ETA_DIV = 4  # step size: excess milli-nats are divided by this


def _doremi_step_ctes(t: int) -> str:
    """Oracle CTE block for one multiplicative-weights step: join the
    incoming weights ``w{t}`` with shard ``t``'s per-domain losses
    (missing cells fall back to the unseen-token NLL), tilt each weight
    by the domain's excess loss over the cross-domain shard mean, clamp,
    and renormalize back to ppm.  Pure BIGINT arithmetic — both engines
    truncate integer division toward zero, so the trajectories agree
    bit-for-bit."""
    return f"""s{t} AS (
  SELECT w.lang, w.w, COALESCE(ls.l, fb.fnll) AS l
  FROM w{t} w LEFT JOIN (SELECT lang, l FROM loss WHERE shard = {t}) ls
    ON ls.lang = w.lang, fb
),
u{t} AS (
  SELECT s.lang,
         s.w * GREATEST(1000 + (s.l - m.lbar) // {_DRO_ETA_DIV}, 1) AS u
  FROM s{t} s,
       (SELECT CAST(SUM(l) // COUNT(*) AS BIGINT) AS lbar FROM s{t}) m
),
w{t + 1} AS (
  SELECT u.lang, CAST((u.u * 1000000) // su.s AS BIGINT) AS w
  FROM u{t} u, (SELECT SUM(u) AS s FROM u{t}) su
)"""


_DRO_STEP_BLOCK = ",\n".join(_doremi_step_ctes(t) for t in range(_DRO_SHARDS))


def _doremi_loss_frames(spark: SparkSession, sf_dir: str, caches: Caches):
    """Build the corpus-sized half of the DoReMi query: the per-(domain,
    shard) average unigram milli-NLL table, the domain list, and the
    unseen-token fallback NLL column.  Kept as a separate un-checkpointed
    lineage so the plan test can pin the scoring-pass discipline
    (broadcast HASH model probe, map-side partial agg, one keyed
    exchange) that the checkpoint hides from the final query's plan.

    The exploded token stream has THREE consumers (the (v, n) scalar
    pass, the vocab count behind the model, and the scoring join), so it
    is persisted — without this each consumer re-runs scan + tokenize +
    explode (r13 optimization).  The persist registers in ``caches``,
    which the caller releases once it has materialized its result."""
    docs = with_tokens(spread(load_table(spark, sf_dir, "documents")))
    tok = caches.persist(
        docs.select(
            (F.col("doc_id") % _DRO_SHARDS).alias("shard"),
            "lang",
            F.explode("tk").alias("term"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )

    row = tok.agg(
        (F.countDistinct("term") + 1).cast("long").alias("v"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).first()
    v_lit, n_lit = int(row["v"]), int(row["n"])

    model = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                # bounded input: the vocab-sized count table, cut to top-K
                W.orderBy(F.desc("c"), F.asc("term"))
            ),
        )
        .where(F.col("rn") <= _DRO_TOPK_UNIGRAMS)
        .select(
            "term",
            (-F.floor(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / F.lit(float(n_lit + v_lit))
                )
                * 1000.0
            ))
            .cast("long")
            .alias("nll"),
        )
    )
    fb = (
        -F.floor(F.log(F.lit(1.0) / F.lit(float(n_lit + v_lit))) * 1000.0)
    ).cast("long")

    loss = (
        tok.join(F.broadcast(model), "term", "left")
        .groupBy("lang", "shard")
        .agg(
            F.sum(F.coalesce(F.col("nll"), fb)).alias("s"),
            F.count(F.lit(1)).alias("k"),
        )
        .select("lang", "shard", F.expr("s DIV k").cast("long").alias("l"))
    )
    domains = docs.select("lang").distinct()
    return loss, domains, fb


@query(
    "doremi_domain_reweight",
    oracle=f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id % {_DRO_SHARDS} AS shard, lang,
         string_split(trim(text), ' ') AS ts
  FROM documents
),
tok AS MATERIALIZED (
  SELECT shard, lang, unnest(ts) AS term FROM docs
),
st AS MATERIALIZED (
  SELECT CAST(COUNT(DISTINCT term) + 1 AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM tok
),
model AS MATERIALIZED (
  SELECT term,
         CAST(-FLOOR(LN(CAST(c + 1 AS DOUBLE) / (n + v)) * 1000)
              AS BIGINT) AS nll
  FROM (
    SELECT term, c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rn
    FROM (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term)
  ), st
  WHERE rn <= {_DRO_TOPK_UNIGRAMS}
),
fb AS MATERIALIZED (
  SELECT CAST(-FLOOR(LN(1.0 / (n + v)) * 1000) AS BIGINT) AS fnll FROM st
),
loss AS MATERIALIZED (
  SELECT t.lang, t.shard,
         CAST(SUM(COALESCE(m.nll, fb.fnll)) // COUNT(*) AS BIGINT) AS l
  FROM tok t LEFT JOIN model m ON m.term = t.term, fb
  GROUP BY t.lang, t.shard
),
w0 AS (
  SELECT lang, CAST(1000000 AS BIGINT) AS w
  FROM (SELECT DISTINCT lang FROM documents)
),
{_DRO_STEP_BLOCK}
SELECT p.lang, p.loss_s0, p.loss_s1, p.loss_s2, p.loss_s3,
       wf.w AS weight_ppm
FROM (
  SELECT d.lang,
         CAST(COALESCE(MAX(CASE WHEN l.shard = 0 THEN l.l END), fb.fnll)
              AS BIGINT) AS loss_s0,
         CAST(COALESCE(MAX(CASE WHEN l.shard = 1 THEN l.l END), fb.fnll)
              AS BIGINT) AS loss_s1,
         CAST(COALESCE(MAX(CASE WHEN l.shard = 2 THEN l.l END), fb.fnll)
              AS BIGINT) AS loss_s2,
         CAST(COALESCE(MAX(CASE WHEN l.shard = 3 THEN l.l END), fb.fnll)
              AS BIGINT) AS loss_s3
  FROM (SELECT DISTINCT lang FROM documents) d
  LEFT JOIN loss l ON l.lang = d.lang, fb
  GROUP BY d.lang, fb.fnll
) p JOIN w{_DRO_SHARDS} wf ON wf.lang = p.lang
""",
)
def doremi_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style Group-DRO domain reweighting (Xie et al. '23b) — the
    standard recipe for choosing pre-training MIXTURE weights: measure a
    proxy loss per domain, then run exponentiated-gradient /
    multiplicative-weights updates that upweight the domains with the
    worst excess loss, renormalizing each step.  Domains here are the
    document languages; the proxy loss is the average per-token milli-NLL
    under a corpus-wide Laplace unigram LM (the cheap stand-in for the
    proxy model's loss), measured independently on {_DRO_SHARDS}
    deterministic hash shards so the weight trajectory is path-dependent
    like the paper's per-minibatch updates rather than a closed-form
    one-shot tilt.

    Update rule per shard t: w ← w · max(1000 + (L_d,t − L̄_t) /
    {_DRO_ETA_DIV}, 1) / Z, all in integer ppm / milli-nats — both
    engines truncate BIGINT division toward zero, so Spark and the
    oracle replay the identical trajectory.  Missing (domain, shard)
    cells (a language with no tokens in a shard at tiny SF) fall back to
    the unseen-token NLL on both sides.

    Complements dsir_importance_resample (per-DOCUMENT selection) and
    mixture_rebalance_plan (static policy targets): DoReMi OPTIMIZES the
    per-domain sampling weights from measured losses.

    Scale shape: the heavy passes are corpus-sized and shuffle-light —
    one vocab hash-agg to build the pruned model, then ONE scoring pass
    over the token stream with a broadcast HASH join (O(1) probes — the
    852s→16s GetMapValue lesson) and a map-side partial agg into a
    (domain × shard)-sized exchange.  Everything after that — the MW
    iteration itself — runs on a domains-sized frame (5 rows here;
    thousands at worst in production), localCheckpointed once so the
    per-step broadcast-cross scalars (shard mean, weight sum: the
    documented 1-row NLJ whitelist shape) never re-trigger the corpus
    scan.  The two model scalars (vocab size, token count) cross the
    driver as integers — metadata-sized, like the sibling LM queries.

    Reference parity: /root/reference/main.py has no curation surface;
    north-star row per SURVEY.md §2.2 (LLM-pipeline ops).
    """
    with Caches() as caches:
        loss, domains, fb = _doremi_loss_frames(spark, sf_dir, caches)
        # (domains x shards)- and domains-sized; checkpoint so the MW steps
        # below never re-trigger the corpus scan.
        loss = loss.localCheckpoint(eager=True)
        domains = caches.result(domains)

    # The MW trajectory runs on the PIVOTED domains-sized frame with
    # whole-frame window aggregates instead of the former per-step
    # (join + 1-row aggregate + broadcast crossJoin) x2 chain: the shard
    # losses pivot wide ONCE, and each step's two scalars (shard mean,
    # weight normalizer) are integer SUM/COUNT windows OVER () — exact
    # BIGINT sums, so the trajectory is unchanged bit for bit while the
    # executed plan collapses from ~5 stages per step (broadcast builds
    # included) to one single-partition exchange + a stacked window
    # chain (r13 optimization; guide §2.4 — two operations keyed the
    # same way share one exchange, here ALL steps share one).  The
    # frame is domains-sized (thousands at worst), so the single
    # partition IS the scale shape, exactly like the former 1-row
    # broadcast-scalar crosses it replaces.
    x = (
        domains.join(loss, "lang", "left")
        .groupBy("lang")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("shard") == t, F.col("l"))), fb
                )
                .cast("long")
                .alias(f"loss_s{t}")
                for t in range(_DRO_SHARDS)
            ]
        )
        .withColumn("w", F.lit(1000000).cast("long"))
    )
    for t in range(_DRO_SHARDS):
        x = (
            x.withColumn(
                "lbar",
                F.expr(
                    f"SUM(loss_s{t}) OVER () DIV COUNT(1) OVER ()"
                ).cast("long"),
            )
            .withColumn(
                "u",
                F.expr(
                    f"w * GREATEST(1000 + (loss_s{t} - lbar) DIV {_DRO_ETA_DIV}, 1)"
                ),
            )
            .withColumn(
                "w",
                F.expr("(u * 1000000) DIV (SUM(u) OVER ())").cast("long"),
            )
            .drop("lbar", "u")
        )
    return x.select(
        "lang",
        *[f"loss_s{t}" for t in range(_DRO_SHARDS)],
        F.col("w").alias("weight_ppm"),
    )


@query(
    "exact_substring_spans",
    oracle="""
WITH pos AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(substr(text, CAST(i AS INT), 64)) AS h
  FROM documents, UNNEST(generate_series(1, len(text)-63)) AS u(i)
  WHERE len(text) >= 64
),
dup AS (SELECT h FROM pos GROUP BY h HAVING COUNT(*) >= 2),
dpos AS (SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (h)),
runs AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dpos
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 64 - MIN(pos) AS BIGINT) AS span_len
FROM runs GROUP BY doc_id, grp
ORDER BY span_len DESC, doc_id, span_start
LIMIT 200
""",
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring dedup, suffix-array grade (Lee et al.
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): every maximal span of length >= 64 whose every
    64-char window recurs somewhere in the corpus (>= 2 total
    occurrences, within- OR cross-document — the ExactSubstr counting
    rule), with EXACT span boundaries.  This completes the family next
    to substring_span_dedup: the anchor method detects a duplicated
    region only with probability 1 - (15/16)^(L-63) (a region of
    length exactly 64 is missed 15/16 of the time — pinned by test);
    this operator is deterministic — EVERY position is tabulated, so
    no duplicated span of length >= 64 can escape, and run-length
    merging recovers the same maximal-match boundaries a suffix array
    yields without constructing one.

    The Spark-shaped construction replaces the suffix array with its
    relational equivalent: the sorted k-gram table.  (1) tabulate all
    64-gram hashes with their (doc, pos); (2) one hash-partitioned
    window count marks every k-gram that occurs >= 2 times (this IS
    the "sort the suffixes, read equal runs" step — equality of
    64-grams needs no lexicographic neighbors); (3) per-doc
    gaps-and-islands over the surviving positions merges consecutive
    duplicated windows into maximal spans with exact [start, start +
    len) boundaries.  Top-200 by (span_len, doc_id, span_start) — a
    deterministic total order, (doc_id, span_start) is unique per run.

    Scale shape: the exploded stream is (doc_id, pos, 16-byte hash) —
    ~1 row per corpus character, linear, raw text never shuffles.
    Exactly TWO exchanges, both linear: hash-partition by h for the
    occurrence count (map-side nothing to combine — window, not join:
    the group-then-join-back form would shuffle the table twice and
    build a hash table of dup keys; the window reads the count off the
    sorted run it already has), then by doc_id for the island merge.
    At 100 TB this is the documented Lee-et-al distributed shape (their
    suffix-array shards ARE sorted k-gram ranges); the 64-byte window
    can widen to the tokenizer's 50-token span without changing the
    plan.  The top-k heap is TakeOrderedAndProject; a removal pass
    would instead keep every span and anti-join against training text.

    spread(): the documents fixture scans as one split; the per-row
    transform computes ~len(text) md5s (the dominant map cost), see
    catalog.spread."""
    pos = (
        spread(load_table(spark, sf_dir, "documents"))
        .where(F.length("text") >= 64)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 63),"
                    " i -> struct(CAST(i AS BIGINT) AS pos,"
                    "             md5(substring(text, i, 64)) AS h))"
                )
            ).alias("ph"),
        )
        .select("doc_id", F.col("ph.pos").alias("pos"), F.col("ph.h").alias("h"))
    )
    dup_pos = pos.withColumn(
        "n_occ", F.count(F.lit(1)).over(W.partitionBy("h"))
    ).where(F.col("n_occ") >= 2)
    grp = (
        F.col("pos")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
    ).alias("grp")
    spans = (
        dup_pos.select("doc_id", "pos", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + 64 - F.min("pos")).cast("long").alias("span_len"),
        )
        .select("doc_id", "span_start", "span_len")
    )
    return spans.orderBy(
        F.desc("span_len"), F.asc("doc_id"), F.asc("span_start")
    ).limit(200)


_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


@query(
    "gopher_quality_rules",
    oracle="""
WITH d AS (
  SELECT lang, string_split(trim(text), ' ') AS tk, text
  FROM documents
),
f AS (
  SELECT lang,
         len(tk) AS n_words,
         list_aggregate(list_transform(tk, w -> len(w)), 'sum') AS sum_len,
         len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         (len(text) - len(replace(text, '#', '')))
           + (len(text) - len(replace(text, '...', ''))) // 3 AS n_sym,
         len(list_intersect(list_distinct(tk),
             ['the','be','to','of','and','that','have','with'])) AS n_stop
  FROM d
),
r AS (
  SELECT lang,
         CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END AS f_wc,
         CASE WHEN 3 * n_words <= sum_len AND sum_len <= 10 * n_words
              THEN 0 ELSE 1 END AS f_mwl,
         CASE WHEN 10 * n_sym <= n_words THEN 0 ELSE 1 END AS f_sym,
         CASE WHEN 5 * n_alpha >= 4 * n_words THEN 0 ELSE 1 END AS f_alpha,
         CASE WHEN n_stop >= 2 THEN 0 ELSE 1 END AS f_stop
  FROM f
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f_wc) AS BIGINT) AS fail_word_count,
       CAST(SUM(f_mwl) AS BIGINT) AS fail_mean_word_len,
       CAST(SUM(f_sym) AS BIGINT) AS fail_symbol_ratio,
       CAST(SUM(f_alpha) AS BIGINT) AS fail_alpha_fraction,
       CAST(SUM(f_stop) AS BIGINT) AS fail_stopwords,
       CAST(SUM(CASE WHEN f_wc + f_mwl + f_sym + f_alpha + f_stop = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
FROM r GROUP BY lang
""",
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule-set audit (Rae et al. 2021, Appendix A — the
    rule family FineWeb/RefinedWeb/MassiveText-style pipelines run
    before any model-based filter): per language, how many documents
    fail each structural rule and how many survive all five.

    Rules, in their integer-exact cross-engine form (every threshold is
    a cross-multiplied integer comparison — no float division anywhere,
    the registry's hash-portability discipline):
      * word count in [50, 100000]
      * mean word length in [3, 10]  (3n <= L <= 10n)
      * symbol-to-word ratio <= 0.1  ('#' + '...' occurrences)
      * >= 80% of words contain an alphabetic character
      * >= 2 distinct Gopher stop words present

    This differs from text_quality_score (a composite score) and
    classifier_quality_filter (a learned threshold): it is the
    RULE-LEVEL audit table an operator reads to see WHICH rule is
    biting a corpus before tuning it.

    Scale shape: strictly map-side per-document flag computation (one
    higher-order-function projection over the token array — no explode,
    the token stream never becomes rows) followed by ONE lang-keyed
    hash aggregation with map-side partials.  At 100 TB this is a scan
    whose cost is tokenization, which the pipeline pays anyway."""
    toks = F.split(F.trim(F.col("text")), " ")
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_alpha = F.size(
        F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    n_sym = (
        (F.length("text") - F.length(F.regexp_replace("text", "#", "")))
        + F.floor(
            (F.length("text") - F.length(F.regexp_replace("text", r"\.\.\.", "")))
            / 3
        )
    ).cast("long")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in _GOPHER_STOPS]),
        )
    ).cast("long")
    flags = spread(load_table(spark, sf_dir, "documents")).select(
        "lang",
        F.when(n_words.between(50, 100000), 0).otherwise(1).alias("f_wc"),
        F.when((3 * n_words <= sum_len) & (sum_len <= 10 * n_words), 0)
        .otherwise(1)
        .alias("f_mwl"),
        F.when(10 * n_sym <= n_words, 0).otherwise(1).alias("f_sym"),
        F.when(5 * n_alpha >= 4 * n_words, 0).otherwise(1).alias("f_alpha"),
        F.when(n_stop >= 2, 0).otherwise(1).alias("f_stop"),
    )
    return flags.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("f_wc").cast("long").alias("fail_word_count"),
        F.sum("f_mwl").cast("long").alias("fail_mean_word_len"),
        F.sum("f_sym").cast("long").alias("fail_symbol_ratio"),
        F.sum("f_alpha").cast("long").alias("fail_alpha_fraction"),
        F.sum("f_stop").cast("long").alias("fail_stopwords"),
        F.sum(
            F.when(
                F.col("f_wc")
                + F.col("f_mwl")
                + F.col("f_sym")
                + F.col("f_alpha")
                + F.col("f_stop")
                == 0,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("pass_all"),
    )


@query(
    "exact_substring_removal_stats",
    oracle="""
WITH pos AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(substr(text, CAST(i AS INT), 64)) AS h
  FROM documents, UNNEST(generate_series(1, len(text)-63)) AS u(i)
  WHERE len(text) >= 64
),
dup AS (SELECT h FROM pos GROUP BY h HAVING COUNT(*) >= 2),
dpos AS (SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (h)),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= 63 THEN 0 ELSE 1 END AS new_grp
  FROM dpos
),
grp AS (
  SELECT doc_id, pos,
         SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
),
spans AS (
  SELECT doc_id, MAX(pos) + 63 - MIN(pos) + 1 AS cut_len
  FROM grp GROUP BY doc_id, g
),
per_doc AS (
  SELECT doc_id, CAST(SUM(cut_len) AS BIGINT) AS chars_cut,
         CAST(COUNT(*) AS BIGINT) AS n_spans
  FROM spans GROUP BY doc_id
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(p.doc_id) AS BIGINT) AS docs_affected,
       CAST(SUM(len(d.text)) AS BIGINT) AS chars_total,
       CAST(COALESCE(SUM(p.chars_cut), 0) AS BIGINT) AS chars_removed,
       CAST(COALESCE(SUM(p.n_spans), 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(SUM(p.chars_cut), 0) * 1000000
            // SUM(len(d.text)) AS BIGINT) AS removed_ppm
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
GROUP BY d.lang
""",
)
def exact_substring_removal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of Lee et al. ExactSubstr (exact_substring_spans
    is the detection half): per language, how many characters a cut
    pass would delete, over how many spans and documents — the budget
    number a training-data owner reads before approving the cut.

    Differs from the detection query in one load-bearing way: islands
    merge on CHARACTER overlap (gap <= 63 between consecutive
    duplicated window positions), not position adjacency — two
    duplicated windows whose 64-char extents overlap must count their
    union once, or chars_removed double-counts and the reported budget
    lies.  With the 63-gap rule the merged spans are provably disjoint
    in character space, so SUM(span length) IS the exact removal size
    (removed_ppm is an exact integer division, hash-portable).

    Scale shape: identical linear two-exchange tabulation as
    exact_substring_spans (hash-window count, per-doc islands), plus
    one doc-keyed join of per-doc cut totals back to the (lang,
    n_chars) projection and a lang-keyed final agg.  Raw text still
    never shuffles; the join carries two integers per affected doc."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pos = (
        docs.where(F.length("text") >= 64)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 63),"
                    " i -> struct(CAST(i AS BIGINT) AS pos,"
                    "             md5(substring(text, i, 64)) AS h))"
                )
            ).alias("ph"),
        )
        .select("doc_id", F.col("ph.pos").alias("pos"), F.col("ph.h").alias("h"))
    )
    dup_pos = pos.withColumn(
        "n_occ", F.count(F.lit(1)).over(W.partitionBy("h"))
    ).where(F.col("n_occ") >= 2)
    ow = W.partitionBy("doc_id").orderBy("pos")
    marked = dup_pos.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(ow) <= 63, 0)
        .otherwise(1)
        .alias("new_grp"),
    )
    grp = marked.withColumn(
        "g",
        F.sum("new_grp").over(ow.rowsBetween(W.unboundedPreceding, 0)),
    )
    spans = grp.groupBy("doc_id", "g").agg(
        (F.max("pos") + 63 - F.min("pos") + 1).alias("cut_len")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("cut_len").cast("long").alias("chars_cut"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    joined = docs.select("doc_id", "lang", F.length("text").alias("nc")).join(
        per_doc, "doc_id", "left"
    )
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("chars_cut").cast("long").alias("docs_affected"),
        F.sum("nc").cast("long").alias("chars_total"),
        F.coalesce(F.sum("chars_cut"), F.lit(0)).cast("long").alias(
            "chars_removed"
        ),
        F.coalesce(F.sum("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.call_function(
            "div",
            F.coalesce(F.sum("chars_cut"), F.lit(0)) * 1000000,
            F.sum("nc"),
        )
        .cast("long")
        .alias("removed_ppm"),
    )


def _ngram_lang_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n, g) gram stream for n in {1, 2, 3} in ONE corpus scan —
    shared by the three distinct-n queries (r14, guide §2.4/§1.2: the
    per-n branch form scanned + re-tokenized the documents table three
    times and ran three (lang)-keyed aggregations; tagging each gram
    with its n and grouping by (lang, n) does the identical arithmetic
    over one scan and one exchange of the same gram bytes).  Row set is
    the exact union of the three per-n gram streams, so every consumer's
    aggregate is unchanged value-for-value (A/B: rows EQUAL, warm
    4.4 -> 2.4 s on the approx variant)."""
    toks = spread(load_table(spark, sf_dir, "documents")).select(
        "lang", F.split(F.trim(F.col("text")), " ").alias("tk")
    )
    return toks.select(
        "lang",
        F.explode(
            F.expr(
                "flatten(transform(array(1, 2, 3), n -> "
                "IF(size(tk) >= n,"
                " transform(sequence(1, size(tk) - n + 1),"
                "  i -> struct(CAST(n AS BIGINT) AS n,"
                "              array_join(slice(tk, i, n), ' ') AS g)),"
                " CAST(array() AS array<struct<n: BIGINT, g: STRING>>))))"
            )
        ).alias("s"),
    ).select("lang", F.col("s.n").alias("n"), F.col("s.g").alias("g"))


@query(
    "distinct_ngram_diversity",
    oracle="""
WITH toks AS (
  SELECT lang, doc_id, string_split(trim(text), ' ') AS tk FROM documents
)
"""
    + "\nUNION ALL\n".join(
        f"""
SELECT lang, CAST({n} AS BIGINT) AS n,
       CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(DISTINCT g) * 1000000 // COUNT(*) AS BIGINT)
         AS distinct_ppm
FROM (
  SELECT lang, array_to_string(tk[i:i+{n - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, len(tk) - {n - 2})) AS u(i)
  WHERE len(tk) >= {n}
)
GROUP BY lang
"""
        for n in (1, 2, 3)
    ),
)
def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity (Li et al. 2016 — the standard text-corpus /
    generation-diversity metric, and the degenerate-repetition canary a
    curation pipeline tracks release over release): per language and n
    in {1, 2, 3}, the distinct n-gram count, total n-gram count, and
    their ratio in exact ppm.  Collapsing distinct-2/3 is how template
    spam and decoding loops show up at corpus level before any model
    sees the data.

    Scale shape: one explode of the token stream per n (the n-gram
    stream is the data — ~|tokens| rows of short strings), each
    aggregated by (lang) with COUNT(DISTINCT g) — Spark plans the
    distinct as a two-phase partial/final expand over the (lang, g)
    exchange, map-side-combining duplicate grams before the shuffle.
    At 100 TB the exact distinct swaps for approx_count_distinct — the
    swap is REGISTERED as distinct_ngram_diversity_approx (sketch
    contract pinned via within_5pct); the exact form here is what a
    value hash can pin directly."""
    return (
        _ngram_lang_grams(spark, sf_dir)
        .groupBy("lang", "n")
        .agg(
            F.count_distinct("g").cast("long").alias("n_distinct"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.call_function(
                "div", F.count_distinct("g") * 1000000, F.count(F.lit(1))
            )
            .cast("long")
            .alias("distinct_ppm"),
        )
        .select("lang", "n", "n_distinct", "n_total", "distinct_ppm")
    )


@query(
    "distinct_ngram_diversity_approx",
    oracle="""
WITH toks AS (
  SELECT lang, doc_id, string_split(trim(text), ' ') AS tk FROM documents
)
"""
    + "\nUNION ALL\n".join(
        f"""
SELECT lang, CAST({n} AS BIGINT) AS n,
       CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       TRUE AS within_5pct
FROM (
  SELECT lang, array_to_string(tk[i:i+{n - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, len(tk) - {n - 2})) AS u(i)
  WHERE len(tk) >= {n}
)
GROUP BY lang
"""
        for n in (1, 2, 3)
    ),
)
def distinct_ngram_diversity_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB production form of distinct_ngram_diversity: the
    distinct-gram count comes from HyperLogLog++
    (``approx_count_distinct``, rsd=0.02) instead of the exact
    two-phase COUNT DISTINCT.  The exact form's 300x scale cell is
    ~44x (the (lang, g) exchange carries every distinct gram); the
    sketch version partially aggregates map-side into a constant-size
    register set per (lang, n), so the exchange is one sketch per
    partition per group regardless of vocabulary size — the swap the
    exact query's docstring names.

    The raw HLL estimate is engine-specific and cannot be
    hash-compared, so the driver hash pins the sketch's CONTRACT
    instead (the approx_distinct_users pattern): ``within_5pct``
    audits the estimate against the exact count in-query and the
    oracle pins it to literal TRUE — a 2.5x-rsd envelope, pinned
    empirically for the committed fixtures (see the sketch-envelope
    NOTE in plans/advanced.py).  The exact column rides along here
    only for the audit; the production job drops it and keeps the
    sketch path alone."""
    return (
        _ngram_lang_grams(spark, sf_dir)
        .groupBy("lang", "n")
        .agg(
            F.approx_count_distinct("g", rsd=0.02).alias("approx_distinct"),
            F.count_distinct("g").cast("long").alias("n_distinct"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
        .select(
            "lang",
            "n",
            "n_distinct",
            "n_total",
            (
                F.abs(F.col("approx_distinct") - F.col("n_distinct")) * 100
                <= F.col("n_distinct") * 5
            ).alias("within_5pct"),
        )
    )


@query(
    "distinct_ngram_approx_pure",
    oracle="""
WITH toks AS (
  SELECT lang, doc_id, string_split(trim(text), ' ') AS tk FROM documents
)
"""
    + "\nUNION ALL\n".join(
        f"""
SELECT lang, CAST({n} AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       TRUE AS estimate_in_bounds
FROM (
  SELECT lang, array_to_string(tk[i:i+{n - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, len(tk) - {n - 2})) AS u(i)
  WHERE len(tk) >= {n}
)
GROUP BY lang
"""
        for n in (1, 2, 3)
    ),
)
def distinct_ngram_approx_pure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PURE production form of the distinct-n sketch — what a
    100 TB job actually runs: ``approx_count_distinct`` alone, with NO
    exact COUNT DISTINCT anywhere in the plan (the registered
    contract-validation form, distinct_ngram_diversity_approx, carries
    the exact audit column, so its scale cell pays for BOTH paths —
    50.6x at 300x vs 17.9x for this one).  Registered per the r12
    verdict so the plan a user deploys carries a driver witness of its
    own, not just a scale cell.

    Oracle contract: the raw HLL estimate is engine-specific and
    cannot be hash-compared, and this form deliberately has no exact
    count to audit against — so the hash pins everything DETERMINISTIC
    in the pure plan (lang, n, and the exact total-gram count, which
    is a plain COUNT, not a distinct) plus ``estimate_in_bounds``, the
    envelope derivable without an exact distinct: 1 <= estimate <=
    1.05 * n_total, in integer arithmetic.  The tight 5%-of-exact
    contract remains pinned by distinct_ngram_diversity_approx; this
    witness proves the production plan itself runs, groups, and
    totals correctly with the sketch as the only distinct machinery.

    Scale shape: identical gram explode as the exact form, but the
    (lang) aggregation carries ONE constant-size HLL register set per
    group per partition — map-side combined, merge-only exchange,
    no per-gram shuffle at any corpus size."""
    return (
        _ngram_lang_grams(spark, sf_dir)
        .groupBy("lang", "n")
        .agg(
            F.approx_count_distinct("g", rsd=0.02).alias("approx_distinct"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
        .select(
            "lang",
            "n",
            "n_total",
            (
                (F.col("approx_distinct") >= 1)
                & (F.col("approx_distinct") * 20 <= F.col("n_total") * 21)
            ).alias("estimate_in_bounds"),
        )
    )


# ---------------------------------------------------------------------------
# IPF / raking: calibrate corpus weights to target marginals
# ---------------------------------------------------------------------------

_IPF_ROUNDS = 3
_IPF_BUCKETS = 5


def _ipf_oracle(n_rounds: int = _IPF_ROUNDS) -> str:
    b = _IPF_BUCKETS
    ctes = [
        f"""c AS MATERIALIZED (
  SELECT lang,
         CAST(LEAST(length(text) // 200, {b - 1}) AS BIGINT) AS bkt,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1, 2
),
nn AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
              CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_lang,
              CAST(COUNT(DISTINCT bkt) AS BIGINT) AS n_bkt FROM c),
w0 AS (SELECT lang, bkt, n_docs, n_docs * 1000000 AS w FROM c)"""
    ]
    prev = "w0"
    for r in range(1, n_rounds + 1):
        for axis, key, ng in (("r", "lang", "n_lang"), ("c", "bkt", "n_bkt")):
            cur = f"w{r}{axis}"
            ctes.append(
                f"""{cur} AS (
  SELECT lang, bkt, n_docs,
         CAST(FLOOR(CAST(w AS DOUBLE)
           * (((CAST(nn.n AS DOUBLE) * 1000000.0) / CAST(nn.{ng} AS DOUBLE))
              / CAST(SUM(w) OVER (PARTITION BY {key}) AS DOUBLE)))
           AS BIGINT) AS w
  FROM {prev} CROSS JOIN nn
)"""
            )
            prev = cur
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT lang, bkt, n_docs, w AS w_micro FROM {prev}
"""
    )


@query("ipf_raking_weights", oracle=_ipf_oracle())
def ipf_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking / Deming-Stephan) — the
    survey-statistics calibration a training-data pipeline uses to
    reweight a corpus so its (language x length-bucket) cell weights
    hit TARGET marginals (uniform over the OCCUPIED groups of each
    axis — FEASIBLE targets whose totals agree, the Deming-Stephan
    convergence condition; an infeasible pair makes IPF oscillate
    forever) on both axes simultaneously,
    without disturbing the cells' interaction structure — the 2-D
    completion of mixture_rebalance_plan's 1-D reweighting:
    {_IPF_ROUNDS} rounds of alternating row-scale / column-scale.

    Hash portability without ordered folds: cell weights are
    REQUANTIZED to BIGINT micro-units after every half-round, so every
    marginal sum is an exact integer SUM (order-independent — no
    Kahan/fold-order question ever arises), and each scaling is one
    correctly-rounded double ratio times one double cast, floored
    back.  The kmeans integer-stat discipline applied to a fixed-point
    calibration loop.

    Scale shape: ONE corpus exchange builds the contingency table; the
    table itself is |langs| x |buckets| = 25 cells, so all
    {_IPF_ROUNDS * 2} scaling passes are window ops over 25 rows —
    metadata-sized however large the corpus.  At 100 TB with
    fine-grained cells (domain x source x quality decile), the same
    plan holds while cells stay << corpus."""
    b = _IPF_BUCKETS
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy(
        "lang",
        F.least(
            F.call_function("div", F.length("text"), F.lit(200)),
            F.lit(b - 1),
        )
        .cast("long")
        .alias("bkt"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    nn = c.groupBy().agg(
        F.sum("n_docs").cast("long").alias("n"),
        F.count_distinct("lang").cast("long").alias("n_lang"),
        F.count_distinct("bkt").cast("long").alias("n_bkt"),
    )
    w = c.crossJoin(F.broadcast(nn)).select(
        "lang", "bkt", "n_docs", "n", "n_lang", "n_bkt",
        (F.col("n_docs") * 1000000).alias("w"),
    )
    for _ in range(_IPF_ROUNDS):
        for key, ng in (("lang", "n_lang"), ("bkt", "n_bkt")):
            marg = W.partitionBy(key)
            ratio = (
                (F.col("n").cast("double") * F.lit(1000000.0))
                / F.col(ng).cast("double")
            ) / F.sum("w").over(marg).cast("double")
            w = w.select(
                "lang",
                "bkt",
                "n_docs",
                "n",
                "n_lang",
                "n_bkt",
                F.floor(F.col("w").cast("double") * ratio)
                .cast("long")
                .alias("w"),
            )
    return w.select("lang", "bkt", "n_docs", F.col("w").alias("w_micro"))
