"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal column plumbing (the north-star additions; BASELINE.json:6).

Every query here has a full DuckDB oracle: the dedup/similarity operators
are built on portable md5-based hashing and deterministic bucketing
(see operators/dedup.py, operators/similarity.py), so even MinHash-LSH and
SimHash — usually "rows-only" territory — are value-hash-checked against
the oracle.

The dedup corpus is the documents table augmented with deterministic
perturbed copies (every 10th doc, first token dropped, id+1000000) so the
near-dup operators have real positives to find at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.caches import Caches
from odni_apache_beam_consumer_spark.catalog import load_table
from odni_apache_beam_consumer_spark.operators import dedup as D
from odni_apache_beam_consumer_spark.operators import multimodal as M
from odni_apache_beam_consumer_spark.operators import sampling as SMP
from odni_apache_beam_consumer_spark.operators import similarity as S
from odni_apache_beam_consumer_spark.operators.text_ops import (
    LANG_MARKERS,
    STOPWORDS,
    marker_count,
    stopword_count,
    with_tokens,
)
from odni_apache_beam_consumer_spark.plans.registry import query

# Deterministic near-dup injection (same expression on both sides).
_CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, '^[^ ]+ ', '') AS text
  FROM documents WHERE doc_id % 10 = 0
)
"""


def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ perturbed copies of every 10th doc (near-dup positives)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = (
        d.where(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.regexp_replace("text", r"^[^ ]+ ", "").alias("text"),
        )
    )
    return d.unionByName(perturbed)


# Stored random projections shared by the Spark plans and the DuckDB
# oracles (same decimal literals -> identical doubles -> identical
# buckets). Used by both the ANN top-k query and embedding near-dup.
_ANN_PLANES = S.random_hyperplanes(nbits=8, dim=64, seed=42)
_ANN_NBITS = len(_ANN_PLANES)


def _duck_projection_bucket(planes: list[list[float]]) -> str:
    parts = [
        "CASE WHEN list_dot_product(vec, ["
        + ", ".join(f"CAST({v} AS DOUBLE)" for v in plane)
        + "]) >= 0 THEN '1' ELSE '0' END"
        for plane in planes
    ]
    return "concat(" + ", ".join(parts) + ")"


def _duck_probe_flip(nbits: int) -> str:
    """DuckDB expr: bucket with bit p flipped (p=0 -> home bucket)."""
    return (
        "CASE WHEN p = 0 THEN bucket "
        "ELSE substr(bucket, 1, p - 1) || "
        "(CASE WHEN substr(bucket, p, 1) = '1' THEN '0' ELSE '1' END) || "
        f"substr(bucket, p + 1, {nbits} - p) END"
    )


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
WITH {_CORPUS_CTE},
dup AS (SELECT doc_id, text FROM corpus UNION ALL SELECT doc_id + 2000000, text FROM corpus)
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM dup GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash aggregation (map-side partial agg: one
    row per distinct hash per executor — the optimal 100 TB shape).

    Input is the corpus unioned with a full copy of itself, so every group
    has >= 2 members and the keep-min-id policy is actually exercised.
    """
    c = dedup_corpus(spark, sf_dir)
    dup = c.unionByName(c.select((F.col("doc_id") + 2000000).alias("doc_id"), "text"))
    return D.exact_dedup_groups(dup)


@query(
    "dedup_minhash",
    oracle=f"""
WITH {_CORPUS_CTE},
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 3
),
mh AS (
  SELECT doc_id, h, MIN(md5(shingle || '#' || CAST(h AS VARCHAR))) AS minhash
  FROM sh, UNNEST(range(0, 12)) AS hu(h)
  GROUP BY doc_id, h
),
bands AS (
  SELECT doc_id, h // 3 AS band, STRING_AGG(minhash, '|' ORDER BY h) AS sig
  FROM mh GROUP BY doc_id, h // 3
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
""",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs (3-word shingles,
    12 hashes, 4 bands x 3 rows). See operators/dedup.py for the shuffle
    shape; the band self-join key includes the full band signature so
    buckets stay tiny and skew-safe."""
    return D.minhash_lsh_pairs(
        dedup_corpus(spark, sf_dir), Caches(), shingle_words=3, num_hashes=12, rows_per_band=3
    )


@query(
    "dedup_simhash",
    oracle=f"""
WITH {_CORPUS_CTE},
toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM corpus),
votes AS (
  SELECT doc_id, b,
         SUM(CASE WHEN CAST(floor({SMP.hex_digits("md5(tok)", "1 + b // 4", 1, "duckdb")} /
                    (CASE b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END))
                  AS INT) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM toks, UNNEST(range(0, 64)) AS bu(b)
  GROUP BY doc_id, b
),
sig AS (
  SELECT doc_id,
         STRING_AGG(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
  FROM votes GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, simhash, blk, substr(simhash, 1 + blk * 16, 16) AS blk_sig
  FROM sig, UNNEST(range(0, 4)) AS ku(blk)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.blk_sig = b.blk_sig AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(list_sum(list_transform(range(1, 65),
            i -> CASE WHEN sig_a[i:i] = sig_b[i:i] THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
FROM cand
WHERE list_sum(list_transform(range(1, 65),
      i -> CASE WHEN sig_a[i:i] = sig_b[i:i] THEN 0 ELSE 1 END)) <= 8
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signatures, 4x16-bit block candidate
    generation (pigeonhole), exact Hamming <= 8 filter."""
    return D.simhash_pairs(dedup_corpus(spark, sf_dir), Caches(), max_hamming=8, n_blocks=4)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_CORPUS_CTE},
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(tk) - 3)) AS u(i)
  WHERE len(tk) >= 5
),
sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(c * 1000000 // (sa.nsh + sb.nsh - c) AS BIGINT) / 1000000.0 AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(c * 1000000 // (sa.nsh + sb.nsh - c) AS BIGINT) / 1000000.0 >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-5-gram Jaccard >= 0.5 via inverted-index self-join."""
    return D.ngram_jaccard_pairs(
        dedup_corpus(spark, sf_dir), Caches(), shingle_words=5, threshold=0.5
    )


@query(
    "dedup_jaccard_capped",
    oracle=f"""
WITH {_CORPUS_CTE},
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(tk) - 3)) AS u(i)
  WHERE len(tk) >= 5
),
sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 2),
sh2 AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(c * 1000000 // (sa.nsh + sb.nsh - c) AS BIGINT) / 1000000.0 AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(c * 1000000 // (sa.nsh + sb.nsh - c) AS BIGINT) / 1000000.0 >= 0.5
""",
)
def dedup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard dedup with the boilerplate killer on: shingles appearing in
    more than 2 documents are dropped from candidate generation (per-doc
    sizes keep the full shingle sets), bounding every inverted-index group
    — the guard that keeps one hot header shingle from generating O(m^2)
    pairs at 100 TB."""
    return D.ngram_jaccard_pairs(
        dedup_corpus(spark, sf_dir), Caches(), shingle_words=5, threshold=0.5, max_doc_freq=2
    )


_EMB_DEDUP_THRESHOLD = 0.9

# Deterministic near-dup injection for embeddings: the raw table is
# uniform-random vectors (exact all-pairs max cosine < 0.7 at sf0.01), so
# without positives the near-dup query is vacuously empty.  Every 10th
# vector gets a copy (vec_id + 1000000) with component 1 shifted by +0.3
# IN DOUBLE on both engines — cosine(original, copy) ≈ 0.999, a real
# positive at every scale factor.  Same pattern as _CORPUS_CTE for text.
_EMB_CORPUS_CTE = """
v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
embcorpus AS (
  SELECT vec_id, vec FROM v0
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_concat([vec[1] + CAST(0.3 AS DOUBLE)], vec[2:64]) AS vec
  FROM v0 WHERE vec_id % 10 = 0
)
"""


def emb_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ perturbed copies of every 10th vector (near-dup
    positives; columns vec_id, embedding as array<double>)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    perturbed = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "concat(array(element_at(embedding, 1) + CAST(0.3 AS DOUBLE)), "
            "slice(embedding, 2, 63))"
        ).alias("embedding"),
    )
    return e.unionByName(perturbed)


def _emb_dedup_oracle() -> str:
    return f"""
WITH {_EMB_CORPUS_CTE.strip()},
v AS (
  SELECT vec_id, vec, list_dot_product(vec, vec) AS dd FROM embcorpus
),
b AS (SELECT vec_id, vec, dd, {_duck_projection_bucket(_ANN_PLANES)} AS bucket FROM v),
probes AS (
  SELECT vec_id, vec, dd, {_duck_probe_flip(_ANN_NBITS)} AS bucket
  FROM b, UNNEST(range(0, {_ANN_NBITS + 1})) AS pu(p)
)
SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       ROUND(list_dot_product(a.vec, c.vec) / (sqrt(a.dd) * sqrt(c.dd)), 6) AS cosine
FROM probes a JOIN b c ON c.bucket = a.bucket AND a.vec_id < c.vec_id
WHERE ROUND(list_dot_product(a.vec, c.vec) / (sqrt(a.dd) * sqrt(c.dd)), 6)
      >= {_EMB_DEDUP_THRESHOLD}
"""


@query("dedup_embedding_cosine", oracle=_emb_dedup_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: stored-random-projection LSH buckets
    (8 seeded Gaussian hyperplanes, literal-embedded on both engines) with
    Hamming-1 multi-probe candidates + cosine >= 0.9, over the positive-
    injected corpus.  Replaces the old component-sign bucketing, whose
    recall collapses on real embeddings (a near-dup pair straddling one
    axis landed in different buckets and was silently missed) — and which
    was only ever hash-"passing" vacuously, on zero rows.  Recall vs the
    exact all-pairs operator is asserted in
    tests/test_operators.py::test_embedding_near_dup_recall."""
    return S.embedding_near_dup_pairs(
        emb_dedup_corpus(spark, sf_dir),
        threshold=_EMB_DEDUP_THRESHOLD,
        planes=_ANN_PLANES,
        multiprobe=True,
    )


@query(
    "dedup_resolve_components",
    oracle=f"""
WITH RECURSIVE {_CORPUS_CTE},
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 3
),
mh AS (
  SELECT doc_id, h, MIN(md5(shingle || '#' || CAST(h AS VARCHAR))) AS minhash
  FROM sh, UNNEST(range(0, 12)) AS hu(h)
  GROUP BY doc_id, h
),
bands AS (
  SELECT doc_id, h // 3 AS band, STRING_AGG(minhash, '|' ORDER BY h) AS sig
  FROM mh GROUP BY doc_id, h // 3
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
resolved AS (SELECT id AS doc_id, MIN(lbl) AS keep FROM reach GROUP BY id)
SELECT doc_id, keep FROM resolved
UNION ALL
SELECT doc_id, doc_id AS keep FROM corpus
WHERE doc_id NOT IN (SELECT doc_id FROM resolved)
""",
)
def dedup_resolve_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup RESOLUTION: MinHash/LSH candidate pairs ->
    connected components (iterative min-label propagation,
    operators/dedup.py::connected_components) -> one canonical doc per
    cluster, singletons kept.

    The oracle expresses the fixpoint as a DuckDB RECURSIVE CTE
    (transitive closure then min reachable label) — exact at test scale,
    while the Spark side's bounded-round label propagation is the
    100 TB-shaped form; min-label == min-reachable-id makes the two
    provably equal on converged graphs, so this query gets a full
    value-hash check, not the rows-only fallback.  Transitivity/
    canonicality properties are additionally asserted in
    tests/test_operators.py."""
    corpus = dedup_corpus(spark, sf_dir)
    with Caches() as caches:
        pairs = D.minhash_lsh_pairs(corpus, caches, shingle_words=3, num_hashes=12, rows_per_band=3)
        return D.resolve_duplicates(corpus, pairs)


@query(
    "dedup_components_star",
    oracle=f"""
WITH RECURSIVE {_CORPUS_CTE},
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 3
),
mh AS (
  SELECT doc_id, h, MIN(md5(shingle || '#' || CAST(h AS VARCHAR))) AS minhash
  FROM sh, UNNEST(range(0, 12)) AS hu(h)
  GROUP BY doc_id, h
),
bands AS (
  SELECT doc_id, h // 3 AS band, STRING_AGG(minhash, '|' ORDER BY h) AS sig
  FROM mh GROUP BY doc_id, h // 3
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, MIN(lbl) AS component FROM reach GROUP BY id
""",
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash/LSH near-dup graph via
    alternating large-star / small-star contraction (Kiveris et al.,
    SoCC'14; operators/dedup.py::connected_components_star) — the
    O(log n)-ROUND algorithm, vs the diameter-bounded min-label
    propagation behind ``dedup_resolve_components``.  Same cluster
    answer, different iteration structure: at 100 TB, components with
    long chains (forum threads quoting each other, boilerplate families)
    make diameter the binding constraint, and star contraction cuts the
    number of shuffling rounds from O(d) to O(log d).

    The oracle is the exact transitive-closure fixpoint as a DuckDB
    RECURSIVE CTE (min reachable id per node), so this is a full
    value-hash check of an iterative distributed algorithm; agreement
    with the propagation variant is additionally asserted in
    tests/test_operators.py.

    Scale shape: per round two hash aggregations (per-node minimum) and
    two re-keyed edge projections — keyed shuffles on vertex id, edge set
    never grows beyond the input, each round checkpointed by
    ``caches.iterate``, so the pair caches are released on return."""
    corpus = dedup_corpus(spark, sf_dir)
    with Caches() as caches:
        pairs = D.minhash_lsh_pairs(corpus, caches, shingle_words=3, num_hashes=12, rows_per_band=3)
        return D.connected_components_star(pairs)


@query(
    "train_test_split",
    oracle=f"""
SELECT doc_id,
       CAST({SMP.duck_bucket_sql("doc_id")} AS INT) AS bucket,
       CASE WHEN {SMP.duck_bucket_sql("doc_id")} < 205 THEN 'train'
            WHEN {SMP.duck_bucket_sql("doc_id")} < 230 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment (~80/10/10):
    reproducible across engines and stable under corpus growth — a doc's
    split never changes when other docs are added.  One map-side
    expression, no shuffle (operators/sampling.py)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return SMP.with_split(d).select("doc_id", "bucket", "split")


@query(
    "training_data_pipeline",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, string_split(trim(text), ' ') AS tk FROM documents
),
q AS (
  SELECT doc_id, text,
         ROUND(0.5 * (len(list_distinct(tk)) / len(tk))
               + 0.3 * (len(list_filter(tk, x -> list_contains({STOPWORDS!r}, x))) / len(tk))
               + 0.2 * LEAST(len(tk) / 100.0, 1.0), 6) AS quality_score
  FROM t
),
filtered AS (SELECT * FROM q WHERE quality_score >= 0.4),
deduped AS (
  SELECT MIN(doc_id) AS doc_id, ANY_VALUE(quality_score) AS quality_score
  FROM filtered GROUP BY md5(text)
),
split AS (
  SELECT doc_id, quality_score,
         CASE WHEN {SMP.duck_bucket_sql("doc_id")} < 205 THEN 'train'
              WHEN {SMP.duck_bucket_sql("doc_id")} < 230 THEN 'val'
              ELSE 'test' END AS split
  FROM deduped
)
SELECT split, COUNT(*) AS n_docs,
       ROUND(AVG(quality_score), 6) AS avg_quality,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM split GROUP BY split
""",
)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed end-to-end training-data pipeline: quality filter ->
    exact dedup (canonical = min doc_id per content hash) -> deterministic
    split -> per-split stats.  One declarative plan — Catalyst fuses the
    quality scoring into the scan, the dedup is one hash-agg, the split
    is map-side; nothing iterative, nothing driver-side."""
    d = with_tokens(load_table(spark, sf_dir, "documents"))
    nt = F.size("tk")
    q = d.select(
        "doc_id",
        "text",
        F.round(
            0.5 * (F.size(F.array_distinct("tk")) / nt)
            + 0.3 * (stopword_count("tk") / nt)
            + 0.2 * F.least(nt / F.lit(100.0), F.lit(1.0)),
            6,
        ).alias("quality_score"),
    ).where(F.col("quality_score") >= 0.4)
    deduped = q.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("doc_id"),
        F.any_value("quality_score").alias("quality_score"),
    )
    split = SMP.with_split(deduped).select("doc_id", "quality_score", "split")
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


_STRATA = {"en": 1.0, "de": 0.5, "fr": 0.25, "es": 0.125, "zh": 0.0625}


@query(
    "stratified_sample_by_lang",
    oracle=f"""
SELECT doc_id, lang FROM documents
WHERE {SMP.duck_stratified_where("lang", _STRATA)}
""",
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (rebalancing a skewed
    corpus): keep 100% en, 50% de, 25% fr, 12.5% es, 6.25% zh.  A pure
    map-side filter — Catalyst pushes the md5-bucket predicate into the
    scan; no shuffle, no state (operators/sampling.py::stratified_sample)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return SMP.stratified_sample(d, "lang", _STRATA)


@query(
    "corpus_shuffle",
    oracle="""
SELECT doc_id,
       ROW_NUMBER() OVER (
         ORDER BY md5(concat('shuffle0:', CAST(doc_id AS VARCHAR)))
       ) - 1 AS pos
FROM documents
""",
)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic full-corpus shuffle for training-order
    randomization: global 0-based position of each doc under a seeded
    hash order.  Scalable shape — range-partition on the hash key +
    per-partition row_number + cumulative offsets
    (operators/sampling.py::global_order_index), never a one-reducer
    global window."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = d.withColumn(
        "__key", F.md5(F.concat(F.lit("shuffle0:"), F.col("doc_id").cast("string")))
    )
    return SMP.global_order_index(keyed, "__key").select("doc_id", "pos")


@query(
    "vocab_top_terms",
    oracle="""
SELECT term, cnt FROM (
  SELECT tk AS term, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(trim(text), ' ')) AS tk FROM documents)
  GROUP BY tk
)
ORDER BY cnt DESC, term
LIMIT 100
""",
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: top-100 terms by corpus frequency.
    explode → hash-agg (map-side partial combine collapses each
    partition to its distinct terms before the shuffle) → global top-k
    via TakeOrderedAndProject (no full sort).  Ties broken by term so
    the result is total-order deterministic."""
    d = with_tokens(load_table(spark, sf_dir, "documents"))
    return (
        d.select(F.explode("tk").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@query(
    "cosine_topk",
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS dd
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, vec AS qv, dd AS qdd FROM v WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.qv, c.vec) / (sqrt(q.qdd) * sqrt(c.dd)), 6) AS cosine
  FROM q JOIN v c ON c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for every 100th vector as query.

    Queries are broadcast; the corpus is scanned once partition-parallel;
    per-query top-k via row_number (WindowGroupLimit pushdown), never a
    global sort. This is the exact baseline the ANN variant is judged
    against."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 100 == 0)
    res = S.cosine_topk(q, emb, k=5)
    return res.withColumn("rank", F.col("rank").cast("int"))


@query(
    "ann_lsh_topk",
    oracle=f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS dd
  FROM embeddings
),
b AS (SELECT vec_id, vec, dd, {_duck_projection_bucket(_ANN_PLANES)} AS bucket FROM v),
q AS (SELECT vec_id AS query_id, vec AS qv, dd AS qdd, bucket FROM b WHERE vec_id % 100 = 0),
probes AS (
  SELECT query_id, qv, qdd,
         CASE WHEN p = 0 THEN bucket
              ELSE substr(bucket, 1, p - 1) ||
                   (CASE WHEN substr(bucket, p, 1) = '1' THEN '0' ELSE '1' END) ||
                   substr(bucket, p + 1, {_ANN_NBITS} - p) END AS bucket
  FROM q, UNNEST(range(0, {_ANN_NBITS + 1})) AS pu(p)
),
scored AS (
  SELECT pr.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(pr.qv, c.vec) / (sqrt(pr.qdd) * sqrt(c.dd)), 6) AS cosine
  FROM probes pr JOIN b c ON c.bucket = pr.bucket AND c.vec_id <> pr.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via stored random hyperplane projections (seeded,
    8 planes x 64 dims) with Hamming-radius-1 multi-probe — the equi-join
    scale path (O(probed buckets) not O(N) per query).  Recall vs the
    exact ``cosine_topk`` baseline is asserted in
    tests/test_operators.py::test_ann_recall_vs_exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 100 == 0)
    res = S.ann_topk(q, emb, k=5, planes=_ANN_PLANES, multiprobe=True)
    return res.withColumn("rank", F.col("rank").cast("int"))


_IVF_CENT_LIST = ", ".join(f"ROUND(AVG(vec[{i + 1}]), 6)" for i in range(64))


@query(
    "ann_ivf_topk",
    oracle=f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec,
         list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS dd
  FROM embeddings
),
cent AS (
  SELECT label AS cell, [{_IVF_CENT_LIST}] AS cvec
  FROM v GROUP BY label
),
cent2 AS (SELECT cell, cvec, list_dot_product(cvec, cvec) AS cdd2 FROM cent),
c_assign AS (
  SELECT v.vec_id AS neighbor_id, v.vec AS cv, v.dd AS cdd, cell,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND(list_dot_product(v.vec, cvec) / (sqrt(v.dd) * sqrt(cdd2)), 6)
                    DESC, cell) AS crank
  FROM v, cent2
),
c_cells AS (SELECT neighbor_id, cv, cdd, cell FROM c_assign WHERE crank = 1),
q AS (SELECT vec_id AS query_id, vec AS qv, dd AS qdd FROM v WHERE vec_id % 100 = 0),
q_assign AS (
  SELECT query_id, qv, qdd, cell,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY ROUND(list_dot_product(qv, cvec) / (sqrt(qdd) * sqrt(cdd2)), 6)
                    DESC, cell) AS prank
  FROM q, cent2
),
q_probes AS (SELECT query_id, qv, qdd, cell FROM q_assign WHERE prank <= 2),
scored AS (
  SELECT qp.query_id, c.neighbor_id,
         ROUND(list_dot_product(qp.qv, c.cv) / (sqrt(qp.qdd) * sqrt(c.cdd)), 6) AS cosine
  FROM q_probes qp JOIN c_cells c ON c.cell = qp.cell AND c.neighbor_id <> qp.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF: label-centroid coarse quantizer
    (broadcast), nprobe=2 cells per query, exact cosine within probed
    cells — the partition-pruned scale path complementing the LSH variant
    (operators/similarity.py::ivf_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 100 == 0)
    res = S.ivf_topk(q, emb, k=5, dim=64, nprobe=2)
    return res.withColumn("rank", F.col("rank").cast("int"))


# PQ codebook planes: 16 subspaces x 4 sign planes x 4 dims (stored
# literals, shared verbatim with the DuckDB oracle).  16 subspaces
# measured recall@5 0.80-0.88 with the 80-candidate exact re-rank vs
# ~0.5 for 8 subspaces on this corpus.
_PQ_PLANES = S.pq_subspace_planes(n_sub=16, bits_per_sub=4, sub_dim=4, seed=77)
_PQ_SUB_DIM = len(_PQ_PLANES[0][0])
_PQ_RERANK = 80


def _duck_pq_codes() -> str:
    """Per-subspace PQ code branches (UNION ALL) mirroring
    similarity.pq_code_col bit for bit: same slice, same plane literals,
    same left-to-right dot fold, same >= 0 sign convention."""
    branches = []
    sub_dim = len(_PQ_PLANES[0][0])
    for m, planes_sub in enumerate(_PQ_PLANES):
        start = m * sub_dim + 1
        sub = f"vec[{start}:{start + sub_dim - 1}]"
        bits = " || ".join(
            f"(CASE WHEN list_dot_product({sub}, ["
            + ", ".join(f"CAST({x} AS DOUBLE)" for x in p)
            + "]) >= 0 THEN '1' ELSE '0' END)"
            for p in planes_sub
        )
        branches.append(f"SELECT vec_id, {m} AS m, {bits} AS code FROM v")
    return " UNION ALL ".join(branches)


@query(
    "ann_pq_adc_topk",
    oracle=f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])) AS dd
  FROM embeddings
),
codes AS ({_duck_pq_codes()}),
elems AS (
  SELECT vec_id, CAST(d AS INT) AS d,
         CAST((d - 1) // {_PQ_SUB_DIM} AS INT) AS m,
         CAST(FLOOR(vec[CAST(d AS INT)] / sqrt(dd) * 10000) AS BIGINT) AS xs
  FROM v, UNNEST(generate_series(1, 64)) AS g(d)
),
cent AS (
  SELECT c.m, c.code, e.d, CAST(SUM(e.xs) // COUNT(*) AS BIGINT) AS cv
  FROM elems e JOIN codes c ON c.vec_id = e.vec_id AND c.m = e.m
  GROUP BY 1, 2, 3
),
qel AS (
  SELECT vec_id AS query_id, d, m, xs AS qs FROM elems WHERE vec_id % 100 = 0
),
lut AS (
  SELECT query_id, cent.m, cent.code, CAST(SUM(qs * cv) AS BIGINT) AS partial
  FROM qel JOIN cent ON cent.m = qel.m AND cent.d = qel.d
  GROUP BY 1, 2, 3
),
adc AS (
  SELECT l.query_id, c.vec_id AS neighbor_id,
         CAST(SUM(l.partial) AS BIGINT) AS adc_score
  FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_score DESC, neighbor_id) AS cr
    FROM adc
  ) WHERE cr <= {_PQ_RERANK}
),
rescored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(list_dot_product(q.vec, n.vec) / (sqrt(q.dd) * sqrt(n.dd)), 6)
           AS cosine
  FROM cand
  JOIN v q ON q.vec_id = cand.query_id
  JOIN v n ON n.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rescored
) WHERE rank <= 5
""",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization + asymmetric distance
    computation with exact re-rank (operators/similarity.py::
    pq_adc_topk): corpus vectors compressed to 16 x 4-bit subspace
    codes (8 bytes vs 256 raw — the RAM lever behind billion-vector
    indexes), queries full-precision, coarse scores = 16 integer table
    lookups per candidate, then exact cosine over only the ADC top-80.
    Completes the ANN family: LSH (hash gate), IVF (cell gate), PQ
    (compressed scan); gating the PQ scan by IVF cells = IVFADC.  The
    ADC stage is exact fixed-point integer on L2-normalized vectors, so
    the driver hash-checks codebook + LUT + candidate selection end to
    end; recall@5 vs exact cosine (0.80-0.88 here) is asserted >= 0.7 in
    tests/test_operators.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 100 == 0)
    return S.pq_adc_topk(q, emb, _PQ_PLANES, k=5, rerank=_PQ_RERANK)


# nprobe=8 probes ~77% of this 10-cell random-ish corpus (the IVF worst
# case — no cluster structure, so neighbors scatter across cells): the
# gating ceiling (exact scoring within probed cells) measures 0.88
# recall@5, and the PQ-ADC stage inside the gate lands combined recall
# 0.72-0.84 (>= 0.7 asserted in tests/test_operators.py::
# test_ivfpq_adc_recall_vs_exact; nprobe=6's 0.80 ceiling measured 0.68
# combined).  Real clustered corpora run thousands of cells with
# nprobe << cells, where the gate prunes instead of merely sampling.
_IVFPQ_NPROBE = 8


@query(
    "ann_ivfpq_topk",
    oracle=f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec,
         list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])) AS dd
  FROM embeddings
),
codes AS ({_duck_pq_codes()}),
elems AS (
  SELECT vec_id, CAST(d AS INT) AS d,
         CAST((d - 1) // {_PQ_SUB_DIM} AS INT) AS m,
         CAST(FLOOR(vec[CAST(d AS INT)] / sqrt(dd) * 10000) AS BIGINT) AS xs
  FROM v, UNNEST(generate_series(1, 64)) AS g(d)
),
cent AS (
  SELECT c.m, c.code, e.d, CAST(SUM(e.xs) // COUNT(*) AS BIGINT) AS cv
  FROM elems e JOIN codes c ON c.vec_id = e.vec_id AND c.m = e.m
  GROUP BY 1, 2, 3
),
qel AS (
  SELECT vec_id AS query_id, d, m, xs AS qs FROM elems WHERE vec_id % 100 = 0
),
lut AS (
  SELECT query_id, cent.m, cent.code, CAST(SUM(qs * cv) AS BIGINT) AS partial
  FROM qel JOIN cent ON cent.m = qel.m AND cent.d = qel.d
  GROUP BY 1, 2, 3
),
centroids AS (
  SELECT label AS cell, [{_IVF_CENT_LIST}] AS cvec FROM v GROUP BY label
),
cent2 AS (SELECT cell, cvec, list_dot_product(cvec, cvec) AS cdd2 FROM centroids),
cell_of AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, cell,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY ROUND(list_dot_product(v.vec, cvec)
                            / (sqrt(v.dd) * sqrt(cdd2)), 6) DESC, cell) AS crank
    FROM v, cent2
  ) WHERE crank = 1
),
q_probes AS (
  SELECT query_id, cell FROM (
    SELECT v.vec_id AS query_id, cell,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY ROUND(list_dot_product(v.vec, cvec)
                            / (sqrt(v.dd) * sqrt(cdd2)), 6) DESC, cell) AS prank
    FROM v, cent2 WHERE v.vec_id % 100 = 0
  ) WHERE prank <= {_IVFPQ_NPROBE}
),
cand_ids AS (
  SELECT p.query_id, co.vec_id
  FROM cell_of co JOIN q_probes p ON p.cell = co.cell
  WHERE co.vec_id <> p.query_id
),
adc AS (
  SELECT ci.query_id, c.vec_id AS neighbor_id,
         CAST(SUM(l.partial) AS BIGINT) AS adc_score
  FROM cand_ids ci
  JOIN codes c ON c.vec_id = ci.vec_id
  JOIN lut l ON l.query_id = ci.query_id AND l.m = c.m AND l.code = c.code
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_score DESC, neighbor_id) AS cr
    FROM adc
  ) WHERE cr <= {_PQ_RERANK}
),
rescored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(list_dot_product(q.vec, n.vec) / (sqrt(q.dd) * sqrt(n.dd)), 6)
           AS cosine
  FROM cand
  JOIN v q ON q.vec_id = cand.query_id
  JOIN v n ON n.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rescored
) WHERE rank <= 5
""",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (operators/similarity.py::ivfpq_adc_topk): the IVF
    label-centroid coarse quantizer gates the PQ-ADC scan to the
    nprobe=8 probed cells per query, so the integer ADC lookup touches
    only probed-cell code rows and the exact re-rank only the ADC
    top-80 — candidate COUNT bounded by IVF, bytes PER candidate
    bounded by PQ, the full Jégou et al. composition the pq_adc_topk
    docstring promises.  Cell assignment, codebook, LUT, and gating are
    all exact integer / rounded-decimal, replayed verbatim in the
    DuckDB oracle; recall@5 vs exact cosine asserted >= 0.7 in
    tests/test_operators.py::test_ivfpq_adc_recall_vs_exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 100 == 0)
    return S.ivfpq_adc_topk(
        q, emb, _PQ_PLANES, k=5, rerank=_PQ_RERANK, nprobe=_IVFPQ_NPROBE
    )


@query(
    "embedding_centroids",
    oracle="""
SELECT label,
       COUNT(*) AS n_vectors,
       ROUND(AVG(embedding[1]), 6) AS c0,
       ROUND(AVG(embedding[2]), 6) AS c1,
       ROUND(AVG(embedding[3]), 6) AS c2,
       ROUND(AVG(embedding[4]), 6) AS c3
FROM embeddings GROUP BY label
""",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the leading components (array element agg)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        *[
            F.round(F.avg(F.element_at(F.col("embedding").cast("array<double>"), i + 1)), 6).alias(
                f"c{i}"
            )
            for i in range(4)
        ],
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_counts",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents
)
SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM toks GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 20
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 token frequencies (explode -> hash agg -> top-k)."""
    d = with_tokens(load_table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", F.explode("tk").alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(20)
    )


@query(
    "text_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, string_split(trim(text), ' ') AS tk, length(trim(text)) AS nchars
  FROM documents
),
s AS (
  SELECT doc_id, source,
         len(tk) AS n_tokens,
         len(list_distinct(tk)) AS n_distinct,
         len(list_filter(tk, x -> list_contains({STOPWORDS!r}, x))) AS n_stop,
         nchars
  FROM t
)
SELECT doc_id, source, n_tokens,
       ROUND(n_distinct / n_tokens, 6) AS distinct_ratio,
       ROUND(n_stop / n_tokens, 6) AS stopword_ratio,
       ROUND((nchars - n_tokens + 1) / n_tokens, 6) AS avg_token_len,
       ROUND(0.5 * (n_distinct / n_tokens)
             + 0.3 * (n_stop / n_tokens)
             + 0.2 * LEAST(n_tokens / 100.0, 1.0), 6) AS quality_score
FROM s
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: lexical diversity + stopword ratio +
    length saturation — all whole-stage-codegen column arithmetic."""
    d = with_tokens(load_table(spark, sf_dir, "documents"))
    s = d.select(
        "doc_id",
        "source",
        F.size("tk").alias("n_tokens"),
        F.size(F.array_distinct("tk")).alias("n_distinct"),
        stopword_count("tk").alias("n_stop"),
        F.length(F.trim("text")).alias("nchars"),
    )
    nt = F.col("n_tokens")
    return s.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round(F.col("n_distinct") / nt, 6).alias("distinct_ratio"),
        F.round(F.col("n_stop") / nt, 6).alias("stopword_ratio"),
        F.round((F.col("nchars") - nt + 1) / nt, 6).alias("avg_token_len"),
        F.round(
            0.5 * (F.col("n_distinct") / nt)
            + 0.3 * (F.col("n_stop") / nt)
            + 0.2 * F.least(nt / F.lit(100.0), F.lit(1.0)),
            6,
        ).alias("quality_score"),
    )


@query(
    "text_lang_id",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS tk FROM documents),
scores AS (
  SELECT doc_id, lang,
         len(list_filter(tk, x -> list_contains({LANG_MARKERS['de']!r}, x))) AS c_de,
         len(list_filter(tk, x -> list_contains({LANG_MARKERS['en']!r}, x))) AS c_en,
         len(list_filter(tk, x -> list_contains({LANG_MARKERS['es']!r}, x))) AS c_es,
         len(list_filter(tk, x -> list_contains({LANG_MARKERS['fr']!r}, x))) AS c_fr,
         len(list_filter(tk, x -> list_contains({LANG_MARKERS['zh']!r}, x))) AS c_zh
  FROM t
),
pred AS (
  SELECT doc_id, lang,
         CASE GREATEST(c_de, c_en, c_es, c_fr, c_zh)
           WHEN c_de THEN 'de' WHEN c_en THEN 'en' WHEN c_es THEN 'es'
           WHEN c_fr THEN 'fr' ELSE 'zh' END AS predicted_lang
  FROM scores
)
SELECT lang, predicted_lang, COUNT(*) AS n_docs
FROM pred GROUP BY lang, predicted_lang
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (demo lists over the synthetic vocabulary;
    real per-language lists drop in unchanged), output as a confusion
    matrix against the labeled lang column. Tie-break: first language in
    (de, en, es, fr, zh) order, mirrored exactly in the oracle CASE."""
    d = with_tokens(load_table(spark, sf_dir, "documents"))
    scores = d.select(
        "doc_id",
        "lang",
        *[marker_count("tk", LANG_MARKERS[lg]).alias(f"c_{lg}") for lg in LANG_MARKERS],
    )
    best = F.greatest(*[F.col(f"c_{lg}") for lg in LANG_MARKERS])
    pred = F.when(F.col("c_de") == best, "de")
    for lg in ["en", "es", "fr"]:
        pred = pred.when(F.col(f"c_{lg}") == best, lg)
    pred = pred.otherwise("zh")
    return (
        scores.select("lang", pred.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "doc_fingerprint",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
sh AS (
  SELECT doc_id, i, md5(array_to_string(tk[i:i+2], ' ')) AS h
  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 3
),
nsh AS (SELECT doc_id, MAX(i) AS max_i FROM sh GROUP BY doc_id),
wins AS (
  SELECT s.doc_id,
         MIN(s.h) OVER (PARTITION BY s.doc_id ORDER BY s.i
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         s.i, n.max_i
  FROM sh s JOIN nsh n ON n.doc_id = s.doc_id
)
SELECT doc_id,
       COUNT(DISTINCT fp) AS n_fingerprints,
       MIN(fp) AS min_fp,
       MAX(fp) AS max_fp
FROM wins WHERE i <= max_i - 3
GROUP BY doc_id
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprints: md5 of 3-word shingles, minimum over
    each sliding window of 4 consecutive shingle hashes, distinct mins
    kept per document (the MOSS/winnowing selection rule)."""
    d = with_tokens(load_table(spark, sf_dir, "documents")).where(F.size("tk") >= 3)
    sh = d.select(
        "doc_id",
        F.posexplode(
            F.expr("transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', slice(tk, i, 3)))")
        ).alias("i0", "shingle"),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), F.md5("shingle").alias("h"))
    from pyspark.sql import Window as W

    win = W.partitionBy("doc_id").orderBy("i").rowsBetween(W.currentRow, 3)
    maxi = W.partitionBy("doc_id")
    wins = sh.select(
        "doc_id",
        "i",
        F.min("h").over(win).alias("fp"),
        F.max("i").over(maxi).alias("max_i"),
    )
    return (
        wins.where(F.col("i") <= F.col("max_i") - 3)
        .groupBy("doc_id")
        .agg(
            F.countDistinct("fp").alias("n_fingerprints"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
    )


@query(
    "token_count_regex",
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
         AS n_tokens,
       ROUND(AVG(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 6)
         AS avg_tokens_per_doc
FROM documents GROUP BY source
""",
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (letters / digits / punctuation runs),
    aggregated per source."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
    return d.select("source", ntok.alias("ntok")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("n_tokens"),
        F.round(F.avg("ntok"), 6).alias("avg_tokens_per_doc"),
    )


# ---------------------------------------------------------------------------
# multimodal columns
# ---------------------------------------------------------------------------


@query(
    "multimodal_binary_features",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_hash,
       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
       CAST(octet_length(encode(text)) % 480 AS BIGINT) AS fake_height
FROM documents
""",
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column convention: payload as BinaryType + typed metadata.

    Text is encoded to bytes as a stand-in payload (the container has no
    image/audio codecs); byte-length / content-hash / derived pseudo
    dimensions exercise the binary-column path end-to-end. The real
    decode/resize operators live in operators/multimodal.py as
    mapInPandas stages with stubbed codecs."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    nb = F.length(payload)
    return d.select(
        "doc_id",
        nb.alias("n_bytes"),
        F.md5("text").alias("content_hash"),
        (nb % 640).cast("bigint").alias("fake_width"),
        (nb % 480).cast("bigint").alias("fake_height"),
    )


@query(
    "multimodal_decode_features",
    oracle="""
SELECT doc_id, 'image' AS media_type,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_hash,
       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
       CAST(octet_length(encode(text)) % 480 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS n_channels
FROM documents
""",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode via ``mapInPandas`` (operators/multimodal.py): binary
    payload in, Arrow-batched Python feature extraction out, with a
    declared output schema.  The codec is a deterministic fake (container
    has no image libs) whose outputs the DuckDB oracle reproduces — the
    Arrow/ Pandas plumbing under test is exactly the real decode path."""
    docs = load_table(spark, sf_dir, "documents")
    # min_parallelism trades one shuffle for Python-stage parallelism; 8
    # workers saturate the fake codec here (32 pays ~3s of per-worker
    # pandas-import spawn for no extra throughput at this input size —
    # with real codecs at real scale, set it to the core count).
    return M.decode_features(M.documents_as_media(docs), min_parallelism=8)


@query(
    "multimodal_frame_sample",
    oracle="""
WITH m AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
),
f AS (
  SELECT doc_id, text, n, (n % 97) + 8 AS n_frames FROM m
)
SELECT doc_id, CAST(n AS BIGINT) AS n_bytes, CAST(n_frames AS BIGINT) AS n_frames,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(frame_idx * 40 AS BIGINT) AS ts_ms,
       md5(text || '#' || CAST(frame_idx AS VARCHAR)) AS frame_hash
FROM f, UNNEST(generate_series(0, n_frames - 1, 4)) AS g(frame_idx)
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame sampling shape: a ``mapInPandas`` stage that FANS OUT —
    one input payload becomes one row per sampled frame, with the frame
    count decided per payload at decode time (operators/multimodal.py::
    sample_frames).  The fake demuxer's outputs are reproduced by the
    oracle; the Arrow fan-out plumbing is the real contract, and the
    stride knob is the sampling-rate control a real pipeline tunes."""
    docs = load_table(spark, sf_dir, "documents")
    media = M.documents_as_media(docs, media_type="video").select("doc_id", "payload")
    return M.sample_frames(media, stride=4)


@query(
    "hard_negative_mining",
    oracle=f"""
WITH {_EMB_CORPUS_CTE.strip()},
v AS (
  SELECT vec_id, vec, list_dot_product(vec, vec) AS dd FROM embcorpus
),
b AS (SELECT vec_id, vec, dd, {_duck_projection_bucket(_ANN_PLANES)} AS bucket FROM v),
q AS (SELECT vec_id AS query_id, vec AS qv, dd AS qdd, bucket FROM b
      WHERE vec_id % 100 = 0),
probes AS (
  SELECT query_id, qv, qdd, {_duck_probe_flip(_ANN_NBITS)} AS bucket
  FROM q, UNNEST(range(0, {_ANN_NBITS + 1})) AS pu(p)
),
scored AS (
  SELECT pr.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(pr.qv, c.vec) / (sqrt(pr.qdd) * sqrt(c.dd)), 6)
           AS cosine
  FROM probes pr JOIN b c ON c.bucket = pr.bucket AND c.vec_id <> pr.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored WHERE cosine < 0.9
) WHERE rank <= 5
""",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each
    anchor (every 100th vector of the positive-injected corpus), the
    top-5 most-similar candidates BELOW the near-duplicate ceiling
    (cosine < 0.9) from the ANN's probed buckets — similar enough to be
    informative negatives, excluded if so similar they are presumed
    duplicates/positives.  The injected near-dup copies (cosine ≈ 0.999
    to their anchors) make the exclusion non-vacuous: without the
    ceiling they would top every affected anchor's list.  Pure
    composition of the verified ANN path (stored projections, Hamming-1
    multi-probe, bucket equi-join) plus one pre-rank filter — same
    O(probed buckets) scale shape."""
    corpus = emb_dedup_corpus(spark, sf_dir)
    anchors = corpus.where(F.col("vec_id") % 100 == 0)
    res = S.ann_topk(
        anchors, corpus, k=5, planes=_ANN_PLANES, multiprobe=True, max_cosine=0.9
    )
    return res.withColumn("rank", F.col("rank").cast("int"))


def _jl_oracle() -> str:
    comps = ", ".join(
        "ROUND(list_dot_product(vec, ["
        + ", ".join(f"CAST({v} AS DOUBLE)" for v in plane)
        + f"]), 6) AS p{i}"
        for i, plane in enumerate(_ANN_PLANES)
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)
SELECT vec_id, {comps} FROM v
"""


@query("embedding_random_projection", oracle=_jl_oracle())
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss reduction of the embedding corpus to k=8
    stored-Gaussian-projection components (operators/similarity.py::
    random_project) — the standard shrink before ANN indexing or
    clustering at corpus scale.  Map-only, zero shuffles, pure JVM array
    arithmetic; the stored-literal planes make every component
    bit-identical in DuckDB.  Emitted wide (p0..p7) so the hash check
    covers each component."""
    proj = S.random_project(
        load_table(spark, sf_dir, "embeddings"), _ANN_PLANES, out_col="proj"
    )
    return proj.select(
        "vec_id",
        *[F.element_at("proj", i + 1).alias(f"p{i}") for i in range(_ANN_NBITS)],
    )


@query(
    "multimodal_audio_segments",
    oracle="""
WITH m AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
),
a AS (
  SELECT doc_id, text, n,
         8000 * ((n % 3) + 1) AS sample_rate,
         (n % 9973) + 500 AS duration_ms
  FROM m
)
SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
       CAST(sample_rate AS BIGINT) AS sample_rate,
       CAST(duration_ms AS BIGINT) AS duration_ms,
       CAST(s / 500 AS BIGINT) AS seg_idx,
       CAST(s AS BIGINT) AS seg_start_ms,
       CAST(LEAST(s + 1000, duration_ms) AS BIGINT) AS seg_end_ms,
       md5(text || '@' || CAST(s AS VARCHAR)) AS seg_hash
FROM a, UNNEST(generate_series(0, duration_ms - 1, 500)) AS g(s)
""",
)
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation shape: fixed 1 s windows at 500 ms hop over
    binary audio payloads (operators/multimodal.py::segment_audio) — the
    pre-feature-extraction fan-out of a speech training pipeline.  The
    fake demuxer's metadata (rate, duration) is reproduced by the oracle;
    the Arrow fan-out plumbing and the numpy-vectorized ragged skeleton
    are the real contract."""
    docs = load_table(spark, sf_dir, "documents")
    media = M.documents_as_media(docs, media_type="audio").select("doc_id", "payload")
    return M.segment_audio(media, window_ms=1000, hop_ms=500)


@query(
    "pandas_udf_token_stats",
    oracle="""
WITH t AS (
  SELECT source, len(string_split(trim(text), ' ')) AS n_tokens FROM documents
)
SELECT source,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_tokens
FROM t GROUP BY source
""",
)
def pandas_udf_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate ``pandas_udf`` capability demo (SURVEY §2.2 UDF
    row): per-source token totals where the SUM runs as an Arrow-batched
    pandas aggregate.  Built-ins remain the default for hot paths; this
    registers the escape hatch and proves it oracle-exact (integer sums,
    so no float-order divergence)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # Explicit functionType: this module uses postponed annotations, which
    # breaks pandas_udf's type-hint inference (hints arrive as strings).
    # Both aggregates are pandas UDFs — Spark disallows mixing grouped-agg
    # pandas UDFs with JVM aggregates in one agg().
    psum = pandas_udf(lambda v: int(v.sum()), "bigint", PandasUDFType.GROUPED_AGG)
    pcount = pandas_udf(lambda v: len(v), "bigint", PandasUDFType.GROUPED_AGG)

    d = with_tokens(load_table(spark, sf_dir, "documents")).select(
        "source", F.size("tk").alias("n_tokens")
    )
    agg = d.groupBy("source").agg(
        psum(F.col("n_tokens")).alias("total_tokens"),
        pcount(F.col("n_tokens")).alias("n_docs"),
    )
    return agg.select(
        "source",
        "total_tokens",
        "n_docs",
        F.round(F.col("total_tokens").cast("double") / F.col("n_docs"), 6).alias(
            "avg_tokens"
        ),
    )


@query(
    "contamination_check",
    oracle=f"""
WITH train AS (
  SELECT doc_id, text FROM documents
  WHERE {SMP.duck_bucket_sql("doc_id")} < 205
),
test AS (
  SELECT doc_id, text FROM documents
  WHERE {SMP.duck_bucket_sql("doc_id")} >= 230
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, regexp_replace(text, '^[^ ]+ ', '') AS text
  FROM train WHERE doc_id % 20 = 0
),
toks_a AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM train),
sh_a AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
  FROM toks_a, UNNEST(range(1, len(tk) - 1)) AS u(i) WHERE len(tk) >= 3
),
mh_a AS (
  SELECT doc_id, h, MIN(md5(shingle || '#' || CAST(h AS VARCHAR))) AS minhash
  FROM sh_a, UNNEST(range(0, 12)) AS hu(h) GROUP BY doc_id, h
),
bands_a AS (
  SELECT doc_id, h // 3 AS band, STRING_AGG(minhash, '|' ORDER BY h) AS sig
  FROM mh_a GROUP BY doc_id, h // 3
),
toks_b AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM test),
sh_b AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
  FROM toks_b, UNNEST(range(1, len(tk) - 1)) AS u(i) WHERE len(tk) >= 3
),
mh_b AS (
  SELECT doc_id, h, MIN(md5(shingle || '#' || CAST(h AS VARCHAR))) AS minhash
  FROM sh_b, UNNEST(range(0, 12)) AS hu(h) GROUP BY doc_id, h
),
bands_b AS (
  SELECT doc_id, h // 3 AS band, STRING_AGG(minhash, '|' ORDER BY h) AS sig
  FROM mh_b GROUP BY doc_id, h // 3
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands_a a JOIN bands_b b ON a.band = b.band AND a.sig = b.sig
""",
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination detection: MinHash/LSH candidate matches
    BETWEEN the train split and the test split (test deliberately
    contaminated with perturbed copies of every 20th train doc).  The
    cross-corpus record-linkage primitive every training-data pipeline
    needs before an eval claim — banded equi-join across corpora, never
    an all-pairs comparison (operators/dedup.py::cross_corpus_lsh_pairs)."""
    d = SMP.with_split(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text", "split"
    )
    train = d.where(F.col("split") == "train").select("doc_id", "text")
    contaminated = train.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.regexp_replace("text", r"^[^ ]+ ", "").alias("text"),
    )
    test = (
        d.where(F.col("split") == "test")
        .select("doc_id", "text")
        .unionByName(contaminated)
    )
    return D.cross_corpus_lsh_pairs(train, test)


@query(
    "minhash_jaccard_estimate",
    oracle=f"""
WITH {_CORPUS_CTE},
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 3
),
mh AS (
  SELECT doc_id, h, MIN(md5(shingle || '#' || CAST(h AS VARCHAR))) AS minhash
  FROM sh, UNNEST(range(0, 12)) AS hu(h)
  GROUP BY doc_id, h
),
bands AS (
  SELECT doc_id, h // 3 AS band, STRING_AGG(minhash, '|' ORDER BY h) AS sig
  FROM mh GROUP BY doc_id, h // 3
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
-- Deterministic md5 top-K sample: the exact-Jaccard audit must be
-- corpus-size-INDEPENDENT (unbounded, it is linear in the duplicate
-- population — 74x at 300x synthetic scale pre-fix).  md5 of the pair
-- key is an unbiased, engine-portable shuffle; LIMIT keeps <= 128 pairs
-- at any scale (all 82 at sf0.01, so the audited set only shrinks when
-- the corpus outgrows the budget).
sampled AS (
  SELECT doc_a, doc_b FROM pairs
  ORDER BY md5(CAST(doc_a AS VARCHAR) || '#' || CAST(doc_b AS VARCHAR))
  LIMIT 128
),
matched AS (
  SELECT p.doc_a, p.doc_b,
         COUNT(*) FILTER (WHERE ma.minhash = mb.minhash) AS n_match
  FROM sampled p
  JOIN mh ma ON ma.doc_id = p.doc_a
  JOIN mh mb ON mb.doc_id = p.doc_b AND mb.h = ma.h
  GROUP BY p.doc_a, p.doc_b
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
  FROM sampled p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT m.doc_a, m.doc_b,
       ROUND(m.n_match / 12.0, 6) AS est_jaccard,
       ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
             / (na.n + nb.n - COALESCE(i.n_inter, 0)), 6) AS jaccard,
       ROUND(ABS(m.n_match / 12.0
                 - CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                   / (na.n + nb.n - COALESCE(i.n_inter, 0))), 6) AS abs_err
FROM matched m
LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
JOIN sizes na ON na.doc_id = m.doc_a
JOIN sizes nb ON nb.doc_id = m.doc_b
""",
)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: for every LSH candidate pair, the MinHash
    Jaccard estimate (matching signature slots / 12) next to the EXACT
    shingle-set Jaccard and the absolute error — the quality-control
    query a dedup rollout runs before trusting a sketch configuration.

    The audited pair set is a deterministic md5 top-K sample (K=128) of
    the LSH candidates: an unbounded audit is linear in the duplicate
    population (74x wall-time at 300x synthetic scale pre-fix, ~5x the
    family band), while the sample makes the exact-Jaccard term
    corpus-size-INDEPENDENT.  At sf0.01 all 82 candidates fit the budget,
    so small-scale results are unchanged.

    Scale shape: candidate generation stays band-bounded; the md5 top-K
    compiles to TakeOrderedAndProject (per-partition partial top-K, no
    full sort shuffle); the <=128 sampled pairs broadcast into the
    signature-match join and the two shingle-intersection joins, whose
    cost is now a fixed number of broadcast probes over one shingle-table
    scan regardless of corpus size.  The shingle and signature tables are
    each materialized once (persist) and reused on both sides."""
    from pyspark import StorageLevel

    corpus = dedup_corpus(spark, sf_dir)
    sh = D.shingle_table(corpus, 3).persist(StorageLevel.MEMORY_AND_DISK)
    mh = D.minhash_signatures(sh, 12).persist(StorageLevel.MEMORY_AND_DISK)
    bands = D.lsh_band_signatures(mh, 3).persist(StorageLevel.MEMORY_AND_DISK)
    # Eager checkpoint the <=128 sampled pairs: they feed FOUR downstream
    # consumers (signature join, shingle intersection, two size joins) —
    # without materialization each consumer re-executes the whole
    # candidate generation (band self-join + DISTINCT + TakeOrdered),
    # which at 300x synthetic scale was most of a 76x wall-time factor.
    pairs = (
        D.lsh_candidate_pairs(bands)
        .withColumn(
            "pk",
            F.md5(
                F.concat_ws(
                    "#",
                    F.col("doc_a").cast("string"),
                    F.col("doc_b").cast("string"),
                )
            ),
        )
        .orderBy("pk")
        .limit(128)
        .drop("pk")
        .localCheckpoint(eager=True)
    )
    # The audited doc set (<=256 ids): every exact-side computation below
    # is pre-filtered to it by broadcast join, so no full-corpus
    # aggregation remains anywhere in the audit.
    audit_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    ma = mh.select(F.col("doc_id").alias("doc_a"), F.col("minhashes").alias("mh_a"))
    mb = mh.select(F.col("doc_id").alias("doc_b"), F.col("minhashes").alias("mh_b"))
    est = (
        F.broadcast(pairs)
        .join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(
                    F.expr("filter(zip_with(mh_a, mh_b, (x, y) -> x = y), v -> v)")
                )
                / F.lit(12.0)
            ).alias("est"),
        )
    )
    audit_sh = sh.join(F.broadcast(audit_docs), "doc_id")
    sizes = audit_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = audit_sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = audit_sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        F.broadcast(pairs)
        .join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (
        F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
        / (F.col("na") + F.col("nb") - F.coalesce(F.col("n_inter"), F.lit(0)))
    )
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round("est", 6).alias("est_jaccard"),
            F.round(jac, 6).alias("jaccard"),
            F.round(F.abs(F.col("est") - jac), 6).alias("abs_err"),
        )
    )


@query(
    "text_normalize_dedup",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, upper(text) || ' !!' AS text
  FROM documents WHERE doc_id % 7 = 0
),
norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS norm_text
  FROM corpus
)
SELECT md5(norm_text) AS norm_hash,
       MIN(doc_id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM norm
GROUP BY md5(norm_text)
HAVING COUNT(*) >= 2
""",
)
def text_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: lowercase, strip non-alphanumerics,
    collapse whitespace, THEN hash — catches duplicates that differ only
    in case/punctuation/spacing, the most common near-dup class in web
    corpora (trivially missed by raw content hashing).  The corpus gains
    a cased+punctuated copy of every 7th doc as planted positives.

    Scale shape: map-only normalization fused into the scan, then one
    hash-aggregate on md5(norm) with map-side partials — identical cost
    envelope to plain exact dedup at any scale."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionAll(
        d.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.upper("text"), F.lit(" !!")).alias("text"),
        )
    )
    norm = corpus.select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
            )
        ).alias("norm_text"),
    )
    return (
        norm.groupBy(F.md5("norm_text").alias("norm_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )


@query(
    "udtf_sentence_split",
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(trim(text), ' ') AS tk
  FROM documents WHERE doc_id % 25 = 0
)
SELECT doc_id, CAST(k AS INT) AS sent_idx,
       array_to_string(tk[k*10+1 : k*10+10], ' ') AS sentence,
       CAST(LEAST(10, len(tk) - k*10) AS INT) AS n_tokens
FROM d, UNNEST(range(0, (len(tk) + 9) // 10)) AS u(k)
""",
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF capability row (pyspark 4 ``@udtf`` + LATERAL): split
    each document into fixed 10-token sentence rows.  The declarative
    dual (posexplode over a slice transform — see doc_chunking) remains
    the hot-path recommendation; this registers the one-row-to-many-rows
    Python escape hatch and value-verifies it against the relational
    oracle.

    Scale shape: the UDTF evaluates per-row inside the scan stage — no
    shuffle introduced; parallelism is the file-split parallelism.  The
    subset filter keeps the demo's Python surface small."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string, n_tokens int")
    class SentenceSplit:
        def eval(self, text: str):
            toks = text.strip().split(" ")
            for k in range((len(toks) + 9) // 10):
                chunk = toks[k * 10 : k * 10 + 10]
                yield k, " ".join(chunk), len(chunk)

    spark.udtf.register("sentence_split", SentenceSplit)
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    d.select("doc_id", "text").createOrReplaceTempView("udtf_docs_subset")
    return spark.sql(
        "SELECT doc_id, s.sent_idx, s.sentence, s.n_tokens "
        "FROM udtf_docs_subset, LATERAL sentence_split(text) s"
    )


@query(
    "multimodal_resize",
    oracle="""
SELECT doc_id, 'image' AS media_type,
       octet_length(encode(text)) AS src_bytes,
       CAST(224 AS BIGINT) AS dst_width,
       CAST(224 AS BIGINT) AS dst_height,
       CAST(224 * 224 * 3 AS BIGINT) AS dst_bytes,
       md5(text || '@224x224') AS resized_hash
FROM documents
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize normalization via mapInPandas
    (operators/multimodal.py::resize_images): the fixed-resolution
    preprocessing step in front of a vision encoder, with the same
    honest-fake codec + real Arrow plumbing contract as the decode /
    frame-sample / audio-segment queries.  Map-only — zero shuffles; at
    100 TB the only dial is Python-stage parallelism (file count or
    min_parallelism repartition)."""
    docs = load_table(spark, sf_dir, "documents")
    return M.resize_images(M.documents_as_media(docs), width=224, height=224)


@query(
    "ann_recall_audit",
    oracle=f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS dd
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, vec AS qv, dd AS qdd FROM v WHERE vec_id % 100 = 0),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             ROUND(list_dot_product(q.qv, c.vec) / (sqrt(q.qdd) * sqrt(c.dd)), 6) DESC,
             c.vec_id) AS rank
    FROM q JOIN v c ON c.vec_id <> q.query_id
  ) WHERE rank <= 5
),
b AS (SELECT vec_id, vec, dd, {{bucket_expr}} AS bucket FROM v),
qb AS (SELECT vec_id AS query_id, qv, qdd, bucket FROM
       (SELECT vec_id, vec AS qv, dd AS qdd, bucket FROM b WHERE vec_id % 100 = 0)
       t(vec_id, qv, qdd, bucket)),
probes AS (
  SELECT query_id, qv, qdd,
         CASE WHEN p = 0 THEN bucket
              ELSE substr(bucket, 1, p - 1) ||
                   (CASE WHEN substr(bucket, p, 1) = '1' THEN '0' ELSE '1' END) ||
                   substr(bucket, p + 1, {{nbits}} - p) END AS bucket
  FROM qb, UNNEST(range(0, {{nbits_plus}})) AS pu(p)
),
ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT pr.query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY pr.query_id ORDER BY
             ROUND(list_dot_product(pr.qv, c.vec) / (sqrt(pr.qdd) * sqrt(c.dd)), 6) DESC,
             c.vec_id) AS rank
    FROM probes pr JOIN b c ON c.bucket = pr.bucket AND c.vec_id <> pr.query_id
  ) WHERE rank <= 5
)
SELECT e.query_id,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
       ROUND(COUNT(a.neighbor_id) / 5.0, 2) AS recall_at_5
FROM exact e
LEFT JOIN ann a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
""".replace("{bucket_expr}", _duck_projection_bucket(_ANN_PLANES))
   .replace("{nbits_plus}", str(_ANN_NBITS + 1))
   .replace("{nbits}", str(_ANN_NBITS)),
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the ANN path vs the exact baseline, per query, AS A
    DRIVER-VERIFIED QUERY — the quality metric every production ANN
    deployment must monitor, here computed in one plan with both sides
    deterministic (rounded cosine + id tiebreaks) so even the audit
    itself hash-matches DuckDB.  Shape: the exact half is the O(Q x N)
    broadcast scorer (run on the sampled query set only), the ANN half
    is the bucketed equi-join; the comparison is a left semi-ish join on
    (query, neighbor) + a per-query count — metadata-sized output.  At
    100 TB you run this audit on a sampled query panel exactly like
    this, never the full corpus.

    Expected values on THIS corpus: low (~0.1) — the test embeddings are
    uniform-random, the documented LSH worst case (no cluster structure;
    chance is 9/256).  That is the point of shipping the audit: it is
    the dial that tells you when to raise nbits/probes.  On clustered
    (real) embeddings the same pipeline measures ~0.9 (the positive-
    injected recall test in tests/test_operators.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 100 == 0)
    exact = S.cosine_topk(q, emb, k=5).select("query_id", "neighbor_id")
    ann = S.ann_topk(q, emb, k=5, planes=_ANN_PLANES, multiprobe=True).select(
        F.col("query_id").alias("a_query_id"),
        F.col("neighbor_id").alias("a_neighbor_id"),
        F.lit(1).alias("hit"),
    )
    return (
        exact.join(
            ann,
            (exact["query_id"] == ann["a_query_id"])
            & (exact["neighbor_id"] == ann["a_neighbor_id"]),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / 5.0, 2).alias("recall_at_5"),
        )
    )


# Ensemble oracle: the two member oracles are composed verbatim as
# subqueries (each is a standalone WITH..SELECT), so the ensemble is
# verified against exactly the SQL the members are verified against.
_ENSEMBLE_ORACLE: str | None = None


def _ensemble_oracle() -> str:
    from odni_apache_beam_consumer_spark.plans.registry import ORACLES

    return (
        "SELECT doc_a, doc_b FROM (" + ORACLES["dedup_minhash"] + ") mh\n"
        "INTERSECT\n"
        "SELECT doc_a, doc_b FROM (" + ORACLES["dedup_simhash"] + ") sh"
    )


@query("dedup_ensemble_pairs", oracle="__DEFERRED__")
def dedup_ensemble_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-boosting dedup ensemble: candidate pairs flagged by BOTH
    MinHash-LSH (set overlap) and SimHash (weighted token profile).  The
    two signatures fail differently — LSH bands fire on shingle overlap
    (length-sensitive), SimHash on global token distribution (robust to
    local edits) — so their intersection removes most single-method
    false positives before expensive resolution; production pipelines
    run exactly this AND-gate when deletion is irreversible.

    Shape: both member pair sets are band/block-bounded (their own hot-
    bucket guards apply unchanged); the intersection is one hash
    shuffle on (doc_a, doc_b) over two already-small pair sets.  The
    members are the REGISTERED, driver-verified queries — this plan and
    its oracle both compose them verbatim."""
    from odni_apache_beam_consumer_spark.plans.registry import QUERIES

    mh = QUERIES["dedup_minhash"](spark, sf_dir).select("doc_a", "doc_b")
    sh = QUERIES["dedup_simhash"](spark, sf_dir).select("doc_a", "doc_b")
    return mh.intersect(sh)


# Resolve the deferred oracle now that both member oracles are registered.
from odni_apache_beam_consumer_spark.plans.registry import ORACLES as _OR  # noqa: E402

_OR["dedup_ensemble_pairs"] = _ensemble_oracle()


def _dedup_method_oracle() -> str:
    from odni_apache_beam_consumer_spark.plans.registry import ORACLES

    mh, sh = ORACLES["dedup_minhash"], ORACLES["dedup_simhash"]
    return f"""
SELECT 'minhash' AS method, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM ({mh}) a
UNION ALL
SELECT 'simhash' AS method, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM ({sh}) b
UNION ALL
SELECT 'both' AS method, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM (
  SELECT doc_a, doc_b FROM ({mh}) c
  INTERSECT
  SELECT doc_a, doc_b FROM ({sh}) d
) e
"""


def _method_comparison_lazy(spark: SparkSession, sf_dir: str, caches: Caches) -> DataFrame:
    """Build the lazy comparison plan; its persists register in ``caches``.

    Split out so the plan-shape test can assert both consumers of each
    member pair set read the persisted materialization — the public query
    eagerly checkpoints its 3-row result and releases the caches, which
    hides the InMemoryTableScans from the returned plan.  The members are
    dedup_minhash's and dedup_simhash's operator calls, so the operators'
    own persists land in ``caches`` too."""
    mh = D.minhash_lsh_pairs(
        dedup_corpus(spark, sf_dir), caches, shingle_words=3, num_hashes=12, rows_per_band=3
    )
    sh = D.simhash_pairs(dedup_corpus(spark, sf_dir), caches, max_hamming=8, n_blocks=4)
    mh = caches.persist(mh.select("doc_a", "doc_b"))
    sh = caches.persist(sh.select("doc_a", "doc_b"))
    both = mh.intersect(sh)

    def counted(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_pairs")).select(
            F.lit(name).alias("method"), "n_pairs"
        )

    out = (
        counted(mh, "minhash")
        .unionByName(counted(sh, "simhash"))
        .unionByName(counted(both, "both"))
    )
    return out


@query("dedup_method_comparison", oracle="__DEFERRED2__")
def dedup_method_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method calibration readout: pair counts per signature method
    and the size of their agreement set — the summary a curation team
    reads before choosing thresholds (a method whose count dwarfs the
    agreement set is over-firing; one far below it is under-recalling).
    Composes the driver-verified member operators, with the member
    queries' parameters, on both sides; output is 3 rows.

    Each member pair set feeds TWO consumers (its own count and the
    intersect), so both are persisted — without this the full minhash and
    simhash pipelines execute twice for a 3-row readout (round-3 bench's
    slowest query at 2× its irreducible cost).  The 3-row result is
    eagerly checkpointed and the caches released before returning, so
    direct library callers don't accumulate cached RDDs across
    invocations (the ml.py iterative-driver pattern; previously only
    bench.py's clearCache saved this)."""
    with Caches() as caches:
        return caches.result(_method_comparison_lazy(spark, sf_dir, caches))


from odni_apache_beam_consumer_spark.plans.registry import ORACLES as _OR2  # noqa: E402

_OR2["dedup_method_comparison"] = _dedup_method_oracle()


# ---------------------------------------------------------------------------
# LSH banding trade-off audit
# ---------------------------------------------------------------------------

_LSH_AUDIT_CONFIGS = (1, 2, 3, 4)  # rows-per-band over the 12-hash signature
_LSH_TRUTH_T_PPM = 500000  # ground-truth Jaccard threshold (0.5)


def _lsh_tradeoff_oracle() -> str:
    """Replays the full audit: 12-slot minhash signatures, one banding
    CTE per (rows-per-band) config, candidate sets, and the brute-force
    exact-Jaccard truth set (the same integer-ppm inequality the
    prefix-filter operator applies, proven lossless elsewhere)."""
    ctes = [
        _CORPUS_CTE.strip().rstrip(),
        """audit_corpus AS (SELECT doc_id, text FROM corpus WHERE doc_id % 2 = 0),
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM audit_corpus),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 3
),
mh AS (
  SELECT doc_id, h, MIN(md5(shingle || '#' || CAST(h AS VARCHAR))) AS minhash
  FROM sh, UNNEST(range(0, 12)) AS hu(h)
  GROUP BY doc_id, h
),
sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT da, db FROM inter
  JOIN sizes sa ON sa.doc_id = da
  JOIN sizes sb ON sb.doc_id = db
  WHERE c * 1000000 >= """
        + str(_LSH_TRUTH_T_PPM)
        + """ * (sa.nsh + sb.nsh - c)
),
ttot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_total FROM truth)""",
    ]
    stats = []
    for r in _LSH_AUDIT_CONFIGS:
        ctes.append(
            f"""bands{r} AS (
  SELECT doc_id, h // {r} AS band,
         STRING_AGG(minhash, '|' ORDER BY h) AS sig
  FROM mh GROUP BY doc_id, h // {r}
),
cand{r} AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands{r} a JOIN bands{r} b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
stat{r} AS (
  SELECT CAST({r} AS BIGINT) AS rows_per_band,
         CAST({12 // r} AS BIGINT) AS n_bands,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(CASE WHEN t.da IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_found
  FROM cand{r} c LEFT JOIN truth t ON t.da = c.da AND t.db = c.db
)"""
        )
        stats.append(f"SELECT * FROM stat{r}")
    union = " UNION ALL ".join(stats)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT rows_per_band, n_bands, n_candidates, n_true_found, n_true_total,
       CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(n_true_found * 1000000 // n_candidates AS BIGINT) END
         AS precision_ppm,
       CASE WHEN n_true_total = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(n_true_found * 1000000 // n_true_total AS BIGINT) END
         AS recall_ppm
FROM ({union}) s CROSS JOIN ttot
"""
    )


@query("lsh_band_tradeoff_audit", oracle=_lsh_tradeoff_oracle())
def lsh_band_tradeoff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding TUNING TABLE — the measurement a 100 TB dedup
    deployment runs before committing to a (bands x rows) config: for
    every rows-per-band r over the SAME 12-hash MinHash signature,
    candidate volume, recall and precision against the exact-Jaccard
    ground truth (J >= 0.5 over the same 3-word shingles, computed by
    the LOSSLESS prefix-filter operator — machine-proven equal to brute
    force by jaccard_prefix_filter_join's oracle).  The S-curve
    trade-off becomes data: r=1 fires on any shared slot (recall ~1,
    precision floor), r=4 needs 4 consecutive slot agreements
    (precision ~1, recall droops below the threshold knee) — integer
    ppm on both axes.

    Scale shape: signature build is the dedup_minhash shape (map-side
    partial min-agg, one doc-keyed exchange), persisted ONCE and
    re-banded column-side per config (posexplode of slices — zero new
    scans); each config is a band-keyed equi-self-join (never
    all-pairs) plus a pair-keyed left join against the truth set; the
    truth set itself is prefix-filter-pruned, not brute force.  At
    production scale the audit runs on a sampled corpus slice with
    the hot-bucket guard (max_bucket) applied to BOTH sides — at
    fixture scale the unguarded form is exact and the oracle replays
    it verbatim."""
    from pyspark import StorageLevel

    # Deterministic half-sample: the audit measures RATES (precision /
    # recall / volume ratios), which are corpus-size-invariant under
    # uniform sampling — exactly how a production deployment tunes
    # banding without paying a full-corpus pair job.  doc_id % 2 keeps
    # each perturbed near-dup WITH its original (both ids are even or
    # both odd by construction: +1000000 preserves parity), so truth
    # pairs survive sampling intact.
    corpus = dedup_corpus(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
    with Caches() as caches:
        mh = caches.persist(
            D.minhash_signatures(D.shingle_table(corpus, 3), 12), StorageLevel.MEMORY_AND_DISK
        )
        truth = caches.persist(
            D.jaccard_prefix_filter_pairs(corpus, caches, shingle_words=3, threshold=0.5)
            .select("doc_a", "doc_b")
            .withColumn("_t", F.lit(1)),
            StorageLevel.MEMORY_AND_DISK,
        )
        tot = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_total"))
        # ALL configs in ONE pass: tag each config's band rows with r and
        # self-join once on (r, band, sig) — 4 separate config joins cost 4
        # shuffles of the same signature table for no information gain.
        bands = None
        for r in _LSH_AUDIT_CONFIGS:
            b = D.lsh_band_signatures(mh, r).withColumn(
                "r", F.lit(r).cast("long")
            )
            bands = b if bands is None else bands.unionByName(b)
        a = bands.select(F.col("doc_id").alias("doc_a"), "r", "band", "sig")
        b = bands.select(F.col("doc_id").alias("doc_b"), "r", "band", "sig")
        cand = (
            a.join(b, ["r", "band", "sig"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("r", "doc_a", "doc_b")
            .distinct()
        )
        res = (
            cand.join(truth, ["doc_a", "doc_b"], "left")
            .groupBy("r")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_candidates"),
                F.sum(F.coalesce(F.col("_t"), F.lit(0)))
                .cast("long")
                .alias("n_true_found"),
            )
            .crossJoin(F.broadcast(tot))
            .select(
                F.col("r").alias("rows_per_band"),
                F.expr("CAST(12 DIV r AS BIGINT)").alias("n_bands"),
                "n_candidates",
                "n_true_found",
                "n_true_total",
                F.expr(
                    "CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT) "
                    "ELSE CAST(n_true_found * 1000000 DIV n_candidates "
                    "AS BIGINT) END"
                ).alias("precision_ppm"),
                F.expr(
                    "CASE WHEN n_true_total = 0 THEN CAST(0 AS BIGINT) "
                    "ELSE CAST(n_true_found * 1000000 DIV n_true_total "
                    "AS BIGINT) END"
                ).alias("recall_ppm"),
            )
        )
        return caches.result(res)


@query(
    "mrl_truncation_audit",
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
pairs AS (
  SELECT a.vec AS va, b.vec AS vb
  FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
),
deltas AS (
  SELECT
"""
    + ",\n".join(
        f"""    CAST(FLOOR(1000000 * ABS(
      list_dot_product(va[1:{d}], vb[1:{d}])
        / (SQRT(list_dot_product(va[1:{d}], va[1:{d}]))
           * SQRT(list_dot_product(vb[1:{d}], vb[1:{d}])))
      - list_dot_product(va, vb)
        / (SQRT(list_dot_product(va, va))
           * SQRT(list_dot_product(vb, vb)))
    )) AS BIGINT) AS d{d}"""
        for d in (8, 16, 32)
    )
    + """
  FROM pairs
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(delta_ppm) AS BIGINT) AS sum_abs_delta_ppm,
       CAST(SUM(delta_ppm) // COUNT(*) AS BIGINT) AS mean_delta_ppm
FROM (
  SELECT 8 AS dim, d8 AS delta_ppm FROM deltas
  UNION ALL SELECT 16, d16 FROM deltas
  UNION ALL SELECT 32, d32 FROM deltas
)
GROUP BY dim
""",
)
def mrl_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit — the measurement behind the
    'store 8/16/32-dim prefixes of your embeddings' deployment decision
    every modern vector pipeline faces: how much does COSINE move when
    the vector is truncated to its first d dimensions?  Per prefix
    length d in {8, 16, 32}: the pair count and the exact-integer sum /
    mean of |cos_d - cos_64| in ppm over consecutive-id vector pairs (a
    deterministic pair set with no sampling artifact).

    Float discipline: both cosines are ratios of left-to-right dot
    folds (the proven dot()/list_dot_product parity every ANN oracle
    uses), ABS'd and floored to ppm PER PAIR before the BIGINT sum —
    order-independent aggregation, no float ever crosses an exchange.

    Scale shape: one self-join on the adjacent id (sort-merge or
    bucketed at scale — the id is the natural sort key), then a
    map-only 3-way delta projection exploded to (dim, delta) rows and
    ONE 3-group hash agg.  The 64-dim arrays never leave their join
    task; what shuffles afterwards is one integer per (pair, dim)."""
    v = S.with_vec(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "vec"
    )
    a = v.select(F.col("vec_id").alias("ida"), F.col("vec").alias("va"))
    b = v.select((F.col("vec_id") - 1).alias("ida"), F.col("vec").alias("vb"))
    pairs = a.join(b, "ida")

    def cos(x: str, y: str, d: int | None):
        xa = F.slice(F.col(x), 1, d) if d else F.col(x)
        ya = F.slice(F.col(y), 1, d) if d else F.col(y)
        return S.dot(xa, ya) / (
            F.sqrt(S.dot(xa, xa)) * F.sqrt(S.dot(ya, ya))
        )

    full = cos("va", "vb", None)
    deltas = pairs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("long").alias("dim"),
                        F.floor(
                            F.lit(1000000)
                            * F.abs(cos("va", "vb", d) - full)
                        )
                        .cast("long")
                        .alias("delta_ppm"),
                    )
                    for d in (8, 16, 32)
                ]
            )
        ).alias("s")
    ).select("s.dim", "s.delta_ppm")
    return deltas.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("delta_ppm").cast("long").alias("sum_abs_delta_ppm"),
        F.call_function("div", F.sum("delta_ppm"), F.count(F.lit(1)))
        .cast("long")
        .alias("mean_delta_ppm"),
    )
