"""Training-data preparation queries: chunking, sequence packing,
repetition-based quality filtering, PII scrubbing.

These are the document-to-training-example transforms that sit between a
deduplicated corpus and a tokenizer at 100 TB: split long documents into
model-context-sized chunks, pack short documents into fixed token budgets,
drop degenerate/repetitive text (Gopher-style heuristics), and scrub
PII-shaped spans.  All four are pure JVM column expressions (higher-order
array functions, window aggregates, regexp) — no Python UDFs — so they
stay inside whole-stage codegen.

Scale notes per query live on the docstrings; the common theme is that
everything is keyed by doc_id (or (lang, shard)) with map-side partial
aggregation, and nothing ever needs a global sort.

Reference parity: the reference (/root/reference/main.py) has no
data-plane transforms at all; these queries extend the north-star
LLM-pipeline surface (BASELINE.json:6) alongside plans/llm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.catalog import load_table
from odni_apache_beam_consumer_spark.operators import sampling as SMP
from odni_apache_beam_consumer_spark.operators.sampling import (
    duck_bucket_sql,
    hash_bucket,
)
from odni_apache_beam_consumer_spark.operators.text_ops import with_tokens
from odni_apache_beam_consumer_spark.plans.registry import query

# Chunking geometry: 32-token windows every 24 tokens (8-token overlap).
_CHUNK = 32
_STRIDE = 24

# Packing: fill 512-token bins, documents streamed in doc_id order within
# (lang, shard) groups. 8 shards per language bound the window-partition
# size at scale (a single-lang partition would be ~all of a 100 TB corpus).
_BUDGET = 512
_SHARDS = 8


@query(
    "doc_chunking",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
c AS (
  SELECT doc_id, k AS chunk_idx, k*{_STRIDE}+1 AS start_pos, tk, len(tk) AS n
  FROM t, UNNEST(range(0, (len(tk)-1)//{_STRIDE} + 1)) AS u(k)
)
SELECT doc_id, chunk_idx, start_pos,
       LEAST({_CHUNK}, n - start_pos + 1) AS chunk_len,
       md5(array_to_string(tk[start_pos:start_pos+{_CHUNK}-1], ' ')) AS chunk_hash
FROM c
""",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping fixed-size token windows
    (context-length chunking for training).

    Scale shape: narrow map-only plan — tokenize, generate chunk starts
    with ``sequence``, ``posexplode``, slice. Zero shuffles; output rows
    ~= corpus_tokens / stride. The explode happens *after* the parquet
    scan's column pruning, so only (doc_id, text) is ever read.
    """
    d = with_tokens(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    n = F.size("tk")
    chunks = d.select(
        "doc_id",
        n.alias("n"),
        "tk",
        F.posexplode(
            F.expr(f"sequence(0L, cast(floor((size(tk)-1)/{_STRIDE}) as long))")
        ).alias("chunk_idx", "k"),
    )
    start = (F.col("k") * _STRIDE + 1).alias("start_pos")
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.cast("long"),
        F.least(F.lit(_CHUNK), F.col("n") - (F.col("k") * _STRIDE + 1) + 1)
        .cast("long")
        .alias("chunk_len"),
        F.md5(
            F.concat_ws(
                " ", F.expr(f"slice(tk, cast(k*{_STRIDE}+1 as int), {_CHUNK})")
            )
        ).alias("chunk_hash"),
    )


@query(
    "sequence_packing",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, doc_id % {_SHARDS} AS shard,
         len(string_split(trim(text), ' ')) AS n_tokens
  FROM documents
),
placed AS (
  SELECT lang, shard, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS before_me
  FROM t
)
SELECT lang, shard,
       -- DuckDB's windowed SUM(BIGINT) widens to HUGEINT, so the //
       -- quotient is HUGEINT too and materializes as float64 through
       -- the pandas bridge ("5.0") while Spark emits int64 — the r3/r4
       -- driver-red cell.  Cast back down explicitly.
       CAST(before_me // {_BUDGET} AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       CAST((CAST(SUM(n_tokens) AS BIGINT) * 1000000) // {_BUDGET} AS BIGINT)
         AS fill_ppm
FROM placed
GROUP BY lang, shard, before_me // {_BUDGET}
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential packing of documents into fixed token budgets
    (sequence packing for training batches): stream docs in doc_id order
    within (lang, shard), assign each doc to the bin its running-prefix
    token count lands in. Bins overflow by at most one document — the
    standard contiguous-fill approximation, fully deterministic.

    Scale shape: the only shuffle is the window partition on
    (lang, shard); sharding bounds each window partition to 1/(langs x
    {_SHARDS}) of the corpus, and _SHARDS scales up freely (it only
    changes which docs share a bin, not the packing invariant). The
    final groupBy reuses the same (lang, shard) clustering, so AQE
    coalesces it without a second full exchange.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    t = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % _SHARDS).alias("shard"),
        F.size(F.split(F.trim("text"), " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = t.withColumn(
        "before_me", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        placed.groupBy(
            "lang", "shard", F.floor(F.col("before_me") / _BUDGET).alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            # Integer fill fraction in parts-per-million.  The obvious
            # ROUND(sum/budget, 6) is NOT hash-portable: sum/512 is exact
            # binary, so the quotient can land exactly on a .xxxxxx5
            # rounding boundary and DuckDB/JVM resolve the tie
            # differently (the only driver-red cell of rounds 1-3).
            # Integer division is bit-identical everywhere.
            F.expr(f"CAST(sum(n_tokens) * 1000000 DIV {_BUDGET} AS BIGINT)")
            .alias("fill_ppm"),
        )
    )


@query(
    "repetition_filter",
    oracle="""
WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
tri AS (
  SELECT doc_id, len(tk) AS n_tokens,
         GREATEST(len(tk) - 2, 0) AS n_trigrams,
         CASE WHEN len(tk) >= 3 THEN len(list_distinct(
             list_transform(range(1, len(tk) - 1),
                            i -> array_to_string(tk[i:i+2], ' '))))
              ELSE 0 END AS n_distinct_tri
  FROM t
),
tf AS (SELECT doc_id, u.tok, COUNT(*) AS c FROM t, UNNEST(tk) AS u(tok)
       GROUP BY doc_id, u.tok),
top AS (SELECT doc_id, MAX(c) AS top_cnt FROM tf GROUP BY doc_id)
SELECT tri.doc_id, tri.n_tokens,
       ROUND(CASE WHEN tri.n_trigrams > 0
                  THEN 1.0 - tri.n_distinct_tri / CAST(tri.n_trigrams AS DOUBLE)
                  ELSE 0.0 END, 6) AS dup_trigram_frac,
       ROUND(top.top_cnt / CAST(tri.n_tokens AS DOUBLE), 6) AS top_token_frac,
       (CASE WHEN tri.n_trigrams > 0
             THEN 1.0 - tri.n_distinct_tri / CAST(tri.n_trigrams AS DOUBLE)
             ELSE 0.0 END) <= 0.5
         AND top.top_cnt / CAST(tri.n_tokens AS DOUBLE) <= 0.2 AS keep
FROM tri JOIN top ON top.doc_id = tri.doc_id
""",
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition heuristics: duplicate-trigram fraction and
    most-frequent-token fraction, with a keep/drop verdict.

    Scale shape: trigram stats are computed array-side per row (zero
    shuffle); the top-token count is one explode + two-level hash
    aggregation keyed by doc_id (map-side partial combine — the explode
    never crosses the wire unreduced). The final join is doc_id-keyed on
    two doc-sized inputs, broadcast-eligible at the dimension side when
    the quality pass runs over a sampled slice.
    """
    d = with_tokens(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    n = F.size("tk")
    tri = d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.greatest(n - 2, F.lit(0)).alias("n_trigrams"),
        F.when(
            n >= 3,
            F.size(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(tk) - 2), "
                        "i -> concat_ws(' ', slice(tk, i, 3)))"
                    )
                )
            ),
        )
        .otherwise(0)
        .alias("n_distinct_tri"),
    )
    top = (
        d.select("doc_id", F.explode("tk").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    dup_frac = F.when(
        F.col("n_trigrams") > 0,
        1.0 - F.col("n_distinct_tri") / F.col("n_trigrams").cast("double"),
    ).otherwise(0.0)
    top_frac = F.col("top_cnt") / F.col("n_tokens").cast("double")
    return tri.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(dup_frac, 6).alias("dup_trigram_frac"),
        F.round(top_frac, 6).alias("top_token_frac"),
        ((dup_frac <= 0.5) & (top_frac <= 0.2)).alias("keep"),
    )


@query(
    "pii_scrub_stats",
    oracle=r"""
WITH aug AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0
                      THEN ' contact u' || CAST(doc_id AS VARCHAR)
                           || '@example.com id ' || CAST(doc_id * 7 AS VARCHAR)
                      ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z0-9.]+@[a-z]+\.[a-z]+')) AS n_emails,
       len(regexp_extract_all(text, '[0-9]+')) AS n_numbers,
       md5(regexp_replace(regexp_replace(text, '[a-z0-9.]+@[a-z]+\.[a-z]+',
                                         '<EMAIL>', 'g'),
                          '[0-9]+', '<NUM>', 'g')) AS scrubbed_hash
FROM aug
""",
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-shaped span scrubbing: count and redact email addresses and
    digit runs, emit the scrubbed-content hash.

    The corpus is synthetic (no real PII), so matches are injected
    deterministically into every 7th document — same expression on both
    sides, exactly the dedup-corpus pattern (plans/llm.py).

    Scale shape: pure map-only regexp pipeline (regexp_count /
    regexp_replace are JVM codegen expressions); zero shuffles, linear
    scan. NOTE the email count is evaluated *before* the number scrub so
    the two counters are independent of scrub order.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com id "),
                    (F.col("doc_id") * 7).cast("string"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    email_re = r"[a-z0-9.]+@[a-z]+\.[a-z]+"
    num_re = r"[0-9]+"
    # regexp_count via expr: backslashes must survive the SQL string
    # literal, so escape them for the parser.
    email_re_sql = email_re.replace("\\", "\\\\")
    return aug.select(
        "doc_id",
        F.expr(f"regexp_count(text, '{email_re_sql}')").cast("long").alias("n_emails"),
        F.expr(f"regexp_count(text, '{num_re}')").cast("long").alias("n_numbers"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", email_re, "<EMAIL>"), num_re, "<NUM>"
            )
        ).alias("scrubbed_hash"),
    )


@query(
    "domain_mixture_sample",
    oracle=f"""
WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
thr AS (
  SELECT source, n,
         CAST(ROUND(256 * sqrt((MIN(n) OVER ()) / CAST(n AS DOUBLE))) AS INT)
           AS keep_thr
  FROM c
),
kept AS (
  SELECT d.source, t.n, t.keep_thr,
         CASE WHEN {duck_bucket_sql("doc_id", "mix")} < t.keep_thr
              THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN thr t ON t.source = d.source
)
SELECT source,
       CAST(MAX(n) AS BIGINT) AS n_before,
       MAX(keep_thr) AS keep_thr,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       ROUND(SUM(keep) / CAST(MAX(n) AS DOUBLE), 6) AS kept_frac
FROM kept GROUP BY source
""",
)
def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened domain mixture (tau = 0.5): downsample each
    source toward a balanced mix, keeping p_s = sqrt(n_min / n_s) of
    source s — the smallest source survives whole, large sources shrink
    toward it. Deterministic md5-bucket acceptance (operators/sampling.py),
    so the sample is reproducible and stable under corpus growth.

    Scale shape: the per-source count table is mixture-sized (tiny) and
    broadcast back onto the corpus; acceptance is then a map-side filter.
    Only the final per-source stats groupBy shuffles, carrying one row
    per source per task after partial agg.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w_all = Window.partitionBy()
    thr = c.select(
        "source",
        "n",
        F.round(
            256 * F.sqrt(F.min("n").over(w_all) / F.col("n").cast("double"))
        )
        .cast("int")
        .alias("keep_thr"),
    )
    kept = d.join(F.broadcast(thr), "source").select(
        "source",
        "n",
        "keep_thr",
        F.when(hash_bucket("doc_id", "mix") < F.col("keep_thr"), 1)
        .otherwise(0)
        .alias("keep"),
    )
    return kept.groupBy("source").agg(
        F.max("n").cast("long").alias("n_before"),
        F.max("keep_thr").alias("keep_thr"),
        F.sum("keep").cast("long").alias("n_kept"),
        F.round(F.sum("keep") / F.max("n").cast("double"), 6).alias("kept_frac"),
    )


@query(
    "embedding_quantize",
    oracle="""
WITH e2 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
),
s AS (
  SELECT vec_id, dv,
         GREATEST(list_max(list_transform(dv, x -> abs(x))), 1e-12) AS scale
  FROM e2
),
q AS (
  SELECT vec_id, scale,
         list_transform(dv, x -> CAST(floor(x / scale * 127.0 + 0.5) AS INT))
           AS qv
  FROM s
)
SELECT vec_id, ROUND(scale, 6) AS scale,
       md5(array_to_string(qv, ',')) AS q_hash,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1
FROM q
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of embedding vectors: per-vector max-abs
    scale, symmetric round-half-up to [-127, 127]. The index-build step
    for a quantized ANN store (4x memory cut vs float32).

    Determinism across engines: elements are cast float->double (exact)
    before any arithmetic, and both sides evaluate the identical
    expression tree `floor(x / scale * 127.0 + 0.5)` — IEEE double ops in
    the same order produce bit-identical quantized ints, verified by the
    md5 over the int array.

    Scale shape: map-only higher-order array expressions, zero shuffles;
    the scan reads only (vec_id, embedding).
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    s = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("dv"),
    ).select(
        "vec_id",
        "dv",
        F.greatest(
            F.expr("array_max(transform(dv, x -> abs(x)))"), F.lit(1e-12)
        ).alias("scale"),
    )
    q = s.select(
        "vec_id",
        "scale",
        F.expr(
            "transform(dv, x -> cast(floor(x / scale * 127.0 + 0.5) as int))"
        ).alias("qv"),
    )
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.md5(F.concat_ws(",", F.expr("transform(qv, x -> cast(x as string))"))).alias(
            "q_hash"
        ),
        F.expr("aggregate(qv, 0L, (a, x) -> a + abs(x))").alias("q_l1"),
    )


# Quality-classifier scoring: a fixed linear model over the embedding
# column (the FineWeb-style "educational quality" filter shape: train a
# small classifier offline, apply it corpus-wide as a map-only pass).
# Deterministic demo weights; real deployments broadcast trained weights
# the same way.  The margin (not a sigmoid) keeps cross-engine bit
# determinism: sequential-fold dot product in IEEE double on both sides.
_CLS_W = [((i * 37) % 21 - 10) / 10.0 for i in range(64)]
_CLS_THRESHOLD = 0.5


@query(
    "classifier_quality_filter",
    oracle=f"""
SELECT vec_id, label,
       ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
                              [{", ".join(f"CAST({w} AS DOUBLE)" for w in _CLS_W)}]),
             6) AS margin,
       list_dot_product(CAST(embedding AS DOUBLE[]),
                        [{", ".join(f"CAST({w} AS DOUBLE)" for w in _CLS_W)}])
         > {_CLS_THRESHOLD} AS accept
FROM embeddings
""",
)
def classifier_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring over the embedding column: margin
    = w . x with fixed weights, accept = margin > threshold — the
    model-based corpus filter applied after heuristic filters.

    Scale shape: the weight vector is a plan literal (broadcast by
    construction); scoring is a map-only higher-order-function fold
    (zip_with + aggregate) inside codegen — zero shuffles, zero Python.
    Float story: elements cast float->double (exact) then folded in index
    order, matching DuckDB's list_dot_product evaluation order —
    bit-identical margins, so even the boolean threshold agrees."""
    w_arr = ", ".join(f"CAST({w} AS DOUBLE)" for w in _CLS_W)
    e = load_table(spark, sf_dir, "embeddings")
    dot = F.expr(
        f"aggregate(zip_with(transform(embedding, x -> cast(x as double)), "
        f"array({w_arr}), (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"
    )
    return e.select(
        "vec_id",
        "label",
        F.round(dot, 6).alias("margin"),
        (dot > F.lit(_CLS_THRESHOLD)).alias("accept"),
    )


# ---------------------------------------------------------------------------
# Arrow-native map (mapInArrow): embedding L2 normalization


@query(
    "arrow_normalize_embeddings",
    oracle="""
WITH e2 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
),
n AS (
  SELECT vec_id, dv,
         GREATEST(sqrt(list_reduce(list_transform(dv, x -> x * x),
                                   (a, b) -> a + b)), 1e-12) AS nrm
  FROM e2
),
q AS (
  SELECT vec_id, dv, nrm,
         list_transform(dv, x -> CAST(floor(x / nrm * 1000000.0 + 0.5)
                                      AS BIGINT)) AS qv
  FROM n
)
SELECT vec_id,
       CAST(len(dv) AS INT) AS n_dims,
       floor(nrm * 1000000.0 + 0.5) / 1000000.0 AS norm,
       md5(array_to_string(qv, ',')) AS q_hash,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1
FROM q
""",
)
def arrow_normalize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize the embedding column with ``mapInArrow`` — the
    Arrow-native UDF surface (pyspark 4): the Python worker receives raw
    ``pyarrow.RecordBatch``es, no pandas conversion at all, which is the
    lowest-overhead path when the payload is already columnar numerics.
    Complements ``pandas_udf_token_stats`` (grouped pandas) and
    ``multimodal_decode_features`` (mapInPandas) to cover all three
    Python-UDF transports from SURVEY.md §2.2.

    Determinism across engines (same discipline as ``embedding_quantize``):
    float->double casts are exact; the squared-norm is accumulated
    column-by-column (a left fold, vectorized across the rows of the
    batch), matching DuckDB's sequential ``list_reduce``; both sides then
    evaluate the identical IEEE expression `floor(x / nrm * 1e6 + 0.5)`,
    so the quantized normalized vectors are bit-identical and md5-able.

    Scale shape: map-only — zero shuffles; Arrow batches stream through
    the Python worker at arrow.maxRecordsPerBatch granularity, one worker
    per core. The decode body is a self-contained closure (cloudpickle
    ships it by value; executors need no package on sys.path)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out_schema = (
        "vec_id BIGINT, n_dims INT, norm DOUBLE, q_hash STRING, q_l1 BIGINT"
    )

    def _normalize(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        for batch in batches:
            vec_ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            emb = batch.column("embedding")
            # ListArray -> (n_rows, dim) float64 matrix. Offsets are
            # uniform (fixed-dim vectors) — assert rather than assume.
            lens = np.diff(emb.offsets.to_numpy(zero_copy_only=False))
            if len(lens) == 0:
                continue
            dim = int(lens[0])
            assert (lens == dim).all(), "ragged embedding column"
            m = (
                emb.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(-1, dim)
            )
            # Sequential left fold over dimensions (vectorized over rows):
            # ((x0^2 + x1^2) + x2^2) + ... — same order as the oracle's
            # list_reduce, so the doubles are bit-identical.
            acc = np.zeros(len(m), dtype=np.float64)
            for j in range(dim):
                acc = acc + m[:, j] * m[:, j]
            nrm = np.maximum(np.sqrt(acc), 1e-12)
            qv = np.floor(m / nrm[:, None] * 1e6 + 0.5).astype(np.int64)
            norm6 = np.floor(nrm * 1e6 + 0.5) / 1e6
            q_hash = [
                hashlib.md5(",".join(map(str, row)).encode()).hexdigest()
                for row in qv
            ]
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": pa.array(vec_ids.astype(np.int64), pa.int64()),
                    "n_dims": pa.array([dim] * len(m), pa.int32()),
                    "norm": pa.array(norm6, pa.float64()),
                    "q_hash": pa.array(q_hash, pa.string()),
                    "q_l1": pa.array(np.abs(qv).sum(axis=1), pa.int64()),
                }
            )

    return e.mapInArrow(_normalize, out_schema)


@query(
    "kfold_assignment",
    oracle=f"""
WITH f AS (
  SELECT doc_id, lang,
         {SMP.duck_bucket_sql("doc_id", "kfold")} % 5 AS fold
  FROM documents
)
SELECT fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM f GROUP BY fold
""",
)
def kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation assignment over the corpus with per-fold
    balance stats — the split layer under every CV training loop.  Folds
    are a pure function of doc_id (md5 bucket mod k, operators/
    sampling.py::with_kfold), so they survive corpus growth without
    leaking documents across folds — the property random shuffles lose on
    every refresh.  One map-side assignment + one 5-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    f = SMP.with_kfold(docs, k=5)
    return f.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# packing-efficiency sweep across token budgets
# ---------------------------------------------------------------------------

_SWEEP_BUDGETS = [128, 256, 512, 1024, 2048]


@query(
    "packing_efficiency_sweep",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, doc_id % {_SHARDS} AS shard,
         len(string_split(trim(text), ' ')) AS n_tokens
  FROM documents
),
placed AS (
  SELECT lang, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS before_me
  FROM t
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM placed),
per_b AS (
  {" UNION ALL ".join(
      f"SELECT CAST({b} AS BIGINT) AS budget, "
      f"CAST(COUNT(DISTINCT (lang, shard, before_me // {b})) AS BIGINT) AS n_bins "
      f"FROM placed"
      for b in _SWEEP_BUDGETS
  )}
)
SELECT budget, n_bins,
       tot.total_tokens,
       CAST(tot.total_tokens * 1000000 // (n_bins * budget) AS BIGINT)
         AS util_ppm
FROM per_b CROSS JOIN tot
""",
)
def packing_efficiency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget calibration for sequence packing: for each candidate
    context budget, how many bins does the greedy contiguous fill use and
    what fraction of the bin capacity is real tokens (util_ppm) — the
    readout that picks the context length / packing tradeoff before a
    training run.

    Scale shape: ONE window pass computes the per-doc prefix sum (same
    single (lang, shard) shuffle as sequence_packing), then all budgets
    are measured together as multiple COUNT(DISTINCT floor(before_me/B))
    aggregates over that one pass — Spark plans the multi-distinct via
    expand (|budgets| ×, map-side partial), the oracle as a UNION of
    scans; no per-budget repacking, no second window.  Integer ppm
    utilization, hash-portable by construction."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    t = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % _SHARDS).alias("shard"),
        F.size(F.split(F.trim("text"), " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = t.withColumn(
        "before_me", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    aggs = [F.sum("n_tokens").cast("long").alias("total_tokens")]
    for b in _SWEEP_BUDGETS:
        aggs.append(
            F.countDistinct(
                F.struct(
                    "lang", "shard", F.floor(F.col("before_me") / b).alias("bin")
                )
            )
            .cast("long")
            .alias(f"bins_{b}")
        )
    wide = placed.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({b} AS BIGINT), bins_{b}" for b in _SWEEP_BUDGETS
    )
    return wide.select(
        F.expr(
            f"stack({len(_SWEEP_BUDGETS)}, {stack_args}) AS (budget, n_bins)"
        ),
        "total_tokens",
    ).select(
        "budget",
        "n_bins",
        "total_tokens",
        F.expr(
            "CAST(total_tokens * 1000000 DIV (n_bins * budget) AS BIGINT)"
        ).alias("util_ppm"),
    )


# ---------------------------------------------------------------------------
# deterministic weighted priority sample
# ---------------------------------------------------------------------------


@query(
    "weighted_sample_per_lang",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, len(string_split(trim(text), ' ')) AS n_tokens,
         {SMP.md5_key("wsamp:", "doc_id", dialect="duckdb")} AS h
  FROM documents
),
keyed AS (
  SELECT doc_id, lang, n_tokens,
         CAST(n_tokens AS BIGINT) * ({SMP.hex_digits("h", 1, 4, "duckdb")})
           AS priority
  FROM t
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY priority DESC, doc_id ASC) AS rnk
  FROM keyed
)
SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(priority AS BIGINT) AS priority, rnk
FROM ranked WHERE rnk <= 5
""",
)
def weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sample: top-5 documents per
    language by ``n_tokens x md5-uniform`` priority — the reproducible
    stand-in for weight-proportional sampling (longer documents get
    proportionally higher expected priority, the md5 term decorrelates
    the pick from raw length ordering).  Every refresh of a growing
    corpus re-derives the same priorities for existing docs, so the
    sample is stable under growth — the property an rng-based
    A-Res/Efraimidis-Spirakis sampler loses on every rerun, and the
    integer priority (token count x 16-bit md5 value) avoids the
    transcendental ``ln(u)/w`` key whose libm rounding differs across
    engines.

    Scale shape: map-side priority derivation (md5 digits rendered by
    operators/sampling.py's ``hex_digits``), one per-lang window with
    WindowGroupLimit pushing the top-5 cut below the sort — no global
    sort, no full-partition materialization."""
    d = with_tokens(load_table(spark, sf_dir, "documents"))
    m = SMP.md5_key("wsamp:", "doc_id")
    pri = F.expr(f"CAST(size(tk) AS BIGINT) * ({SMP.hex_digits(m, 1, 4)})")
    keyed = d.select(
        "lang",
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        pri.alias("priority"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("priority"), F.asc("doc_id"))
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("lang", "doc_id", "n_tokens", "priority", "rnk")
    )


# ---------------------------------------------------------------------------
# embedding distribution audit (drift detection input)
# ---------------------------------------------------------------------------


@query(
    "embedding_dimension_stats",
    oracle="""
SELECT i - 1 AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT))
         AS BIGINT) AS sum_e4,
       CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
                * CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT))
         AS BIGINT) AS sumsq_e8,
       CAST(MIN(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT))
         AS BIGINT) AS lo_e4,
       CAST(MAX(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT))
         AS BIGINT) AS hi_e4
FROM embeddings, UNNEST(range(1, 65)) AS u(i)
GROUP BY i
""",
)
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution audit (count / sum / sum of
    squares / min / max of each of the 64 components, in exact integer
    e4 units) — the fingerprint compared across corpus snapshots or
    encoder versions to catch embedding drift before it poisons ANN
    recall or dedup thresholds.  Mean and std derive downstream from
    (n, sum_e4, sumsq_e8) — the mergeable sufficient statistics.

    Integer units, not ROUND-on-double: the original ROUND(AVG) form
    passed sf0.01 for five rounds, then the first sf0.1 sweep after it
    was added caught DuckDB emitting -0.0 on two near-zero means where
    Spark emits +0.0 (hash-distinct, tolerance-invisible) — exactly the
    embedding_gram_matrix r4 divergence class.  Per-row FLOOR(x*1e4)
    floors identically on both engines, and integer SUM/MIN/MAX are
    order-independent with no -0.0.

    Scale shape: posexplode fans each vector into 64 (dim, value) rows
    map-side, then ONE hash aggregate with 64 groups — partial
    aggregation collapses every partition to 64 rows before the
    exchange, so the shuffle is O(partitions x 64) regardless of corpus
    size.  All-algebraic measures; mergeable across replicas like the
    content digest."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select(
        "dim",
        F.floor(F.col("x").cast("double") * 10000).cast("long").alias("x_e4"),
    )
    return (
        exploded.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x_e4").cast("long").alias("sum_e4"),
            F.sum(F.col("x_e4") * F.col("x_e4")).cast("long").alias("sumsq_e8"),
            F.min("x_e4").cast("long").alias("lo_e4"),
            F.max("x_e4").cast("long").alias("hi_e4"),
        )
    )


# ---------------------------------------------------------------------------
# Gram matrix (X^T X): the normal-equations / covariance building block
# ---------------------------------------------------------------------------


@query(
    "embedding_gram_matrix",
    oracle="""
SELECT u.i - 1 AS i, v.j - 1 AS j,
       CAST(COUNT(*) AS BIGINT) AS n,
       -- Quantize each product to integer centi-units BEFORE summing:
       -- ROUND on the double SUM is order-dependent AND DuckDB's ROUND
       -- emits -0.0 (14 cells measured at sf0.01) where Spark's
       -- BigDecimal round cannot.  FLOOR of the same IEEE product is
       -- deterministic on both engines and an integer SUM has no -0
       -- and no ordering sensitivity.
       CAST(SUM(CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE)
                           * CAST(embedding[v.j] AS DOUBLE) * 100)
                AS BIGINT)) AS BIGINT) AS xx_centi
FROM embeddings, UNNEST(range(1, 65)) AS u(i), UNNEST(range(1, 65)) AS v(j)
WHERE v.j >= u.i
GROUP BY 1, 2
""",
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram matrix X^T X of the embedding corpus — the
    one-pass distributed primitive behind closed-form linear regression
    (normal equations), PCA (covariance after centering), and whitening.
    The 64x64 matrix is emitted as 2080 (i, j, sum) rows; the driver-side
    solve of a 64x64 system is metadata-sized by construction.

    Scale shape: a double posexplode fans each vector into its
    upper-triangle component products MAP-SIDE (no join — the second
    explode re-reads the row's own array), then ONE partial-aggregated
    hash exchange collapses every partition to <= 2080 groups before any
    data moves.  At 100 TB the exchange still carries O(partitions x
    2080) rows; the quadratic term is in the DIMENSION (64), never the
    corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    e1 = emb.select(
        "embedding", F.posexplode("embedding").alias("i", "xi")
    )
    e2 = e1.select(
        "i",
        F.col("xi").cast("double").alias("xi"),
        F.posexplode("embedding").alias("j", "xj"),
    ).where(F.col("j") >= F.col("i"))
    # Per-row FLOOR((xi*xj)*100) -> BIGINT, then integer SUM: the same
    # IEEE product floors identically in both engines, and an integer sum
    # is order-independent and has no -0.0 — unlike ROUND on the double
    # aggregate (the r4 driver-red divergence: DuckDB emitted -0.0 on 14
    # near-zero cells, Spark's BigDecimal round cannot).
    return e2.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.floor(F.col("xi") * F.col("xj").cast("double") * F.lit(100))
        )
        .cast("long")
        .alias("xx_centi"),
    )


# Target corpus shares for the rebalance plan, in ppm (literal policy —
# a real run reads these from a config table and broadcasts it).
_MIX_TARGET_PPM = {"en": 400_000, "de": 150_000, "es": 150_000, "fr": 150_000, "zh": 150_000}


@query(
    "mixture_rebalance_plan",
    oracle=f"""
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM counts),
tgt AS (
  SELECT * FROM (VALUES
    ('en', CAST({_MIX_TARGET_PPM["en"]} AS BIGINT)),
    ('de', CAST({_MIX_TARGET_PPM["de"]} AS BIGINT)),
    ('es', CAST({_MIX_TARGET_PPM["es"]} AS BIGINT)),
    ('fr', CAST({_MIX_TARGET_PPM["fr"]} AS BIGINT)),
    ('zh', CAST({_MIX_TARGET_PPM["zh"]} AS BIGINT))
  ) AS t(lang, target_ppm)
)
SELECT c.lang, c.n_docs, t.target_ppm,
       CAST(c.n_docs * 1000000 // tot.n_total AS BIGINT) AS current_ppm,
       CAST(LEAST(CAST(1000000 AS BIGINT),
                  t.target_ppm * tot.n_total // c.n_docs) AS BIGINT)
         AS accept_rate_ppm,
       CAST(c.n_docs * LEAST(CAST(1000000 AS BIGINT),
                             t.target_ppm * tot.n_total // c.n_docs)
            // 1000000 AS BIGINT) AS expected_kept
FROM counts c JOIN tgt t ON t.lang = c.lang CROSS JOIN tot
""",
)
def mixture_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-rebalance PLANNING: given target per-language corpus
    shares (a literal policy table), compute each language's current
    share, the per-language acceptance rate that moves the mix toward
    target, and the expected post-sampling count — the dry-run a data
    team reviews before domain_mixture_sample executes the cut.
    Down-sample-only semantics (rates clamp at 1e6 ppm): an
    under-represented language keeps everything; nothing is upsampled.

    All-integer plan: shares and rates are ppm via integer DIV, so the
    plan is bit-identical on both engines and across partitionings —
    the property that lets the EXECUTED sample (md5-bucket acceptance
    at exactly accept_rate_ppm) be audited against this plan later.

    Scale shape: one language-keyed count agg (map-side combined), a
    1-row total broadcast-crossed back, and a 5-row literal policy
    join — the plan never touches document payloads (column pruning to
    `lang` only)."""
    counts = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    tot = counts.agg(F.sum("n_docs").cast("long").alias("n_total"))
    tgt = spark.createDataFrame(
        [(k, v) for k, v in sorted(_MIX_TARGET_PPM.items())],
        ["lang", "target_ppm"],
    ).select("lang", F.col("target_ppm").cast("long"))
    rate = F.expr(
        "CAST(LEAST(CAST(1000000 AS BIGINT), "
        "target_ppm * n_total DIV n_docs) AS BIGINT)"
    )
    return (
        counts.join(F.broadcast(tgt), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "target_ppm",
            F.expr("CAST(n_docs * 1000000 DIV n_total AS BIGINT)").alias(
                "current_ppm"
            ),
            rate.alias("accept_rate_ppm"),
        )
        .select(
            "*",
            F.expr(
                "CAST(n_docs * accept_rate_ppm DIV 1000000 AS BIGINT)"
            ).alias("expected_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick)
# ---------------------------------------------------------------------------

_FH_DIM = 256  # exactly two md5 hex digits — no modulo bias


@query(
    "feature_hashing",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, md5(concat('fh:', term)) AS m
  FROM (
    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
    FROM documents WHERE doc_id % 5 = 0
  )
)
SELECT doc_id,
       CAST({SMP.hex_digits("m", dialect="duckdb")} AS INT) AS bucket,
       CAST(SUM(CASE WHEN {SMP.hex_digits("m", 3, 1, "duckdb")} % 2 = 0
                     THEN 1 ELSE -1 END) AS BIGINT) AS feat,
       CAST(COUNT(*) AS BIGINT) AS n_terms
FROM toks
GROUP BY 1, 2
""",
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. ICML'09) — the
    fixed-dimension, vocabulary-free text features every large-scale
    linear/logistic trainer consumes: each token hashes to one of
    256 buckets (two md5 hex digits rendered by operators/sampling.py's
    ``hex_digits``, and with 16x16 = 256 there is NO modulo bias) and
    contributes a +/-1 sign from the parity of an independent third
    digit (the unbiased-inner-product variant), summed per (doc, bucket).  Long-format output over a
    deterministic doc sample; the collision behavior IS the semantics,
    so the oracle replays the identical hash construction.

    Scale shape: map-side md5 + sign inside whole-stage codegen, then
    ONE (doc_id, bucket) hash aggregation with map-side partials —
    no vocabulary table, no join, no skew (md5 spreads buckets
    uniformly); the natural 100 TB featurizer shape.  Zero Python.

    Reference parity: extends the north-star LLM-pipeline surface
    (BASELINE.json); the reference (/root/reference/main.py) has no
    data-plane transforms."""
    toks = (
        with_tokens(load_table(spark, sf_dir, "documents"))
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id", F.explode("tk").alias("term"))
        .withColumn("m", F.md5(F.concat(F.lit("fh:"), F.col("term"))))
    )
    bucket = F.expr(f"CAST({SMP.hex_digits('m')} AS INT)")
    sign = F.when(F.expr(f"{SMP.hex_digits('m', 3, 1)} % 2 = 0"), 1).otherwise(-1)
    return (
        toks.select("doc_id", bucket.alias("bucket"), sign.alias("sign"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.sum("sign").cast("long").alias("feat"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
    )
