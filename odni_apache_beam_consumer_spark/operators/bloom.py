"""Bloom-filter semi-join reduction as a first-class operator.

The 100 TB pattern: before anti-joining a huge incoming batch against a
huge corpus on an equality key, build a tiny Bloom bitmap of the corpus
keys, broadcast it, and discard the (typical) vast majority of incoming
rows map-side — only maybe-members reach the exact join's shuffle.
Spark's own InjectRuntimeFilter does this inside one query when
statistics allow (demonstrated in tests/test_runtime_optimizations.py);
this operator is the EXPLICIT, cross-query form — build once, reuse
against any number of batches — which the optimizer cannot do for you
(``bloom_filter_agg`` is not a public SQL function, and runtime filters
never outlive their query).

Representation: m bits packed into m/64 longs, stored SPARSE as a
(word_idx, mask) table — empty words are absent, so the bitmap costs
O(set bits), broadcasts cheaply, and the probe is a broadcast equi-join
per hash function plus a bitwise AND.  k = 2 hash functions derived from
md5 hex digits (rendered by ``operators/sampling.py::hex_digits``, the
package's one cross-engine digit renderer), so the filter is fully
deterministic: membership is a pure function of the key, with NO false
negatives by construction and a false-positive rate of roughly
(n_set_bits / m)^2.

Everything is JVM-side codegen (md5 / instr / shift / bit_or) — zero
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.operators.sampling import hex_digits, md5_key

# Default geometry: 2^16 bits in 1024 longs.  At ~1% occupancy per hash
# that is a <1e-2 false-positive rate; scale m_bits with expected corpus
# keys (the sparse representation keeps small filters small regardless).
M_BITS = 65536


def _bit_exprs(key_expr: str, which: int, salt: str) -> tuple[Column, Column]:
    """(word_idx, mask) for hash function ``which`` (0 or 1) of the key.

    16 bits from md5 hex digits [1..4] or [5..8]: digits*16^j folded, top
    10 bits select the long, low 6 the bit."""
    bit = f"({hex_digits(md5_key(f'{salt}:', key_expr), 1 + 4 * which, 4)})"
    word = F.expr(f"CAST({bit} DIV 64 AS INT)")
    mask = F.expr(f"shiftleft(1L, CAST({bit} % 64 AS INT))")
    return word, mask


def build_bloom(
    corpus: DataFrame, key_expr: str, salt: str = "bloom"
) -> DataFrame:
    """The sparse Bloom bitmap of ``key_expr`` over the corpus: one row
    per non-empty 64-bit word, ``(word_idx INT, mask BIGINT)``.

    Scale shape: map-side (word, single-bit) pairs, one partial-
    aggregated bit_or shuffle to at most M_BITS/64 = 1024 rows — the
    corpus is scanned once and the exchange carries at most 1024 rows
    per partition regardless of corpus size."""
    parts = []
    for which in (0, 1):
        w, mk = _bit_exprs(key_expr, which, salt)
        parts.append(corpus.select(w.alias("word_idx"), mk.alias("mask")))
    return (
        parts[0]
        .unionByName(parts[1])
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("mask"))
    )


def with_bloom_hit(
    batch: DataFrame, bloom: DataFrame, key_expr: str, salt: str = "bloom",
    out: str = "_bloom_hit",
) -> DataFrame:
    """``batch`` plus a boolean ``out`` column: true iff the key is MAYBE
    in the bloom (both probe bits set).  No false negatives: every true
    member gets true.

    Scale shape: two broadcast LEFT equi-joins on word_idx (the bloom
    table is <= 1024 rows) + a map-side bitwise AND — the batch is never
    shuffled and keeps its partitioning."""
    w0, m0 = _bit_exprs(key_expr, 0, salt)
    w1, m1 = _bit_exprs(key_expr, 1, salt)
    b0 = F.broadcast(
        bloom.select(F.col("word_idx").alias("_w0"), F.col("mask").alias("_m0"))
    )
    b1 = F.broadcast(
        bloom.select(F.col("word_idx").alias("_w1"), F.col("mask").alias("_m1"))
    )
    hit = (
        F.col("_m0").isNotNull()
        & (F.col("_m0").bitwiseAND(F.col("_pm0")) != 0)
        & F.col("_m1").isNotNull()
        & (F.col("_m1").bitwiseAND(F.col("_pm1")) != 0)
    )
    return (
        batch.withColumn("_pw0", w0)
        .withColumn("_pm0", m0)
        .withColumn("_pw1", w1)
        .withColumn("_pm1", m1)
        .join(b0, F.col("_pw0") == F.col("_w0"), "left")
        .join(b1, F.col("_pw1") == F.col("_w1"), "left")
        .withColumn(out, F.coalesce(hit, F.lit(False)))
        .drop("_pw0", "_pm0", "_pw1", "_pm1", "_w0", "_m0", "_w1", "_m1")
    )


def bloom_anti_join(
    batch: DataFrame,
    corpus: DataFrame,
    key_expr: str,
    salt: str = "bloom",
) -> DataFrame:
    """EXACT ``batch`` minus ``corpus`` on ``key_expr``, Bloom-routed:
    rows the bloom proves absent pass through map-side; only
    maybe-members (true members + deterministic false positives) are
    verified by the exact anti join.  The result is bit-identical to a
    plain anti join for ANY bloom geometry — the filter only routes.

    Scale shape at 100 TB: proven-absent rows of the incoming batch
    (the common case for dedup ingest) never shuffle at all; the exact
    anti join's exchange carries only the maybe set."""
    cols = batch.columns
    marked = with_bloom_hit(
        batch, build_bloom(corpus, key_expr, salt), key_expr, salt
    )
    proven_absent = marked.where(~F.col("_bloom_hit")).select(*cols)
    maybe = marked.where(F.col("_bloom_hit")).select(*cols)
    verified_absent = maybe.join(
        corpus.select(F.expr(key_expr).alias("_k")).dropDuplicates(["_k"]),
        F.expr(key_expr) == F.col("_k"),
        "left_anti",
    ).select(*cols)
    return proven_absent.unionByName(verified_absent)
