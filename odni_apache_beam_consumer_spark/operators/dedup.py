"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design notes
------------
* **Portable hashing.** Signatures are built from ``md5`` of shingle
  strings, not ``xxhash64``/``F.hash``: md5 is bit-identical across Spark
  and DuckDB, which makes every dedup operator here *oracle-checkable* —
  the DuckDB oracle reproduces the exact same signatures, and SimHash
  reads its md5 hex digits through ``operators/sampling.py``'s
  renderer.  md5 is computed JVM-side per distinct shingle, so it is not
  a bottleneck; a deployment that drops the oracle could hash with
  ``F.xxhash64`` instead and verify by row counts only.
* **Shuffle shape (the 100 TB story).** All hash slots per shingle/token
  are computed as ONE array column before the shuffle, and the per-doc
  signature is a single ``groupBy(doc)`` with element-wise MIN/SUM
  aggregates.  Map-side partial aggregation therefore reduces to one row
  per (doc, partition) BEFORE the exchange — the shuffle never carries the
  ×num_hashes (MinHash) or ×64 (SimHash) exploded rows, and band/block
  keys are derived column-side from the aggregated signature with no
  further shuffle.  MinHash/LSH is exactly 1 shuffle + the self-join.
* **Self-join inputs are cached.** The band/block/shingle tables feed both
  sides of a self-join; without caching, Spark recomputes the whole
  signature pipeline once per side (the plan shows two identical
  subtrees).  Each pairs-operator persists the shared input so the
  executed plan reuses one materialization (tiny: one row per doc-band).
* **Hot-bucket guards.** ``max_bucket`` (LSH) and ``max_doc_freq``
  (Jaccard inverted index) drop pathological buckets/shingles — at 100 TB
  a single boilerplate shingle shared by m docs otherwise yields O(m^2)
  candidate pairs in one task.
* **Exact dedup** is a single hash-aggregate on the content hash — the
  map-side partial aggregation means each executor emits one row per
  distinct hash, which is the optimal 100 TB shape.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from odni_apache_beam_consumer_spark.caches import Caches, iterate
from odni_apache_beam_consumer_spark.catalog import spread
from odni_apache_beam_consumer_spark.operators.sampling import hex_rank
from odni_apache_beam_consumer_spark.operators.text_ops import with_tokens, word_shingles


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical content; keep the smallest id as canonical."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_table(
    df: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle) pairs — distinct n-word shingles per document.

    ``spread`` first: tokenize+shingle is the CPU-dominant stage of every
    text-dedup pipeline, and an under-split input (single-row-group file)
    would otherwise run it on one core (catalog.spread is a no-op on
    well-split inputs)."""
    tk = with_tokens(spread(df), text_col=text_col, out="tk").where(F.size("tk") >= n)
    return tk.select(F.col(id_col), F.explode(word_shingles("tk", n)).alias("shingle"))


def minhash_signatures(sh: DataFrame, num_hashes: int, id_col: str = "doc_id") -> DataFrame:
    """Per-doc MinHash signature as one array column (id, minhashes).

    All ``num_hashes`` slots are computed as a single array per
    (doc, shingle) row, then ONE ``groupBy(doc)`` takes element-wise mins.
    Partial aggregation runs map-side, so the exchange carries one row per
    (doc, partition) — never the exploded (doc, shingle) × num_hashes rows.
    Signature values are identical to ``MIN(md5(shingle || '#' || h))``
    per slot, which is what the DuckDB oracle computes.

    The slots are ``num_hashes`` direct md5 columns, not one array built
    by a ``transform`` lambda: higher-order-function lambdas evaluate
    interpreted per element, while flat md5(concat(...)) expressions stay
    in whole-stage codegen — measured 2× on the full signature build.
    Map-side partial aggregation still collapses to one 12-column row per
    (doc, partition) before the exchange either way.
    """
    wide = sh.select(
        F.col(id_col),
        *[
            F.md5(F.concat("shingle", F.lit(f"#{h}"))).alias(f"h{h}")
            for h in range(num_hashes)
        ],
    )
    mins = [F.min(f"h{h}").alias(f"m{h}") for h in range(num_hashes)]
    agg = wide.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col), F.array(*[F.col(f"m{h}") for h in range(num_hashes)]).alias("minhashes")
    )


def lsh_band_signatures(
    mh: DataFrame, rows_per_band: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band, sig) rows: each band's minhashes joined with '|'.

    Derived column-side from the per-doc signature array via
    posexplode(transform(...)) — zero additional shuffles."""
    return mh.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(minhashes) div {rows_per_band} - 1), "
                f"b -> array_join(slice(minhashes, 1 + b * {rows_per_band}, "
                f"{rows_per_band}), '|'))"
            )
        ).alias("band", "sig"),
    )


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str = "doc_id", max_bucket: int | None = None
) -> DataFrame:
    """Distinct (a < b) pairs sharing at least one full band signature.

    ``bands`` feeds both sides of the self-join — callers should persist it
    (see ``minhash_lsh_pairs``).  ``max_bucket`` drops buckets with more
    than that many docs before pairing: a mass-duplicated corpus otherwise
    turns one bucket into O(m^2) pairs inside a single task.
    """
    if max_bucket is not None:
        ok = (
            bands.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") <= max_bucket)
            .drop("_n")
        )
        bands = bands.join(ok, ["band", "sig"], "left_semi")
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "sig")
    b = bands.select(F.col(id_col).alias("doc_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    caches: Caches,
    shingle_words: int = 3,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end MinHash/LSH near-duplicate candidate pairs.

    The band table is persisted before the self-join so the signature
    pipeline (scan → shingle → signature agg) materializes once and both
    join sides read the cache — without it the executed plan duplicates
    the entire upstream subtree per side.

    ``caches`` owns that persist: the caller releases it once the result
    is consumed (``caches.result(...)`` or a ``with`` block)."""
    sh = shingle_table(df, shingle_words, id_col, text_col)
    mh = minhash_signatures(sh, num_hashes, id_col)
    bands = caches.persist(
        lsh_band_signatures(mh, rows_per_band, id_col), StorageLevel.MEMORY_AND_DISK
    )
    return lsh_candidate_pairs(bands, id_col, max_bucket=max_bucket)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


# Nibble-packing LUT: hex digit d -> one long holding its 4 bit-values in
# four 16-bit fields (bit3 at <<48 ... bit0 at <<0).  Summing the packed
# longs over tokens accumulates per-bit one-counts in the four fields
# simultaneously — 16 sums recover all 64 bit-counts.
_PACK_LUT = [
    (((d >> 3) & 1) << 48) | (((d >> 2) & 1) << 32) | (((d >> 1) & 1) << 16) | (d & 1)
    for d in range(16)
]


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document as a '0'/'1' string (portable encoding).

    Each token votes +1/-1 on every bit of md5(token); the sign of the
    per-bit sum is the signature bit (bit b lives in hex digit b//4 — no
    engine-specific bit intrinsics, so the DuckDB oracle reproduces it).

    Shuffle shape: per token, the 16 leading md5 hex digits become 16
    packed longs (LUT lookup, 4 bit-values per long in 16-bit lanes); ONE
    ``groupBy(doc)`` with 16 SUMs + a COUNT accumulates every bit's
    one-count with map-side partial aggregation — the exchange carries one
    17-column row per (doc, partition), never tokens × 64 exploded rows.
    Sign test: vote sum = 2*ones - n_tokens > 0  ⟺  2*ones > n_tokens.
    The 16-bit lanes cap documents at 65535 tokens (far above any real
    document; widen to 3 longs x 21-bit lanes if a corpus breaks it).
    """
    assert bits == 64, "packing is laid out for 64-bit signatures"
    lut = ", ".join(f"CAST({v} AS BIGINT)" for v in _PACK_LUT)
    tk = with_tokens(spread(df), text_col=text_col, out="tk")
    tok = tk.select(F.col(id_col), F.explode("tk").alias("tok")).withColumn(
        "th", F.md5(F.col("tok"))
    )
    packed = tok.select(
        F.col(id_col),
        *[
            F.expr(
                f"element_at(array({lut}), {hex_rank('th', i + 1)})"
            ).alias(f"p{i}")
            for i in range(16)
        ],
    )
    agg = packed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("ntok"),
        *[F.sum(f"p{i}").alias(f"s{i}") for i in range(16)],
    )
    bitchars = []
    for b in range(bits):
        i, j = b // 4, b % 4
        shift = 16 * (3 - j)
        bitchars.append(
            F.when(F.expr(f"2 * ((s{i} >> {shift}) & 65535) > ntok"), F.lit("1")).otherwise(
                F.lit("0")
            )
        )
    return agg.select(F.col(id_col), F.concat(*bitchars).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    caches: Caches,
    max_hamming: int = 8,
    n_blocks: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: block candidates (pigeonhole on
    ``n_blocks`` 16-bit blocks) then exact Hamming distance filter.
    ``caches``: see ``minhash_lsh_pairs``.

    The signature table (one short row per doc) is persisted: both
    self-join sides derive their blocks from the single cached
    materialization instead of recomputing the token-vote pipeline twice.

    Candidate generation runs on DISTINCT signatures, not docs: a
    mass-duplicated corpus (m copies of one doc) collapses to ONE
    signature row before the self-join, so the candidate/distinct/Hamming
    stages never see the O(m²) duplicate-pair blow-up — doc pairs are
    expanded from the surviving signature pairs at the very end.
    ``max_bucket`` still counts DOCS per (block, block-sig) bucket
    (signature multiplicity weighted in), so the guard's semantics are
    unchanged.
    """
    sig = caches.persist(
        simhash_signatures(df, id_col, text_col), StorageLevel.MEMORY_AND_DISK
    )
    usig = sig.groupBy("simhash").agg(F.count(F.lit(1)).alias("ndocs"))
    block_len = 64 // n_blocks
    blocks = usig.select(
        "simhash",
        "ndocs",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"),
    ).withColumn("blk_sig", F.expr(f"substr(simhash, 1 + blk * {block_len}, {block_len})"))
    if max_bucket is not None:
        ok = (
            blocks.groupBy("blk", "blk_sig")
            .agg(F.sum("ndocs").alias("_n"))
            .where(F.col("_n") <= max_bucket)
            .drop("_n")
        )
        blocks = blocks.join(ok, ["blk", "blk_sig"], "left_semi")
    a = blocks.select(F.col("simhash").alias("sig_a"), "blk", "blk_sig")
    b = blocks.select(F.col("simhash").alias("sig_b"), "blk", "blk_sig")
    # Hamming distance via packed longs: each 16-bit quarter of the
    # '0'/'1' signature string parses to a long (conv base 2), XORs against
    # the other side's quarter, and bit_count sums the differing bits.
    # Stays inside whole-stage codegen — the naive 64-step substr-compare
    # loop (higher-order ``aggregate``) is interpreted per element and was
    # the dominant cost of the whole operator.
    hamming = sum(
        F.bit_count(
            F.conv(F.substring("sig_a", 1 + 16 * q, 16), 2, 10).cast("bigint").bitwiseXOR(
                F.conv(F.substring("sig_b", 1 + 16 * q, 16), 2, 10).cast("bigint")
            )
        )
        for q in range(4)
    )
    sig_pairs = (
        a.join(b, ["blk", "blk_sig"])
        .where(F.col("sig_a") <= F.col("sig_b"))
        .select("sig_a", "sig_b")
        .distinct()
        .withColumn("hamming", hamming.cast("bigint"))
        .where(F.col("hamming") <= max_hamming)
    )
    da = sig.select(F.col("simhash").alias("sig_a"), F.col(id_col).alias("ida"))
    db = sig.select(F.col("simhash").alias("sig_b"), F.col(id_col).alias("idb"))
    return (
        sig_pairs.join(da, "sig_a")
        .join(db, "sig_b")
        .where(
            # same signature: emit each unordered doc pair once; different
            # signatures: every cross pair qualifies, ordered below.
            ((F.col("sig_a") == F.col("sig_b")) & (F.col("ida") < F.col("idb")))
            | (F.col("sig_a") < F.col("sig_b"))
        )
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            "hamming",
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    caches: Caches,
    shingle_words: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word n-grams, for pairs sharing >= 1
    (non-boilerplate) shingle.  ``caches``: see ``minhash_lsh_pairs``.

    Inverted-index join: |A∩B| comes from grouping the shingle table with
    itself, so cost is sum over shingles of (docs-per-shingle)^2.
    ``max_doc_freq`` is the boilerplate killer: shingles appearing in more
    than that many documents are dropped from candidate generation (NOT
    from the per-doc sizes), bounding every group — at 100 TB one hot
    header shingle shared by m docs otherwise costs O(m^2) pairs.
    The shingle table is persisted: it feeds the sizes aggregate and both
    self-join sides, and would otherwise be recomputed three times.
    """
    sh = caches.persist(
        shingle_table(df, shingle_words, id_col, text_col), StorageLevel.MEMORY_AND_DISK
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))
    joinable = sh
    if max_doc_freq is not None:
        # Hot shingles are by definition FEW (the df distribution's tail),
        # so broadcast the hot set and anti-join — the filter costs one
        # aggregate plus a map-side hash probe, not a second full shuffle
        # of the shingle table.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .drop("_df")
        )
        joinable = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = joinable.select(F.col(id_col).alias("doc_a"), "shingle")
    b = joinable.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("nsh").alias("nsh_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("nsh").alias("nsh_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # Tie-proof 6dp jaccard: integer ppm first, then one exact
            # IEEE division by 1e6.  ROUND(c/union, 6) can land exactly on
            # a rounding boundary when union is a multiple of 128 (e.g.
            # 1/128 = 0.0078125) and DuckDB/JVM break the tie differently;
            # integer DIV is bit-identical everywhere and int/1e6 is a
            # single correctly-rounded IEEE op in both engines.
            (
                F.expr(
                    "CAST(c * 1000000 DIV (nsh_a + nsh_b - c) AS BIGINT)"
                )
                / F.lit(1000000.0)
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Dedup resolution: candidate pairs -> clusters -> canonical doc
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, max_iterations: int = 20, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """(doc_id, component) labels from undirected near-dup pairs —
    min-label propagation to fixpoint.

    The iterative step is pure DataFrame ops (join + min-agg) run by
    ``caches.iterate``, which checkpoints each round to cut the lineage.
    Rounds needed = graph diameter, which for near-dup clusters is tiny
    (near-dup relations are almost transitive).  Not SQL-expressible in
    one statement — verified by property tests instead of an oracle."""
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).where(F.col("src") != F.col("dst"))
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    sym = sym.localCheckpoint()
    # labels: every node starts as its own component
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )

    def propagate(labels: DataFrame) -> DataFrame:
        neigh = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("comp").alias("ncomp"))
        )
        # One join carries both the new label AND the old one, so the
        # convergence probe reads the round's own frame.
        return labels.join(neigh.withColumnRenamed("src", "id"), "id", "left").select(
            "id",
            F.col("comp").alias("old_comp"),
            F.least(F.col("comp"), F.coalesce("ncomp", "comp")).alias("comp"),
        )

    labels = iterate(
        labels,
        propagate,
        max_iterations,
        until=F.count(F.when(F.col("comp") != F.col("old_comp"), 1)) == 0,
    )
    return labels.select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))


def connected_components_star(
    pairs: DataFrame,
    max_iterations: int = 20,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """(doc_id, component) labels via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log n)-round alternative to
    :func:`connected_components`' min-label propagation, whose round
    count is the graph DIAMETER.  On long-chain components (diameter d)
    label propagation needs d rounds; star contraction needs O(log d),
    because each round re-points whole neighborhoods at their local
    minimum instead of moving labels one hop.

    Per round, both operations are one hash aggregation (per-node min)
    plus one re-keyed projection of the edge list — keyed shuffles only,
    no global state; ``caches.iterate`` checkpoints each round.  At
    fixpoint the edge set is a star forest: every non-root node holds
    exactly one edge to its component minimum.

    Same output contract as :func:`connected_components` (labels for
    every node appearing in ``pairs``), so the two are interchangeable —
    and their agreement is asserted in tests/test_operators.py."""
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint()
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        # m = min(neighborhood ∪ {u}); re-point every LARGER neighbor at m.
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("mn"), F.col("u")).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # Orient larger -> smaller, so every neighbor of u is < u and the
        # neighborhood minimum is the candidate root.
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = oriented.groupBy("u").agg(F.min("v").alias("mn"))
        with_min = oriented.join(mins, "u")
        # Re-point u itself and every smaller neighbor at the minimum.
        return (
            with_min.select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(with_min.select("u", F.col("mn").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def contract(e: DataFrame) -> DataFrame:
        # Full outer join with the round's input edges: a row missing
        # from either side means the edge set still changes.
        old = e.where("cur").select("u", "v")
        return (
            small_star(large_star(old))
            .withColumn("cur", F.lit(True))
            .join(old.withColumn("prev", F.lit(True)), ["u", "v"], "full")
        )

    edges = iterate(
        edges.withColumn("cur", F.lit(True)),
        contract,
        max_iterations,
        until=F.count(F.when(F.col("cur").isNull() | F.col("prev").isNull(), 1)) == 0,
    ).where("cur")

    # Star forest -> labels: non-roots point at their component min;
    # roots (and isolated post-contraction nodes) label themselves.
    out_edge = edges.groupBy("u").agg(F.min("v").alias("comp"))
    return (
        nodes.join(out_edge.withColumnRenamed("u", "id"), "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("comp", "id").alias("component"),
        )
    )


def resolve_duplicates(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one canonical document per near-dup cluster (min id wins);
    singletons (no pair) keep themselves.  Output: (doc_id, keep) — the
    drop-list view of dedup, joinable back onto the corpus as a filter."""
    comp = connected_components(pairs)
    canon = comp.groupBy("component").agg(F.min("doc_id").alias("keep"))
    resolved = comp.join(canon, "component").select("doc_id", "keep")
    singles = docs.select(F.col(id_col).alias("doc_id")).join(
        resolved.select("doc_id"), "doc_id", "left_anti"
    )
    return resolved.unionByName(singles.withColumn("keep", F.col("doc_id")))


def cross_corpus_lsh_pairs(
    df_a: DataFrame,
    df_b: DataFrame,
    shingle_words: int = 3,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash/LSH candidate matches BETWEEN two corpora (record linkage):
    (id_a, id_b) pairs sharing at least one band signature across sides.

    Same banded shape as the self-join dedup, but A×B instead of A×A —
    the contamination-check primitive (does my test set leak into my
    training set?).  Neither side needs a persist: each band table feeds
    exactly one join input.  ``max_bucket`` caps the bucket size on the
    *pair product* (n_a × n_b per bucket), the cross-corpus analog of the
    self-join guard."""
    bands_a = lsh_band_signatures(
        minhash_signatures(shingle_table(df_a, shingle_words, id_col, text_col), num_hashes, id_col),
        rows_per_band,
        id_col,
    )
    bands_b = lsh_band_signatures(
        minhash_signatures(shingle_table(df_b, shingle_words, id_col, text_col), num_hashes, id_col),
        rows_per_band,
        id_col,
    )
    if max_bucket is not None:
        ca = bands_a.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("_na"))
        cb = bands_b.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("_nb"))
        ok = (
            ca.join(cb, ["band", "sig"])
            .where(F.col("_na") * F.col("_nb") <= max_bucket)
            .select("band", "sig")
        )
        bands_a = bands_a.join(ok, ["band", "sig"], "left_semi")
    a = bands_a.select(F.col(id_col).alias("id_a"), "band", "sig")
    b = bands_b.select(F.col(id_col).alias("id_b"), "band", "sig")
    return a.join(b, ["band", "sig"]).select("id_a", "id_b").distinct()


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    caches: Caches,
    shingle_words: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via PREFIX FILTERING (the
    SSJoin/All-Pairs/PPJoin family — Chaudhuri et al. ICDE'06, Bayardo
    et al. WWW'07): provably LOSSLESS candidate pruning, in contrast to
    ngram_jaccard_pairs' max_doc_freq cap, which drops hot shingles from
    candidate generation and can lose a pair whose every shared shingle
    is hot.

    The lemma: order every document's shingle set by one GLOBAL total
    order (ascending document frequency, ties by shingle text — rarest
    first), and keep only each doc's first p = n - ceil(t*n) + 1
    shingles.  If J(a,b) >= t then |a∩b| >= t*|a∪b| >= ceil(t*max(n_a,
    n_b)), and two sets whose overlap is that large MUST share an
    element inside both length-(n - overlap + 1) prefixes; since
    p_a >= n_a - ceil(t*n_a) + 1 >= n_a - |a∩b| + 1, joining prefixes
    yields a candidate superset — nothing true is pruned, which the
    driver's hash check proves end-to-end (this function's output must
    EQUAL the unpruned brute-force oracle).

    Scale shape: the prefix join's cost concentrates on the RAREST
    shingles by construction (a shingle in m prefixes contributes m^2
    candidate wedges, and frequent shingles fall outside every prefix
    for t >= 0.5 unless a doc is mostly boilerplate), inverting the
    inverted-index join's worst case.  The shingle table is persisted —
    four consumers (df ranks, prefix build, both verify sides); verify
    joins touch only candidate pairs.  ``caches``: see
    minhash_lsh_pairs.

    r14 (profiled at sf0.1 — warm stage split: pref 1.8 s, cand 3.5 s of
    a 7.3 s query; plans/r14 + OPTIMIZATION_r14.md):

    * ``pref`` is PERSISTED — both sides of the candidate self-join read
      it, and without the persist the full df-rank pipeline (shingle
      join + doc window) executed twice (guide §5).
    * the per-doc set size folds into the SAME doc-keyed window pass as
      the prefix rank (``count over (partition by id)`` — identical
      value to the ``sizes`` aggregate, which remains for the final
      verify joins), dropping one aggregate + join from the pref path
      (guide §2.4: operations keyed the same way share one exchange).
    * the candidate self-join keys on ``xxhash64(shingle)`` — 8 bytes
      instead of a multi-word shingle string (guide §2.3: shuffle keys,
      not payloads).  LOSSLESS: equal shingles hash equal, so the
      candidate set can only GROW on a hash collision, and the exact
      verify joins (which keep the real shingle strings) filter any
      collision pair — the output is bit-identical either way, which
      the brute-force oracle proves on every driver run.
    """
    sh = caches.persist(
        shingle_table(df, shingle_words, id_col, text_col), StorageLevel.MEMORY_AND_DISK
    )
    # All threshold arithmetic is INTEGER (parts-per-million): a float
    # F.ceil(t * nsh) can round the product up for thresholds that are
    # not dyadic (0.8 * 5 == 4.0000000000000002, ceil -> 5), shortening
    # the prefix below the lossless bound and silently dropping
    # qualifying pairs.  ceil(t*n) == (n*t_ppm + 999_999) div 1e6 is
    # exact for every t expressible in ppm.
    t_ppm = round(threshold * 1_000_000)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy(id_col).orderBy(F.asc("_df"), F.asc("shingle"))
    wu = Window.partitionBy(id_col)
    pref = caches.persist(
        sh.join(dfreq, "shingle")
        .withColumn("_rk", F.row_number().over(w))
        .withColumn("_nsh", F.count(F.lit(1)).over(wu))
        .where(
            F.col("_rk")
            <= F.col("_nsh")
            - F.expr(
                f"(_nsh * {t_ppm}L + 999999L) DIV 1000000L"
            )
            + 1
        )
        .select(F.col(id_col), F.xxhash64("shingle").alias("_k")),
        StorageLevel.MEMORY_AND_DISK,
    )
    # The candidate pair set is PERSISTED: three consumers read it (the
    # doc-id projection for the semi-join reduction below feeds two
    # verify branches, plus the intersection join itself), and without
    # the persist each consumer re-executes the full candidate pipeline
    # — df ranks, prefix window, prefix self-join — tripling the
    # corpus-sized shuffle volume (measured: the unpersisted form
    # exhausted 78 GB of shuffle disk at 300x before finishing).
    cand = caches.persist(
        pref.select(F.col(id_col).alias("_a"), "_k")
        .join(pref.select(F.col(id_col).alias("_b"), "_k"), "_k")
        .where(F.col("_a") < F.col("_b"))
        .select("_a", "_b")
        .distinct(),
        StorageLevel.MEMORY_AND_DISK,
    )
    # Semi-join reduction before verification: only CANDIDATE documents'
    # shingles participate in the intersection join, so the two verify
    # joins shuffle a candidate-bounded slice instead of the full corpus
    # shingle table twice (the full-table verify dominated at 300x).
    # AQE picks broadcast for the candidate-doc id set when it fits (it
    # is <= 2x the pair count by construction); no forced broadcast (the
    # txtable lesson).
    cand_docs = (
        cand.select(F.col("_a").alias(id_col))
        .unionByName(cand.select(F.col("_b").alias(id_col)))
        .distinct()
    )
    sh_cand = sh.join(cand_docs, id_col, "left_semi")
    sh_a = sh_cand.select(F.col(id_col).alias("_a"), "shingle")
    sh_b = sh_cand.select(F.col(id_col).alias("_b"), "shingle")
    inter = (
        cand.join(sh_a, "_a")
        .join(sh_b, ["_b", "shingle"])
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sz_a = sizes.select(F.col(id_col).alias("_a"), F.col("nsh").alias("_na"))
    sz_b = sizes.select(F.col(id_col).alias("_b"), F.col("nsh").alias("_nb"))
    return (
        inter.join(sz_a, "_a")
        .join(sz_b, "_b")
        .withColumn(
            "n_union", (F.col("_na") + F.col("_nb") - F.col("n_shared"))
        )
        .where(
            F.col("n_shared") * 1_000_000 >= F.lit(t_ppm) * F.col("n_union")
        )
        .select(
            F.col("_a").alias("doc_a"),
            F.col("_b").alias("doc_b"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_union").cast("long").alias("n_union"),
            F.expr(
                "CAST(n_shared * 1000000 DIV n_union AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
