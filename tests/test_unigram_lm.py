"""Plain-Python reference agreement for the unigram-LM tokenizer
trainer (plans/retrieval.py::unigram_train_rounds): the fixed-round
Viterbi-EM must match an independent Python implementation exactly —
seed inventory, integer milli-log costs, DP tie-breaks, Laplace M-step,
and the final prune — including adversarial vocabularies (repeated-char
runs, overlapping piece candidates, max-length words)."""

from __future__ import annotations

import math

import pytest

from odni_apache_beam_consumer_spark.plans.retrieval import unigram_train_rounds


def py_unigram(
    words: dict[str, int],
    n_rounds: int = 3,
    max_piece: int = 4,
    max_wlen: int = 8,
    seed_multi: int = 40,
    target: int = 24,
) -> list[tuple[str, int, int]]:
    """Reference implementation: hard-EM (Viterbi) unigram-LM training,
    deterministic (cost, k) tie-breaks, Laplace M-step, final prune."""
    words = {w: f for w, f in words.items() if 2 <= len(w) <= max_wlen}
    occ: dict[str, int] = {}
    for w, f in words.items():
        for i in range(len(w)):
            for k in range(1, min(max_piece, len(w) - i) + 1):
                p = w[i : i + k]
                occ[p] = occ.get(p, 0) + f
    chars = {p: c for p, c in occ.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in occ.items() if len(p) > 1),
        key=lambda x: (-x[1], x[0]),
    )[:seed_multi]
    vocab = dict(chars)
    vocab.update(dict(multi))

    def costs(v: dict[str, int]) -> dict[str, int]:
        total = sum(v.values())
        return {
            p: -math.floor(math.log(c / total) * 1000) for p, c in v.items()
        }

    for _ in range(n_rounds):
        cost = costs(vocab)
        uses: dict[str, int] = {}
        for w, f in words.items():
            best: list[tuple[int, int]] = [(0, 0)]
            for p in range(1, len(w) + 1):
                cands = [
                    (best[p - k][0] + cost[w[p - k : p]], k)
                    for k in range(1, min(max_piece, p) + 1)
                    if w[p - k : p] in cost
                ]
                best.append(min(cands))
            pos = len(w)
            while pos > 0:
                k = best[pos][1]
                uses[w[pos - k : pos]] = uses.get(w[pos - k : pos], 0) + f
                pos -= k
        vocab = {p: uses.get(p, 0) + 1 for p in vocab}

    cost = costs(vocab)
    multi_kept = sorted(
        ((p, c) for p, c in vocab.items() if len(p) > 1),
        key=lambda x: (-x[1], x[0]),
    )[:target]
    out = [(p, c - 1, cost[p]) for p, c in vocab.items() if len(p) == 1]
    out += [(p, c - 1, cost[p]) for p, c in multi_kept]
    return sorted(out)


VOCABS = [
    # natural-ish mix with shared substrings
    {"ability": 50, "stability": 30, "able": 70, "table": 40, "tablet": 10},
    # repeated-char runs: DP candidates overlap heavily
    {"aaaaaaaa": 100, "aaab": 60, "abab": 55, "bbbb": 20, "ab": 90},
    # tie-bait: equal frequencies force (cost, k) tie-breaks everywhere
    {"xyxy": 10, "yxyx": 10, "xxyy": 10, "yyxx": 10, "xy": 10, "yx": 10},
]


@pytest.mark.parametrize("vocab", VOCABS)
def test_unigram_train_matches_python_reference(spark, vocab):
    words = spark.createDataFrame(
        [(w, f) for w, f in vocab.items()], "w STRING, freq BIGINT"
    )
    got = sorted(
        (r.piece, r.use_cnt, r.cost_milli)
        for r in unigram_train_rounds(words).collect()
    )
    want = py_unigram(vocab)
    assert got == want


def test_unigram_train_refilters_caller_w8(spark):
    """A caller-supplied ``w8`` that skipped the length filter (a 1-char
    and a 10-char word here, both outside 2..max_wlen) must train the
    same model as the default path, which filters ``words`` itself."""
    vocab = {"a": 500, "ability": 50, "table": 40, "abcdefghij": 300, "ab": 90}
    words = spark.createDataFrame(
        [(w, f) for w, f in vocab.items()], "w STRING, freq BIGINT"
    )

    def model(**kw):
        return sorted(tuple(r) for r in unigram_train_rounds(words, **kw).collect())

    assert model(w8=words) == model()


def test_unigram_em_reduces_corpus_cost(spark):
    """EM sanity on real fixture words: total corpus cost under the
    final model must not exceed the cost under the seed model (hard-EM
    monotonicity holds round to round up to Laplace smoothing; seed vs
    final is the coarse, assertable version)."""
    vocab = {"ability": 50, "stability": 30, "able": 70, "table": 40}

    def corpus_cost(model_rounds: int) -> int:
        # reference-side: run R rounds, then Viterbi-score the corpus
        words = {w: f for w, f in vocab.items()}
        res = py_unigram(words, n_rounds=model_rounds)
        cost = {p: c for p, _, c in res}
        total = 0
        for w, f in words.items():
            best = [0] + [10**9] * len(w)
            for p in range(1, len(w) + 1):
                for k in range(1, min(4, p) + 1):
                    piece = w[p - k : p]
                    if piece in cost:
                        best[p] = min(best[p], best[p - k] + cost[piece])
            total += f * best[len(w)]
        return total

    assert corpus_cost(3) <= corpus_cost(0)


def py_unigram_apply(
    vocab_words: dict[str, int],
    max_piece: int = 4,
    max_wlen: int = 8,
) -> dict[str, tuple[int, str]]:
    """Reference APPLY: segment each trainable word with the pruned
    trained model (same DP, same tie-breaks)."""
    model = {p: c for p, _, c in py_unigram(vocab_words)}
    out = {}
    for w in vocab_words:
        if not (2 <= len(w) <= max_wlen):
            continue
        best: list[tuple[int, int]] = [(0, 0)]
        for p in range(1, len(w) + 1):
            cands = [
                (best[p - k][0] + model[w[p - k : p]], k)
                for k in range(1, min(max_piece, p) + 1)
                if w[p - k : p] in model
            ]
            best.append(min(cands))
        pieces = []
        pos = len(w)
        while pos > 0:
            k = best[pos][1]
            pieces.append(w[pos - k : pos])
            pos -= k
        out[w] = (len(pieces), " ".join(reversed(pieces)))
    return out


@pytest.mark.parametrize("vocab", VOCABS)
def test_unigram_apply_matches_python_reference(spark, vocab):
    from odni_apache_beam_consumer_spark.plans.retrieval import (
        _UNI_MAX_PIECE,
        _UNI_MAX_WLEN,
        _uni_bt_expr,
        _uni_dp_expr,
        unigram_train_rounds,
    )
    from pyspark.sql import functions as F

    words = spark.createDataFrame(
        [(w, f) for w, f in vocab.items()], "w STRING, freq BIGINT"
    )
    model = unigram_train_rounds(words)
    pm = model.agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", "cost_milli"))
        ).alias("pm")
    )
    seg = (
        words.where(F.length("w").between(2, _UNI_MAX_WLEN))
        .crossJoin(F.broadcast(pm))
        .withColumn("dp", F.expr(_uni_dp_expr(_UNI_MAX_PIECE)))
        .withColumn("ps", F.expr(_uni_bt_expr(_UNI_MAX_WLEN)))
        .select(
            "w",
            F.size("ps").alias("n_pieces"),
            F.array_join(F.reverse("ps"), " ").alias("pieces"),
        )
    )
    got = {r.w: (r.n_pieces, r.pieces) for r in seg.collect()}
    assert got == py_unigram_apply(vocab)
