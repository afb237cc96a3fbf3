"""Unigram-LM tokenizer (Kudo 2018, the SentencePiece `unigram` model):
seed → EM over the segmentation lattice → prune → Viterbi encode.

The reference engine has nothing comparable — this is brief-surface for
the training-data pipeline (tokens axis), the second of the two
production tokenizer families next to operators/bpe.py.

Scale design (same shape as the BPE trainer, and the same reason it
works at 100 TB):

- the ONLY corpus-scale operation is ``bpe.word_freqs`` (one map-side-
  combined groupBy) and the final encode pass; training runs on the
  VOCABULARY relation (word, freq) — Heaps'-law bounded, orders of
  magnitude below corpus size;
- the E-step is one Spark job per iteration: an Arrow-batched lattice
  kernel (forward-backward over each word's segmentation lattice) maps
  the vocab relation to (piece, expected-count) pairs, which one
  partial-agg groupBy reduces; the model (piece → logprob, seed-vocab
  sized) ships via closure capture like the BPE rank dict;
- the M-step and pruning run on the collected piece relation — seed-
  vocab sized, the same driver-held-state trade the BPE trainer makes
  (and `unigram_train_local` runs the identical algorithm fully
  driver-side for small corpora / tests);
- expected-count aggregation is ROUNDED (9 dp) and summed as DECIMAL,
  so the trained model is bit-identical across partitionings — float
  sums would make the model (and thus every downstream token id)
  partition-order dependent.

Determinism: pruning ties break on (expected DESC, piece ASC); Viterbi
ties prefer the LONGER first piece. Both pinned in tests/test_unigram.py
against brute-force enumeration over all segmentations.
"""

from __future__ import annotations

import math
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

_NEG = -1.0e18  # lattice "impossible" score; safely below any real logp


def _logsumexp(xs: list[float]) -> float:
    m = max(xs)
    if m <= _NEG / 2:
        return _NEG
    return m + math.log(sum(math.exp(x - m) for x in xs))


def _lattice_expectations(
    word: str, logp: dict[str, float], max_len: int
) -> tuple[dict[str, float], float]:
    """Forward-backward over the word's segmentation lattice: expected
    count of each piece under the unigram LM, plus the word's marginal
    log-likelihood log Z = log sum over segmentations prod p(piece)."""
    n = len(word)
    alpha = [_NEG] * (n + 1)
    alpha[0] = 0.0
    arcs: list[tuple[int, int, str, float]] = []
    for i in range(1, n + 1):
        cands = []
        for j in range(max(0, i - max_len), i):
            lp = logp.get(word[j:i])
            if lp is not None and alpha[j] > _NEG / 2:
                cands.append(alpha[j] + lp)
                arcs.append((j, i, word[j:i], lp))
        if cands:
            alpha[i] = _logsumexp(cands)
    z = alpha[n]
    if z <= _NEG / 2:
        return {}, _NEG  # unsegmentable (alphabet gap)
    beta = [_NEG] * (n + 1)
    beta[n] = 0.0
    for j in range(n - 1, -1, -1):
        cands = [
            lp + beta[i]
            for (jj, i, _piece, lp) in arcs
            if jj == j and beta[i] > _NEG / 2
        ]
        if cands:
            beta[j] = _logsumexp(cands)
    exp: dict[str, float] = {}
    for j, i, piece, lp in arcs:
        if alpha[j] > _NEG / 2 and beta[i] > _NEG / 2:
            e = math.exp(alpha[j] + lp + beta[i] - z)
            exp[piece] = exp.get(piece, 0.0) + e
    return exp, z


def _viterbi(word: str, logp: dict[str, float], max_len: int,
             floor: float) -> list[str]:
    """Best segmentation under the model; characters missing from the
    vocab score ``floor`` so every word stays encodable. Ties prefer the
    LONGER piece (the j-ascending strict-> scan keeps the smallest j)."""
    n = len(word)
    best = [_NEG] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if i - j != 1:
                    continue
                lp = floor  # single OOV character
            if best[j] > _NEG / 2 and best[j] + lp > best[i]:
                best[i] = best[j] + lp
                back[i] = j
    out: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    return out


def seed_pieces(
    words: DataFrame, max_piece_len: int = 8, seed_size: int = 2000
) -> dict[str, float]:
    """Seed vocabulary: the ``seed_size`` most frequent substrings (freq-
    weighted, length ≤ max_piece_len) plus EVERY single character (the
    coverage floor EM can never prune). One job over the vocab relation;
    ties break (count DESC, piece ASC) for a reproducible seed."""
    arr = F.col("word")
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(arr)),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len), F.length(arr) - i + 1),
                ),
                lambda l: F.substring(arr, i, l),
            ),
        )
    )
    counted = (
        words.select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("n"))
    )
    top = counted.filter(F.length("piece") >= 2).orderBy(
        F.col("n").desc(), F.col("piece")
    ).limit(seed_size)
    chars = counted.filter(F.length("piece") == 1)
    return {
        r["piece"]: float(r["n"]) for r in top.unionAll(chars).collect()
    }


def _normalize(counts: dict[str, float],
               alphabet: Iterable[str]) -> dict[str, float]:
    """M-step: counts → logprobs; alphabet characters keep a tiny floor
    count so coverage survives even when EM gives them ~zero mass."""
    c = dict(counts)
    for ch in alphabet:
        if c.get(ch, 0.0) <= 0.0:
            c[ch] = 1e-9
    # Reduce in sorted-key order: the distributed E-step hands us counts in
    # collect() order (partitioning-dependent), and float addition is not
    # associative — an insertion-order sum could differ in the last ulp and
    # flip near-tie Viterbi segmentations. Sorted keys make the M-step (and
    # therefore the whole trained model) bit-identical across partitionings.
    keys = sorted(c)
    total = sum(c[p] for p in keys)
    return {p: math.log(c[p] / total) for p in keys if c[p] > 0.0}


_ESTEP_TYPE = "array<struct<p:string,e:double>>"


def _estep_udf(logp: dict[str, float], max_len: int):
    @pandas_udf(_ESTEP_TYPE)
    def _expect(col: pd.Series) -> pd.Series:
        def one(w):
            exp, z = _lattice_expectations(w, logp, max_len)
            out = [(p, e) for p, e in exp.items()]
            out.append(("", z))  # sentinel: the word's log-likelihood
            return out

        return col.map(one)

    return _expect


def _estep_distributed(
    base: DataFrame, logp: dict[str, float], max_len: int
) -> tuple[dict[str, float], float]:
    """One distributed E-step: expected piece counts (freq-weighted) and
    the corpus log-likelihood. Contributions are rounded to 9 dp and
    summed as DECIMAL — exact, order-independent (the repo's _dsum rule)
    — so training is deterministic under any partitioning."""
    udf = _estep_udf(logp, max_len)
    rows = (
        base.select(F.explode(udf(F.col("word"))).alias("x"), "freq")
        .groupBy(F.col("x.p").alias("p"))
        .agg(
            F.sum(
                F.round(F.col("x.e") * F.col("freq"), 9)
                .cast("decimal(38,9)")
            ).alias("e")
        )
        .collect()
    )
    counts = {r["p"]: float(r["e"]) for r in rows if r["p"] != ""}
    ll = next((float(r["e"]) for r in rows if r["p"] == ""), _NEG)
    return counts, ll


def _prune(
    counts: dict[str, float],
    model: dict[str, float],
    target: int,
    prune_frac: float,
) -> dict[str, float]:
    """Drop the lowest-expected multi-character pieces (never characters)
    down to max(target, (1 - prune_frac) * current); ties (expected DESC,
    piece ASC)."""
    chars = {p for p in model if len(p) == 1}
    multis = sorted(
        (p for p in model if len(p) >= 2),
        key=lambda p: (-counts.get(p, 0.0), p),
    )
    keep_n = max(target - len(chars), int(len(multis) * (1 - prune_frac)))
    kept = set(multis[: max(keep_n, 0)]) | chars
    return {p: lp for p, lp in model.items() if p in kept}


def unigram_train(
    words: DataFrame,
    vocab_size: int = 1000,
    max_piece_len: int = 8,
    seed_size: int = 2000,
    em_iters: int = 2,
    prune_frac: float = 0.25,
    max_rounds: int = 10,
) -> dict[str, float]:
    """Train a unigram-LM tokenizer from a (word, freq) relation.

    Returns {piece: logprob}. Each round runs ``em_iters`` distributed
    E-steps (one Spark job each) with driver-side M-steps, then prunes
    toward ``vocab_size``; stops when the vocab fits (or after
    ``max_rounds``). The corpus itself is never rescanned — only the
    Heaps'-bounded vocab relation."""
    base = (
        words.select("word", "freq")
        .filter(F.length("word") >= 1)
        .localCheckpoint(eager=True)  # scanned once per E-step, plan O(1)
    )
    seed = seed_pieces(base, max_piece_len, seed_size)
    alphabet = {p for p in seed if len(p) == 1}
    model = _normalize(seed, alphabet)
    for _ in range(max_rounds):
        counts: dict[str, float] = {}
        for _em in range(em_iters):
            counts, _ll = _estep_distributed(base, model, max_piece_len)
            model = _normalize(counts, alphabet)
        if len(model) <= vocab_size:
            break
        model = _prune(counts, model, vocab_size, prune_frac)
        model = _normalize(
            {p: counts.get(p, 0.0) for p in model}, alphabet
        )
    return model


def unigram_train_local(
    freqs: DataFrame | dict[str, int],
    vocab_size: int = 1000,
    max_piece_len: int = 8,
    seed_size: int = 2000,
    em_iters: int = 2,
    prune_frac: float = 0.25,
    max_rounds: int = 10,
) -> dict[str, float]:
    """Driver-side trainer over the same kernels — the practical path
    when the vocab comfortably fits the driver, and the equivalence
    reference for :func:`unigram_train` in tests."""
    if not isinstance(freqs, dict):
        freqs = {r["word"]: r["freq"] for r in freqs.collect()}
    items = [(w, int(f)) for w, f in freqs.items() if len(w) >= 1]
    seed: dict[str, float] = {}
    for w, f in items:
        n = len(w)
        for i in range(n):
            for l in range(1, min(max_piece_len, n - i) + 1):
                p = w[i : i + l]
                seed[p] = seed.get(p, 0.0) + f
    multis = sorted(
        ((p, c) for p, c in seed.items() if len(p) >= 2),
        key=lambda t: (-t[1], t[0]),
    )[:seed_size]
    chars = {p: c for p, c in seed.items() if len(p) == 1}
    seed = dict(multis) | chars
    alphabet = set(chars)
    model = _normalize(seed, alphabet)

    def estep(logp):
        counts: dict[str, float] = {}
        for w, f in items:
            exp, _z = _lattice_expectations(w, logp, max_piece_len)
            for p, e in exp.items():
                # mirror the distributed 9-dp rounding so both paths
                # converge to the same model on the same input
                counts[p] = counts.get(p, 0.0) + round(e * f, 9)
        return counts

    for _ in range(max_rounds):
        counts: dict[str, float] = {}
        for _em in range(em_iters):
            counts = estep(model)
            model = _normalize(counts, alphabet)
        if len(model) <= vocab_size:
            break
        model = _prune(counts, model, vocab_size, prune_frac)
        model = _normalize(
            {p: counts.get(p, 0.0) for p in model}, alphabet
        )
    return model


def unigram_encode(
    docs: DataFrame,
    model: dict[str, float],
    text_col: str = "text",
    out_col: str = "ut_tokens",
    max_piece_len: int = 8,
) -> DataFrame:
    """Append ``out_col``: the document's Viterbi segmentation under the
    model. Arrow-batched pandas UDF, model closure-captured — the
    corpus-scale hot path, one narrow projection, no shuffle (the same
    contract as bpe.bpe_encode)."""
    floor = (min(model.values()) if model else 0.0) - 10.0
    logp = dict(model)

    @pandas_udf(ArrayType(StringType()))
    def _encode(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc(t):
            out: list[str] = []
            for w in (t or "").split(" "):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _viterbi(w, logp, max_piece_len, floor)
                out.extend(got)
            return out

        return texts.map(enc)

    return docs.withColumn(out_col, _encode(F.col(text_col)))
