"""Unigram-LM tokenizer: lattice forward-backward vs brute-force
enumeration, Viterbi vs argmax over all segmentations, EM monotonicity,
distributed ≡ local training, encode round-trip."""

from __future__ import annotations

import math
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.unigram import (
    _lattice_expectations,
    _viterbi,
    unigram_encode,
    unigram_train,
    unigram_train_local,
)


def _all_segmentations(word, max_len):
    """Every way to cut `word` into pieces of length ≤ max_len."""
    n = len(word)
    for k in range(n):
        for cuts in combinations(range(1, n), k):
            bounds = (0,) + cuts + (n,)
            pieces = [word[a:b] for a, b in zip(bounds, bounds[1:])]
            if all(len(p) <= max_len for p in pieces):
                yield pieces


MODEL = {
    "a": math.log(0.2), "b": math.log(0.1), "ab": math.log(0.3),
    "ba": math.log(0.15), "aba": math.log(0.05), "bb": math.log(0.2),
}


def test_lattice_matches_enumeration():
    for word in ("abab", "abba", "aabba", "ababab"):
        exp, z = _lattice_expectations(word, MODEL, max_len=3)
        segs = [
            s for s in _all_segmentations(word, 3)
            if all(p in MODEL for p in s)
        ]
        probs = [math.exp(sum(MODEL[p] for p in s)) for s in segs]
        zz = sum(probs)
        assert z == pytest.approx(math.log(zz), abs=1e-10)
        want: dict[str, float] = {}
        for s, pr in zip(segs, probs):
            for p in s:
                want[p] = want.get(p, 0.0) + pr / zz
        assert set(exp) == set(want)
        for p in want:
            assert exp[p] == pytest.approx(want[p], abs=1e-10)


def test_lattice_unsegmentable():
    exp, z = _lattice_expectations("axb", MODEL, max_len=3)
    assert exp == {} and z < -1e17


def test_viterbi_matches_argmax():
    for word in ("abab", "abba", "aabba", "bbabab"):
        got = _viterbi(word, MODEL, max_len=3, floor=-50.0)
        best, best_s = None, None
        for s in _all_segmentations(word, 3):
            if all(p in MODEL for p in s):
                sc = sum(MODEL[p] for p in s)
                if best is None or sc > best:
                    best, best_s = sc, s
        assert "".join(got) == word
        assert sum(MODEL.get(p, -50.0) for p in got) == pytest.approx(best)
        assert got == best_s


def test_viterbi_tie_prefers_longer_piece():
    # p(xy) == p(x)p(y): tie between ["xy"] and ["x","y"] → longer wins
    m = {"x": math.log(0.5), "y": math.log(0.5), "xy": math.log(0.25)}
    assert _viterbi("xy", m, max_len=2, floor=-50.0) == ["xy"]


def test_viterbi_oov_floor():
    got = _viterbi("aZb", MODEL, max_len=3, floor=-50.0)
    assert "".join(got) == "aZb" and "Z" in got


CORPUS = {
    "hello": 10, "help": 8, "hell": 5, "low": 7, "lower": 6,
    "yellow": 4, "hull": 3, "pull": 3, "puller": 2, "well": 5,
}


def test_em_increases_likelihood():
    """The EM invariant: each E+M sweep cannot decrease the freq-weighted
    corpus log-likelihood (fixed vocab, no pruning)."""
    from workbook_exporter_fe_spark.operators.unigram import _normalize

    seed: dict[str, float] = {}
    for w, f in CORPUS.items():
        for i in range(len(w)):
            for l in range(1, min(4, len(w) - i) + 1):
                seed[w[i : i + l]] = seed.get(w[i : i + l], 0.0) + f
    alphabet = {p for p in seed if len(p) == 1}
    model = _normalize(seed, alphabet)

    def ll(m):
        return sum(
            f * _lattice_expectations(w, m, 4)[1] for w, f in CORPUS.items()
        )

    lls = [ll(model)]
    for _ in range(4):
        counts: dict[str, float] = {}
        for w, f in CORPUS.items():
            exp, _z = _lattice_expectations(w, model, 4)
            for p, e in exp.items():
                counts[p] = counts.get(p, 0.0) + e * f
        model = _normalize(counts, alphabet)
        lls.append(ll(model))
    assert all(b >= a - 1e-9 for a, b in zip(lls, lls[1:])), lls
    assert lls[-1] > lls[0]  # and it actually moved


def test_mstep_insertion_order_independent():
    """r5 ADVICE fix: the M-step must reduce in sorted-key order — the
    distributed path hands counts in collect() (partitioning-dependent)
    order, and float sums are not associative. Same multiset of counts
    in reversed insertion order must yield BIT-identical logprobs."""
    from workbook_exporter_fe_spark.operators.unigram import _normalize

    counts = {
        f"p{i:03d}": (1.0 + i * 0.1) * (10 ** (i % 7)) for i in range(97)
    }
    alphabet = {"a", "b"}
    fwd = _normalize(counts, alphabet)
    rev = _normalize(dict(reversed(list(counts.items()))), alphabet)
    assert list(fwd) == list(rev)  # same (sorted) key order out
    for p in fwd:
        assert fwd[p] == rev[p], p  # bit-exact, not approx


def test_train_distributed_equals_local(spark):
    words = spark.createDataFrame(
        list(CORPUS.items()), "word string, freq long"
    )
    kw = dict(vocab_size=30, max_piece_len=4, seed_size=50,
              em_iters=2, prune_frac=0.3, max_rounds=4)
    md = unigram_train(words, **kw)
    ml = unigram_train_local(CORPUS, **kw)
    assert set(md) == set(ml)
    for p in md:
        assert md[p] == pytest.approx(ml[p], abs=1e-6)


def test_encode_roundtrip_and_vocab(spark):
    words = spark.createDataFrame(
        list(CORPUS.items()), "word string, freq long"
    )
    model = unigram_train(
        words, vocab_size=30, max_piece_len=4, seed_size=50,
        em_iters=2, max_rounds=3,
    )
    docs = spark.createDataFrame(
        [(0, "hello lower puller"), (1, "wellQ zz")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.ut_tokens for r in
           unigram_encode(docs, model).collect()}
    assert "".join(out[0]) == "hellolowerpuller"
    assert all(p in model for p in out[0])
    # OOV chars ('Q', 'z') survive as single characters
    assert "".join(out[1]) == "wellQzz"
    assert all(p in model or len(p) == 1 for p in out[1])
