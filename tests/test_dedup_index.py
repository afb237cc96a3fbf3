"""MinHashIndex: incremental LSH dedup against a persisted signature
index — batch-by-batch pair output provably equals the full-corpus LSH
pairs, and incremental_keep applies the canonical-survivor policy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.dedup import (
    MinHashIndex,
    incremental_keep,
    lsh_candidate_pairs,
    minhash_signatures_tokens,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, list(t)) for i, t in rows], "doc_id string, tokens array<int>"
    )


def _batches(spark):
    """Three batches with planted duplicates:

    b1: d01, d02 (identical to d01), d03 (unique)
    b2: d11 (identical to d01 — CROSS dup), d12 (unique)
    b3: d21, d22, d23 (d21==d22 within; d23 identical to d12 — cross)
    """
    base = list(range(100, 150))
    uniq = lambda s: [s * 7 + j * 13 + (s * j) % 11 for j in range(40)]
    b1 = _docs(spark, [("d01", base), ("d02", base), ("d03", uniq(3))])
    b2 = _docs(spark, [("d11", base), ("d12", uniq(12))])
    b3 = _docs(
        spark,
        [("d21", uniq(21)), ("d22", uniq(21)), ("d23", uniq(12))],
    )
    return b1, b2, b3


def _pairset(df):
    return {
        tuple(sorted((r.id_a, r.id_b))) for r in df.select("id_a", "id_b").collect()
    }


def test_incremental_pairs_equal_full_corpus(spark, tmp_path):
    b1, b2, b3 = _batches(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    got = set()
    for b in (b1, b2, b3):
        got |= _pairset(idx.add_batch(b))
    full_sigs = minhash_signatures_tokens(b1.unionByName(b2).unionByName(b3))
    want = _pairset(lsh_candidate_pairs(full_sigs))
    assert got == want
    assert len(want) > 0
    # the index accumulated every batch's signatures
    assert idx.table.current_sequence() == 3
    assert (
        idx.signatures().select("doc_id").distinct().count() == 8
    )


def test_cross_pairs_are_tagged_and_ordered(spark, tmp_path):
    b1, b2, _ = _batches(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    p1 = idx.add_batch(b1)
    assert {r.is_cross for r in p1.collect()} == {False}
    p2 = idx.add_batch(b2).collect()
    cross = {(r.id_a, r.id_b) for r in p2 if r.is_cross}
    # id_a is always the EXISTING doc on cross pairs
    assert ("d01", "d11") in cross and ("d02", "d11") in cross
    assert all(a.startswith("d0") for a, _ in cross)


def test_incremental_keep_policy(spark, tmp_path):
    b1, b2, b3 = _batches(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    k1 = incremental_keep(b1, idx.add_batch(b1))
    assert {r.doc_id for r in k1.collect()} == {"d01", "d03"}  # d02 == d01
    k2 = incremental_keep(b2, idx.add_batch(b2))
    assert {r.doc_id for r in k2.collect()} == {"d12"}  # d11 == old d01
    k3 = incremental_keep(b3, idx.add_batch(b3))
    # d21/d22 cluster keeps the min id; d23 duplicates old d12
    assert {r.doc_id for r in k3.collect()} == {"d21"}


def test_chain_through_cross_dropped_doc_keeps_survivor(spark, tmp_path):
    """A within-batch pair into a cross-dropped doc must not eliminate
    the surviving doc (the chain is cut at the cross boundary)."""
    base = list(range(200, 260))
    old = _docs(spark, [("old1", base)])
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(old)
    # n1 duplicates old1; n2 duplicates n1 (hence old1 transitively) —
    # but n2's only pairs go through n1/old1: policy drops both n1 (cross)
    # and n2 (cross, since n2 also LSH-matches old1 via identical tokens)
    batch = _docs(spark, [("n1", base), ("n2", base), ("n3", [1, 2, 3, 4])])
    pairs = idx.add_batch(batch)
    kept = {r.doc_id for r in incremental_keep(batch, pairs).collect()}
    assert kept == {"n3"}


def test_param_mismatch_raises(spark, tmp_path):
    b1, _, _ = _batches(spark)
    idx = MinHashIndex(spark, str(tmp_path / "idx"), n_bands=4)
    idx.add_batch(b1)
    MinHashIndex(spark, str(tmp_path / "idx"), n_bands=4)  # same: fine
    with pytest.raises(ValueError, match="different"):
        MinHashIndex(spark, str(tmp_path / "idx"), n_bands=8)
    with pytest.raises(ValueError, match="different"):
        MinHashIndex(spark, str(tmp_path / "idx"), k=5)


def test_match_is_query_only_and_fuzzy_decontaminate(spark, tmp_path):
    """match() finds cross pairs without committing; fuzzy_decontaminate
    drops exactly the LSH-matching docs."""
    from workbook_exporter_fe_spark.operators.decontam import (
        fuzzy_decontaminate,
    )

    base = list(range(300, 350))
    bench = _docs(spark, [("bench1", base), ("bench2", [7, 8, 9, 10, 11])])
    idx = MinHashIndex(spark, str(tmp_path / "bench_idx"))
    idx.add_batch(bench)
    seq_before = idx.table.current_sequence()

    train = _docs(
        spark,
        [("t1", base),                      # leaks bench1
         ("t2", [7, 8, 9, 10, 11]),         # leaks bench2
         ("t3", [1000 + i * 3 for i in range(30)])],  # clean
    )
    hits = idx.match(train)
    assert {(r.id_a, r.id_b) for r in hits.collect()} == {
        ("bench1", "t1"), ("bench2", "t2")
    }
    assert idx.table.current_sequence() == seq_before  # nothing committed

    kept = fuzzy_decontaminate(train, idx)
    assert {r.doc_id for r in kept.collect()} == {"t3"}


def test_numeric_64bit_ids_stay_exact(spark, tmp_path):
    """The index stores ids as STRING; probe-side joins must compare on
    string too. Joining a bigint id column straight against the string
    pairs coerces both sides to double — ids above 2^53 that differ by 1
    become EQUAL and the wrong doc is dropped. Adjacent huge ids with
    identical content must still dedup to exactly one survivor, and the
    survivor set must be exact."""
    base = list(range(100, 150))
    hi = (1 << 60) + 12345678901  # far above 2^53
    docs = spark.createDataFrame(
        [(hi, base), (hi + 1, base), (hi + 2, [9, 9, 9, 8, 7, 6, 5, 4])],
        "doc_id long, tokens array<int>",
    )
    idx = MinHashIndex(spark, str(tmp_path / "idx"))
    kept = incremental_keep(docs, idx.add_batch(docs))
    assert kept.schema["doc_id"].dataType.simpleString() == "bigint"
    assert sorted(r.doc_id for r in kept.collect()) == [hi, hi + 2]
    # cross-batch: a later batch re-sending the canonical's content under
    # an adjacent huge id must be dropped, not confused with it
    b2 = spark.createDataFrame(
        [(hi + 3, base)], "doc_id long, tokens array<int>"
    )
    kept2 = incremental_keep(b2, idx.add_batch(b2))
    assert kept2.count() == 0


def test_fuzzy_decontaminate_numeric_ids(spark, tmp_path):
    """fuzzy_decontaminate joins index (string) hits back against the
    caller's ids — numeric ids above 2^53 must anti-join exactly."""
    from workbook_exporter_fe_spark.operators.decontam import (
        fuzzy_decontaminate,
    )

    bench_tokens = list(range(200, 260))
    bench = spark.createDataFrame(
        [("bench1", bench_tokens)], "doc_id string, tokens array<int>"
    )
    idx = MinHashIndex(spark, str(tmp_path / "bench_idx"))
    idx.add_batch(bench)
    hi = (1 << 60) + 7
    corpus = spark.createDataFrame(
        [(hi, bench_tokens), (hi + 1, [1, 2, 3, 4, 5, 6])],
        "doc_id long, tokens array<int>",
    )
    clean = fuzzy_decontaminate(corpus, idx)
    assert [r.doc_id for r in clean.collect()] == [hi + 1]
    assert clean.columns == ["doc_id", "tokens"]
