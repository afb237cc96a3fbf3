"""Token-vocabulary analytics over pre-tokenized sequences.

The engine's payload is token arrays (BASELINE.json input_hint:
``tokens:array<int32>``); beside per-bucket token histograms a
training-data pipeline tracks the vocabulary itself: n-gram frequencies,
when each token first appeared, how fast the vocabulary grows, and what
fraction of a bucket's token mass is first-occurrence ("new-token rate" —
the exact companion to the theta-sketch churn tier, at token rather than
doc_id granularity).

Scale design:
- Shuffle keys are PRIMITIVES: bigrams are packed into one int64
  (hi<<32 | lo — exact, reversible for non-negative int32 token ids),
  never arrays or strings (CLAUDE.md perf rule: per-shingle string churn
  made dedup allocator-bound, 4.6× slower). General n-grams keep the
  array key and are the small-n/test path.
- Every count goes through a partially-aggregating groupBy — the
  exploded relation is combined map-side before the shuffle, so shuffle
  rows are (key, partial_count) per task, not per token occurrence.
- first-seen is ``min(bucket_ts) group by token`` — one shuffle keyed by
  token id (int), output is vocabulary-sized, orders of magnitude below
  corpus size; everything downstream operates on that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .tiers import TIER_TRUNC


def token_bigram_counts(
    sequences: DataFrame, min_count: int = 1, key: str = "source"
) -> DataFrame:
    """(key, gram_a, gram_b, n): adjacent-token bigram frequencies.

    The shuffle key is ONE packed int64 per bigram ((a<<32)|b — exact for
    int32 token ids ≥ 0), unpacked only after the aggregate, so the wide
    exploded relation shuffles primitives and partial-aggregates map-side.
    """
    packed = F.explode(
        F.expr(
            "transform(slice(tokens, 1, greatest(size(tokens) - 1, 0)), "
            "(t, i) -> shiftleft(cast(t as bigint), 32) + cast(tokens[i + 1] as bigint))"
        )
    ).alias("_bg")
    counts = (
        sequences.select(F.col(key), packed)
        .groupBy(key, "_bg")
        .agg(F.count("*").alias("n"))
    )
    if min_count > 1:
        counts = counts.filter(F.col("n") >= min_count)
    return counts.select(
        key,
        F.shiftright("_bg", 32).cast("int").alias("gram_a"),
        (F.col("_bg").bitwiseAND(F.lit((1 << 32) - 1))).cast("int").alias("gram_b"),
        "n",
    )


def vocab_first_seen(events: DataFrame, tier: str = "1d") -> DataFrame:
    """(token, first_ts): the bucket each token id first appeared in.

    One explode + one token-keyed min-aggregate; output is
    vocabulary-sized. The min is decomposable, so at corpus scale this
    re-aggregates per-bucket partials instead of rescanning (and the
    incremental refresh is ``min(old_first, batch_first)``)."""
    bucket = F.date_trunc(TIER_TRUNC[tier], F.col("event_ts")).alias("bucket_ts")
    return (
        events.select(bucket, F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.min("bucket_ts").alias("first_ts"))
    )


def vocab_growth(events: DataFrame, tier: str = "1d") -> DataFrame:
    """(bucket_ts, new_tokens, vocab_size): per-bucket count of
    never-seen-before token ids and the running vocabulary size.

    Derived entirely from the vocabulary-sized first-seen relation; the
    running sum is a single tiny window over one row per bucket."""
    per_bucket = (
        vocab_first_seen(events, tier)
        .groupBy(F.col("first_ts").alias("bucket_ts"))
        .agg(F.count("*").alias("new_tokens"))
    )
    w = Window.orderBy("bucket_ts").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.withColumn("vocab_size", F.sum("new_tokens").over(w))


def new_token_rate(events: DataFrame, tier: str = "1d") -> DataFrame:
    """(source, bucket_ts, new_occ, total_occ, new_rate): per (source,
    bucket) fraction of token OCCURRENCES whose token id first appeared in
    that bucket — token-granular churn, the exact companion to the
    theta-sketch doc_id churn tier (operators/tiers.py:bucket_churn).

    The occurrences relation joins the vocabulary-sized first-seen table
    on the int token key; at corpus scale that side is broadcastable (a
    50k-token vocab is KBs) so the fan-out join is map-side."""
    bucket = F.date_trunc(TIER_TRUNC[tier], F.col("event_ts")).alias("bucket_ts")
    occ = (
        events.select("source", bucket, F.explode("tokens").alias("token"))
        .groupBy("source", "bucket_ts", "token")
        .agg(F.count("*").alias("occ"))
    )
    first = F.broadcast(vocab_first_seen(events, tier))
    joined = occ.join(first, "token")
    return (
        joined.groupBy("source", "bucket_ts")
        .agg(
            F.sum(
                F.when(F.col("first_ts") == F.col("bucket_ts"), F.col("occ")).otherwise(
                    F.lit(0)
                )
            ).alias("new_occ"),
            F.sum("occ").alias("total_occ"),
        )
        .withColumn(
            "new_rate", F.round(F.col("new_occ") / F.col("total_occ"), 6)
        )
    )


def bigram_pmi(
    sequences: DataFrame | None = None,
    min_count: int = 5,
    key: str = "source",
    counts: DataFrame | None = None,
) -> DataFrame:
    """(key, gram_a, gram_b, n, pmi): pointwise mutual information of
    adjacent-token bigrams — the collocation score. pmi = ln(c_ab * N /
    (c_a* * c_*b)) with N the bigram total and c_a*/c_*b the positional
    marginals, all per ``key``.

    ``min_count`` implements the standard collocation floor (PMI is
    noise-dominated at count 1) and keeps the output a filtered slice of
    the vocabulary-square, not the corpus.

    Scale: the bigram relation (packed-int64 shuffle, map-side combined —
    the measured 0.948-scaling job) reduces to vocabulary-sized marginal
    relations; both joins are keyed on (key, token id) primitives. Every
    input to the ln is an exact int64, so the rounded PMI is one
    correctly-rounded IEEE chain — cross-engine exact.

    Pass ``counts`` (an unfiltered token_bigram_counts result) to reuse an
    already-built bigram relation instead of recomputing it.
    """
    bg = (
        counts
        if counts is not None
        else token_bigram_counts(sequences, min_count=1, key=key)
    )
    # the marginals are self-joins of bg against its own aggregates — the
    # filtered side's columns must be re-aliased so `n` resolves uniquely
    left = bg.groupBy(key, "gram_a").agg(F.sum("n").alias("c_a"))
    right = bg.groupBy(key, "gram_b").agg(F.sum("n").alias("c_b"))
    tot = bg.groupBy(key).agg(F.sum("n").alias("N"))
    bgf = bg.filter(F.col("n") >= min_count).select(
        F.col(key), F.col("gram_a"), F.col("gram_b"), F.col("n").alias("_nab")
    )
    out = (
        bgf.join(left, [key, "gram_a"])
        .join(right, [key, "gram_b"])
        .join(F.broadcast(tot), key)
    )
    pmi = F.round(
        F.log(
            F.col("_nab").cast("double") * F.col("N").cast("double")
            / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
        ),
        6,
    )
    return out.select(
        key, "gram_a", "gram_b", F.col("_nab").alias("n"), pmi.alias("pmi")
    )
