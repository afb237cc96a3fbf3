"""Gap-fill tests: spine density, LOCF semantics, interpolation exactness."""

from __future__ import annotations

from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.gapfill import (
    bucket_spine,
    densify,
    fill_segmented,
    interpolate,
    locf,
)
from workbook_exporter_fe_spark.operators.tiers import rollup_tier1


def _mk_tier(spark, rows):
    return spark.createDataFrame(
        [(s, f"2026-01-01 00:{m:02d}:00", v) for s, m, v in rows],
        "source string, bucket_str string, avg_v double",
    ).select("source", F.to_timestamp("bucket_str").alias("bucket_ts"), "avg_v")


def test_spine_is_dense(spark, events):
    t1 = rollup_tier1(events)
    spine = bucket_spine(t1, "1m")
    # per source: spine covers exactly (max-min)/60s + 1 buckets
    ranges = t1.groupBy("source").agg(
        ((F.max("bucket_ts").cast("long") - F.min("bucket_ts").cast("long")) / 60 + 1).alias("want")
    )
    got = spine.groupBy("source").count()
    bad = ranges.join(got, "source").filter(F.col("want") != F.col("count")).count()
    assert bad == 0


def test_locf_fills_with_previous(spark):
    tier = _mk_tier(spark, [("a", 0, 10.0), ("a", 3, 40.0), ("a", 5, 60.0)])
    dense = densify(tier, "1m", value_cols=["avg_v"])
    filled = locf(dense, "avg_v").orderBy("bucket_ts").collect()
    assert [r["avg_v"] for r in filled] == [10.0, 10.0, 10.0, 40.0, 40.0, 60.0]
    assert [r["filled"] for r in filled] == [False, True, True, False, True, False]


def test_interpolate_linear_exact(spark):
    tier = _mk_tier(spark, [("a", 0, 10.0), ("a", 4, 50.0), ("a", 6, 30.0)])
    dense = densify(tier, "1m", value_cols=["avg_v"])
    out = interpolate(dense, "avg_v").orderBy("bucket_ts").collect()
    assert [r["avg_v"] for r in out] == [10.0, 20.0, 30.0, 40.0, 50.0, 40.0, 30.0]


def inject_gaps(events, seed: int = 42, mod: int = 10):
    """Drop ~1/mod of events deterministically; returns (gapped, dropped)."""
    is_gap = F.pmod(F.xxhash64(F.lit(seed), F.col("doc_id")), F.lit(mod)) == 0
    flagged = events.withColumn("_gap", is_gap)
    return (
        flagged.filter(~F.col("_gap")).drop("_gap"),
        flagged.filter(F.col("_gap")).drop("_gap"),
    )


def test_interpolate_recovers_injected_gaps(spark, events):
    """Drop ~10% of events; interpolation over 1s buckets must recover the
    dropped v exactly when neighbours are linear... here v is arbitrary, so
    instead check: non-gap points unchanged, all gaps filled, no nulls."""
    gapped, dropped = inject_gaps(events, seed=42)
    assert dropped.count() > 0
    # 1-second tier so each event is its own bucket
    t = gapped.select(
        "source", F.date_trunc("second", "event_ts").alias("bucket_ts"), F.col("v").alias("avg_v")
    )
    dense = densify(t, value_cols=["avg_v"])
    # spine stepping is 1m in densify's default; build 1s spine via explicit step
    from workbook_exporter_fe_spark.operators import gapfill

    spine = (
        t.groupBy("source")
        .agg(F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"))
        .select("source", F.explode(F.sequence("lo", "hi", F.expr("interval 1 second"))).alias("bucket_ts"))
    )
    dense = spine.join(t, ["source", "bucket_ts"], "left").withColumn(
        "filled", F.col("avg_v").isNull()
    )
    out = interpolate(dense, "avg_v")
    assert out.filter(F.col("avg_v").isNull()).count() == 0
    unchanged = out.filter(~F.col("filled")).select("source", "bucket_ts", "avg_v")
    orig = t.select("source", "bucket_ts", "avg_v")
    assert unchanged.exceptAll(orig).count() == 0


# -- segmented (scale-path) fills: bit-equal to the plain operators -------


def _multi_day_gaps(spark):
    """Two sources, observations on days 1 and 5 only — days 2-4 are
    entirely empty segments, so carries must cross multiple segments."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    for src, off in (("a", 0), ("b", 17)):
        for day, hour, val in [(0, 1, 10.0), (0, 5, 20.0), (4, 3, 50.0), (4, 9, 30.0)]:
            rows.append((src, base + dt.timedelta(days=day, hours=hour, minutes=off), val))
    df = spark.createDataFrame(rows, "source string, bucket_ts timestamp, avg_v double")
    return densify(df, "1h", value_cols=["avg_v"])


def _segmented(dense, how, segment):
    """One segmented fill, shaped like the plain operator's output."""
    return (
        fill_segmented(dense, {"_fill": how}, value_col="avg_v", segment=segment)
        .drop("avg_v")
        .withColumnRenamed("_fill", "avg_v")
        .select(*dense.columns)
    )


def test_locf_segmented_equals_plain(spark):
    dense = _multi_day_gaps(spark)
    a = locf(dense, "avg_v").orderBy("source", "bucket_ts").collect()
    b = _segmented(dense, "locf", "1d").orderBy("source", "bucket_ts").collect()
    assert a == b


def test_interpolate_segmented_equals_plain(spark):
    dense = _multi_day_gaps(spark)
    a = interpolate(dense, "avg_v").orderBy("source", "bucket_ts").collect()
    b = _segmented(dense, "interp", "1d").orderBy("source", "bucket_ts").collect()
    assert a == b


def test_segmented_equals_plain_on_tier_data(spark, events):
    """Same equality over the real tier-1 shape (dense minute spine)."""
    t1 = rollup_tier1(events).select("source", "bucket_ts", "avg_v")
    dense = densify(t1, "1m", value_cols=["avg_v"])
    for plain, how in ((locf, "locf"), (interpolate, "interp")):
        a = plain(dense, "avg_v").orderBy("source", "bucket_ts").collect()
        b = _segmented(dense, how, "1h").orderBy("source", "bucket_ts").collect()
        assert a == b, how


def test_fill_segmented_shared_pass_equals_separate(spark):
    """One shared carry pass must be bit-identical to running each fill
    in its own pass (the q64 single-pass restructure)."""
    dense = _multi_day_gaps(spark)
    both = (
        fill_segmented(
            dense, {"locf_v": "locf", "interp_v": "interp"},
            value_col="avg_v", segment="1d",
        )
        .orderBy("source", "bucket_ts")
        .collect()
    )
    lo = _segmented(dense, "locf", "1d").orderBy("source", "bucket_ts").collect()
    it = _segmented(dense, "interp", "1d").orderBy("source", "bucket_ts").collect()
    assert [r["locf_v"] for r in both] == [r["avg_v"] for r in lo]
    assert [r["interp_v"] for r in both] == [r["avg_v"] for r in it]
    # the original value column rides through unchanged
    assert [r["avg_v"] for r in both] == [
        r["avg_v"]
        for r in dense.orderBy("source", "bucket_ts").collect()
    ]
