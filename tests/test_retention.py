"""Retention semantics + the per-row invariant (BASELINE.json:15):
any sequence surviving retention carries a byte-identical `tokens` array."""

from __future__ import annotations

from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.eventize import eventize
from workbook_exporter_fe_spark.operators.retention import apply_retention
from workbook_exporter_fe_spark.operators.tiers import rollup_tier1
from workbook_exporter_fe_spark.sources.datagen import gen_sequences, write_sequences


def test_retention_drops_only_old_buckets(spark, events):
    t1 = rollup_tier1(events)
    kept = apply_retention(t1, "interval 10 minutes")
    wm = t1.agg(F.max("bucket_ts")).collect()[0][0]
    assert kept.count() < t1.count()
    bad = kept.filter(
        F.col("bucket_ts") <= F.lit(wm) - F.expr("interval 10 minutes")
    ).count()
    assert bad == 0
    # retained rows are bit-identical to their tier-1 originals (row drops
    # only — no value mutation)
    assert kept.exceptAll(t1).count() == 0


def test_write_read_roundtrip_token_equality(spark, sequences, tmp_path):
    """Landing + re-reading the sequences table never mutates tokens."""
    path = str(tmp_path / "seq")
    write_sequences(sequences, path, range_partitions=8)
    back = spark.read.parquet(path)
    assert back.count() == sequences.count()
    assert back.select("doc_id", "tokens", "n_tok", "source").exceptAll(
        sequences.select("doc_id", "tokens", "n_tok", "source")
    ).count() == 0


def test_bound_late_events_drops_behind_watermark(spark, sf_dir):
    from workbook_exporter_fe_spark.operators.retention import bound_late_events

    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_type").alias("source"),
        F.col("ts").alias("event_ts"),
        F.col("value").alias("v"),
    )
    bounded, wm = bound_late_events(events, delay="interval 3 days")
    assert wm == events.agg(F.max("event_ts")).first()[0]
    kept = bounded.count()
    assert 0 < kept < events.count()
    # everything kept is strictly inside the watermark window
    import datetime

    lo = wm - datetime.timedelta(days=3)
    assert bounded.filter(F.col("event_ts") <= F.lit(lo)).count() == 0
    # idempotent: bounding an already-bounded stream with the same
    # watermark drops nothing further
    again, _ = bound_late_events(bounded, delay="interval 3 days", wm=wm)
    assert again.count() == kept


def test_expire_tiers_downsample_then_expire(spark, tmp_path):
    from workbook_exporter_fe_spark.operators.retention import expire_tiers
    from workbook_exporter_fe_spark.plans.pipeline import TierPipeline
    from workbook_exporter_fe_spark.sources.datagen import gen_sequences

    out = str(tmp_path / "out")
    pipe = TierPipeline(spark, out)
    pipe.run(gen_sequences(spark, 3000, seed=42), run_fp="r1")
    t1_before = spark.read.parquet(f"{out}/tier1").count()
    t3_before = spark.read.parquet(f"{out}/tier3").count()

    stats = expire_tiers(
        spark,
        out,
        {"tier1": "interval 10 minutes", "tier2": "interval 1 hour",
         "tier3": "interval 3650 days"},
    )
    assert stats["tier1"]["rows_before"] == t1_before
    assert stats["tier1"]["dropped"] > 0
    t1 = spark.read.parquet(f"{out}/tier1")
    assert t1.count() == stats["tier1"]["rows_after"]
    # frontier shared: tier1 keeps exactly the 10-minute window behind wm
    from pyspark.sql import functions as F

    span = t1.agg(
        (F.max("bucket_ts").cast("double") - F.min("bucket_ts").cast("double"))
    ).first()[0]
    assert span <= 600
    # coarse tier untouched -> every expired fine bucket still covered
    assert spark.read.parquet(f"{out}/tier3").count() == t3_before

    # inverted policies (fine keeps longer than coarse) must be refused
    import pytest as _p

    with _p.raises(ValueError):
        expire_tiers(spark, out, {"tier1": "interval 30 days",
                                  "tier2": "interval 1 hour"})


def test_verify_passes_after_expiry_and_still_catches_corruption(spark, tmp_path):
    """ADVICE r2: expire_tiers + verify() must not contradict — a healthy
    store verifies green after expiry (checks scoped to co-retained
    ranges via the recorded cutoffs), while corruption inside a RETAINED
    range still fails the audit."""
    import os

    from workbook_exporter_fe_spark.operators.retention import (
        expire_tiers,
        read_cutoffs,
    )
    from workbook_exporter_fe_spark.plans.pipeline import TierPipeline
    from workbook_exporter_fe_spark.sources.datagen import gen_sequences

    out = str(tmp_path / "out")
    pipe = TierPipeline(spark, out)
    pipe.run(gen_sequences(spark, 3000, seed=42), run_fp="r1")
    assert pipe.verify()["ok"]  # pre-expiry: full-range audit, no cutoffs
    assert read_cutoffs(out) == {}

    stats = expire_tiers(
        spark,
        out,
        {"tier1": "interval 10 minutes", "tier2": "interval 1 hour",
         "tier3": "interval 3650 days"},
    )
    assert stats["tier1"]["dropped"] > 0
    cuts = read_cutoffs(out)
    assert set(cuts) == {"tier1", "tier2", "tier3"}
    # no staging/aside debris from the recoverable swap
    assert not [d for d in os.listdir(out) if "__" in d]

    checks = pipe.verify()
    assert checks["ok"], checks  # healthy store post-expiry PASSES

    # corrupt a retained tier-1 value → the scoped chunk round-trip must
    # still catch it (verify is not a no-op after expiry)
    t1 = spark.read.parquet(f"{out}/tier1").localCheckpoint()
    wm = t1.agg(F.max("bucket_ts")).first()[0]
    bad = t1.withColumn(
        "avg_v",
        F.when(
            F.col("bucket_ts") == F.lit(wm), F.col("avg_v") + 1.0
        ).otherwise(F.col("avg_v")),
    )
    bad.write.mode("overwrite").parquet(f"{out}/tier1")
    checks2 = pipe.verify()
    assert not checks2["chunks_roundtrip_tier1"]
    assert not checks2["ok"]
