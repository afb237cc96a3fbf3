"""Core engine tests: datagen determinism, eventization stability, tier math."""

from __future__ import annotations

from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.eventize import eventize
from workbook_exporter_fe_spark.operators.tiers import reaggregate, rollup_tier1
from workbook_exporter_fe_spark.sources.datagen import gen_sequences


def test_datagen_deterministic(spark):
    a = gen_sequences(spark, 500, seed=42, num_partitions=2).orderBy("doc_id").collect()
    b = gen_sequences(spark, 500, seed=42, num_partitions=7).orderBy("doc_id").collect()
    assert a == b  # bit-identical regardless of partitioning
    c = gen_sequences(spark, 500, seed=43, num_partitions=2).orderBy("doc_id").collect()
    assert a != c


def test_datagen_invariants(sequences):
    bad = sequences.filter(
        (F.col("n_tok") != F.size("tokens"))
        | (F.col("n_tok") < 1)
        | (F.col("n_tok") > 512)
    ).count()
    assert bad == 0
    # Zipf skew: src-00 carries 25-35% of rows
    total = sequences.count()
    top = sequences.filter(F.col("source") == "src-00").count()
    assert 0.25 < top / total < 0.35


def test_eventize_stable_under_repartition(spark, sequences):
    e1 = eventize(sequences.repartition(3)).orderBy("doc_id").collect()
    e2 = eventize(sequences.repartition(11, "source")).orderBy("doc_id").collect()
    assert e1 == e2


def test_tier1_matches_bruteforce(spark, events):
    t1 = rollup_tier1(events)
    brute = (
        events.groupBy("source", F.date_trunc("minute", "event_ts").alias("bucket_ts"))
        .agg(
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.count("v").alias("cnt"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("cnt"))
    )
    assert t1.exceptAll(brute).count() == 0 and brute.exceptAll(t1).count() == 0


def test_salted_rollup_identical(events):
    plain = rollup_tier1(events).orderBy("source", "bucket_ts").collect()
    salted = rollup_tier1(events, salt_buckets=8).orderBy("source", "bucket_ts").collect()
    assert [r.asDict() for r in plain] == [r.asDict() for r in salted]


def test_tier_cascade_decomposable(spark, events):
    """1h from 1m must equal 1h straight from tier-0 (decomposability)."""
    t1 = rollup_tier1(events)
    t2_from_t1 = reaggregate(t1, "1h")
    t2_direct = (
        events.groupBy("source", F.date_trunc("hour", "event_ts").alias("bucket_ts"))
        .agg(
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.count("v").alias("cnt"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("cnt"))
    )
    assert t2_from_t1.exceptAll(t2_direct).count() == 0
    assert t2_direct.exceptAll(t2_from_t1).count() == 0
    t3 = reaggregate(t2_from_t1, "1d")
    assert t3.agg(F.sum("cnt")).collect()[0][0] == events.count()
