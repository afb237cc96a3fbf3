"""Streaming tier-1: parity with batch rollup + watermark append semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.tiers import rollup_tier1
from workbook_exporter_fe_spark.streaming.stream_rollup import (
    EVENT_SCHEMA,
    stream_tier1,
    stream_to_tier_table,
)


def _land_events(spark, events, path):
    (
        events.select(
            "source", F.col("event_ts").cast("timestamp"), "v", "doc_id"
        ).write.mode("overwrite").parquet(path)
    )


def test_streaming_complete_matches_batch(spark, events, tmp_path):
    src = str(tmp_path / "events")
    _land_events(spark, events, src)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    agg = stream_tier1(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t1_stream")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM t1_stream")
    want = rollup_tier1(
        spark.read.parquet(src).withColumnRenamed("ts", "event_ts")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_foreachbatch_merge_sink(spark, events, tmp_path):
    src = str(tmp_path / "events")
    _land_events(spark, events, src)
    table = str(tmp_path / "tier1_table")
    q = stream_to_tier_table(
        spark.readStream.schema(EVENT_SCHEMA).parquet(src),
        table_path=table,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(table)
    want = rollup_tier1(spark.read.parquet(src))
    # append mode emits only watermark-finalized windows: subset of batch,
    # values identical for every emitted bucket
    assert got.exceptAll(want).count() == 0
    assert got.count() > 0

