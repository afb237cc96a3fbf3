"""Structured Streaming tier-1 rollup: the continuous-aggregate front end.

The batch engine's incremental story (anti-join + merge against the sink,
reference :1741-1767) is exactly what Structured Streaming formalizes:
windowed aggregation with a watermark for late tier-0 events, and a
`foreachBatch` sink that merge-upserts finalized buckets into the tier
table — the same idempotent (source, bucket_ts)-keyed merge the batch
pipeline uses, so batch and streaming write the identical table.

Scale: state is one row per open (source, 1m-window); the watermark bounds
state size (late events beyond it are dropped); `foreachBatch` + the
keyed merge gives effectively-once sink semantics with the checkpoint dir
providing exactly-once progress tracking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EVENT_SCHEMA = "source string, event_ts timestamp, v double, doc_id string"


def stream_tier1(
    events: DataFrame, watermark: str = "10 minutes", bucket: str = "1 minute"
) -> DataFrame:
    """Streaming DataFrame of tier-1 rows (same schema as batch rollup)."""
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(F.col("source"), F.window("event_ts", bucket).alias("win"))
        .agg(
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.count("v").alias("cnt"),
        )
        .select(
            "source",
            F.col("win.start").alias("bucket_ts"),
            "sum_v",
            "min_v",
            "max_v",
            "cnt",
            (F.col("sum_v") / F.col("cnt")).alias("avg_v"),
        )
    )


def stream_to_tier_table(
    events: DataFrame, table_path: str, checkpoint_dir: str,
    watermark: str = "10 minutes", bucket: str = "1 minute",
):
    """Append-mode streaming query merging finalized buckets into the tier
    table (idempotent keyed merge per micro-batch)."""
    from workbook_exporter_fe_spark.operators.merge import merge_upsert_path

    t1 = stream_tier1(events, watermark, bucket)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert_path(
            batch_df.sparkSession, table_path, batch_df, ["source", "bucket_ts"]
        )

    return (
        t1.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )

