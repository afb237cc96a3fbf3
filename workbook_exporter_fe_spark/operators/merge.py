"""Merge-upsert and anti-join-vs-state — the reference's incremental core.

The reference's one real optimization is incremental idempotent processing:
anti-join each row against the existing output (`ip_exists_in_yaml`,
/root/reference/workbook_exporter-fe.py:1741-1754, SURVEY §2 O15) and
merge-upsert new entries into it (`write_yaml`, :1758-1767, O19). Here that
becomes set-based DataFrame ops plus a MERGE against hive-partitioned
parquet (partition-scoped staging swap).

Scale design: `merge_upsert` is a left-anti join (existing minus updated
keys) + union. When the *new* side is small relative to existing (the usual
incremental case) we broadcast it, so the merge never shuffles the big
existing table. Writes are partitioned by source so a merge that only
touches recent partitions can use `replaceWhere`-style partition overwrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def anti_join_state(new: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of `new` whose key is NOT already in `existing` (O15, set-based).

    The existing-keys side is deduplicated; Catalyst/AQE picks the join
    strategy from runtime sizes.
    """
    keys_side = existing.select(*keys).dropDuplicates(keys)
    return new.join(keys_side, keys, "left_anti")


def merge_upsert(existing: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Insert-or-replace per key: rows in `new` win (O19).

    Equivalent to `MERGE INTO existing USING new ON keys WHEN MATCHED THEN
    UPDATE * WHEN NOT MATCHED THEN INSERT *` — idempotent: merging the same
    `new` twice yields the same table.

    The new-keys side is broadcast (the incremental case: a small batch
    against a big table).
    """
    new = new.select(*existing.columns)
    keys_side = F.broadcast(new.select(*keys).dropDuplicates(keys))
    kept = existing.join(keys_side, keys, "left_anti")
    return kept.unionByName(new)


def merge_tier_additive(existing: DataFrame, partial: DataFrame, keys: list[str]) -> DataFrame:
    """Additive merge of DECOMPOSABLE tier aggregates (continuous-aggregate
    refresh): when an incremental batch contributes PARTIAL rows for a
    bucket that already has rows on disk, the decomposable columns combine
    (sum_v +=, cnt +=, min_v = min, max_v = max) and avg_v re-finalizes as
    sum/cnt — key-replace (`merge_upsert`) would silently drop the prior
    partial. This is the batch analog of re-aggregating a tier upward: the
    same combine semantics, applied across batches instead of across
    buckets. Shuffles only on the tier keys; both sides are tier-sized
    (one row per (source, bucket)), orders of magnitude below tier-0.
    """
    cols = ["sum_v", "min_v", "max_v", "cnt"]
    both = existing.select(*keys, *cols).unionByName(partial.select(*keys, *cols))
    out = both.groupBy(*keys).agg(
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
        F.sum("cnt").alias("cnt"),
    )
    return out.withColumn("avg_v", F.col("sum_v") / F.col("cnt"))


def merge_tier_additive_path(
    spark, path: str, partial: DataFrame, keys: list[str],
    partition_col: str | None = "source",
) -> None:
    """Additive tier merge against a parquet tier table on disk —
    partition-scoped like ``merge_upsert_path``: only partitions present in
    the incremental batch are read, combined, and swapped."""
    import os

    prefix = f"{partition_col}=" if partition_col else None
    if not os.path.exists(path):
        merge_upsert_path(spark, path, partial, keys, partition_col=partition_col)
        return
    partitioned = partition_col is not None and any(
        d.startswith(prefix) for d in os.listdir(path)
    )
    if partitioned:
        vals = [r[0] for r in partial.select(partition_col).distinct().collect()]
        existing = (
            spark.read.parquet(path)
            .filter(F.col(partition_col).isin(vals))
            .withColumn(
                partition_col,
                F.col(partition_col).cast(partial.schema[partition_col].dataType),
            )
            .select(*partial.columns)
        )
    else:
        existing = spark.read.parquet(path)
    merged = merge_tier_additive(existing, partial, keys)
    # the combined rows REPLACE the affected buckets (upsert semantics on
    # already-combined rows) — partition-scoped swap via merge_upsert_path
    merge_upsert_path(spark, path, merged, keys, partition_col=partition_col)


def merge_upsert_path(
    spark, path: str, new: DataFrame, keys: list[str], partition_col: str | None = None
) -> None:
    """MERGE against a parquet table on disk (hive-style layout).

    With ``partition_col`` (one of ``keys``, e.g. ``source``) the table is
    laid out hive-partitioned and the merge is PARTITION-SCOPED: only the
    partitions present in ``new`` are read, merged, and swapped — untouched
    partition directories are never rewritten (their files keep their
    mtimes), which is the `replaceWhere` shape a 100 TB merge needs instead
    of staging the whole table. Without ``partition_col`` (or on a legacy
    unpartitioned layout) it falls back to full read→merge→staging-swap.
    """
    import os
    import shutil

    prefix = f"{partition_col}=" if partition_col else None
    partitioned_layout = (
        partition_col is not None
        and partition_col in keys
        and (
            not os.path.exists(path)
            or any(d.startswith(prefix) for d in os.listdir(path))
        )
    )
    if not partitioned_layout:
        if os.path.exists(path):
            existing = spark.read.parquet(path)
            merged = merge_upsert(existing, new, keys)
        else:
            merged = new
        staging = path + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(staging, path)
        return

    if os.path.exists(path):
        # prune to the partitions `new` touches (tiny distinct on the new
        # side; the filter prunes the existing scan at the source)
        vals = [r[0] for r in new.select(partition_col).distinct().collect()]
        existing = (
            spark.read.parquet(path)
            .filter(F.col(partition_col).isin(vals))
            # partition-dir values read back as strings; restore the dtype
            .withColumn(
                partition_col,
                F.col(partition_col).cast(new.schema[partition_col].dataType),
            )
            .select(*new.columns)
        )
        merged = merge_upsert(existing, new, keys)
    else:
        merged = new
    staging = path + ".staging"
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    os.makedirs(path, exist_ok=True)
    for dname in os.listdir(staging):
        if not dname.startswith(prefix):
            continue
        dst = os.path.join(path, dname)
        if os.path.exists(dst):
            shutil.rmtree(dst)
        os.rename(os.path.join(staging, dname), dst)
    shutil.rmtree(staging, ignore_errors=True)
