"""Binned interval-overlap join: range joins without an equi key.

A pure range predicate (`l.start < r.end AND r.start < l.end`) gives
Catalyst nothing to hash on → BroadcastNestedLoopJoin, O(|L|·|R|) — the
classic range-join trap (q66 avoids it only because it HAS an equi key).
The standard fix (Databricks' range-join binning, Flink/Trino interval
joins) is implemented here set-side:

1. pick a bin width; explode every interval onto the sequence of bins it
   overlaps (an interval of length ℓ lands in ~ℓ/width + 1 bins);
2. equi-join on (optional key, bin) — a plain shuffled hash join;
3. apply the exact overlap predicate as a residual filter;
4. de-duplicate pairs that met in more than one bin — done WITHOUT a
   distinct over the payload: keep a pair only in the FIRST bin both
   intervals share (`bin == max(floor(l.start/w), floor(r.start/w))`),
   which is a scalar filter, not a shuffle.

Bin width tunes the fan-out/selectivity trade exactly like LSH band
width: ~the median interval length is the usual starting point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_union(
    df: DataFrame,
    start: str,
    end: str,
    key: str | None = None,
    as_long: bool = False,
) -> DataFrame:
    """Merge overlapping/touching [start, end) intervals per ``key`` into
    maximal islands: (key, island, island_start, island_end, n_intervals).

    The sum of (island_end − island_start) is the exact coverage (union
    length) — utilization/uptime math that double-counts under a naive
    SUM of durations.

    Plan: the classic sweep as window algebra — order by (start, end),
    running max of end over the RUNNING frame (cumulative, O(1)/row — the
    repo's no-unbounded-FOLLOWING rule), a new island starts where start
    exceeds the running max of all PREVIOUS ends, island id = running sum
    of start flags, then one groupBy per island. Two window passes + one
    partial-agg groupBy, all partition-parallel per key; works on dates,
    timestamps, or plain longs (set ``as_long`` for numeric columns).
    """
    kcols = [key] if key else []
    s = F.col(start) if as_long else F.col(start).cast("timestamp").cast("long")
    e = F.col(end) if as_long else F.col(end).cast("timestamp").cast("long")
    from pyspark.sql import Window

    w = Window.partitionBy(*kcols).orderBy("_s", "_e")
    run = w.rowsBetween(Window.unboundedPreceding, -1)
    d = (
        df.select(*kcols, s.alias("_s"), e.alias("_e"))
        .withColumn("_prev_max_e", F.max("_e").over(run))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev_max_e").isNull()
                | (F.col("_s") > F.col("_prev_max_e")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_island",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return d.groupBy(*kcols, F.col("_island").alias("island")).agg(
        F.min("_s").alias("island_start"),
        F.max("_e").alias("island_end"),
        F.count("*").alias("n_intervals"),
    )
