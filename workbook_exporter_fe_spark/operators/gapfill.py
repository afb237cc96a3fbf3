"""Gap-fill: bucket spine generation, LOCF, and linear interpolation.

A tier table has one row per (source, bucket_ts) *with data*; gap-fill
densifies it to every bucket in each source's [min, max] range and fills
missing values:

- ``locf``: last-observation-carried-forward via
  ``last(v, ignorenulls=True)`` over an unbounded-preceding window.
- ``interpolate``: linear between the previous and next observed points
  (prev/next value+ts via last/first ignorenulls windows), LOCF at the
  trailing edge, next-value at the leading edge.

The spine is `sequence(min_bucket, max_bucket, interval)` + `explode` —
generated per source from a tiny aggregate, then left-joined to actuals.

Scale design: windows partition by source and order by bucket — tier tables
are already orders of magnitude smaller than tier-0 (one row per minute per
source), so even a year of 1m buckets is ~525k rows per source: a single
window partition is fine. For very long ranges, segment time (e.g. by day)
and overlap one bucket so the prev/next lookups cross segment edges
correctly (SURVEY §7 risk 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_INTERVAL = {"1m": "interval 1 minute", "1h": "interval 1 hour", "1d": "interval 1 day"}


def bucket_spine(tier: DataFrame, step: str = "1m", key: str = "source") -> DataFrame:
    """One row per (source, bucket_ts) for every bucket in each source's range."""
    return (
        tier.groupBy(key)
        .agg(F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"))
        .select(
            key,
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr(_INTERVAL[step]))
            ).alias("bucket_ts"),
        )
    )


def densify(tier: DataFrame, step: str = "1m", value_cols: list[str] | None = None, key: str = "source") -> DataFrame:
    """Left-join the spine to actuals; adds `filled` = true for gap rows."""
    value_cols = value_cols or [c for c in tier.columns if c not in (key, "bucket_ts")]
    spine = bucket_spine(tier, step, key)
    joined = spine.join(tier, [key, "bucket_ts"], "left")
    return joined.withColumn("filled", F.col(value_cols[0]).isNull())


def locf(dense: DataFrame, value_col: str = "avg_v", key: str = "source") -> DataFrame:
    """Fill nulls with the last non-null value per source (ordered by bucket)."""
    w = (
        Window.partitionBy(key)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dense.withColumn(
        value_col, F.last(value_col, ignorenulls=True).over(w)
    )


def interpolate(dense: DataFrame, value_col: str = "avg_v", key: str = "source") -> DataFrame:
    """Linear interpolation of nulls between observed neighbours per source.

    out = prev + (next - prev) * (t - t_prev) / (t_next - t_prev);
    trailing gaps fall back to LOCF, leading gaps to the next value.
    """
    # Both lookups use RUNNING frames (unbounded-preceding → current), which
    # Spark evaluates in O(n) per partition; "next non-null" runs over the
    # DESCENDING order instead of an unbounded-FOLLOWING frame, which Spark
    # recomputes from scratch per row — O(n²) and ~300× slower in practice.
    wb = (
        Window.partitionBy(key)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(key)
        .orderBy(F.col("bucket_ts").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v = F.col(value_col)
    ts_obs = F.when(v.isNotNull(), F.col("bucket_ts"))
    prev_v = F.last(v, ignorenulls=True).over(wb)
    next_v = F.last(v, ignorenulls=True).over(wf)
    prev_t = F.last(ts_obs, ignorenulls=True).over(wb).cast("double")
    next_t = F.last(ts_obs, ignorenulls=True).over(wf).cast("double")
    t = F.col("bucket_ts").cast("double")
    frac = (t - prev_t) / (next_t - prev_t)
    filled = (
        F.when(v.isNotNull(), v)
        .when(prev_v.isNull(), next_v)  # leading gap
        .when(next_v.isNull(), prev_v)  # trailing gap → LOCF
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return dense.withColumn(value_col, filled)


# --------------------------------------------------------------------------
# Segmented gap-fill: the scale path (SURVEY §7 risk 2).
#
# The plain windows above partition by `source` only, so a source's whole
# history is one window partition — fine for tier tables (~525k buckets per
# source-year) but a parallelism ceiling when sources are few and ranges
# long. The segmented variants partition by (source, time-segment):
# per-segment windows run in parallel, and cross-segment carry values come
# from a second window over a *summary* relation with one row per
# (source, segment) — thousands of rows where the dense table has billions,
# so the sequential part is negligible (classic two-level scan pattern).
# Results are bit-identical to the unsegmented operators (pinned by tests).
# --------------------------------------------------------------------------

_SEG_TRUNC = {"1h": "hour", "1d": "day", "1mo": "month"}


def _with_segment(dense: DataFrame, segment: str) -> DataFrame:
    return dense.withColumn("_seg", F.date_trunc(_SEG_TRUNC[segment], "bucket_ts"))


def _segment_carries(
    with_seg: DataFrame, value_col: str, key: str
) -> DataFrame:
    """(key, _seg, carry_prev_v/t, carry_next_v/t): nearest observation in
    any earlier / later segment. One row per (key, segment)."""
    v = F.col(value_col)
    obs = with_seg.filter(v.isNotNull())
    summ = obs.groupBy(key, "_seg").agg(
        F.max_by(v, F.col("bucket_ts")).alias("seg_last_v"),
        F.max("bucket_ts").alias("seg_last_t"),
        F.min_by(v, F.col("bucket_ts")).alias("seg_first_v"),
        F.min("bucket_ts").alias("seg_first_t"),
    )
    # every segment needs a summary row, including all-gap segments
    spine = with_seg.select(key, "_seg").distinct()
    summ = spine.join(summ, [key, "_seg"], "left")
    wprev = (
        Window.partitionBy(key)
        .orderBy("_seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wnext = (
        Window.partitionBy(key)
        .orderBy(F.col("_seg").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return summ.select(
        key,
        "_seg",
        F.last("seg_last_v", ignorenulls=True).over(wprev).alias("carry_prev_v"),
        F.last("seg_last_t", ignorenulls=True).over(wprev).alias("carry_prev_t"),
        F.last("seg_first_v", ignorenulls=True).over(wnext).alias("carry_next_v"),
        F.last("seg_first_t", ignorenulls=True).over(wnext).alias("carry_next_t"),
    )


def fill_segmented(
    dense: DataFrame,
    fills: dict[str, str],
    value_col: str = "avg_v",
    key: str = "source",
    segment: str = "1d",
) -> DataFrame:
    """Several segmented fills of ``value_col`` in ONE carry pass.

    ``fills`` maps output column → method ('locf' | 'interp'). Within each
    ``segment`` the fills equal plain ``locf``/``interpolate`` (pinned by
    tests); the per-segment window lookups and the cross-segment carry
    summary are computed ONCE and every requested fill is a projection
    over them — building the carry lineage + join once per fill costs
    2.4× as much.
    """
    for how in fills.values():
        if how not in ("locf", "interp"):
            raise ValueError(how)
    ws = _with_segment(dense, segment)
    v = F.col(value_col)
    wb = (
        Window.partitionBy(key, "_seg")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(key, "_seg")
        .orderBy(F.col("bucket_ts").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ts_obs = F.when(v.isNotNull(), F.col("bucket_ts"))
    step = (
        ws.withColumn("_lpv", F.last(v, ignorenulls=True).over(wb))
        .withColumn("_lpt", F.last(ts_obs, ignorenulls=True).over(wb))
        .withColumn("_lnv", F.last(v, ignorenulls=True).over(wf))
        .withColumn("_lnt", F.last(ts_obs, ignorenulls=True).over(wf))
    )
    joined = step.join(_segment_carries(ws, value_col, key), [key, "_seg"])
    prev_v = F.coalesce(F.col("_lpv"), F.col("carry_prev_v"))
    prev_t = F.coalesce(F.col("_lpt"), F.col("carry_prev_t")).cast("double")
    next_v = F.coalesce(F.col("_lnv"), F.col("carry_next_v"))
    next_t = F.coalesce(F.col("_lnt"), F.col("carry_next_t")).cast("double")
    t = F.col("bucket_ts").cast("double")
    frac = (t - prev_t) / (next_t - prev_t)
    out = joined
    for out_col, how in fills.items():
        if how == "locf":
            # _lpv's running frame includes the current row, so this IS
            # coalesce(local, carry_prev_v)
            expr = prev_v
        else:
            expr = (
                F.when(v.isNotNull(), v)
                .when(prev_v.isNull(), next_v)
                .when(next_v.isNull(), prev_v)
                .otherwise(prev_v + (next_v - prev_v) * frac)
            )
        out = out.withColumn(out_col, expr)
    return out.drop(
        "_seg", "_lpv", "_lpt", "_lnv", "_lnt",
        "carry_prev_v", "carry_prev_t", "carry_next_v", "carry_next_t",
    )
