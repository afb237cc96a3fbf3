"""Z-order (Morton) clustering layout for multi-dimension scan pruning.

Parquet scans skip row groups whose column min/max stats exclude the
filter — but only if the physical layout makes those ranges NARROW. A
single-column sort (`repartitionByRange(source, event_ts)`, the layout the
tier bench uses) gives perfect pruning on the leading column and none on
the other; Z-ORDERING interleaves the bits of both dimensions so every
file/row-group covers a small rectangle in (source, time) space — filters
on EITHER dimension (or both) skip most of the data. This is the same
technique Delta's OPTIMIZE ZORDER BY and Iceberg's sort-order z-ordering
apply; here it is a pure-Column implementation (no per-row Python) used by
SnapshotTable.compact(zorder_by=...).

Scale notes: the z-value is ~10 narrow integer expressions per row inside
the scan stage; the write is one `repartitionByRange(zv)` (a range shuffle,
same cost class as any clustering rewrite) + `sortWithinPartitions(zv)` so
row groups inside each file stay rectangle-local too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# with_zvalue: any number of NUMERIC/timestamp columns, each rank-binned by
# EQUI-DEPTH quantile boundaries (one approxQuantile pass) so a skewed column
# cannot collapse its bits into one bucket the way linear min/max scaling does.

_Z_NUMERIC = {"int", "bigint", "smallint", "tinyint", "float", "double"}


def _as_double(df: DataFrame, col: str) -> Column:
    dt = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if col not in dt:
        raise ValueError(f"unknown z-order column {col!r}")
    t = dt[col]
    if t.startswith("decimal") or t in _Z_NUMERIC:
        return F.col(col).cast("double")
    if t in ("timestamp", "timestamp_ntz", "date"):
        # TIMESTAMP_NTZ cannot cast straight to double — hop through
        # timestamp (sessions are UTC-pinned, so the hop is lossless)
        return F.col(col).cast("timestamp").cast("double")
    raise ValueError(
        f"z-order column {col!r} has type {t}; use numeric/timestamp "
        "columns (for string equality skipping use manifest blooms — "
        "snapshots.bloom_stats_for_files)"
    )


def with_zvalue(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    relative_error: float = 1e-3,
    out: str = "__z",
) -> DataFrame:
    """``df`` plus a Morton-code column ``out`` interleaving ``cols``.

    One ``approxQuantile`` pass computes all columns' equi-depth bucket
    boundaries (the driver holds ``len(cols) * 2^bits`` doubles —
    metadata-sized). Bucketing is a small HOF fold over the boundary
    array; the per-row scalar referenced inside the lambda is a
    pre-materialized attribute (``__zd<i>``), not an expression, so
    CollapseProject inlining costs nothing per element (the
    operators/drift.py trap). NULLs land in bucket 0 — deterministic,
    clustered together. Bit interleave is round-robin (col0 bit0, col1
    bit0, col0 bit1, ...), the curve Delta OPTIMIZE ZORDER BY walks.
    """
    if not cols:
        raise ValueError("z-order needs at least one column")
    if not 1 <= bits * len(cols) <= 63:
        raise ValueError(
            f"{len(cols)} columns x {bits} bits per column must fit a long"
        )
    tmp_cols = [f"__zd{i}" for i in range(len(cols))]
    staged = df.select(
        "*", *[_as_double(df, c).alias(t) for c, t in zip(cols, tmp_cols)]
    )
    qs = [j / (1 << bits) for j in range(1, 1 << bits)]
    cuts = staged.stat.approxQuantile(tmp_cols, qs, relative_error)
    z = F.lit(0).cast("long")
    n = len(cols)
    for j, (tmp, bnds) in enumerate(zip(tmp_cols, cuts)):
        # dedup tied boundaries (heavy skew): fewer, still-sorted cuts
        uniq = sorted(set(b for b in bnds if b is not None))
        if not uniq:
            continue  # constant/all-null column contributes no bits
        val = F.col(tmp)
        bucket = F.aggregate(
            F.array(*[F.lit(float(b)) for b in uniq]),
            F.lit(0),
            lambda acc, x: acc + F.when(val > x, 1).otherwise(0),
        ).cast("long")
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(bucket, i).bitwiseAND(F.lit(1)), i * n + j
            )
    return staged.withColumn(out, z).drop(*tmp_cols)
