"""Distribution-drift metrics between token histograms (KL/JS/PSI/TVD).

A 100 TB training-data pipeline monitors WHAT is flowing, not just how
much: a source whose token distribution shifts (new scrape mix, encoding
bug, injected spam) should trip an alarm long before loss curves do.
This module scores each rolled-up token histogram (a map<token,count>
per (source, bucket)) against a baseline distribution:

- ``histogram_drift(cur, base)`` — each current row vs a per-key
  baseline histogram (e.g. the trailing-week merge);
- ``drift_vs_previous(hist)`` — each bucket vs its predecessor in the
  same series (lag window), the continuous-monitoring form.

Metrics per row (all over the UNION support, add-eps smoothed so zero
cells never produce infinities):
  kl_div    KL(P ‖ Q)              — asymmetric, alarm on new mass
  js_div    Jensen-Shannon divergence (base e, ≤ ln 2) — symmetric, bounded
  psi       population stability index Σ(p-q)·ln(p/q)  — the monitoring
            industry's standard trip-wire (>0.2 ≈ major shift)
  tvd       total variation ½Σ|p-q|                    — worst-case mass moved
  n_union   union support size, n_only_cur / n_only_base — new/vanished
            token counts (exact integers, cross-engine hashable)

Scale shape: the histograms are ALREADY the rolled-up tier (bucket
count × vocab, orders of magnitude under tier-0), the baseline join is
key-sized (broadcast), and every metric is a higher-order-function fold
over the row's own map — per ROW, no explode, no extra shuffle (CLAUDE
perf rule: HOF work per row, not per pair). Floats are driver-equal but
not bit-portable across engines (fold order), so oracle checks pin the
exact integer companions and envelope the float metrics (tests).

Cost shape matters because HOFs are INTERPRETED and because the
optimizer's project-collapsing counts STATIC references, not per-element
runtime evaluations: any non-trivial column referenced inside a lambda
appears "used once" to CollapseProject, gets inlined, and is then
re-evaluated per ELEMENT — a fold that reads the row's total inside its
lambda is silently O(V²) per row (measured: minutes per row at vocab
sizes in the tens of thousands; jstack shows ArrayAggregate nested
inside ArrayTransform's per-element eval). The safe shape, used here:

- every lambda touches ONLY element fields and accumulator fields;
- row-scalars the elements need (the smoothing denominators) ride in
  the fold's INITIAL accumulator value, which is evaluated exactly once
  per row no matter what got inlined into it;
- all four float metrics accumulate in ONE fold pass (struct
  accumulator), so the union array is walked once, O(V) per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# internal staging columns (dropped before returning)
_U, _M = "_drift_u", "_drift_m"

_ZIP = lambda p, q: F.map_values(  # noqa: E731
    F.map_zip_with(
        p,
        q,
        lambda k, a, b: F.struct(
            F.coalesce(a, F.lit(0)).cast("double").alias("a"),
            F.coalesce(b, F.lit(0)).cast("double").alias("b"),
        ),
    )
)


def _staged(df: DataFrame, p: Column, q: Column, eps: float) -> DataFrame:
    """Add ``_U`` (union entries array) and ``_M`` (metric struct).

    ``_M`` is one O(V) fold: the initial accumulator carries the two
    smoothed denominators (their totals fold inlines into the init —
    evaluated once per row, harmless) plus four running sums; the step
    lambda reads only ``acc``/element fields.
    """
    df = df.withColumn(_U, _ZIP(p, q))
    u = F.col(_U)
    e = F.lit(eps)
    zero = F.lit(0.0)
    v = F.size(u).cast("double")
    ptot = F.aggregate(u, zero, lambda acc, x: acc + x["a"])
    qtot = F.aggregate(u, zero, lambda acc, x: acc + x["b"])
    init = F.struct(
        (ptot + e * v).alias("dp"),
        (qtot + e * v).alias("dq"),
        zero.alias("kl"),
        zero.alias("js"),
        zero.alias("psi"),
        zero.alias("tvd"),
    )

    def step(acc: Column, x: Column) -> Column:
        pp = (x["a"] + e) / acc["dp"]
        qq = (x["b"] + e) / acc["dq"]
        lr = F.log(pp / qq)
        return F.struct(
            acc["dp"].alias("dp"),
            acc["dq"].alias("dq"),
            (acc["kl"] + pp * lr).alias("kl"),
            (
                acc["js"]
                + 0.5 * pp * F.log(2.0 * pp / (pp + qq))
                + 0.5 * qq * F.log(2.0 * qq / (pp + qq))
            ).alias("js"),
            (acc["psi"] + (pp - qq) * lr).alias("psi"),
            (acc["tvd"] + 0.5 * F.abs(pp - qq)).alias("tvd"),
        )

    return df.withColumn(_M, F.aggregate(u, init, step))


def _drift_columns() -> dict[str, Column]:
    """Metric expressions over the staged columns.

    Floats unpack from the one-pass fold struct; the integer support
    companions are element-only lambdas (safe to inline wherever)."""
    u, m = F.col(_U), F.col(_M)
    count_if = lambda pred: F.size(F.filter(u, pred))  # noqa: E731
    return {
        "kl_div": m["kl"],
        "js_div": m["js"],
        "psi": m["psi"],
        "tvd": m["tvd"],
        "n_union": F.size(u),
        "n_only_cur": count_if(lambda x: (x["a"] > 0) & (x["b"] == 0)),
        "n_only_base": count_if(lambda x: (x["b"] > 0) & (x["a"] == 0)),
    }


def histogram_drift(
    cur: DataFrame,
    base: DataFrame,
    keys: list[str] | None = None,
    hist_col: str = "token_hist",
    base_hist_col: str | None = None,
    eps: float = 0.5,
) -> DataFrame:
    """Each row of ``cur`` scored against its key's baseline histogram.

    ``base`` must be unique per ``keys`` (one baseline distribution per
    series) — it is broadcast, so keep it key-sized. Rows of ``cur``
    whose key has no baseline are dropped (inner join): a series with no
    reference yet has nothing to drift FROM.
    """
    keys = list(keys or ["source"])
    bcol = base_hist_col or hist_col
    b = base.select(
        *keys, F.col(bcol).alias("_base_hist")
    )
    joined = cur.join(F.broadcast(b), keys)
    out = _staged(joined, F.col(hist_col), F.col("_base_hist"), eps)
    for name, expr in _drift_columns().items():
        out = out.withColumn(name, expr)
    return out.drop("_base_hist", _U, _M)


def drift_vs_previous(
    hist: DataFrame,
    keys: list[str] | None = None,
    order_col: str = "bucket_ts",
    hist_col: str = "token_hist",
    eps: float = 0.5,
) -> DataFrame:
    """Each bucket scored against the PREVIOUS bucket of its series.

    First bucket per series has no predecessor → its metric columns are
    null (kept, so gaps are visible). One lag window over the rolled-up
    tier, then per-row folds — no additional shuffle beyond the window's
    key partitioning.
    """
    keys = list(keys or ["source"])
    w = Window.partitionBy(*keys).orderBy(order_col)
    lagged = hist.withColumn("_prev_hist", F.lag(hist_col).over(w))
    out = _staged(lagged, F.col(hist_col), F.col("_prev_hist"), eps)
    for name, expr in _drift_columns().items():
        out = out.withColumn(
            name,
            F.when(F.col("_prev_hist").isNull(), F.lit(None)).otherwise(expr),
        )
    return out.drop("_prev_hist", _U, _M)
