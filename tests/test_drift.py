"""Histogram drift metrics: pinned to a pure-python reference.

The Spark metrics are per-row HOF folds; the reference recomputes
KL/JS/PSI/TVD from the same collected maps in python floats. Fold order
differs, so floats compare with a 1e-9 envelope; the integer support
companions (n_union / n_only_*) compare exactly.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.drift import (
    drift_vs_previous,
    histogram_drift,
)

EPS = 0.5


def _py_metrics(p: dict, q: dict, eps: float = EPS) -> dict:
    union = set(p) | set(q)
    v = float(len(union))
    ptot = float(sum(p.values()))
    qtot = float(sum(q.values()))
    pp = {k: (p.get(k, 0) + eps) / (ptot + eps * v) for k in union}
    qq = {k: (q.get(k, 0) + eps) / (qtot + eps * v) for k in union}
    kl = sum(pp[k] * math.log(pp[k] / qq[k]) for k in union)
    psi = sum((pp[k] - qq[k]) * math.log(pp[k] / qq[k]) for k in union)
    js = sum(
        0.5 * pp[k] * math.log(2 * pp[k] / (pp[k] + qq[k]))
        + 0.5 * qq[k] * math.log(2 * qq[k] / (pp[k] + qq[k]))
        for k in union
    )
    tvd = 0.5 * sum(abs(pp[k] - qq[k]) for k in union)
    return {
        "kl_div": kl,
        "js_div": js,
        "psi": psi,
        "tvd": tvd,
        "n_union": len(union),
        "n_only_cur": sum(1 for k in union if k in p and k not in q),
        "n_only_base": sum(1 for k in union if k in q and k not in p),
    }


@pytest.fixture(scope="module")
def hists(events):
    """(source, bucket_ts, tok_hist map<token, count>) per hour."""
    per_token = (
        events.select(
            "source",
            F.date_trunc("hour", "event_ts").alias("bucket_ts"),
            F.explode("tokens").alias("token"),
        )
        .groupBy("source", "bucket_ts", "token")
        .agg(F.count("*").alias("n"))
    )
    return (
        per_token.groupBy("source", "bucket_ts")
        .agg(F.map_from_entries(F.sort_array(F.collect_list(F.struct("token", "n")))).alias("tok_hist"))
        .cache()
    )


def test_histogram_drift_vs_python(spark, hists):
    base = (
        hists.groupBy("source")
        .agg(F.min("bucket_ts").alias("bucket_ts"))
        .join(hists, ["source", "bucket_ts"])
        .select("source", F.col("tok_hist").alias("base_hist"))
    )
    got = histogram_drift(
        hists, base, keys=["source"], hist_col="tok_hist",
        base_hist_col="base_hist", eps=EPS,
    ).collect()
    assert len(got) == hists.count()  # every source has a baseline
    base_py = {
        r["source"]: dict(r["base_hist"]) for r in base.collect()
    }
    checked = 0
    for r in got:
        want = _py_metrics(dict(r["tok_hist"]), base_py[r["source"]])
        for k in ("n_union", "n_only_cur", "n_only_base"):
            assert r[k] == want[k], (r["source"], r["bucket_ts"], k)
        for k in ("kl_div", "js_div", "psi", "tvd"):
            assert abs(r[k] - want[k]) < 1e-9, (r["source"], k)
        checked += 1
    assert checked > 5


def test_drift_identical_histograms_is_zero(spark):
    df = spark.createDataFrame(
        [("a", 1, {1: 10, 2: 5}), ("a", 2, {1: 10, 2: 5})],
        "source string, bucket_ts int, tok_hist map<int,long>",
    )
    out = drift_vs_previous(
        df, keys=["source"], order_col="bucket_ts", hist_col="tok_hist"
    ).orderBy("bucket_ts").collect()
    first, second = out
    assert first["kl_div"] is None  # no predecessor
    for k in ("kl_div", "js_div", "psi", "tvd"):
        assert abs(second[k]) < 1e-12
    assert second["n_only_cur"] == 0 and second["n_only_base"] == 0


def test_drift_vs_previous_matches_python(hists):
    out = drift_vs_previous(
        hists, keys=["source"], order_col="bucket_ts", hist_col="tok_hist"
    ).collect()
    rows = sorted(
        ((r["source"], r["bucket_ts"]), r) for r in out
    )
    by_key = dict(rows)
    series: dict = {}
    for (s, b), r in rows:
        series.setdefault(s, []).append((b, dict(r["tok_hist"])))
    for s, buckets in series.items():
        buckets.sort()
        for (b0, h0), (b1, h1) in zip(buckets, buckets[1:]):
            want = _py_metrics(h1, h0)
            r = by_key[(s, b1)]
            assert r["n_union"] == want["n_union"]
            assert abs(r["js_div"] - want["js_div"]) < 1e-9
            assert abs(r["psi"] - want["psi"]) < 1e-9
    # first bucket per series is null-metric
    for s, buckets in series.items():
        assert by_key[(s, buckets[0][0])]["kl_div"] is None


def test_disjoint_support_maximal_tvd(spark):
    df_cur = spark.createDataFrame(
        [("a", {1: 5, 2: 5})], "source string, tok_hist map<int,long>"
    )
    df_base = spark.createDataFrame(
        [("a", {3: 5, 4: 5})], "source string, base map<int,long>"
    )
    r = histogram_drift(
        df_cur, df_base, keys=["source"], hist_col="tok_hist",
        base_hist_col="base",
    ).collect()[0]
    assert r["n_only_cur"] == 2 and r["n_only_base"] == 2
    assert r["tvd"] > 0.7  # smoothing keeps it just under 1
    assert r["js_div"] < math.log(2) + 1e-12  # JS upper bound (nats)
