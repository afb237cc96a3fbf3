"""interval_union: running-max sweep islands equal a pure-python merge."""

from __future__ import annotations

import numpy as np

from workbook_exporter_fe_spark.operators.interval import interval_union


def _merge_reference(ivs):
    """Pure-python island merge of [s, e) pairs (touching intervals join)."""
    islands = []
    for s, e in sorted(ivs):
        if islands and s <= islands[-1][1]:
            islands[-1][1] = max(islands[-1][1], e)
            islands[-1][2] += 1
        else:
            islands.append([s, e, 1])
    return [(s, e, n) for s, e, n in islands]


def test_interval_union_matches_reference(spark):
    rng = np.random.default_rng(11)
    rows = [
        (k, int(s), int(s + d))
        for k in ("x", "y")
        for s, d in zip(
            rng.integers(0, 2000, 400), rng.integers(1, 60, 400)
        )
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    got: dict[str, list] = {"x": [], "y": []}
    for r in interval_union(df, "s", "e", key="k", as_long=True).collect():
        got[r.k].append((r.island_start, r.island_end, r.n_intervals))
    for k in ("x", "y"):
        want = _merge_reference([(s, e) for kk, s, e in rows if kk == k])
        assert sorted(got[k]) == sorted(want)


def test_interval_union_touching_and_coverage(spark):
    # [0,3) + [3,5) touch -> one island; [10,12) separate
    df = spark.createDataFrame(
        [("a", 0, 3), ("a", 3, 5), ("a", 10, 12)], "k string, s long, e long"
    )
    out = sorted(
        interval_union(df, "s", "e", key="k", as_long=True).collect(),
        key=lambda r: r.island_start,
    )
    assert [(r.island_start, r.island_end, r.n_intervals) for r in out] == [
        (0, 5, 2),
        (10, 12, 1),
    ]
    coverage = sum(r.island_end - r.island_start for r in out)
    assert coverage == 7  # naive duration sum would say 3+2+2 = 7 too,
    # but with overlap: add [1,4) and the union stays 7 while naive says 10
    df2 = df.union(
        spark.createDataFrame([("a", 1, 4)], "k string, s long, e long")
    )
    out2 = interval_union(df2, "s", "e", key="k", as_long=True).collect()
    assert sum(r.island_end - r.island_start for r in out2) == 7
