"""Time-series engine queries over the driver `events` table + oracles.

These exercise the engine's own operators (tiers, gapfill, codecs) through
the driver's correctness gate: the events table plays tier-0 (key =
event_type aliased to `source`, ts = ts, v = value), so every tier/gap-fill
semantic is DuckDB-checkable. The synthetic `sequences` corpus (FIXTURES F1)
is covered separately by pytest fixtures — it doesn't exist as a DuckDB view.

Float parity: per-bucket sums go through decimal casts (see registry.py);
avg_v is the exact sum divided by the exact count, rounded to 6dp on both
sides; LOCF/interpolation then operate on identical doubles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.gapfill import densify, interpolate, locf

from .registry import _t, query

# Shared SQL fragment: tier-1 over events with decimal-exact sums.
_T1_SQL = """
  SELECT event_type AS source, date_trunc('minute', ts) AS bucket_ts,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_v,
         MIN(value) AS min_v, MAX(value) AS max_v, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
"""


def _tier1(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("source"),
        F.col("ts").alias("event_ts"),
        F.col("value").alias("v"),
    )
    # int64-scaled exact sum (see registry._isum): order-independent like
    # the decimal path but stays inside whole-stage codegen
    exact = ev.groupBy(
        "source", F.date_trunc("minute", "event_ts").alias("bucket_ts")
    ).agg(
        (F.sum(F.round(F.col("v") * 100).cast("long")) / 100.0).alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.count("*").alias("cnt"),
    )
    return exact


# q20 also hash-checks the PromQL front-end (plans/promql.py): four
# expressions evaluate over tier-1 registered as metrics and join back.
# Exactness: the gauge is the ×100-scaled sum (integral doubles — frame
# sums exact in any order), the counter is the running event count, and
# every division/affine tail is a fixed IEEE sequence mirrored in SQL.
@query(
    "q20_tier1_1m",
    f"""
    WITH t1 AS ({_T1_SQL}),
    s AS (
      SELECT source, bucket_ts, ROUND(sum_v * 100) AS val,
             CAST(cnt AS DOUBLE) AS cval,
             epoch_us(bucket_ts) // 1000000 AS tsec
      FROM t1
    ),
    c AS (
      SELECT *,
             SUM(cval) OVER (PARTITION BY source ORDER BY bucket_ts) AS cum,
             tsec - MIN(tsec) OVER (PARTITION BY source) AS trel
      FROM s
    ),
    d AS (
      SELECT *,
             cum - lag(cum) OVER (PARTITION BY source ORDER BY bucket_ts) AS dlt,
             CASE WHEN lag(val) OVER (PARTITION BY source ORDER BY bucket_ts)
                       IS NULL THEN 0
                  WHEN val <> lag(val) OVER (PARTITION BY source ORDER BY bucket_ts)
                       THEN 1 ELSE 0 END AS chg
      FROM c
    ),
    pw AS (
      SELECT source, bucket_ts, val,
             AVG(val) OVER w15 AS avg15,
             MAX(val) OVER w60 AS max60,
             SUM(dlt) OVER w5 AS inc5,
             COUNT(val) OVER w10 AS k,
             SUM(trel) OVER w10 AS st,
             SUM(val) OVER w10 AS sy,
             SUM(trel * val) OVER w10 AS sty,
             SUM(trel * trel) OVER w10 AS stt,
             quantile_cont(val, 0.5) OVER w15 AS med15,
             list(struct_pack(t := tsec, x := val)) OVER w15 AS l15,
             SUM(chg) OVER w15 - FIRST_VALUE(chg) OVER w15 AS chg15,
             val / SUM(val) OVER (PARTITION BY bucket_ts) AS share,
             SUM(dlt) OVER w5 / 300.0 AS rate5,
             tsec, trel
      FROM d
      WINDOW w15 AS (PARTITION BY source ORDER BY tsec
                     RANGE BETWEEN 899 PRECEDING AND CURRENT ROW),
             w60 AS (PARTITION BY source ORDER BY tsec
                     RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW),
             w5 AS (PARTITION BY source ORDER BY tsec
                    RANGE BETWEEN 299 PRECEDING AND CURRENT ROW),
             w10 AS (PARTITION BY source ORDER BY tsec
                     RANGE BETWEEN 599 PRECEDING AND CURRENT ROW)
    ),
    -- subquery mirror: max_over_time(rate(events_cum[5m])[15m:]) — the
    -- outer frame ranges over the inner rate's own (non-null) grid
    sq AS (
      SELECT source, bucket_ts,
             MAX(rate5) OVER (PARTITION BY source ORDER BY tsec
                              RANGE BETWEEN 899 PRECEDING AND CURRENT ROW)
               AS maxrate15
      FROM pw
    ),
    -- alerting rule `for:` state (plans/rules.py island streaks) over an
    -- HOURLY roll-up of the scaled gauge: candidate when the exact
    -- integral hourly sum > 10000, firing after a 3-step (2h `for` at 1h
    -- step) consecutive run, else pending
    hh AS (
      SELECT source, date_trunc('hour', bucket_ts) AS hts,
             SUM(val) AS hval,
             epoch_us(date_trunc('hour', bucket_ts)) // 1000000 AS htsec
      FROM s GROUP BY 1, 2
    ),
    isl AS (
      SELECT source, hts, htsec,
             htsec // 3600
               - ROW_NUMBER() OVER (PARTITION BY source ORDER BY htsec) AS il
      FROM hh WHERE hval > 10000
    ),
    ast AS (
      SELECT source, hts,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY source, il
                                          ORDER BY htsec) >= 3
                  THEN 'firing' ELSE 'pending' END AS pq_alert
      FROM isl
    ),
    -- query_range explicit-grid resample (promql.py marker trick): the
    -- 15m avg on its native grid, as-of'd onto a 5m step grid with 5m
    -- staleness — mirrored here with DuckDB's ASOF join
    bounds AS (SELECT MIN(tsec) AS t0, MAX(tsec) AS t1 FROM s),
    spine AS (
      SELECT src.source, UNNEST(generate_series(b.t0, b.t1, 300)) AS gt
      FROM (SELECT DISTINCT source FROM s) src, bounds b
    ),
    qr AS (
      -- staleness as a projection (not a WHERE: DuckDB would push a
      -- second inequality into the ASOF join); a stale match yields a
      -- NULL value, same as Spark's dropped row after the left join
      SELECT sp.source, sp.gt,
             CASE WHEN p.tsec >= sp.gt - 300 THEN p.avg15 END AS avg15
      FROM spine sp ASOF JOIN pw p
        ON sp.source = p.source AND p.tsec <= sp.gt
    ),
    -- mad_over_time + holt_winters replay: the 15m window's items, time-
    -- sorted for the Prometheus smoothing recurrence (list_reduce over a
    -- DOUBLE[] state [s0, s1, b, i, v] — a STRUCT accumulator hits a
    -- DuckDB 1.0 list_reduce aliasing bug where later fields read the
    -- new s1) and value-sorted for the phi=0.5 item medians
    mh AS (
      SELECT source, bucket_ts,
             list_transform(list_sort(l15), s -> s.x) AS tx,
             list_sort(list_transform(l15, s -> s.x)) AS sx
      FROM pw
    ),
    mh2 AS (
      SELECT source, bucket_ts, tx, sx,
             CASE WHEN len(sx) % 2 = 1 THEN sx[len(sx) // 2 + 1]
                  ELSE (sx[len(sx) // 2] + sx[len(sx) // 2 + 1]) / 2.0
             END AS medv
      FROM mh
    ),
    mh3 AS (
      SELECT source, bucket_ts, tx,
             list_sort(list_transform(sx, x -> abs(x - medv))) AS dv
      FROM mh2
    ),
    mh4 AS (
      SELECT source, bucket_ts, tx,
             CASE WHEN len(dv) % 2 = 1 THEN dv[len(dv) // 2 + 1]
                  ELSE (dv[len(dv) // 2] + dv[len(dv) // 2 + 1]) / 2.0
             END AS mad15
      FROM mh3
    ),
    -- @ modifier replay: as-of value at the global end (5m staleness),
    -- ROW_NUMBER tie-free (one sample per (source, tsec))
    ate AS (
      SELECT source, val AS vend FROM (
        SELECT s.source, s.val,
               ROW_NUMBER() OVER (PARTITION BY s.source
                                  ORDER BY s.tsec DESC) AS rn
        FROM s, (SELECT MAX(tsec) AS tmax FROM s) tm
        WHERE s.tsec <= tm.tmax AND s.tsec > tm.tmax - 300
      ) WHERE rn = 1
    ),
    hwm AS (
      SELECT source, bucket_ts, mad15,
             CASE WHEN len(tx) >= 2 THEN
               list_reduce(
                 list_transform(tx, v -> [0.0::DOUBLE, 0.0::DOUBLE,
                                          0.0::DOUBLE, 0.0::DOUBLE, v]),
                 (a, x) -> CASE WHEN a[4] = 0.0
                   THEN [a[5],
                         0.5 * x[5] + 0.5 * (a[5] + (x[5] - a[5])),
                         x[5] - a[5], 1.0, x[5]]
                   ELSE [a[2],
                         0.5 * x[5] + 0.5 * (a[2] + (0.25 * (a[2] - a[1])
                                                     + 0.75 * a[3])),
                         0.25 * (a[2] - a[1]) + 0.75 * a[3],
                         a[4] + 1.0, x[5]] END
               )[2]
             END AS hw15
      FROM mh4
    )
    SELECT t1.source, t1.bucket_ts, sum_v, min_v, max_v, cnt,
           ROUND(sum_v / cnt, 6) AS avg_v,
           ROUND(pw.avg15 / 100.0, 6) AS pq_avg15m,
           ROUND(max60 / 100.0, 6) AS pq_max1h,
           ROUND(inc5 / 300.0, 6) AS pq_rate5m,
           ROUND((CASE WHEN k >= 2 AND (k * stt - st * st) > 0
                       THEN ((sy - ((k * sty - st * sy) / (k * stt - st * st)) * st) / k
                             + ((k * sty - st * sy) / (k * stt - st * st)) * (trel + 600.0))
                  END) / 100.0, 6) AS pq_pred10m,
           ROUND(med15 / 100.0, 6) AS pq_med15m,
           CAST(chg15 AS DOUBLE) AS pq_changes15m,
           ROUND(share, 6) AS pq_share,
           ROUND(maxrate15, 6) AS pq_maxrate15m,
           ast.pq_alert AS pq_alert,
           ROUND(qr.avg15 / 100.0, 6) AS pq_qr5m,
           ROUND(hwm.mad15 / 100.0, 6) AS pq_mad15m,
           ROUND(hwm.hw15 / 100.0, 6) AS pq_hw15m,
           ROUND(pw.val / ate.vend, 6) AS pq_at
    FROM t1
    JOIN pw ON t1.source = pw.source AND t1.bucket_ts = pw.bucket_ts
    JOIN sq ON t1.source = sq.source AND t1.bucket_ts = sq.bucket_ts
    JOIN hwm ON t1.source = hwm.source AND t1.bucket_ts = hwm.bucket_ts
    LEFT JOIN ast ON t1.source = ast.source
                 AND date_trunc('hour', t1.bucket_ts) = ast.hts
    LEFT JOIN qr ON t1.source = qr.source AND pw.tsec = qr.gt
    LEFT JOIN ate ON t1.source = ate.source
    """,
)
def q20_tier1_1m(spark, sf_dir):
    from pyspark.sql import Window

    from workbook_exporter_fe_spark.plans.promql import MetricStore, promql

    # Materialize tier-1 ONCE before fanning out: the store registers two
    # metrics and the query evaluates eight PromQL expressions over them —
    # without this every evaluation would recompute the full tier-1
    # rollup from raw events (measured 3.95 s -> the production shape is
    # PromQL over a STORED tier table, which this checkpoint stands for).
    t1 = _tier1(spark, sf_dir).localCheckpoint(eager=True)
    base = t1.withColumn("avg_v", F.round(F.col("sum_v") / F.col("cnt"), 6))
    store = MetricStore()
    scaled = t1.select(
        "source", "bucket_ts", F.round(F.col("sum_v") * 100).alias("value")
    )
    store.register("tokens_scaled", scaled)
    wcum = (
        Window.partitionBy("source")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    counter = t1.select(
        "source",
        "bucket_ts",
        F.sum(F.col("cnt").cast("double")).over(wcum).alias("value"),
    )
    store.register("events_cum", counter)

    def col_of(expr: str, name: str, scale: float):
        v = promql(store, expr)
        return v.select(
            "source",
            F.col("ts").alias("bucket_ts"),
            F.round(F.col("value") / scale, 6).alias(name),
        )

    out = base
    for expr, name, scale in [
        ("avg_over_time(tokens_scaled[15m])", "pq_avg15m", 100.0),
        ("max_over_time(tokens_scaled[1h])", "pq_max1h", 100.0),
        ("rate(events_cum[5m])", "pq_rate5m", 1.0),
        ("predict_linear(tokens_scaled[10m], 600)", "pq_pred10m", 100.0),
        # r3 front-end extensions, each in a bit-exact shape: phi=0.5
        # keeps the quantile interpolation exact on integral doubles,
        # changes() is an integer count, group_left share-of-total is
        # one IEEE division, and the subquery max picks an existing
        # exact-division value
        ("quantile_over_time(0.5, tokens_scaled[15m])", "pq_med15m", 100.0),
        ("changes(tokens_scaled[15m])", "pq_changes15m", 1.0),
        ("tokens_scaled / on () group_left sum(tokens_scaled)",
         "pq_share", 1.0),
        ("max_over_time(rate(events_cum[5m])[15m:])", "pq_maxrate15m", 1.0),
        # r4 extensions: mad is sorted-item arithmetic (exact on the
        # integral scaled gauge), holt_winters is the Prometheus
        # recurrence with exact-binary factors (0.5, 0.25) — both
        # replayed op-for-op by the oracle's list_sort / list_reduce
        ("mad_over_time(tokens_scaled[15m])", "pq_mad15m", 100.0),
        ("holt_winters(tokens_scaled[15m], 0.5, 0.25)", "pq_hw15m", 100.0),
    ]:
        out = out.join(col_of(expr, name, scale), ["source", "bucket_ts"], "left")
    # alerting-rule `for:` state (plans/rules.py RuleEngine island
    # streaks) over an HOURLY metric: candidate when the exact integral
    # hourly sum > 10000; `for: 2h` at 1h step → firing needs a 3-run
    from workbook_exporter_fe_spark.plans.rules import AlertingRule, RuleEngine

    hourly = t1.groupBy(
        "source", F.date_trunc("hour", "bucket_ts").alias("bucket_ts")
    ).agg(F.sum(F.round(F.col("sum_v") * 100)).alias("value"))
    store.register("tokens_1h", hourly)
    hot = RuleEngine(store).run(
        [AlertingRule(alert="hot", expr="tokens_1h > 10000",
                      for_s=7200, step_s=3600)]
    )["hot"]
    ast = hot.select(
        "source", F.col("ts").alias("_hour"), F.col("state").alias("pq_alert")
    )
    out = (
        out.withColumn("_hour", F.date_trunc("hour", "bucket_ts"))
        .join(ast, ["source", "_hour"], "left")
        .drop("_hour")
    )
    # query_range explicit-grid resample (promql.py:query_range marker
    # trick): native-grid 15m avg as-of'd onto a 5m step grid, 5m
    # staleness; grid bounds are a 2-scalar watermark collect
    from workbook_exporter_fe_spark.plans.promql import query_range

    b = t1.agg(
        F.min(F.col("bucket_ts").cast("timestamp").cast("long")).alias("t0"),
        F.max(F.col("bucket_ts").cast("timestamp").cast("long")).alias("t1"),
    ).collect()[0]
    vr = query_range(
        store, "avg_over_time(tokens_scaled[15m])",
        int(b.t0), int(b.t1), step="5m", lookback="5m",
    )
    qr = vr.select(
        "source",
        F.col("ts").alias("bucket_ts"),
        F.round(F.col("value") / 100.0, 6).alias("pq_qr5m"),
    )
    out = out.join(qr, ["source", "bucket_ts"], "left")
    # r4: the @ modifier — share-of-final normalization `m / m @ end`
    # (one IEEE division per row; series stale at the global end drop
    # to null, mirroring the oracle's staleness-windowed as-of)
    pat = promql(
        store, f"tokens_scaled / tokens_scaled @ {int(b.t1)}"
    ).select(
        "source",
        F.col("ts").alias("bucket_ts"),
        F.round(F.col("value"), 6).alias("pq_at"),
    )
    return out.join(pat, ["source", "bucket_ts"], "left")


# Tier-2 (1h) AND tier-3 (1d) re-aggregation in one union-tagged query —
# both tiers re-aggregate tier-1's decomposable columns (never tier-0) and
# re-finalize avg as sum/cnt; the `tier` tag keeps the schemas uniform.
@query(
    "q21_tier23_reagg",
    f"""
    WITH t1 AS ({_T1_SQL}),
    h AS (
      SELECT source, date_trunc('hour', bucket_ts) AS bucket_ts,
             CAST(ROUND(SUM(CAST(sum_v AS DECIMAL(28,6))), 6) AS DOUBLE) AS sum_v,
             MIN(min_v) AS min_v, MAX(max_v) AS max_v, CAST(SUM(cnt) AS BIGINT) AS cnt,
             ROUND(CAST(ROUND(SUM(CAST(sum_v AS DECIMAL(28,6))), 6) AS DOUBLE) / SUM(cnt), 6) AS avg_v
      FROM t1 GROUP BY 1, 2
    )
    -- r4: min/max POINT downsample (operators/downsample.py) — per hour
    -- the argmin/argmax tier-1 points with their fine timestamps; ties
    -- resolve (v ASC, ts ASC) for minima and (v DESC, ts DESC) for
    -- maxima, the operator's lexicographic struct order
    , fine AS (
      SELECT source, date_trunc('hour', bucket_ts) AS bucket_ts,
             bucket_ts AS fine_ts, ROUND(sum_v / cnt, 6) AS av
      FROM t1
    ),
    mmr AS (
      SELECT source, bucket_ts, fine_ts, av,
             ROW_NUMBER() OVER (PARTITION BY source, bucket_ts
                                ORDER BY av ASC, fine_ts ASC) AS rn_min,
             ROW_NUMBER() OVER (PARTITION BY source, bucket_ts
                                ORDER BY av DESC, fine_ts DESC) AS rn_max
      FROM fine
    ),
    mmin AS (SELECT source, bucket_ts, fine_ts AS mm_ts_min,
                    av AS mm_v_min FROM mmr WHERE rn_min = 1),
    mmax AS (SELECT source, bucket_ts, fine_ts AS mm_ts_max,
                    av AS mm_v_max FROM mmr WHERE rn_max = 1)
    -- win6h_*: the tier router's 6h trailing window answered FROM the 1h
    -- tier (RANGE 18000s = 6h minus one 1h bucket, over bucket starts);
    -- count/max only — order-independent, so exact cross-engine
    SELECT '1h' AS tier, h.source, h.bucket_ts, sum_v, min_v, max_v, cnt, avg_v,
           CAST(SUM(cnt) OVER w6 AS BIGINT) AS win6h_cnt,
           MAX(max_v) OVER w6 AS win6h_max,
           mmin.mm_ts_min, mmin.mm_v_min, mmax.mm_ts_max, mmax.mm_v_max
    FROM h
    JOIN mmin ON h.source = mmin.source AND h.bucket_ts = mmin.bucket_ts
    JOIN mmax ON h.source = mmax.source AND h.bucket_ts = mmax.bucket_ts
    WINDOW w6 AS (PARTITION BY h.source ORDER BY epoch(h.bucket_ts)
                  RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW)
    UNION ALL
    SELECT '1d', source, CAST(date_trunc('day', bucket_ts) AS TIMESTAMP),
           CAST(ROUND(SUM(CAST(sum_v AS DECIMAL(28,6))), 6) AS DOUBLE),
           MIN(min_v), MAX(max_v), CAST(SUM(cnt) AS BIGINT),
           ROUND(CAST(ROUND(SUM(CAST(sum_v AS DECIMAL(28,6))), 6) AS DOUBLE) / SUM(cnt), 6),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE),
           CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
    FROM t1 GROUP BY 2, 3
    """,
)
def q21_tier23_reagg(spark, sf_dir):
    from workbook_exporter_fe_spark.operators.tiers import tier_over_time

    t1 = _tier1(spark, sf_dir)

    def reagg(to: str, tag: str):
        out = t1.groupBy(
            "source", F.date_trunc(to, "bucket_ts").alias("bucket_ts")
        ).agg(
            F.round(F.sum(F.col("sum_v").cast("decimal(28,6)")), 6).cast("double").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.sum("cnt").alias("cnt"),
        )
        return out.select(
            F.lit(tag).alias("tier"),
            "source",
            "bucket_ts",
            "sum_v",
            "min_v",
            "max_v",
            "cnt",
            F.round(F.col("sum_v") / F.col("cnt"), 6).alias("avg_v"),
        )

    hourly = reagg("hour", "1h")
    # the REAL router (tier_over_time) answers the 6h trailing window
    # from the 1h tier; count/max are the order-independent exact pair
    tiers = {3600: hourly.drop("tier", "avg_v")}
    wcnt = tier_over_time(tiers, "count", 6 * 3600).withColumnRenamed(
        "value", "win6h_cnt"
    ).drop("tier_step_s")
    wmax = tier_over_time(tiers, "max", 6 * 3600).withColumnRenamed(
        "value", "win6h_max"
    ).drop("tier_step_s")
    hourly = hourly.join(wcnt, ["source", "bucket_ts"]).join(
        wmax, ["source", "bucket_ts"]
    )
    # r4: hourly min/max POINT downsample of the tier-1 avg (argmin /
    # argmax with fine timestamps, lexicographic-struct tie-break)
    from workbook_exporter_fe_spark.operators.downsample import (
        downsample_minmax,
    )

    mm = downsample_minmax(
        t1.withColumn("avg_v", F.round(F.col("sum_v") / F.col("cnt"), 6)),
        to="1h",
        value_col="avg_v",
    ).select(
        "source",
        "bucket_ts",
        F.col("ts_min").alias("mm_ts_min"),
        F.col("v_min").alias("mm_v_min"),
        F.col("ts_max").alias("mm_ts_max"),
        F.col("v_max").alias("mm_v_max"),
    )
    hourly = hourly.join(mm, ["source", "bucket_ts"])
    daily = (
        reagg("day", "1d")
        .withColumn("win6h_cnt", F.lit(None).cast("long"))
        .withColumn("win6h_max", F.lit(None).cast("double"))
        .withColumn("mm_ts_min", F.lit(None).cast("timestamp"))
        .withColumn("mm_v_min", F.lit(None).cast("double"))
        .withColumn("mm_ts_max", F.lit(None).cast("timestamp"))
        .withColumn("mm_v_max", F.lit(None).cast("double"))
    )
    return hourly.unionByName(daily)


_DENSE_SQL = f"""
  WITH t1 AS (
    SELECT source, bucket_ts, ROUND(sum_v / cnt, 6) AS avg_v FROM ({_T1_SQL})
  ), rng AS (
    SELECT source, MIN(bucket_ts) AS lo, MAX(bucket_ts) AS hi FROM t1 GROUP BY source
  ), spine AS (
    SELECT source, UNNEST(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS bucket_ts FROM rng
  ), dense AS (
    SELECT s.source, s.bucket_ts, t.avg_v, t.avg_v IS NULL AS filled
    FROM spine s LEFT JOIN t1 t USING (source, bucket_ts)
  )
"""


# Gap-fill: spine densify + LOCF + linear interpolation in one result
# (locf_v / interp_v per dense bucket). Both fills read the same dense
# relation and the same per-source ordered windows, so Catalyst computes
# them in a single Window pass over one sort.
_GAPFILL_SQL = (
    _DENSE_SQL
    + """
    SELECT source, bucket_ts,
           prev_v AS locf_v,
           CASE WHEN avg_v IS NOT NULL THEN avg_v
                WHEN prev_v IS NULL THEN next_v
                WHEN next_v IS NULL THEN prev_v
                ELSE prev_v + (next_v - prev_v) * ((epoch(bucket_ts) - prev_t) / (next_t - prev_t))
           END AS interp_v,
           filled
    FROM (
      SELECT *,
             last_value(avg_v IGNORE NULLS) OVER wb AS prev_v,
             first_value(avg_v IGNORE NULLS) OVER wf AS next_v,
             last_value(CASE WHEN avg_v IS NOT NULL THEN epoch(bucket_ts) END IGNORE NULLS) OVER wb AS prev_t,
             first_value(CASE WHEN avg_v IS NOT NULL THEN epoch(bucket_ts) END IGNORE NULLS) OVER wf AS next_t
      FROM dense
      WINDOW wb AS (PARTITION BY source ORDER BY bucket_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY source ORDER BY bucket_ts
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    """
)


@query("q23_gapfill", _GAPFILL_SQL)
def q23_gapfill(spark, sf_dir):
    t1 = _tier1(spark, sf_dir).select(
        "source", "bucket_ts", F.round(F.col("sum_v") / F.col("cnt"), 6).alias("avg_v")
    )
    dense = densify(t1, "1m", value_cols=["avg_v"]).select(
        "source",
        "bucket_ts",
        "filled",
        F.col("avg_v").alias("locf_v"),
        F.col("avg_v").alias("interp_v"),
    )
    out = interpolate(locf(dense, "locf_v"), "interp_v")
    return out.select("source", "bucket_ts", "locf_v", "interp_v", "filled")


# Retention: tier-specific expiry as a pure filter against the watermark
# (operators/retention.py) — partition-prunable at table level.
@query(
    "q26_retention",
    f"""
    WITH t1 AS ({_T1_SQL}),
         wm AS (SELECT MAX(bucket_ts) AS w FROM t1)
    SELECT t1.* FROM t1, wm WHERE t1.bucket_ts > wm.w - INTERVAL 12 HOUR
    """,
)
def q26_retention(spark, sf_dir):
    from workbook_exporter_fe_spark.operators.retention import apply_retention

    t1 = _tier1(spark, sf_dir)
    return apply_retention(t1, "interval 12 hours")


# Codec round-trip through the gate: compress tier-1 per (source, day)
# segment with DoD+Gorilla, decompress, return points. Binary payloads are
# not SQL-expressible → the decompressed POINTS are compared instead: the
# oracle is simply tier-1 itself, so a bit-exact codec is the only way the
# hashes match.
@query(
    "q27_codec_roundtrip",
    f"""
    SELECT source, bucket_ts, ROUND(sum_v / cnt, 6) AS avg_v FROM ({_T1_SQL})
    """,
)
def q27_codec_roundtrip(spark, sf_dir):
    from workbook_exporter_fe_spark.functions.spark_codecs import (
        compress_tier,
        decompress_chunks,
    )

    t1 = _tier1(spark, sf_dir).select(
        "source", "bucket_ts", F.round(F.col("sum_v") / F.col("cnt"), 6).alias("avg_v")
    )
    chunks = compress_tier(t1, value_col="avg_v")
    points = decompress_chunks(chunks, value_col="avg_v")
    # tier tables are timestamp_ntz; re-align the decoded TIMESTAMP type
    return points.select(
        "source", F.col("bucket_ts").cast("timestamp_ntz").alias("bucket_ts"), "avg_v"
    )


# Structured Streaming tier-1 through the correctness gate: the same
# windowed aggregation as q20 executed as a streaming query (parquet file
# source -> complete-mode memory sink, processAllAvailable). Complete mode
# retains all window state, so the streamed result must equal the batch
# tier-1 exactly — the oracle IS q20's SQL, making the streaming path
# oracle-checked rather than rows-only.
_STREAM_SEQ = iter(range(1_000_000))


def _stage_stream_src(spark, sf_dir):
    """Stage the single-file events table into a dir for FileStreamSource.

    The staged dir is keyed on a CONTENT fingerprint (file paths + sizes +
    mtimes), not just the path — regenerating test data at the same path
    invalidates the key and re-stages, so the streaming queries can never
    aggregate stale data."""
    import glob
    import hashlib
    import os

    src = f"{sf_dir}/events.parquet"
    paths = sorted(glob.glob(f"{src}/**", recursive=True)) if os.path.isdir(src) else [src]
    sig = "|".join(
        f"{p}:{os.path.getsize(p)}:{os.path.getmtime(p)}"
        for p in paths
        if os.path.isfile(p)
    )
    fp = hashlib.md5(sig.encode()).hexdigest()[:12]
    staged = f"/tmp/spark_graft_stream_src_{fp}"
    static = spark.read.parquet(src)
    if not os.path.exists(f"{staged}/_SUCCESS"):
        static.write.mode("overwrite").parquet(staged)
    return staged, static.schema


@query(
    "q51_stream_tier1",
    f"""
    SELECT source, bucket_ts, sum_v, min_v, max_v, cnt,
           ROUND(sum_v / cnt, 6) AS avg_v
    FROM ({_T1_SQL})
    """,
)
def q51_stream_tier1(spark, sf_dir):
    # FileStreamSource requires a directory; stage the single-file driver
    # table into a content-fingerprinted temp dir (see _stage_stream_src).
    staged, schema = _stage_stream_src(spark, sf_dir)
    stream = spark.readStream.schema(schema).parquet(staged)
    ev = stream.select(
        F.col("event_type").alias("source"),
        F.col("ts").alias("event_ts"),
        F.col("value").alias("v"),
    )
    agg = ev.groupBy("source", F.window("event_ts", "1 minute").alias("win")).agg(
        F.round(F.sum(F.col("v").cast("decimal(28,6)")), 6).cast("double").alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.count("*").alias("cnt"),
    )
    name = f"q51_stream_run_{next(_STREAM_SEQ)}"
    q = (
        agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select(
        "source",
        F.col("win.start").alias("bucket_ts"),
        "sum_v",
        "min_v",
        "max_v",
        "cnt",
        F.round(F.col("sum_v") / F.col("cnt"), 6).alias("avg_v"),
    )


# Custom stateful streaming operator through the gate (rows-only: explicit
# applyInPandasWithState running totals are not SQL-expressible; pytest
# pins exact values in tests/test_tableio_stateful.py).
@query("q56_stateful_running_stats")
def q56_stateful_running_stats(spark, sf_dir):
    from workbook_exporter_fe_spark.streaming.stateful import running_source_stats

    staged, schema = _stage_stream_src(spark, sf_dir)
    ev = spark.readStream.schema(schema).parquet(staged).select(
        F.col("event_type").alias("source"),
        F.col("ts").cast("timestamp").alias("event_ts"),
        F.col("value").alias("v"),
    )
    stats = running_source_stats(ev)
    name = f"q56_stateful_run_{next(_STREAM_SEQ)}"
    q = stats.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# Distinct-count tiers. q60 is the exact path (oracle-checked); q61 below
# is the scale path — tier-1 sketches merged upward so coarser tiers never
# rescan tier-0 (COUNT DISTINCT is not decomposable; per-register-max
# sketch union is) — fully oracled via exact companions + error-envelope
# booleans; tests/test_hll_tiers.py additionally pins the ≤2% envelope.
@query(
    "q60_distinct_rollup",
    """
    SELECT event_type AS source,
           date_trunc('hour', ts) AS bucket_ts,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def q60_distinct_rollup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("event_type").alias("source"),
        F.date_trunc("hour", "ts").alias("bucket_ts"),
    ).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("cnt"),
    )


# All three mergeable-sketch cascades (HLL distinct, KLL quantiles, theta
# set-algebra churn) through a FULL oracle via the error-envelope pattern:
# the sketch bytes are engine-specific and can never hash-match, but (a)
# the EXACT companions (n_users, cnt, p50x, p95x, ret_x, new_x) hash-check
# the bucket/cascade arithmetic, and (b) "estimate within its published
# error envelope of the exact answer" is a boolean that is TRUE on the
# oracle side by construction. The cascade shape is the real contract:
# HLL/KLL build tier-1 (1m) sketches and MERGE upward to 1h (never
# rescanning tier-0); theta runs lag-window set algebra at 1h. Exact churn
# mirrors theta's predecessor semantics (lag over present buckets, not
# wall-clock hour-1); buckets with no predecessor emit NULL churn and
# vacuously-TRUE envelope booleans on both sides.
@query(
    "q61_sketch_cascades",
    """
    WITH du AS (
      SELECT DISTINCT event_type AS source, date_trunc('hour', ts) AS bucket_ts, user_id
      FROM events
    ),
    bp AS (
      SELECT source, bucket_ts,
             LAG(bucket_ts) OVER (PARTITION BY source ORDER BY bucket_ts) AS prev_ts
      FROM (SELECT DISTINCT source, bucket_ts FROM du)
    ),
    ret AS (
      SELECT d.source, d.bucket_ts, COUNT(*) AS r
      FROM du d
      JOIN bp ON bp.source = d.source AND bp.bucket_ts = d.bucket_ts
      JOIN du p ON p.source = d.source AND p.bucket_ts = bp.prev_ts
               AND p.user_id = d.user_id
      GROUP BY 1, 2
    ),
    ex AS (
      SELECT event_type AS source, date_trunc('hour', ts) AS bucket_ts,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             COUNT(*) AS cnt,
             ROUND(quantile_cont(value, 0.5), 6) AS p50x,
             ROUND(quantile_cont(value, 0.95), 6) AS p95x
      FROM events GROUP BY 1, 2
    )
    SELECT ex.source, ex.bucket_ts, n_users, cnt, p50x, p95x,
           CASE WHEN bp.prev_ts IS NULL THEN NULL
                ELSE COALESCE(ret.r, 0) END AS ret_x,
           CASE WHEN bp.prev_ts IS NULL THEN NULL
                ELSE n_users - COALESCE(ret.r, 0) END AS new_x,
           TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p95_ok,
           TRUE AS ret_ok, TRUE AS new_ok
    FROM ex
    JOIN bp ON bp.source = ex.source AND bp.bucket_ts = ex.bucket_ts
    LEFT JOIN ret ON ret.source = ex.source AND ret.bucket_ts = ex.bucket_ts
    """,
)
def q61_sketch_cascades(spark, sf_dir):
    from pyspark.sql import Window

    from workbook_exporter_fe_spark.operators.tiers import (
        bucket_churn,
        distinct_sketch_finalize,
        distinct_sketch_reaggregate,
        distinct_sketch_tier1,
        quantile_sketch_finalize,
        quantile_sketch_reaggregate,
        quantile_sketch_tier1,
        theta_bucket_sketches,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("source"),
        F.col("ts").alias("event_ts"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("value").alias("v"),
    )
    # sketch cascades: 1m tier → merge to 1h (the engine's scale path)
    hll = distinct_sketch_finalize(
        distinct_sketch_reaggregate(distinct_sketch_tier1(ev), "1h")
    ).select("source", "bucket_ts", "approx_distinct")
    kll = quantile_sketch_finalize(
        quantile_sketch_reaggregate(quantile_sketch_tier1(ev), "1h"),
        quantiles=(0.5, 0.95),
    ).select("source", "bucket_ts", "p50", "p95")
    churn = bucket_churn(theta_bucket_sketches(ev, tier="1h")).select(
        "source", "bucket_ts", "est_returning", "est_new"
    )
    # exact companions (countDistinct / exact percentiles / exact churn via
    # the same lag-predecessor semantics as bucket_churn)
    hour = F.date_trunc("hour", "event_ts").alias("bucket_ts")
    # KLL quantile estimates are actual data ITEMS (not interpolations), so
    # the envelope bounds must be items too: rank-window bounds from the
    # sorted per-bucket values with ±1 rank slack (robust at any bucket
    # size; gate buckets are tiny so collect_list is fine here).
    exact = ev.groupBy("source", hour).agg(
        F.countDistinct("doc_id").alias("n_users"),
        F.count("*").alias("cnt"),
        F.round(F.expr("percentile(v, 0.5)"), 6).alias("p50x"),
        F.round(F.expr("percentile(v, 0.95)"), 6).alias("p95x"),
        F.sort_array(F.collect_list("v")).alias("_sv"),
    )
    n = F.col("cnt")
    lo50 = F.element_at("_sv", F.greatest(F.lit(1), F.floor(n * 0.45)).cast("int"))
    hi50 = F.element_at("_sv", F.least(n, F.ceil(n * 0.55) + 1).cast("int"))
    lo95 = F.element_at("_sv", F.greatest(F.lit(1), F.floor(n * 0.90)).cast("int"))
    vmax = F.element_at("_sv", n.cast("int"))
    du = ev.select("source", hour, "doc_id").distinct()
    w = Window.partitionBy("source").orderBy("bucket_ts")
    bp = du.select("source", "bucket_ts").distinct().withColumn(
        "prev_ts", F.lag("bucket_ts").over(w)
    )
    prev_du = du.select("source", F.col("bucket_ts").alias("prev_ts"), "doc_id")
    ret = (
        du.join(bp, ["source", "bucket_ts"])
        .join(prev_du, ["source", "prev_ts", "doc_id"])
        .groupBy("source", "bucket_ts")
        .agg(F.count("*").alias("r"))
    )
    joined = (
        exact.join(bp, ["source", "bucket_ts"])
        .join(ret, ["source", "bucket_ts"], "left")
        .join(hll, ["source", "bucket_ts"])
        .join(kll, ["source", "bucket_ts"])
        .join(churn, ["source", "bucket_ts"], "left")
    )
    has_prev = F.col("prev_ts").isNotNull()
    ret_x = F.when(has_prev, F.coalesce(F.col("r"), F.lit(0)))
    new_x = F.when(has_prev, F.col("n_users") - F.coalesce(F.col("r"), F.lit(0)))
    env = lambda est, exact_c: F.abs(est - exact_c) <= F.greatest(  # noqa: E731
        exact_c * 0.05, F.lit(2.0)
    )
    return joined.select(
        "source",
        "bucket_ts",
        "n_users",
        "cnt",
        "p50x",
        "p95x",
        ret_x.alias("ret_x"),
        new_x.alias("new_x"),
        env(F.col("approx_distinct"), F.col("n_users")).alias("hll_ok"),
        ((F.col("p50") >= lo50) & (F.col("p50") <= hi50)).alias("p50_ok"),
        ((F.col("p95") >= lo95) & (F.col("p95") <= vmax)).alias("p95_ok"),
        F.when(~has_prev, F.lit(True))
        .otherwise(env(F.col("est_returning"), ret_x))
        .alias("ret_ok"),
        F.when(~has_prev, F.lit(True))
        .otherwise(env(F.col("est_new"), new_x))
        .alias("new_ok"),
    )


# Counter-semantics rates (operators/rates.py): reset-adjusted deltas +
# per-sample rate + rolling z-score anomaly flags + trailing-window
# deriv()/predict_linear() (linear_fit scale mode), all per-event grain.
# Cross-engine exactness: deltas/rates are single IEEE ops on identical
# inputs (bit-exact); the rolling anomaly test is DIVISION-FREE integer
# arithmetic on int64-scaled values — |x-mean| > 3·std is evaluated as
# (n·x−S1)²·(n−1) > 9·n·(n·S2−S1²) over exact trailing-frame sums, so no
# float accumulation order can differ between engines. The LSQ fit uses
# the same rule: time floored to whole seconds (centered per source),
# values int64-scaled ×100, all five frame sums + cross products exact
# int64; only the final division/affine chain is float — a fixed IEEE op
# sequence mirrored verbatim in the SQL. Ordering ties are broken by
# event_id on both sides.
@query(
    "q71_counter_rate",
    """
    WITH s AS (
      SELECT event_type AS source, event_id, ts AS event_ts, value AS v,
             CAST(ROUND(value * 100) AS BIGINT) AS x,
             epoch_us(ts) // 1000000 AS tsec
      FROM events
    ), c AS (
      SELECT *, tsec - MIN(tsec) OVER (PARTITION BY source) AS trel FROM s
    ), d AS (
      SELECT source, event_id, v, x, trel,
             lag(v) OVER w AS pv,
             epoch(event_ts) - epoch(lag(event_ts) OVER w) AS dt,
             SUM(x) OVER wf AS s1,
             SUM(x * x) OVER wf AS s2,
             COUNT(x) OVER wf AS rn,
             COUNT(x) OVER wl AS lk,
             CAST(SUM(trel) OVER wl AS BIGINT) AS lst,
             CAST(SUM(x) OVER wl AS BIGINT) AS lsx,
             CAST(SUM(trel * x) OVER wl AS BIGINT) AS lstx,
             CAST(SUM(trel * trel) OVER wl AS BIGINT) AS lstt,
             CAST(SUM(x * x) OVER wl AS BIGINT) AS lsxx,
             CAST(SUM(x) OVER wml AS BIGINT) AS msl,
             COUNT(x) OVER wml AS mnl,
             CAST(SUM(x) OVER wmr AS BIGINT) AS msr,
             COUNT(x) OVER wmr AS mnr
      FROM c
      WINDOW w AS (PARTITION BY source ORDER BY event_ts, event_id),
             wf AS (PARTITION BY source ORDER BY event_ts, event_id
                    ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING),
             wl AS (PARTITION BY source ORDER BY event_ts, event_id
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
             wml AS (PARTITION BY source ORDER BY event_ts, event_id
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING),
             wmr AS (PARTITION BY source ORDER BY event_ts, event_id
                     ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING)
    ), e AS (
      SELECT *,
             CASE WHEN lk >= 2 AND (lk * lstt - lst * lst) > 0
                  THEN CAST(lk * lstx - lst * lsx AS DOUBLE)
                       / CAST(lk * lstt - lst * lst AS DOUBLE) END AS slope_x
      FROM d
    )
    SELECT source, event_id,
           CASE WHEN pv IS NULL THEN NULL
                WHEN v >= pv THEN v - pv ELSE v END AS delta,
           CASE WHEN pv IS NULL OR dt <= 0 THEN NULL
                ELSE (CASE WHEN v >= pv THEN v - pv ELSE v END) / dt END AS rate_ps,
           CAST(rn AS BIGINT) AS roll_n,
           COALESCE(rn >= 5 AND (rn * s2 - s1 * s1) > 0 AND
                    (rn * x - s1) * (rn * x - s1) * (rn - 1)
                      > 9 * rn * (rn * s2 - s1 * s1), FALSE) AS is_anomaly,
           ROUND((slope_x / 100.0) * 3600.0, 6) AS deriv_ph,
           ROUND(((CAST(lsx AS DOUBLE) - slope_x * CAST(lst AS DOUBLE))
                    / CAST(lk AS DOUBLE)
                  + slope_x * CAST(trel AS DOUBLE)) / 100.0
                 + (slope_x / 100.0) * 3600.0, 6) AS pred_1h,
           CASE WHEN mnl = 10 AND mnr = 10
                THEN ROUND((msr - msl) / 1000.0, 6) END AS shift,
           COALESCE(mnl = 10 AND mnr = 10
                    AND abs(msr - msl) > 5000, FALSE) AS is_shift,
           CAST(lk AS BIGINT) AS corr_n,
           CASE WHEN lk >= 2 AND (lk * lstt - lst * lst) > 0
                     AND (lk * lsxx - lsx * lsx) > 0
                THEN ROUND(CAST(lk * lstx - lst * lsx AS DOUBLE)
                           / sqrt(CAST(lk * lstt - lst * lst AS DOUBLE)
                                  * CAST(lk * lsxx - lsx * lsx AS DOUBLE)), 6)
                     + 0.0
           END AS corr_xy
    FROM e
    """,
)
def q71_counter_rate(spark, sf_dir):
    from workbook_exporter_fe_spark.operators.rates import series_analytics

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("source"),
        "event_id",
        F.col("ts").alias("event_ts"),
        F.col("value").alias("v"),
    )
    # fused single-window-pass form of rate → predict_linear → rolling
    # z-score → mean-shift → rolling trend-corr (pinned bit-identical to
    # the composed chain in tests/test_rates.py); 2 Window execs, not ~15
    d = series_analytics(
        ev, value_col="v", key="source", ts_col="event_ts",
        tiebreak=("event_id",), scale=100, anomaly_n=30,
        anomaly_threshold=3.0, anomaly_min_points=5, fit_n=20,
        horizon_seconds=3600.0, shift_n=10, shift_threshold=5.0,
    )
    return d.select(
        "source",
        "event_id",
        "delta",
        "rate_ps",
        "roll_n",
        "is_anomaly",
        F.round(F.col("slope_per_sec") * 3600.0, 6).alias("deriv_ph"),
        F.round(F.col("predicted"), 6).alias("pred_1h"),
        "shift",
        "is_shift",
        "corr_n",
        "corr_xy",
    )


# Segmented gap-fill (the scale path: (source, segment)-parallel windows +
# per-segment carry summaries) checked against the SAME oracle as the
# plain q23 operators — the segmentation must be invisible in the results.
@query("q64_gapfill_segmented", _GAPFILL_SQL)
def q64_gapfill_segmented(spark, sf_dir):
    from workbook_exporter_fe_spark.operators.gapfill import fill_segmented

    t1 = _tier1(spark, sf_dir).select(
        "source", "bucket_ts", F.round(F.col("sum_v") / F.col("cnt"), 6).alias("avg_v")
    )
    dense = densify(t1, "1m", value_cols=["avg_v"])
    # one shared carry pass produces both fills (two independent carry
    # lineages cost 2.4× as much)
    out = fill_segmented(
        dense, {"locf_v": "locf", "interp_v": "interp"}, value_col="avg_v",
        segment="1h",
    )
    return out.select("source", "bucket_ts", "locf_v", "interp_v", "filled")
