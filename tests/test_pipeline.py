"""Pipeline tests: resumability, idempotency, manifest lineage."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.plans import pipeline as pl
from workbook_exporter_fe_spark.plans.pipeline import TierPipeline
from workbook_exporter_fe_spark.sources.datagen import gen_sequences


def _tiers_sorted(df):
    return [r.asDict() for r in df.orderBy("source", "bucket_ts").collect()]


def test_full_run_and_reresume_noop(spark, tmp_path):
    seq = gen_sequences(spark, 2000, seed=42)
    pipe = TierPipeline(spark, str(tmp_path / "out"))
    t = pipe.run(seq, run_fp="r1")
    t1_first = _tiers_sorted(t["tier1"])
    # second run with same fingerprint: all stages skipped, tables unchanged
    pipe2 = TierPipeline(spark, str(tmp_path / "out"))
    t2 = pipe2.run(seq, run_fp="r1")
    assert _tiers_sorted(t2["tier1"]) == t1_first
    stages = [e["stage"] for e in pipe2.manifest.entries if e["status"] == "done"]
    assert len(stages) == len(set(stages))  # no duplicate stage entries


def test_crash_after_tier1_resume_converges(spark, tmp_path, monkeypatch):
    seq = gen_sequences(spark, 2000, seed=42)

    # reference result: uninterrupted run
    ref = TierPipeline(spark, str(tmp_path / "ref")).run(seq, run_fp="r1")
    ref_t3 = _tiers_sorted(ref["tier3"])

    # crash the first reaggregate call (tier2 stage)
    calls = {"n": 0}
    real = pl.reaggregate

    def flaky(df, to):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash after tier1")
        return real(df, to)

    monkeypatch.setattr(pl, "reaggregate", flaky)
    crashed = TierPipeline(spark, str(tmp_path / "out"))
    with pytest.raises(RuntimeError):
        crashed.run(seq, run_fp="r1")
    done = [e["stage"] for e in crashed.manifest.entries if e["status"] == "done"]
    assert "tier1_1m" in done and "tier2_1h" not in done

    # resume: completed stages skipped, rest re-run; final tables identical
    resumed = TierPipeline(spark, str(tmp_path / "out")).run(seq, run_fp="r1")
    assert _tiers_sorted(resumed["tier3"]) == ref_t3
    # no double-counted buckets: total cnt equals event count
    assert (
        resumed["tier3"].agg(F.sum("cnt")).collect()[0][0]
        == ref["events"].count()
    )


def test_manifest_lineage_metrics(spark, tmp_path):
    seq = gen_sequences(spark, 1000, seed=42)
    pipe = TierPipeline(spark, str(tmp_path / "out"))
    pipe.run(seq, run_fp="r1")
    mpath = str(tmp_path / "out" / "_manifest" / "manifest.jsonl")
    assert os.path.exists(mpath)
    entries = [json.loads(line) for line in open(mpath)]
    by_stage = {e["stage"]: e for e in entries}
    assert set(by_stage) == {"t0_eventize", "tier1_1m", "tier2_1h", "tier3_1d", "compress"}
    t1 = by_stage["tier1_1m"]
    assert t1["rows_out"] > 0 and t1["watermark"] and t1["wall_sec"] > 0
    # per-partition lineage: per-source row counts recorded
    assert sum(t1["partitions"].values()) == t1["rows_out"]
    comp = by_stage["compress"]
    assert 0 < comp["encode_ratio"] < 1.5 and comp["points"] == t1["rows_out"]


def test_new_data_merges_incrementally(spark, tmp_path):
    """Second batch with a new fingerprint upserts; buckets never double."""
    seq_a = gen_sequences(spark, 1500, seed=42)
    out = str(tmp_path / "out")
    TierPipeline(spark, out).run(seq_a, run_fp="batch_a")
    # superset batch (same 1500 + 500 more): rerun as batch_b
    seq_b = gen_sequences(spark, 2000, seed=42)
    t = TierPipeline(spark, out).run(seq_b, run_fp="batch_b")
    # final tier1 == tier1 of a clean 2000-row run
    clean = TierPipeline(spark, str(tmp_path / "clean")).run(seq_b, run_fp="x")
    assert _tiers_sorted(t["tier1"]) == _tiers_sorted(clean["tier1"])


def test_sketch_tiers_in_pipeline(spark, tmp_path):
    """--sketches adds mergeable HLL/KLL tiers that resume like the rest
    and whose finalized estimates track the exact tier counts."""
    from pyspark.sql import functions as F

    from workbook_exporter_fe_spark.operators.tiers import (
        distinct_sketch_finalize,
        quantile_sketch_finalize,
    )

    seq = gen_sequences(spark, 3000, seed=42)
    out = str(tmp_path / "out")
    t = TierPipeline(spark, out, with_sketches=True).run(seq, run_fp="r1")
    assert {"sketch1", "sketch2", "sketch3"} <= set(t)
    # one sketch row per (source, bucket): aligned with the sum/max tier
    assert t["sketch1"].count() == t["tier1"].count()
    fin = distinct_sketch_finalize(t["sketch2"]).join(
        quantile_sketch_finalize(t["sketch2"]).drop("cnt"),
        ["source", "bucket_ts"],
    )
    joined = fin.join(
        t["tier2"].select("source", "bucket_ts", F.col("cnt").alias("cnt_t")),
        ["source", "bucket_ts"],
    ).collect()
    assert joined
    for r in joined:
        assert r.cnt == r.cnt_t  # exact count decomposes identically
        # every doc is one event, so distinct ≈ cnt within HLL error
        assert abs(r.approx_distinct - r.cnt) <= max(0.02 * r.cnt, 2)
        assert r.p50 is not None and r.p95 is not None
    # resume: rerun is a no-op with identical tables
    t2 = TierPipeline(spark, out, with_sketches=True).run(seq, run_fp="r1")
    assert t2["sketch2"].count() == t["sketch2"].count()


def test_manifest_stage_metrics(spark, tmp_path):
    """The JSONL manifest records every stage with its metrics."""
    seq = gen_sequences(spark, 1000, seed=42)
    out = str(tmp_path / "out")
    pipe = TierPipeline(spark, out)
    pipe.run(seq, run_fp="r1")
    m = pipe.manifest.entries
    stages = {e["stage"] for e in m}
    assert {"t0_eventize", "tier1_1m", "tier2_1h", "tier3_1d", "compress"} <= stages
    comp = next(e for e in m if e["stage"] == "compress")
    assert comp["encode_ratio"] is not None and comp["rows_out"] > 0


def test_pipeline_late_delay_bounds_tier1(spark, tmp_path):
    """With late_delay set, buckets behind (watermark - delay) never enter
    tier-1; the manifest records the watermark position."""
    import datetime

    from pyspark.sql import functions as F

    seq = gen_sequences(spark, 3000, seed=42)
    full = TierPipeline(spark, str(tmp_path / "full")).run(seq, run_fp="r1")
    bounded_pipe = TierPipeline(
        spark, str(tmp_path / "bounded"), late_delay="interval 10 minutes"
    )
    bounded = bounded_pipe.run(seq, run_fp="r1")
    n_full, n_bounded = full["tier1"].count(), bounded["tier1"].count()
    assert 0 < n_bounded < n_full
    wm = full["events"].agg(F.max("event_ts")).first()[0]
    lo = wm - datetime.timedelta(minutes=10)
    assert bounded["tier1"].filter(F.col("bucket_ts") < F.lit(lo) - F.expr("interval 1 minute")).count() == 0
    m = bounded_pipe.manifest.entries
    assert sum(1 for e in m if e["stage"] == "late_bound") == 1


def test_partition_scoped_merge_preserves_untouched_partitions(spark, tmp_path):
    """merge_upsert_path(partition_col=...) must rewrite ONLY the partitions
    present in the new batch — untouched partition dirs keep their files'
    mtimes (the replaceWhere shape a 100 TB merge needs)."""
    from workbook_exporter_fe_spark.operators.merge import merge_upsert_path

    path = str(tmp_path / "tier")
    base = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 11.0), ("b", 1, 20.0)],
        "source string, bucket long, v double",
    )
    merge_upsert_path(spark, path, base, ["source", "bucket"], partition_col="source")
    b_dir = os.path.join(path, "source=b")
    before = {
        f: os.path.getmtime(os.path.join(b_dir, f)) for f in os.listdir(b_dir)
    }

    new = spark.createDataFrame(
        [("a", 2, 99.0), ("a", 3, 12.0)], "source string, bucket long, v double"
    )
    merge_upsert_path(spark, path, new, ["source", "bucket"], partition_col="source")

    after = {f: os.path.getmtime(os.path.join(b_dir, f)) for f in os.listdir(b_dir)}
    assert after == before  # partition b untouched, byte-for-byte same files

    got = {
        (r["source"], r["bucket"]): r["v"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {("a", 1): 10.0, ("a", 2): 99.0, ("a", 3): 12.0, ("b", 1): 20.0}


def test_late_bound_watermark_monotone_across_runs(spark, tmp_path):
    """Replaying old data must NOT lower the watermark and reopen buckets:
    the pipeline feeds the manifest's recorded frontier back into
    bound_late_events (max(prior_wm, batch_max))."""
    import datetime

    seq = gen_sequences(spark, 2000, seed=42)
    out = str(tmp_path / "out")
    pipe = TierPipeline(spark, out, late_delay="interval 30 seconds")
    pipe.run(seq, run_fp="r1")
    wm1 = pipe.manifest.last_watermark("late_bound")
    assert wm1 is not None

    # replay documents whose events ALL predate (wm1 - 2*delay) under a new
    # run fingerprint — strictly late data
    ev_all = pl.eventize(seq)
    old_cut = wm1 - datetime.timedelta(seconds=60)
    old_docs = (
        ev_all.groupBy("doc_id")
        .agg(F.max("event_ts").alias("m"))
        .filter(F.col("m") <= F.lit(old_cut))
        .select("doc_id")
    )
    old_seq = seq.join(old_docs, "doc_id", "left_semi")
    assert 0 < old_seq.count() < seq.count()
    pipe2 = TierPipeline(spark, out, late_delay="interval 30 seconds")
    pipe2.run(old_seq, run_fp="r2_replay")
    wm2 = pipe2.manifest.last_watermark("late_bound")
    # the frontier never moves backward, even though this batch's own max
    # is strictly older than wm1 (without prior_wm feedback, wm2 would be
    # the replay's max and finalized buckets would reopen)
    assert wm2 >= wm1
    # every replayed event was behind (frontier - delay): the merged events
    # table survives the bound with EXACTLY the same rows as run 1 — the
    # replay contributed nothing inside the finalized window
    def _rows_out(fp):
        es = [
            e for e in pipe2.manifest.entries
            if e["stage"] == "late_bound" and e["run_fp"] == fp
        ]
        return es[-1]["rows_out"] if es else None

    assert _rows_out("r2_replay") == _rows_out("r1")


def test_incremental_refresh_equals_full_cascade(spark, tmp_path):
    """Two incremental event batches (splitting buckets' data in half) must
    produce tiers AND re-encoded chunks bit-identical to one full run —
    the continuous-aggregate refresh contract across the whole cascade."""
    from workbook_exporter_fe_spark.functions.spark_codecs import decompress_chunks

    seq = gen_sequences(spark, 3000, seed=42)
    full = TierPipeline(spark, str(tmp_path / "full")).run(seq, run_fp="rf")

    ev = pl.eventize(seq).select("source", "event_ts", "v", "doc_id")
    gate = F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0
    out_dir = str(tmp_path / "inc")
    TierPipeline(spark, out_dir).run_incremental(ev.filter(gate), run_fp="b1")
    # second batch through a FRESH pipeline instance (manifest reload path)
    inc = TierPipeline(spark, out_dir).run_incremental(ev.filter(~gate), run_fp="b2")

    # both batches genuinely contributed partials to shared buckets
    from workbook_exporter_fe_spark.operators.tiers import rollup_tier1 as _r1

    shared = (
        _r1(ev.filter(gate)).select("source", "bucket_ts")
        .intersect(_r1(ev.filter(~gate)).select("source", "bucket_ts"))
        .count()
    )
    assert shared > 0

    for tier in ("tier1", "tier2", "tier3"):
        a = _tiers_sorted(full[tier].select("source", "bucket_ts", "sum_v", "min_v", "max_v", "cnt"))
        b = _tiers_sorted(inc[tier].select("source", "bucket_ts", "sum_v", "min_v", "max_v", "cnt"))
        assert a == b, f"{tier} diverged"

    # chunks: decoded points identical (only affected segments re-encoded)
    pf = decompress_chunks(full["chunks"]).orderBy("source", "bucket_ts").collect()
    pi = decompress_chunks(inc["chunks"]).orderBy("source", "bucket_ts").collect()
    assert pf == pi

    # idempotent resume: same fingerprints are no-ops
    again = TierPipeline(spark, out_dir).run_incremental(ev.filter(~gate), run_fp="b2")
    assert _tiers_sorted(again["tier1"]) == _tiers_sorted(inc["tier1"])


def test_anomaly_tier_in_pipeline(spark, tmp_path):
    from workbook_exporter_fe_spark.operators.rates import anomaly_zscore

    seq = gen_sequences(spark, 2000, seed=42)
    pipe = TierPipeline(spark, str(tmp_path / "out"), with_anomaly=True)
    t = pipe.run(seq, run_fp="r1")
    assert "anomaly1" in t
    got = t["anomaly1"]
    assert {"zscore", "is_anomaly", "roll_mean", "roll_std"} <= set(got.columns)
    # table equals the operator applied to the stored tier-1
    want = anomaly_zscore(
        t["tier1"].select("source", "bucket_ts", "avg_v"), n=30, threshold=3.0
    )
    assert got.count() == want.count()
    cols = ["source", "bucket_ts", "is_anomaly", "roll_n"]
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    # manifest recorded the stage; resume skips it
    assert any(e["stage"] == "anomaly_1m" for e in pipe.manifest.entries)
    pipe2 = TierPipeline(spark, str(tmp_path / "out"), with_anomaly=True)
    t2 = pipe2.run(seq, run_fp="r1")
    assert t2["anomaly1"].count() == got.count()


def test_pipeline_verify_invariants(spark, tmp_path):
    seq = gen_sequences(spark, 2000, seed=42)
    pipe = TierPipeline(spark, str(tmp_path / "out"))
    pipe.run(seq, run_fp="r1")
    checks = pipe.verify()
    assert checks["ok"], checks
    assert checks["tier2_equals_reagg_tier1"]
    assert checks["chunks_roundtrip_tier1"]
    assert any(e["stage"] == "verify" for e in pipe.manifest.entries)

    # corrupt tier2 (drop a row) -> verify must fail the reagg check
    t2p = str(tmp_path / "out" / "tier2")
    t2 = spark.read.parquet(t2p).cache()
    t2.count()
    t2.limit(max(t2.count() - 1, 0)).write.mode("overwrite").parquet(t2p)
    bad = pipe.verify()
    assert not bad["ok"]
    assert not bad["tier2_equals_reagg_tier1"]


def test_incremental_anomaly_recomputes_touched_sources(spark, tmp_path):
    from workbook_exporter_fe_spark.operators.eventize import eventize
    from workbook_exporter_fe_spark.operators.rates import anomaly_zscore

    out = str(tmp_path / "out")
    seq = gen_sequences(spark, 3000, seed=42)
    ev = eventize(seq).select("source", "event_ts", "v", "doc_id").cache()
    sources = sorted(r["source"] for r in ev.select("source").distinct().collect())
    half = set(sources[: len(sources) // 2])
    b1 = ev.filter(F.col("source").isin(list(half)))
    b2 = ev.filter(~F.col("source").isin(list(half)))

    pipe = TierPipeline(spark, out, with_anomaly=True)
    pipe.run_incremental(b1, run_fp="b1")
    pipe2 = TierPipeline(spark, out, with_anomaly=True)
    t = pipe2.run_incremental(b2, run_fp="b2")

    # after both batches: anomaly table equals the operator over full tier-1
    want = anomaly_zscore(
        spark.read.parquet(f"{out}/tier1").select("source", "bucket_ts", "avg_v"),
        n=30, threshold=3.0,
    )
    got = t["anomaly1"]
    assert got.count() == want.count()
    cols = ["source", "bucket_ts", "is_anomaly", "roll_n"]
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
