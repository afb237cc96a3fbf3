"""Multimodal operators: REAL pure-numpy decodes (PPM / WAV / RVID),
schema, batching, fan-out, checksum parity with the generator formulas."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.multimodal import (
    AUDIO_MOD,
    AUDIO_SR,
    FEATURE_DIM,
    decode_ppm,
    decode_rvid,
    decode_wav,
    extract_features,
    gen_media,
    sample_frames,
)


def _mid_to_id(media_id: str) -> int:
    return int(media_id.split("-")[1])


def test_media_schema_and_determinism(spark):
    m1 = gen_media(spark, 50, seed=1).orderBy("media_id").collect()
    m2 = gen_media(spark, 50, seed=1).orderBy("media_id").collect()
    assert m1 == m2
    r = m1[0]
    assert isinstance(r["payload"], (bytes, bytearray)) and len(r["payload"]) > 0
    assert r["kind"] == "image" and r["meta"]["width"] >= 1


def test_real_decoders_roundtrip_generator(spark):
    """The decoders parse actual format headers and recover the exact
    generated content (not byte-stat fakes)."""
    for r in gen_media(spark, 30, seed=42).collect():
        i = _mid_to_id(r["media_id"])
        raw = bytes(r["payload"])
        if r["kind"] == "image":
            w, h, px = decode_ppm(raw)
            assert (w, h) == (r["meta"]["width"], r["meta"]["height"])
            want = (i + 42 + np.arange(3 * w * h)) % 256
            assert np.array_equal(px, want.astype(np.uint8))
        elif r["kind"] == "audio":
            sr, s = decode_wav(raw)
            assert sr == AUDIO_SR == r["meta"]["sample_rate"]
            want = ((i + 42 + np.arange(len(s))) % AUDIO_MOD) - 1000
            assert np.array_equal(s.astype(np.int64), want)
        else:
            w, h, frames = decode_rvid(raw)
            assert (w, h, frames.shape[0]) == (
                r["meta"]["width"], r["meta"]["height"], r["meta"]["n_frames"]
            )
            f0 = (i + 42 + np.arange(w * h)) % 256
            assert np.array_equal(frames[0], f0.astype(np.uint8))


def test_decoders_reject_malformed_payloads():
    with pytest.raises(ValueError, match="P6"):
        decode_ppm(b"JFIF....")
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS....")
    with pytest.raises(ValueError, match="RVID"):
        decode_rvid(b"\x00\x01\x02\x03zzzz")
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6\n4 4\n255\n\x00\x01")


def test_feature_extraction_shape_and_stats(spark):
    media = gen_media(spark, 90, seed=42)
    feats = extract_features(media, with_stats=True)
    rows = feats.collect()
    # default kinds: video rows (1/3) are plan-side filtered
    assert len(rows) == 60
    assert all(len(r["features"]) == FEATURE_DIM for r in rows)
    assert {r["kind"] for r in rows} == {"image", "audio"}
    # checksums equal the closed-form content the generator wrote
    for r in rows:
        i = _mid_to_id(r["media_id"])
        if r["kind"] == "image":
            w, h = i % 5 + 2, i % 4 + 2
            want = ((i + 42 + np.arange(3 * w * h)) % 256).sum()
            assert (r["n_vals"], r["val_sum"]) == (3 * w * h, int(want))
        else:
            n = i % 50 + 10
            want = (((i + 42 + np.arange(n)) % AUDIO_MOD) - 1000).sum()
            assert (r["n_vals"], r["val_sum"]) == (n, int(want))
    # video decoder is real too when asked for
    vrows = extract_features(media, kinds=("video",), with_stats=True).collect()
    assert len(vrows) == 30
    for r in vrows:
        i = _mid_to_id(r["media_id"])
        w, h, nf = i % 6 + 2, i % 5 + 2, i % 90 + 1
        assert r["n_vals"] == w * h * nf
    # deterministic across partitionings
    again = (
        extract_features(media.repartition(7), with_stats=True)
        .orderBy("media_id")
        .collect()
    )
    assert sorted(rows, key=lambda r: r["media_id"]) == again


def test_frame_sampling_extracts_real_frames(spark):
    media = gen_media(spark, 90, seed=42)
    rows = sample_frames(media, every_n=30).collect()
    vids = {
        r["media_id"]: r
        for r in media.filter(F.col("kind") == "video")
        .select("media_id", "meta.n_frames", "meta.width", "meta.height")
        .collect()
    }
    expected = sum(len(range(0, v["n_frames"], 30)) for v in vids.values())
    assert len(rows) == expected
    for r in rows:
        v = vids[r["media_id"]]
        i = _mid_to_id(r["media_id"])
        assert r["frame_idx"] % 30 == 0
        got = np.frombuffer(bytes(r["frame_payload"]), dtype=np.uint8)
        want = (
            i + 42 + r["frame_idx"] * 13
            + np.arange(v["width"] * v["height"])
        ) % 256
        assert np.array_equal(got, want.astype(np.uint8))


def test_spectrogram_matches_direct_rfft():
    import numpy as np

    from workbook_exporter_fe_spark.operators.multimodal import spectrogram

    rng = np.random.default_rng(3)
    s = rng.integers(-1000, 1000, size=37).astype(np.float64)
    spec = spectrogram(s, n_fft=8)
    assert spec.shape == (4, 5)  # 37 // 8 frames, 8//2+1 bins
    for i in range(4):
        want = np.abs(np.fft.rfft(s[i * 8:(i + 1) * 8])) ** 2
        assert np.allclose(spec[i], want)
    assert spectrogram(s[:5], n_fft=8).shape == (0, 5)


def test_spectral_centroid_tracks_tone():
    import numpy as np

    from workbook_exporter_fe_spark.operators.multimodal import spectrogram

    n_fft = 32
    t = np.arange(n_fft * 8)
    for k in (2, 9):  # pure tones at bin k
        s = np.cos(2 * np.pi * k * t / n_fft) * 1000
        spec = spectrogram(s, n_fft)
        tot = spec.sum(axis=1)
        cents = (spec * np.arange(spec.shape[1])).sum(axis=1) / tot
        assert np.allclose(cents, k, atol=1e-6)


def test_audio_spectral_parseval_and_framecount(spark):
    from workbook_exporter_fe_spark.operators.multimodal import (
        audio_spectral,
        gen_media,
    )

    media = gen_media(spark, 120, seed=7)
    got = audio_spectral(media, n_fft=8)
    rows = got.collect()
    assert len(rows) > 0
    assert all(r.spec_ok for r in rows)
    # frame count is the closed form the q52 oracle replays
    n = {
        r.media_id: r.n_vals
        for r in media.filter(F.col("kind") == "audio")
        .selectExpr("media_id", "CAST(n_samples AS INT) AS n_vals")
        .collect()
    } if "n_samples" in media.columns else None
    for r in rows:
        if n is not None:
            assert r.spec_frames == n[r.media_id] // 8
        assert r.spec_centroid is None or 0 <= r.spec_centroid <= 4
        assert r.spec_flatness is None or 0 < r.spec_flatness <= 1 + 1e-9


def test_audio_spectral_parseval_odd_nfft(spark):
    """r5 ADVICE fix: for odd n_fft the last rfft bin is NOT Nyquist and
    must be doubled — spec_ok must hold on non-silent signals."""
    from workbook_exporter_fe_spark.operators.multimodal import (
        audio_spectral,
        gen_media,
    )

    media = gen_media(spark, 120, seed=7)
    rows = audio_spectral(media, n_fft=7).collect()
    assert len(rows) > 0
    assert all(r.spec_ok for r in rows)


def _ppm(w, h, arr):
    import numpy as np

    return b"P6 %d %d 255\n" % (w, h) + np.asarray(
        arr, dtype=np.uint8
    ).tobytes()


def test_phash_bits_vs_direct_dct():
    """The matmul DCT inside _phash_bits equals an independently coded
    O(n²) DCT-II on the resized grayscale grid."""
    import numpy as np

    from workbook_exporter_fe_spark.operators.multimodal import _phash_bits

    rng = np.random.default_rng(11)
    w = h = 48
    px = rng.integers(0, 256, size=w * h * 3).astype(np.uint8)
    bits = _phash_bits(px, w, h)
    img = px.reshape(h, w, 3).astype(np.float64)
    gray = img @ np.array([299.0, 587.0, 114.0])
    yi = (np.arange(32) * h) // 32
    xi = (np.arange(32) * w) // 32
    g = gray[yi][:, xi]
    n = 32
    dct = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = np.sqrt(1.0 / n) if u == 0 else np.sqrt(2.0 / n)
            cv = np.sqrt(1.0 / n) if v == 0 else np.sqrt(2.0 / n)
            acc = 0.0
            for x in range(n):
                for y in range(n):
                    acc += (
                        g[x, y]
                        * np.cos(np.pi * (2 * x + 1) * u / (2 * n))
                        * np.cos(np.pi * (2 * y + 1) * v / (2 * n))
                    )
            dct[u, v] = cu * cv * acc
    low = dct.ravel()
    want = (low > np.median(low[1:])).astype(np.uint8)
    assert np.array_equal(bits, want)


def test_phash_upscale_invariant_and_perturbation_near():
    import numpy as np

    from workbook_exporter_fe_spark.operators.multimodal import _phash_bits

    rng = np.random.default_rng(5)
    w = h = 32
    base = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    # smooth it so structure survives resize (pHash targets structure)
    sm = base.astype(np.float64)
    for _ in range(3):
        sm = (np.roll(sm, 1, 0) + np.roll(sm, -1, 0)
              + np.roll(sm, 1, 1) + np.roll(sm, -1, 1) + sm) / 5.0
    img = sm.astype(np.uint8)
    bits = _phash_bits(img.ravel(), w, h)
    up = img.repeat(2, axis=0).repeat(2, axis=1)  # exact 2x upscale
    bits_up = _phash_bits(up.ravel(), 2 * w, 2 * h)
    assert np.array_equal(bits, bits_up)
    # a few perturbed pixels: small hamming; unrelated image: large
    pert = img.copy()
    pert[0:2, 0:2] = 255 - pert[0:2, 0:2]
    bits_p = _phash_bits(pert.ravel(), w, h)
    assert (bits != bits_p).sum() <= 6
    other = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    bits_o = _phash_bits(other.ravel(), w, h)
    assert (bits != bits_o).sum() > 10


def test_phash_candidate_pairs_finds_planted_neardups(spark):
    import numpy as np

    from workbook_exporter_fe_spark.operators.multimodal import (
        phash_candidate_pairs,
        phash_images,
    )

    rng = np.random.default_rng(9)
    rows = []
    for i in range(12):
        img = rng.integers(0, 256, size=(32, 32, 3)).astype(np.float64)
        for _ in range(3):
            img = (np.roll(img, 1, 0) + np.roll(img, -1, 0)
                   + np.roll(img, 1, 1) + np.roll(img, -1, 1) + img) / 5.0
        img = img.astype(np.uint8)
        rows.append((f"img-{i:03d}", "image", _ppm(32, 32, img)))
        if i < 3:  # plant a near-dup twin with a tiny perturbation
            twin = img.copy()
            twin[0, 0] = 255 - twin[0, 0]
            rows.append((f"img-{i:03d}-twin", "image", _ppm(32, 32, twin)))
    media = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary"
    )
    pairs = phash_candidate_pairs(phash_images(media), max_hamming=6)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    for i in range(3):
        assert (f"img-{i:03d}", f"img-{i:03d}-twin") in got
    # no unrelated images pair up at this threshold
    assert all(a.split("-")[1][:3] == b.split("-")[1][:3] for a, b in got)


def test_video_motion_exact(spark):
    import numpy as np

    from workbook_exporter_fe_spark.operators.multimodal import (
        decode_rvid,
        gen_media,
        video_motion,
    )

    media = gen_media(spark, 60, seed=7)
    got = {r.media_id: (r.n_frame_pairs, r.motion_sum)
           for r in video_motion(media).collect()}
    vids = media.filter(F.col("kind") == "video").collect()
    assert len(got) == len(vids) > 0
    for r in vids:
        _, _, frames = decode_rvid(bytes(r.payload))
        want = int(np.abs(np.diff(frames.astype(np.int64), axis=0)).sum())
        assert got[r.media_id] == (max(frames.shape[0] - 1, 0), want)
