"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing — schemas, Arrow batch shapes, batched
`mapInPandas` UDFs, plan-side kind pruning — carries REAL decoders for the
three uncompressed formats a no-media-libs container can still parse in
pure numpy:

- image: binary PPM (P6) — ASCII header + raw RGB bytes;
- audio: WAV (RIFF, PCM16 mono) — 44-byte canonical header + LE samples;
- video: a raw-frames container (``RVID`` + u16le w/h/n_frames + grayscale
  frame planes) standing in for an uncompressed y4m-style stream.

Compressed formats (JPEG/MP3/H.264) still need external libraries; the
seam is one ``DECODERS`` dict entry per kind — swapping `PIL.Image.open`
in changes nothing in the plan.

``gen_media`` emits payloads whose decoded content is a closed-form
function of the media id ((id + j) mod 256 pixel ramps, (id + k) mod 2001
− 1000 samples), which is what lets the q52 gate query hash-check decoded
dimensions and content checksums against a DuckDB oracle that never
decodes a byte — the oracle derives the same numbers arithmetically.

Schema convention:
    media(media_id string, kind string, payload binary,
          meta struct<width:int, height:int, sample_rate:int, n_frames:int>)

Scale design: payloads are the wide column — every operator here projects
(media_id, kind, payload[, meta]) only and processes Arrow batches, so
executor memory is bounded by (#rows/batch × payload size); tune
``spark.sql.execution.arrow.maxRecordsPerBatch`` for large media. Feature
vectors come back as fixed-width arrays (columnar, splittable); frame
sampling fans out via explode-style multi-row yield inside the same batch.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)

FEATURE_DIM = 16

AUDIO_SR = 8000
AUDIO_MOD = 2001  # samples are ((id + k) % 2001) - 1000


# --------------------------------------------------------------------------
# Real pure-numpy decoders
# --------------------------------------------------------------------------


def decode_ppm(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a binary PPM (P6): returns (width, height, flat RGB uint8)."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header: magic, width, height, maxval as whitespace-separated ASCII
    parts: list[bytes] = []
    i = 2
    while len(parts) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        parts.append(payload[i:j])
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = (int(p) for p in parts)
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    if len(payload) - i < 3 * w * h:
        raise ValueError("truncated PPM pixel data")
    px = np.frombuffer(payload, dtype=np.uint8, count=3 * w * h, offset=i)
    return w, h, px


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Parse a PCM16-mono RIFF/WAVE: returns (sample_rate, int16 samples)."""
    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    # walk chunks: fmt_ then data (canonical 44-byte layout, but parse
    # properly so any well-formed PCM16 mono file decodes)
    pos, sr, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt_tag, n_ch, sr = struct.unpack("<HHI", body[0:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if fmt_tag != 1 or n_ch != 1 or bits != 16:
                raise ValueError("only PCM16 mono supported")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + clen + (clen & 1)
    if sr is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return sr, samples


def decode_rvid(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse the RVID raw-frame container: (width, height, frames[nf, h*w])."""
    if payload[0:4] != b"RVID":
        raise ValueError("not an RVID payload")
    w, h, nf = struct.unpack("<HHH", payload[4:10])
    if len(payload) - 10 < nf * w * h:
        raise ValueError("truncated RVID frame data")
    body = np.frombuffer(payload, dtype=np.uint8, count=nf * w * h, offset=10)
    return w, h, body.reshape(nf, h * w)


def _features_image(payload: bytes, meta) -> np.ndarray:
    _, _, px = decode_ppm(payload)
    chunks = np.array_split(px.astype(np.float64), FEATURE_DIM)
    return np.array([c.mean() if len(c) else 0.0 for c in chunks])


def _features_audio(payload: bytes, meta) -> np.ndarray:
    _, s = decode_wav(payload)
    bands = np.array_split(s.astype(np.float64), FEATURE_DIM)
    return np.array(
        [float(np.sqrt((b**2).mean())) if len(b) else 0.0 for b in bands]
    )


def _features_video(payload: bytes, meta) -> np.ndarray:
    _, _, frames = decode_rvid(payload)
    means = frames.astype(np.float64).mean(axis=1)[:FEATURE_DIM]
    out = np.zeros(FEATURE_DIM)
    out[: len(means)] = means
    return out


DECODERS: dict[str, Callable[[bytes, object], np.ndarray]] = {
    "image": _features_image,
    "audio": _features_audio,
    "video": _features_video,
}

# decoded content checksum per kind: (n_values, int sum of decoded values)
_STATS: dict[str, Callable[[bytes], tuple[int, int]]] = {
    "image": lambda p: (lambda w, h, px: (len(px), int(px.sum())))(*decode_ppm(p)),
    "audio": lambda p: (lambda sr, s: (len(s), int(s.astype(np.int64).sum())))(
        *decode_wav(p)
    ),
    "video": lambda p: (
        lambda w, h, fr: (fr.size, int(fr.astype(np.int64).sum()))
    )(*decode_rvid(p)),
}


# --------------------------------------------------------------------------
# Deterministic generator (real formats, closed-form content)
# --------------------------------------------------------------------------


def _img_dims(i: int) -> tuple[int, int]:
    return i % 5 + 2, i % 4 + 2


def _vid_dims(i: int) -> tuple[int, int, int]:
    return i % 6 + 2, i % 5 + 2, i % 90 + 1


def _audio_n(i: int) -> int:
    return i % 50 + 10


def _make_payload(
    i: int, seed: int
) -> tuple[str, bytes, tuple[int, int, int, int]]:
    kind = ("image", "audio", "video")[i % 3]
    base = i + seed
    if kind == "image":
        w, h = _img_dims(i)
        px = ((base + np.arange(3 * w * h)) % 256).astype(np.uint8)
        payload = f"P6\n{w} {h}\n255\n".encode() + px.tobytes()
        meta = (w, h, 0, 0)
    elif kind == "audio":
        n = _audio_n(i)
        s = (((base + np.arange(n)) % AUDIO_MOD) - 1000).astype("<i2")
        data = s.tobytes()
        payload = (
            b"RIFF"
            + struct.pack("<I", 36 + len(data))
            + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, AUDIO_SR, AUDIO_SR * 2, 2, 16)
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )
        meta = (0, 0, AUDIO_SR, 0)
    else:
        w, h, nf = _vid_dims(i)
        frames = np.concatenate(
            [((base + f * 13 + np.arange(w * h)) % 256) for f in range(nf)]
        ).astype(np.uint8)
        payload = b"RVID" + struct.pack("<HHH", w, h, nf) + frames.tobytes()
        meta = (w, h, 0, nf)
    return kind, payload, meta


def gen_media(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table in REAL formats (PPM / WAV /
    RVID). Dimensions derive from the id alone; ``seed`` shifts every
    content ramp (pixel/sample/frame values start at id + seed) so
    distinct corpora differ while staying closed-form — the q52 oracle
    pins seed=7 and reproduces every checksum arithmetically."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_make_payload(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "media_id": [f"media-{int(i):09d}" for i in pdf["id"]],
                    "kind": [r[0] for r in rows],
                    "payload": [r[1] for r in rows],
                    "meta": [
                        {
                            "width": r[2][0],
                            "height": r[2][1],
                            "sample_rate": r[2][2],
                            "n_frames": r[2][3],
                        }
                        for r in rows
                    ],
                }
            )

    return spark.range(0, n).mapInPandas(build, schema=MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# Operators
# --------------------------------------------------------------------------


def extract_features(
    media: DataFrame,
    kinds: tuple[str, ...] = ("image", "audio"),
    with_stats: bool = False,
) -> DataFrame:
    """(media_id, kind, features array<double>[, n_vals, val_sum]) via
    batched mapInPandas over REAL decodes.

    Rows whose kind has no decoder are filtered out plan-side (predicate
    pushdown) rather than raising inside the UDF. ``with_stats`` adds the
    decode-verification columns: number of decoded values and their exact
    int64 sum — the checksum pair the q52 gate hash-checks."""
    out_schema = "media_id string, kind string, features array<double>"
    if with_stats:
        out_schema += ", n_vals int, val_sum bigint"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, stats = [], []
            for k, p in zip(pdf["kind"], pdf["payload"]):
                raw = bytes(p)
                feats.append(DECODERS[k](raw, None))
                if with_stats:
                    stats.append(_STATS[k](raw))
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "features": [f.tolist() for f in feats],
            }
            if with_stats:
                out["n_vals"] = [s[0] for s in stats]
                out["val_sum"] = [s[1] for s in stats]
            yield pd.DataFrame(out)

    pruned = media.filter(F.col("kind").isin(list(kinds))).select(
        "media_id", "kind", "payload"
    )
    return pruned.mapInPandas(run, schema=out_schema)


def sample_frames(
    media: DataFrame, every_n: int = 30, with_stats: bool = False
) -> DataFrame:
    """One output row per sampled frame: REAL frame extraction from the
    RVID container (frame_payload = that frame's decoded plane bytes).
    ``with_stats`` adds (n_vals, val_sum) decode checksums per frame."""
    out_schema = "media_id string, frame_idx int, frame_payload binary"
    if with_stats:
        out_schema += ", n_vals int, val_sum bigint"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "media_id": [], "frame_idx": [], "frame_payload": [],
            }
            if with_stats:
                rows["n_vals"], rows["val_sum"] = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                _, _, frames = decode_rvid(bytes(p))
                for fi in range(0, frames.shape[0], every_n):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(fi)
                    rows["frame_payload"].append(frames[fi].tobytes())
                    if with_stats:
                        rows["n_vals"].append(frames.shape[1])
                        rows["val_sum"].append(
                            int(frames[fi].astype(np.int64).sum())
                        )
            yield pd.DataFrame(rows)

    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "payload")
        .mapInPandas(run, schema=out_schema)
    )


def spectrogram(samples: np.ndarray, n_fft: int = 8) -> np.ndarray:
    """Power spectrogram (|rfft|²) over non-overlapping boxcar frames;
    the trailing partial frame is dropped. Pure numpy — the container
    has no audio libraries, and none are needed for an STFT."""
    n = len(samples) // n_fft
    if n == 0:
        return np.zeros((0, n_fft // 2 + 1))
    frames = np.asarray(samples, dtype=np.float64)[: n * n_fft].reshape(
        n, n_fft
    )
    return np.abs(np.fft.rfft(frames, axis=1)) ** 2


def audio_spectral(media: DataFrame, n_fft: int = 8) -> DataFrame:
    """(media_id, spec_frames, spec_centroid, spec_flatness, spec_ok):
    STFT analysis of decoded WAV audio via one mapInPandas pass.

    - ``spec_centroid``: power-weighted mean rfft bin index, averaged
      over frames (the brightness feature); null when no frame or all
      frames silent.
    - ``spec_flatness``: geometric/arithmetic power-spectrum mean in
      (0, 1] (tonality vs noise), averaged over non-silent frames.
    - ``spec_ok``: Parseval check — per frame, the time-domain energy
      Σx² must equal the spectrum energy to 1e-6 relative; ties the FFT
      output back to the decoded samples, the same self-verifying-envelope
      role as the decode checksums. For even n_fft the last rfft bin is
      the (undoubled) Nyquist bin, (|X₀|² + 2·Σ|Xₖ|² + |X_{N/2}|²)/N; for
      odd n_fft there is no Nyquist bin and every non-DC bin is doubled.

    Scale: plan-side kind pruning + one Arrow batch kernel per
    partition, no shuffle — the extract_features contract."""
    out_schema = (
        "media_id string, spec_frames int, spec_centroid double, "
        "spec_flatness double, spec_ok boolean"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames_n, cents, flats, oks = [], [], [], []
            for p in pdf["payload"]:
                _, s = decode_wav(bytes(p))
                spec = spectrogram(s, n_fft)
                frames_n.append(spec.shape[0])
                x = np.asarray(s, dtype=np.float64)[
                    : spec.shape[0] * n_fft
                ].reshape(spec.shape[0], n_fft)
                te = (x**2).sum(axis=1)
                if n_fft % 2 == 0:
                    # last rfft bin IS Nyquist — counted once
                    fe = (
                        spec[:, 0]
                        + spec[:, -1]
                        + 2 * spec[:, 1:-1].sum(axis=1)
                    ) / n_fft
                else:
                    # odd n_fft: no Nyquist bin; every non-DC bin doubles
                    fe = (
                        spec[:, 0] + 2 * spec[:, 1:].sum(axis=1)
                    ) / n_fft
                oks.append(
                    bool(
                        np.all(
                            np.abs(te - fe) <= 1e-6 * np.maximum(te, 1.0)
                        )
                    )
                )
                tot = spec.sum(axis=1)
                live = tot > 0
                if live.any():
                    k = np.arange(spec.shape[1], dtype=np.float64)
                    cents.append(
                        float(((spec[live] * k).sum(axis=1) / tot[live]).mean())
                    )
                    flats.append(
                        float(
                            (
                                np.exp(
                                    np.log(
                                        np.maximum(spec[live], 1e-300)
                                    ).mean(axis=1)
                                )
                                / spec[live].mean(axis=1)
                            ).mean()
                        )
                    )
                else:
                    cents.append(None)
                    flats.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "spec_frames": frames_n,
                    "spec_centroid": cents,
                    "spec_flatness": flats,
                    "spec_ok": oks,
                }
            )

    return (
        media.filter(F.col("kind") == "audio")
        .select("media_id", "payload")
        .mapInPandas(run, schema=out_schema)
    )


def _phash_bits(px: np.ndarray, w: int, h: int, grid: int = 32,
                keep: int = 8) -> np.ndarray:
    """64-bit perceptual hash of one decoded RGB image (classic pHash):
    grayscale → nearest-resize to grid×grid → 2-D DCT-II (numpy matmul
    against the orthonormal DCT basis) → keep×keep low-frequency block →
    median threshold (DC excluded from the median, as usual). Returns the
    keep² bit array.

    Luminance uses INTEGER weights (299, 587, 114 — BT.601 ×1000): every
    product/sum is an exact float64 integer, so the grayscale is
    bit-identical no matter how BLAS orders the reduction — fractional
    weights measurably flip threshold-adjacent bits between differently
    SHAPED inputs (the 2× upscale check caught exactly that), and the
    ×1000 scale cancels in the scale-invariant median threshold."""
    img = px.reshape(h, w, 3).astype(np.float64)
    gray = img @ np.array([299.0, 587.0, 114.0])
    yi = (np.arange(grid) * h) // grid
    xi = (np.arange(grid) * w) // grid
    g = gray[yi][:, xi]
    n = grid
    k = np.arange(n)
    basis = np.sqrt(2.0 / n) * np.cos(
        np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n)
    )
    basis[0] *= np.sqrt(0.5)
    dct = basis @ g @ basis.T
    low = dct[:keep, :keep].ravel()
    med = np.median(low[1:])  # exclude DC
    return (low > med).astype(np.uint8)


def phash_images(
    media: DataFrame, n_bands: int = 4, stability_check: bool = False
) -> DataFrame:
    """(media_id, phash, band, sig): perceptual hashes of the image rows
    plus their LSH band decomposition — the image arm of the dedup
    family. ``phash`` is the 64-bit hash as a signed long; the 64 bits
    split into ``n_bands`` contiguous band signatures, so Hamming-near
    images (≤ a few differing bits) collide on at least one (band, sig)
    with high probability — EXACTLY the MinHash/SimHash banding scheme,
    and the same downstream join: ``phash_candidate_pairs`` below.

    Scale: one mapInPandas decode/DCT kernel, no shuffle; the pair join
    is a bucketed equi-join on (band, sig) like every other dedup family
    (no all-pairs comparison anywhere).

    ``stability_check=True`` adds a ``stable`` boolean: the hash of the
    exact 2× pixel-repeated upscale must equal the original's — true by
    the floor arithmetic of the nearest-resize (⌊⌊2x⌋/2⌋ = ⌊x⌋), and
    re-verified per row against the REAL re-decoded upscale; the q52
    gate's envelope column for this family."""
    out_schema = "media_id string, phash long, band int, sig long"
    if stability_check:
        out_schema += ", stable boolean"
    bits_per = 64 // n_bands

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, bands, sigs, stabs = [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                w, h, px = decode_ppm(bytes(p))
                bits = _phash_bits(px, w, h)
                if stability_check:
                    up = (
                        px.reshape(h, w, 3)
                        .repeat(2, axis=0)
                        .repeat(2, axis=1)
                    )
                    st = bool(
                        np.array_equal(
                            bits, _phash_bits(up.ravel(), 2 * w, 2 * h)
                        )
                    )
                val = 0
                for b in bits:
                    val = (val << 1) | int(b)
                signed = val - (1 << 64) if val >= (1 << 63) else val
                for band in range(n_bands):
                    chunk = (val >> (band * bits_per)) & (
                        (1 << bits_per) - 1
                    )
                    ids.append(mid)
                    hashes.append(signed)
                    bands.append(band)
                    sigs.append(chunk)
                    if stability_check:
                        stabs.append(st)
            out = {
                "media_id": ids,
                "phash": pd.array(hashes, dtype="int64"),
                "band": pd.array(bands, dtype="int32"),
                "sig": pd.array(sigs, dtype="int64"),
            }
            if stability_check:
                out["stable"] = stabs
            yield pd.DataFrame(out)

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(run, schema=out_schema)
    )


def phash_candidate_pairs(
    hashed: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """(id_a, id_b, hamming): image near-dup pairs from the banded
    signatures — candidates share a (band, sig) bucket, then the exact
    Hamming distance over the full 64-bit hash verifies (bit_count of
    XOR, JVM-side). Same candidate/verify split as every dedup family."""
    a = hashed.select(
        F.col("media_id").alias("id_a"), F.col("phash").alias("ha"),
        "band", "sig",
    )
    b = hashed.select(
        F.col("media_id").alias("id_b"), F.col("phash").alias("hb"),
        "band", "sig",
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def video_motion(media: DataFrame) -> DataFrame:
    """(media_id, n_frame_pairs, motion_sum): temporal motion energy of
    the video rows — the exact int64 sum of |frame_{f+1} - frame_f| over
    every consecutive frame pair and pixel, via one mapInPandas decode
    kernel (the q52 gate replays this closed-form against the generated
    content). The per-media scalar is the shot-boundary / static-clip
    signal a video curation pipeline thresholds on."""
    out_schema = "media_id string, n_frame_pairs int, motion_sum bigint"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, pairs, sums = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                _, _, frames = decode_rvid(bytes(p))
                f = frames.astype(np.int64)
                d = np.abs(np.diff(f, axis=0))
                ids.append(mid)
                pairs.append(max(frames.shape[0] - 1, 0))
                sums.append(int(d.sum()))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "n_frame_pairs": pd.array(pairs, dtype="int32"),
                    "motion_sum": pd.array(sums, dtype="int64"),
                }
            )

    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "payload")
        .mapInPandas(run, schema=out_schema)
    )
