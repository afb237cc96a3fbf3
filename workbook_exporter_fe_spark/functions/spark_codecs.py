"""Spark wrappers for the Gorilla / delta-of-delta codecs.

Tier rows are compressed per (source, segment) group — segment = day of
bucket_ts — into chunk rows
``(source, segment_start, n_points, codec_version, ts_payload, v_payload)``
(FIXTURES.md F3). The group boundary is the Arrow batch boundary: each
group's timestamps+values arrive as contiguous numpy arrays inside
``applyInPandas`` and the codec runs vectorized over the whole segment.

Scale design: grouping key (source, segment) bounds chunk size (one day of
1m buckets = 1440 points), so executor memory per group is constant; the
shuffle that forms groups is the only shuffle and it is keyed the same way
as the tier table's layout, so with a source-partitioned tier table the
exchange is cheap. Decompression uses the same grouped shape.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .codecs import (
    CODEC_VERSION,
    CODEC_VERSION_V2,
    dod_decode,
    dod_decode_v2,
    dod_encode,
    dod_encode_v2,
    gorilla_decode,
    gorilla_decode_v2,
    gorilla_encode,
    gorilla_encode_v2,
)

# v1 = paper-faithful interleaved bitstream (sequential decode);
# v2 = split-stream layout, vectorized decode (~3.6×), ~6% larger values
# payload. Chunk rows carry their version, so tables mix freely and the
# reader dispatches per row — format evolution without rewrites.
_ENCODERS = {
    CODEC_VERSION: (dod_encode, gorilla_encode),
    CODEC_VERSION_V2: (dod_encode_v2, gorilla_encode_v2),
}
_DECODERS = {
    CODEC_VERSION: (dod_decode, gorilla_decode),
    CODEC_VERSION_V2: (dod_decode_v2, gorilla_decode_v2),
}

CHUNK_SCHEMA = (
    "source string, segment_start timestamp, n_points int, "
    "codec_version int, ts_payload binary, v_payload binary"
)


def compress_tier(
    tier: DataFrame, value_col: str = "avg_v",
    codec_version: int = CODEC_VERSION_V2,
) -> DataFrame:
    """tier(source, bucket_ts, <value_col>, ...) -> compressed chunk rows."""
    enc_ts, enc_v = _ENCODERS[codec_version]

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket_ts")
        ts = (pdf["bucket_ts"].astype("int64") // 1_000_000_000).to_numpy()
        vals = pdf[value_col].to_numpy(dtype="float64")
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "segment_start": [pdf["segment_start"].iloc[0]],
                "n_points": [len(ts)],
                "codec_version": [codec_version],
                "ts_payload": [enc_ts(ts)],
                "v_payload": [enc_v(vals)],
            }
        )

    with_seg = tier.withColumn("segment_start", F.date_trunc("day", F.col("bucket_ts")))
    return (
        with_seg.select("source", "segment_start", "bucket_ts", value_col)
        .groupBy("source", "segment_start")
        .applyInPandas(encode_group, schema=CHUNK_SCHEMA)
    )


def decompress_chunks(chunks: DataFrame, value_col: str = "avg_v") -> DataFrame:
    """chunk rows -> (source, bucket_ts, <value_col>) point rows."""

    out_schema = f"source string, bucket_ts timestamp, {value_col} double"

    def decode_batch(it):
        for pdf in it:
            frames = []
            for row in pdf.itertuples(index=False):
                n = int(row.n_points)
                dec_ts, dec_v = _DECODERS[int(row.codec_version)]
                ts = dec_ts(bytes(row.ts_payload), n)
                vals = dec_v(bytes(row.v_payload), n)
                frames.append(
                    pd.DataFrame(
                        {
                            "source": row.source,
                            "bucket_ts": pd.to_datetime(ts, unit="s"),
                            value_col: vals,
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return chunks.mapInPandas(decode_batch, schema=out_schema)
