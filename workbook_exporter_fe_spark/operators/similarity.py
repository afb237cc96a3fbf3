"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact cosine vs a query vector — the
  baseline. Dot products run integer-exact: coordinates are scaled by 1e7
  and rounded to int64, so the sum is associative (order-independent) and
  bit-identical in any engine — same trick as the decimal sums in the
  query registry. Error vs float cosine < 1e-6, which is inside the
  rounding we report anyway.
- ``lsh_buckets``: scale path — random-hyperplane LSH where the hyperplanes
  are *data rows* (fixed vec_ids), so both Spark and the SQL oracle derive
  identical planes without sharing an RNG. Bucket = sign-bit vector of the
  hyperplane dots. ANN search then brute-forces only the query's bucket.

Scale notes: brute force is a broadcast of the query vector + a narrow
map — perfectly parallel but O(corpus) per query; LSH buckets shrink the
candidate set ~2^planes×. For batch kNN at 100 TB, bucket both sides and
join on bucket (the classic bucketed-ANN join); IVF (k-means coarse
quantizer) drops in the same seam.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10_000_000  # 1e7: int64-exact dot products for 64-dim unit-ish vectors


def _ivec(col):
    """array<float> → array<long> scaled by 1e7 (engine-portable exact)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * SCALE).cast("long"))


def _idot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def cosine_topk(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 20,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Top-k (vec_id, cos) vs the query vector, ties broken by vec_id."""
    q = (
        embeddings.filter(F.col(id_col) == query_vec_id)
        .select(_ivec(F.col(vec_col)).alias("qv"))
        .select("qv", _idot(F.col("qv"), F.col("qv")).alias("nq"))
    )
    cand = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .select(F.col(id_col), _ivec(F.col(vec_col)).alias("av"))
        .crossJoin(F.broadcast(q))
    )
    cos = _cos(_idot(F.col("av"), F.col("qv")), _idot(F.col("av"), F.col("av")), F.col("nq"))
    return (
        cand.select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )


def lsh_buckets(
    embeddings: DataFrame, plane_ids: tuple[int, ...] = (1, 2, 3, 4),
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, bucket): sign-bit bucket vs data-derived hyperplanes."""
    planes = embeddings.filter(F.col(id_col).isin(list(plane_ids))).select(
        F.col(id_col).alias("plane_id"), _ivec(F.col(vec_col)).alias("pv")
    )
    joined = embeddings.crossJoin(F.broadcast(planes))
    bit_val = F.when(
        _idot(_ivec(F.col(vec_col)), F.col("pv")) >= 0,
        F.pow(F.lit(2.0), F.array_position(F.array(*[F.lit(p) for p in plane_ids]), F.col("plane_id")) - 1).cast("long"),
    ).otherwise(F.lit(0))
    return joined.groupBy(id_col).agg(F.sum(bit_val).alias("bucket"))


def _cos(dot, na, nb):
    return F.round(
        dot.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))), 6
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, plane_ids: tuple[int, ...] = (1, 2, 3, 4),
    threshold: float = 0.4, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucketed candidates, exact verify.

    Completes the dedup family set (exact / MinHash-LSH / Jaccard / SimHash /
    embedding-cosine): candidate pairs are vectors sharing an LSH sign
    bucket (2^planes-way partition of the corpus), then each candidate pair
    is verified with the exact integer-scaled cosine and kept at
    ``cos >= threshold``. The bucket join is the scale path — at 100 TB the
    all-pairs O(n²) join never materializes; the self-join keys on
    ``bucket``, which spreads the corpus 2^planes ways (add planes to
    shrink buckets; recall is tunable via multiple plane sets OR-ed, same
    seam as MinHash bands).
    """
    b = lsh_buckets(embeddings, plane_ids, id_col, vec_col)
    # norms precomputed per VECTOR, not per pair: the pair verify below is
    # the hot loop (|bucket|² pairs) and higher-order array lambdas are
    # interpreted, so each removed per-pair array pass matters (measured
    # ~2.5× on the verify stage).
    v = (
        embeddings.select(F.col(id_col), _ivec(F.col(vec_col)).alias("iv"))
        .select(id_col, "iv", _idot(F.col("iv"), F.col("iv")).alias("n"))
        .join(b, id_col)
    )
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("iv").alias("va"),
        F.col("n").alias("na"), "bucket",
    )
    c = v.select(
        F.col(id_col).alias("id_b"), F.col("iv").alias("vb"),
        F.col("n").alias("nb"), "bucket",
    )
    pairs = a.join(c, "bucket").filter(F.col("id_a") < F.col("id_b"))
    cos = _cos(_idot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
    return pairs.select("id_a", "id_b", cos.alias("cos")).filter(
        F.col("cos") >= threshold
    )


def lsh_topk(
    embeddings: DataFrame, plane_ids: tuple[int, ...] = (1, 2, 3, 4),
    query_vec_id: int = 0, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed ANN: exact cosine top-k restricted to the query's bucket.

    The scale companion to ``cosine_topk``: candidates are only the vectors
    sharing the query's sign bucket (~corpus/2^planes of the data), then
    ranked by the exact integer-scaled cosine. Recall is tunable by OR-ing
    multiple plane sets (same seam as MinHash bands); partitioning the
    vector table by bucket turns the candidate filter into partition
    pruning at the source.
    """
    b = lsh_buckets(embeddings, plane_ids, id_col, vec_col)
    qb = b.filter(F.col(id_col) == query_vec_id).select("bucket")
    q = (
        embeddings.filter(F.col(id_col) == query_vec_id)
        .select(_ivec(F.col(vec_col)).alias("qv"))
        .select("qv", _idot(F.col("qv"), F.col("qv")).alias("nq"))
    )
    cand = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .select(F.col(id_col), _ivec(F.col(vec_col)).alias("av"))
        .join(b, id_col)
        .join(F.broadcast(qb), "bucket")
        .crossJoin(F.broadcast(q))
    )
    cos = _cos(_idot(F.col("av"), F.col("qv")), _idot(F.col("av"), F.col("av")), F.col("nq"))
    return (
        cand.select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame, centroid_ids: tuple[int, ...] = (1, 2, 3, 4, 5, 6, 7, 8),
    query_vec_id: int = 0, nprobe: int = 2, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: coarse quantize into cells, probe nearest cells only.

    The coarse quantizer's centroids are *data rows* (fixed vec_ids) rather
    than k-means output so both Spark and the SQL oracle derive identical
    cells without sharing an RNG or an iterative trainer; a k-means
    refinement drops into the same seam (centroids df in, nothing else
    changes). Assignment = argmax cosine over the broadcast centroid set
    (ties to the lower centroid id); search probes the query's ``nprobe``
    nearest cells and brute-forces only those candidates.

    Scale: assignment is a broadcast nested loop over #centroids (a few
    thousand at 100 TB — still broadcastable) + a map-side argmax, no
    shuffle; the probe filter prunes the candidate scan to
    nprobe/#cells of the corpus, and partitioning the vector table by
    cell turns that into partition pruning at the source.
    """
    from pyspark.sql import Window

    cents = (
        embeddings.filter(F.col(id_col).isin(list(centroid_ids)))
        .select(F.col(id_col).alias("cid"), _ivec(F.col(vec_col)).alias("cv"))
        .select("cid", "cv", _idot(F.col("cv"), F.col("cv")).alias("cn"))
    )
    v = embeddings.select(F.col(id_col), _ivec(F.col(vec_col)).alias("iv")).select(
        id_col, "iv", _idot(F.col("iv"), F.col("iv")).alias("n")
    )
    scored = v.crossJoin(F.broadcast(cents)).select(
        id_col,
        "cid",
        _cos(_idot(F.col("iv"), F.col("cv")), F.col("n"), F.col("cn")).alias("ccos"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("ccos"), F.asc("cid"))
    cells = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(id_col), F.col("cid").alias("cell"))
    )
    probed = (
        scored.filter(F.col(id_col) == query_vec_id)
        .orderBy(F.desc("ccos"), F.asc("cid"))
        .limit(nprobe)
        .select(F.col("cid").alias("cell"))
    )
    q = v.filter(F.col(id_col) == query_vec_id).select(
        F.col("iv").alias("qv"), F.col("n").alias("nq")
    )
    cand = (
        v.filter(F.col(id_col) != query_vec_id)
        .join(cells, id_col)
        .join(F.broadcast(probed), "cell")
        .crossJoin(F.broadcast(q))
    )
    cos = _cos(_idot(F.col("iv"), F.col("qv")), F.col("n"), F.col("nq"))
    return (
        cand.select("cell", F.col(id_col), cos.alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )


# ----------------------------------------------------------- quantization


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``(id, qv:
    array<tinyint>, scale: double)`` with ``x ≈ qv * scale``.

    In-memory ANN systems get 4× less vector traffic from int8 vs
    float32; MEASURED in this parquet-backed engine the effect is more
    modest and honest numbers are in BENCH/BASELINE.md ("int8
    quantization: measured effect"): zstd-parquet already bit-packs the
    integer-scaled vectors (stored ratio 1.41×), and at bench scale the
    interpreted higher-order-function dot product — not memory
    bandwidth — bounds the scan, so wall is unchanged. The durable wins
    are the smaller representation for in-memory/broadcast use and the
    exact-re-rank contract below. Cosine needs no dequantization — the
    per-vector scales cancel in dot/(|a||b|) — so search touches ONLY
    the int8 arrays; ``scale`` is kept for dot/reconstruction uses.

    Arrow-batched numpy kernel, NOT a JVM transform lambda: the obvious
    ``transform(x, v -> round(v/scale))`` re-evaluates the scale
    expression (an array_max over the row) per ELEMENT once
    CollapseProject inlines it — O(dim²) per row, measured 15× slower
    than the float scan at dim=128 in scripts/bench_q8_gemv.py — the
    same trap operators/drift.py documents at vocabulary scale. The
    kernel does one rowwise abs-max + divide per Arrow batch instead.
    Rounding is HALF_UP away from zero (Spark's ROUND), so the arrays
    match what the old JVM expression produced. Requires fixed-dim
    embeddings (any real embedding column is).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<qv:array<tinyint>,scale:double>")
    def _quant(col: pd.Series) -> pd.DataFrame:
        if len(col) == 0:
            return pd.DataFrame({"qv": [], "scale": []})
        m = np.stack(col.to_numpy()).astype(np.float64)
        amax = np.abs(m).max(axis=1)
        scale = np.where(amax > 0, amax / 127.0, 1.0)
        r = m / scale[:, None]
        q = (np.sign(r) * np.floor(np.abs(r) + 0.5)).astype(np.int8)
        return pd.DataFrame({"qv": list(q), "scale": scale})

    return df.select(
        F.col(id_col), _quant(F.col(vec_col)).alias("s")
    ).select(
        id_col, F.col("s.qv").alias("qv"), F.col("s.scale").alias("scale")
    )


def _qdot(a, b):
    """Exact int64 dot of two int8 arrays (promote before multiply)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("int") * y.cast("int")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _q8_gemv_scan(qt: DataFrame, query_vec_id: int, id_col: str) -> DataFrame:
    """Vectorized int8 scan: one Arrow-batched numpy GEMV per batch
    against the closure-captured query vector, instead of the
    interpreted per-element HOF fold. This is the kernel that actually
    realizes the int8 width win (BENCH/BASELINE.md "int8 quantization"
    identified the HOF dot as the seam hiding it): each Arrow batch is
    stacked into a (B, d) int8 matrix and hits BLAS-ish numpy matmul in
    int32 (exact while 127²·d < 2³¹, i.e. dim < ~133k).

    Returns ((id_col, dot:long, qn:long) for every row but the query's,
    and the query's own squared norm).
    """
    from pyspark.sql.functions import pandas_udf

    qrow = qt.filter(F.col(id_col) == query_vec_id).select("qv").first()
    if qrow is None:
        raise ValueError(f"query vec_id {query_vec_id} not found")
    q = np.asarray(qrow["qv"], dtype=np.int32)
    qn_q = int(q.astype(np.int64) @ q.astype(np.int64))

    @pandas_udf("struct<dot:long,qn:long>")
    def scan(col: pd.Series) -> pd.DataFrame:
        if len(col) == 0:
            return pd.DataFrame({"dot": [], "qn": []}, dtype="int64")
        m = np.stack(col.to_numpy()).astype(np.int32)  # (B, d) int8→int32
        return pd.DataFrame(
            {"dot": m @ q, "qn": np.einsum("ij,ij->i", m, m)}
        )

    scored = qt.filter(F.col(id_col) != query_vec_id).select(
        id_col, scan(F.col("qv")).alias("s")
    ).select(id_col, F.col("s.dot").alias("dot"), F.col("s.qn").alias("qn"))
    return scored, qn_q


def cosine_topk_quantized(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "gemv",
) -> DataFrame:
    """Brute-force cosine top-k over INT8-quantized vectors with exact
    re-rank: score every candidate on the quantized arrays (4× less
    memory traffic than the float scan), keep the top
    ``rerank_factor * k`` by approximate cosine, re-score only those on
    the exact integer-scaled vectors, return the exact top-k.

    With symmetric int8 the approximate cosine errs by O(1/127) per
    term, so the true top-k sits inside a modest re-rank margin;
    tests/test_quantized.py pins recall == 1.0 at rerank_factor=4 on the
    driver embeddings. Composes with the IVF probe filter (the candidate
    relation here is the full corpus; swap in the probed cells for
    IVF-quantized search — same seam as ivf_topk).

    ``kernel``: 'gemv' (default) scans with the Arrow-batched numpy
    matrix-vector kernel; 'hof' keeps the JVM higher-order-function fold
    (the round-3 path, kept for the A/B in scripts/bench_r2_fixes and as
    the no-Python fallback). Both produce identical integer dots, so the
    rerank candidates — and therefore the exact output — are the same.
    """
    qt = quantize_embeddings(embeddings, vec_col=vec_col, id_col=id_col)
    if kernel == "gemv":
        scored, qn_q = _q8_gemv_scan(qt, query_vec_id, id_col)
        approx = (
            scored.select(
                id_col,
                _cos(F.col("dot"), F.col("qn"), F.lit(qn_q)).alias("acos_"),
            )
            .orderBy(F.desc("acos_"), F.asc(id_col))
            .limit(rerank_factor * k)
        )
    else:
        qn = qt.select(
            id_col, "qv", _qdot(F.col("qv"), F.col("qv")).alias("qn")
        )
        qq = qn.filter(F.col(id_col) == query_vec_id).select(
            F.col("qv").alias("qqv"), F.col("qn").alias("qqn")
        )
        approx = (
            qn.filter(F.col(id_col) != query_vec_id)
            .crossJoin(F.broadcast(qq))
            .select(
                id_col,
                _cos(
                    _qdot(F.col("qv"), F.col("qqv")), F.col("qn"), F.col("qqn")
                ).alias("acos_"),
            )
            .orderBy(F.desc("acos_"), F.asc(id_col))
            .limit(rerank_factor * k)
        )
    v = embeddings.select(F.col(id_col), _ivec(F.col(vec_col)).alias("iv")).select(
        id_col, "iv", _idot(F.col("iv"), F.col("iv")).alias("n")
    )
    q = v.filter(F.col(id_col) == query_vec_id).select(
        F.col("iv").alias("qv_"), F.col("n").alias("nq")
    )
    exact = (
        v.join(F.broadcast(approx.select(id_col)), id_col)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            _cos(_idot(F.col("iv"), F.col("qv_")), F.col("n"), F.col("nq")).alias("cos"),
        )
    )
    return exact.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)
