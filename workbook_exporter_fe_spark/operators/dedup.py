"""Deduplication operators for training-data pipelines.

Four families, each a `queries()` entry with a DuckDB oracle:

- **exact**: md5 content hash → groupBy (the reference's dedup-by-key O16
  generalized from hostname to content).
- **MinHash + LSH**: per-band signature = min(md5(shingle ∥ band)); docs
  sharing any band signature are candidate near-dups. The lexicographic min
  over md5 hex strings is a valid min-wise hash family and — critically —
  reproducible in any engine with md5.
- **n-gram Jaccard**: exact similarity on shingle *sets* via a shingle-level
  equi-join (set-based; the O(n²) pair loop becomes one shuffle join).
- **SimHash**: 32-bit sign-vector of summed ±1 votes from word hashes
  (md5-hex-prefix → int), equal-hash or small-hamming grouping.

Scale notes: all paths are explode → groupBy/join — shuffle-heavy by
nature, so shingle exploding projects only (doc_id, shingle); the LSH
band-bucket join keys on (band, signature) which spreads uniformly; the
Jaccard join's hot keys are frequent shingles — ``jaccard_pairs`` drops
shingles with document frequency > ``max_df`` before the self-join (the
quadratic blow-up lives exactly in those stopword shingles) and size-ratio
prunes pairs that cannot reach the threshold. SimHash aggregates its bit
votes as integer ops in one groupBy (no words × bits explode). Exact dedup
reduces via partial aggregation (hash, min-id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.functions.textops import word_shingles


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(content_hash, n_dups, keep_id): one row per distinct content."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
    )


# Affine min-hash family over Z_P: band b's hash = (A[b]*h + B[b]) mod P,
# h = first 60 bits of md5(shingle) mod P. One md5 per shingle (not per
# shingle×band), all band mins in ONE partial-aggregating groupBy — the
# exploded shuffle rows carry (id, h:int64) instead of (id, band,
# shingle:string)×bands, an ~8× byte reduction that matters when the
# shingle stream is the dominant shuffle at corpus scale. Constants fit
# int64 exactly (A*h < 2^53·…< 2^63), so Spark and DuckDB agree bit-wise.
MINHASH_P = 2_147_483_647
MINHASH_A = (1_000_003, 2_000_003, 3_000_017, 4_000_037, 5_000_011, 6_000_011, 7_000_003, 8_000_009)
MINHASH_B = (12_345, 67_891, 13_579, 24_680, 11_111, 22_222, 33_333, 44_444)


def _minhash_from_hashes(hashes: DataFrame, id_col: str, n_bands: int) -> DataFrame:
    """(id, band, sig) from an exploded (id, h:int64 in [0, P)) stream."""
    wide = hashes.groupBy(id_col).agg(
        *[
            F.min((F.lit(MINHASH_A[b]) * F.col("h") + F.lit(MINHASH_B[b])) % MINHASH_P).alias(
                f"sig_{b}"
            )
            for b in range(n_bands)
        ]
    )
    stack = ", ".join(f"{b}, sig_{b}" for b in range(n_bands))
    return wide.select(
        id_col, F.expr(f"stack({n_bands}, {stack}) as (band, sig)")
    )


def _minhash_from_shingles(sh: DataFrame, id_col: str, n_bands: int) -> DataFrame:
    """(id, band, sig) from an exploded (id, shingle) stream."""
    h = (
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long") % MINHASH_P
    ).alias("h")
    wide = sh.select(id_col, h).groupBy(id_col).agg(
        *[
            F.min((F.lit(MINHASH_A[b]) * F.col("h") + F.lit(MINHASH_B[b])) % MINHASH_P).alias(
                f"sig_{b}"
            )
            for b in range(n_bands)
        ]
    )
    stack = ", ".join(f"{b}, sig_{b}" for b in range(n_bands))
    return wide.select(
        id_col, F.expr(f"stack({n_bands}, {stack}) as (band, sig)")
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_bands: int = 4, k: int = 3,
) -> DataFrame:
    """(id, band, sig): per-band affine min-wise signature over k-shingles."""
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
    )
    return _minhash_from_shingles(sh, id_col, n_bands)


def minhash_signatures_tokens(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id",
    n_bands: int = 4, k: int = 3, hash_fn: str = "md5",
) -> DataFrame:
    """MinHash over token k-gram shingles — dedup for pre-tokenized corpora
    (the engine's native ``(doc_id, tokens, n_tok, source)`` table), no
    detokenization round-trip. Same affine family as the text variant.

    ``hash_fn``:
    - ``"md5"`` — engine-portable shingle hash (string shingle → md5), the
      mode every SQL oracle can replicate.
    - ``"native"`` — ``xxhash64`` over the k token ints directly: zero
      string allocation per shingle (the md5 path allocates concat + hex +
      substring strings per shingle, which at 10^8+ shingles/executor makes
      the job allocator-bound, measured 4.6× slower). This is the
      production mode at corpus scale; the min-hash family is equally
      valid, just not reproducible outside Spark.
    """
    if hash_fn == "native":
        if k != 3:
            raise ValueError("native mode is specialized to k=3")
        sh = df.filter(F.size(F.col(tokens_col)) >= k).select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(0, size({tokens_col}) - 3),"
                    f" i -> pmod(xxhash64({tokens_col}[i], {tokens_col}[i+1],"
                    f" {tokens_col}[i+2]), {MINHASH_P}))"
                )
            ).alias("h"),
        )
        return _minhash_from_hashes(sh, id_col, n_bands)
    sh = df.filter(F.size(F.col(tokens_col)) >= k).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, size({tokens_col}) - {k}),"
                f" i -> concat_ws('-', slice({tokens_col}, i + 1, {k})))"
            )
        ).alias("shingle"),
    )
    return _minhash_from_shingles(sh, id_col, n_bands)


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing ≥1 band signature."""
    a = signatures.select(
        F.col(id_col).alias("id_a"), "band", "sig"
    )
    b = signatures.select(F.col(id_col).alias("id_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, threshold: float = 0.5, max_df: int | None = 50,
) -> DataFrame:
    """Exact shingle-set Jaccard over the informative-shingle space.

    jac = |A∩B| / (|A| + |B| - |A∩B|); emitted when ≥ threshold.

    Two guards make the shingle self-join survive corpus scale:

    - **document-frequency cap** (``max_df``): shingles appearing in more
      than ``max_df`` documents (stopword shingles) are dropped BEFORE the
      join — one shingle shared by m docs contributes m² join rows, so an
      uncapped join degenerates quadratically on exactly the shingles that
      carry no signal. Similarity is then defined over the filtered shingle
      space (sizes are recomputed after the cap so the metric stays a true
      Jaccard on that space). The hot-shingle list is tiny (it's the df
      distribution's tail) and broadcast as a left-anti filter.
    - **size-ratio pruning**: jac(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so any
      pair with |A| < t·|B| (either direction) cannot reach the threshold —
      pruned BEFORE the pair aggregation, cutting the join output, not just
      the result. Lossless for the emitted pairs.
    """
    from pyspark.sql import Window

    # ONE linear chain: distinct shingles → df-cap window → size window.
    # The df cap and the per-doc sizes are window counts, not groupBy +
    # broadcast-join side plans: a side plan re-executes the whole
    # explode+distinct lineage per consumer (measured 5× recompute, 75 s →
    # 27 s at 200k docs just from this restructure), while a window rides
    # the same relation through two repartitions.
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    ).distinct()
    if max_df is not None:
        sh = sh.withColumn(
            "_df", F.count("*").over(Window.partitionBy("shingle"))
        ).filter(F.col("_df") <= max_df)
    base = sh.withColumn("sz", F.count("*").over(Window.partitionBy("id"))).select(
        "id", "shingle", "sz"
    )
    a = base.select(F.col("id").alias("id_a"), "shingle", F.col("sz").alias("sz_a"))
    b = base.select(F.col("id").alias("id_b"), "shingle", F.col("sz").alias("sz_b"))
    inter = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_a") >= F.col("sz_b") * threshold)
            & (F.col("sz_b") >= F.col("sz_a") * threshold)
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
    )
    jac = inter.withColumn(
        "jaccard",
        F.round(
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
        ),
    )
    # asymmetric containment rides the same pair relation for free:
    # cont_a = |A∩B|/|A| ≈ 1 flags A as a quote/subset of B even when the
    # symmetric Jaccard is diluted by B's extra content
    return jac.filter(F.col("jaccard") >= threshold).select(
        "id_a",
        "id_b",
        "jaccard",
        F.round(F.col("inter") / F.col("sz_a"), 6).alias("cont_a"),
        F.round(F.col("inter") / F.col("sz_b"), 6).alias("cont_b"),
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """(id, simhash): sign-vector of per-bit ±1 votes from word md5 hashes.

    word hash = first 8 hex chars of md5 as a 32-bit int (engine-portable);
    bit i of the simhash is 1 iff sum over words of (2*bit_i(hash)-1) > 0.

    The per-bit votes are integer column ops on the word hash — ``bits``
    conditional sums inside ONE partially-aggregating groupBy — NOT a
    words × bits explode (which would multiply the shuffle by ``bits``; the
    explode formulation shuffles 32 rows per word where this shuffles one
    partial row of 33 longs per (id, task)). vote_i > 0 ⟺ 2·Σbit_i > n,
    so only Σbit_i and the word count are aggregated.
    """
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    h = F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long")
    hashed = words.select("id", h.alias("h"))
    wide = hashed.groupBy("id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"s{i}")
            for i in range(bits)
        ],
    )
    total = F.lit(0).cast("long")
    for i in range(bits):
        total = total + F.when(
            F.col(f"s{i}") * 2 > F.col("n"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0))
    return wide.select("id", total.alias("simhash"))


# ------------------------------------------------------------------ index
# Incremental dedup: at corpus scale the expensive thing is re-shingling
# and re-pairing the EXISTING corpus every time a batch lands. The index
# persists each batch's (doc_id, band, sig) LSH signatures in a
# SnapshotTable, so deduplicating a new batch costs: shingle the BATCH,
# one (band, sig) join against the stored signatures, one batch-internal
# pair pass — the 100 TB corpus is never re-read (its signatures are
# ~n_bands rows/doc). The union of every batch's pair output provably
# equals the full-corpus LSH pairs (pinned in tests/test_dedup_index.py).


class MinHashIndex:
    """Persisted LSH signature index for continuous-ingestion dedup.

    Layout: a SnapshotTable (sources/snapshots.py) of rows
    ``(doc_id, band, sig)``; the shingling parameters are recorded in the
    first snapshot's summary and every later ``add_batch`` validates
    against them — two batches signed with different (k, n_bands,
    hash_fn) would produce silently incomparable signatures.

    Crash contract: signatures are committed AFTER the batch's pairs are
    computed against the PREVIOUS snapshot; a crash between the two
    leaves the index without the batch (re-running the batch is
    idempotent-by-rerun, like the tier pipeline's replay semantics).
    """

    def __init__(self, spark, root: str, n_bands: int = 4, k: int = 3,
                 hash_fn: str = "md5"):
        from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable

        self.spark = spark
        self.table = SnapshotTable(spark, root)
        self.params = {"n_bands": n_bands, "k": k, "hash_fn": hash_fn}
        if self.table.current_sequence() > 0:
            summary = self.table.snapshot(1)["summary"]
            mismatch = {
                key: (summary.get(key), val)
                for key, val in self.params.items()
                if summary.get(key) is not None and summary.get(key) != val
            }
            if mismatch:
                raise ValueError(
                    f"index at {root!r} was built with different "
                    f"parameters (stored, requested): {mismatch}"
                )

    def signatures(self, sequence: int | None = None) -> DataFrame:
        """The stored (doc_id, band, sig) relation (empty if new).

        ``sequence`` time-travels (0 = the empty pre-first-commit state),
        which is what the streaming replay path uses to recompute a
        batch's pairs against the index as it stood BEFORE that batch."""
        if sequence == 0 or self.table.current_sequence() == 0:
            return self.spark.createDataFrame(
                [], "doc_id string, band int, sig long"
            )
        return self.table.read(sequence)

    def sign(
        self, docs: DataFrame, tokens_col: str = "tokens",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """The batch's (doc_id, band, sig) signatures under the index's
        recorded parameters (no commit — pure computation)."""
        sigs = minhash_signatures_tokens(
            docs, tokens_col=tokens_col, id_col=id_col,
            n_bands=self.params["n_bands"], k=self.params["k"],
            hash_fn=self.params["hash_fn"],
        )
        # ids normalize to string: the stored relation is one schema
        # forever, while probe batches may carry numeric id columns
        return sigs.select(
            F.col(id_col).cast("string").alias("doc_id"), "band", "sig"
        )

    def pairs_against(self, sigs: DataFrame, old: DataFrame) -> DataFrame:
        """Candidate pairs a signed batch introduces against a stored
        signature relation: cross (existing id_a ↔ new id_b) tagged
        ``is_cross=True`` plus batch-internal LSH pairs (id_a < id_b,
        ``is_cross=False``). No commit — the streaming replay path calls
        this against a time-traveled ``signatures(seq)`` to rebuild a
        batch's pairs exactly."""
        cross = (
            old.select(F.col("doc_id").alias("id_a"), "band", "sig")
            .join(sigs.select(F.col("doc_id").alias("id_b"), "band", "sig"),
                  ["band", "sig"])
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .withColumn("is_cross", F.lit(True))
        )
        within = (
            lsh_candidate_pairs(sigs)
            .withColumn("is_cross", F.lit(False))
        )
        return cross.unionByName(within)

    def match(
        self,
        docs: DataFrame,
        tokens_col: str = "tokens",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Query-only cross matches: ``(id_a, id_b)`` where id_a is an
        INDEXED doc LSH-matching incoming doc id_b. Nothing is committed
        and no within-batch pairs are computed — the shape for checking a
        corpus against a static reference index (fuzzy benchmark
        decontamination, eval-set leakage, near-dup blocklists) where
        the reference must not absorb the probes."""
        sigs = self.sign(docs, tokens_col=tokens_col, id_col=id_col)
        return self.pairs_against(sigs, self.signatures()).filter(
            F.col("is_cross")
        ).drop("is_cross")

    def add_batch(
        self,
        docs: DataFrame,
        tokens_col: str = "tokens",
        id_col: str = "doc_id",
        extra_summary: dict | None = None,
    ) -> DataFrame:
        """Sign ``docs``, emit every candidate pair the batch introduces,
        and append the batch's signatures to the index.

        Returns distinct pairs ``(id_a, id_b, is_cross)`` where
        ``is_cross`` marks new↔existing pairs (id_a = the EXISTING doc)
        and batch-internal pairs are ordered id_a < id_b. The join
        against the stored index is the only touch of old data — by
        (band, sig), after which the (typically small) batch side is the
        natural broadcast candidate (left to AQE: the stored side's size
        is unbounded, the batch side is one ingestion unit).
        """
        # one shingling pass: without the checkpoint the signature
        # lineage re-executes for the commit write, the cross join, and
        # BOTH sides of the within-batch self-join (~4 shingle passes per
        # batch, measured in scripts/bench_dedup_index.py)
        sigs = self.sign(docs, tokens_col=tokens_col, id_col=id_col
                         ).localCheckpoint(eager=True)
        pairs = self.pairs_against(sigs, self.signatures())
        summary = dict(
            self.params,
            batch_docs=sigs.select("doc_id").distinct().count(),
        )
        summary.update(extra_summary or {})
        self.table.commit(sigs, summary=summary)
        return pairs


def incremental_keep(
    new_docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Which docs of a new batch survive dedup against pairs from
    :meth:`MinHashIndex.add_batch`.

    A new doc is dropped when it cross-matches any EXISTING doc (the
    corpus already has it), or when it is a non-canonical member of a
    batch-internal near-dup cluster (transitive closure over the
    within-batch pairs, canonical = min doc_id). Pure composition: one
    anti-join + one connected-components pass over the (small) batch pair
    graph.

    The index stores ids as STRING (MinHashIndex.sign), so every join
    here compares on the caller's id CAST to string — joining a numeric
    id column straight against the string pairs would make Spark coerce
    both sides to double, which is lossy for 64-bit ids above 2^53.
    """
    from workbook_exporter_fe_spark.operators.components import (
        connected_components,
    )

    sid = "__ik_sid"
    keyed = new_docs.withColumn(sid, F.col(id_col).cast("string"))
    cross_dupes = (
        pairs.filter(F.col("is_cross")).select(
            F.col("id_b").cast("string").alias(sid)
        ).distinct()
    )
    fresh = keyed.join(cross_dupes, sid, "anti")
    within = (
        pairs.filter(~F.col("is_cross"))
        .select(
            F.col("id_a").cast("string").alias("id_a"),
            F.col("id_b").cast("string").alias("id_b"),
        )
        # only chains among still-fresh docs; a pair into a cross-dropped
        # doc must not eliminate the survivor
        .join(fresh.select(F.col(sid).alias("id_a")), "id_a", "semi")
        .join(fresh.select(F.col(sid).alias("id_b")), "id_b", "semi")
    )
    # fast path: batches with no within-batch near-dup chains (the common
    # steady-state) skip the iterative components loop entirely — the
    # loop's per-round jobs were most of the ~10 s per-batch fixed floor
    # measured in scripts/bench_dedup_index.py; one localCheckpoint here
    # both answers the emptiness probe and feeds the loop when non-empty
    within = within.localCheckpoint(eager=True)
    if within.isEmpty():
        return fresh.drop(sid)
    labels = connected_components(
        within, "id_a", "id_b", max_iter=max_iter, dedupe_edges=False
    )
    non_canonical = (
        labels.filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias(sid))
    )
    return fresh.join(non_canonical, sid, "anti").drop(sid)
