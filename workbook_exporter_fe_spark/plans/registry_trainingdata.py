"""Training-data pipeline queries: dedup, similarity search, text analysis.

These are the 100 TB-pipeline operators (dedup families, ANN, language ID,
quality scoring, token counting, fingerprinting) over the `documents` and
`embeddings` driver tables, each with a DuckDB oracle.

Engine-portability discipline (same as registry.py): md5 is the only hash;
dot products are integer-scaled (see operators/similarity.py); shingle
index arithmetic matches DuckDB's 1-based inclusive list slicing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from workbook_exporter_fe_spark.functions import textops
from workbook_exporter_fe_spark.operators.decontam import contaminated_docs
from workbook_exporter_fe_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from workbook_exporter_fe_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    ivf_topk,
)

from .registry import _t, query


# -- Deduplication ---------------------------------------------------------

# Exact content-hash dedup groups UNION-TAGGED with dedup family #6:
# blocked fuzzy (Levenshtein ≤ 2) pairs over the corpus vocabulary
# (operators/fuzzy.py). The blocking — same first char + length within
# max_dist — is COMPLETE for that spec (bucket width k+1 with ±1 probe
# replication), so the oracle states the spec directly as a first-char +
# length-band self-join with DuckDB's identical unit-cost levenshtein().
@query(
    "q30_dedup_exact",
    """
    WITH vocab AS (
      SELECT DISTINCT word
      FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      WHERE length(word) > 0
    ),
    fz AS (
      SELECT a.word AS word_a, b.word AS word_b,
             CAST(levenshtein(a.word, b.word) AS INTEGER) AS dist
      FROM vocab a JOIN vocab b
        ON substr(a.word, 1, 1) = substr(b.word, 1, 1)
       AND a.word < b.word
       AND abs(length(a.word) - length(b.word)) <= 2
      WHERE levenshtein(a.word, b.word) <= 2
    ),
    grams AS (
      SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+7], '_')) AS fp
      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= 8)
    ),
    hot AS (SELECT fp FROM grams GROUP BY fp HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos AS s, pos + 7 AS e
             FROM grams JOIN hot USING (fp)),
    flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                 PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), -2) + 1 THEN 1 ELSE 0 END AS ni
      FROM hits
    ),
    islands AS (
      SELECT doc_id, s, e,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    )
    SELECT 'exact' AS kind, md5(text) AS content_hash, COUNT(*) AS n_dups,
           MIN(doc_id) AS keep_id,
           CAST(NULL AS VARCHAR) AS word_a, CAST(NULL AS VARCHAR) AS word_b,
           CAST(NULL AS INTEGER) AS dist
    FROM documents GROUP BY 2
    UNION ALL
    SELECT 'fuzzy', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), word_a, word_b, dist
    FROM fz
    UNION ALL
    SELECT 'span', CAST(NULL AS VARCHAR), COUNT(*), doc_id,
           CAST(MIN(s) AS VARCHAR), CAST(MAX(e) AS VARCHAR),
           CAST(NULL AS INTEGER)
    FROM islands GROUP BY doc_id, island
    """,
)
def q30_dedup_exact(spark, sf_dir):
    from workbook_exporter_fe_spark.operators.fuzzy import fuzzy_vocab_pairs

    d = _t(spark, sf_dir, "documents")
    exact = exact_dedup_groups(d).select(
        F.lit("exact").alias("kind"),
        "content_hash",
        "n_dups",
        "keep_id",
        F.lit(None).cast("string").alias("word_a"),
        F.lit(None).cast("string").alias("word_b"),
        F.lit(None).cast("int").alias("dist"),
    )
    fuzzy = fuzzy_vocab_pairs(d, max_dist=2).select(
        F.lit("fuzzy").alias("kind"),
        F.lit(None).cast("string").alias("content_hash"),
        F.lit(None).cast("long").alias("n_dups"),
        F.lit(None).cast("long").alias("keep_id"),
        "word_a",
        "word_b",
        F.col("dist").cast("int").alias("dist"),
    )
    # dedup family #7: repeated-span (exact substring) detection — word
    # 8-gram windows repeated corpus-wide, merged to maximal spans
    # (operators/spans.py; md5 mode for the cross-engine fingerprint)
    from workbook_exporter_fe_spark.operators.spans import repeated_spans

    tok = d.select("doc_id", F.split("text", " ").alias("tokens"))
    span = repeated_spans(tok, n=8, min_count=2, hash_fn="md5").select(
        F.lit("span").alias("kind"),
        F.lit(None).cast("string").alias("content_hash"),
        F.col("n_windows").cast("long").alias("n_dups"),
        F.col("doc_id").cast("long").alias("keep_id"),
        F.col("span_start").cast("string").alias("word_a"),
        F.col("span_end").cast("string").alias("word_b"),
        F.lit(None).cast("int").alias("dist"),
    )
    return exact.unionByName(fuzzy).unionByName(span)


_SHINGLE_SQL = """
  SELECT doc_id, UNNEST(list_transform(range(1, len(ws) - 1),
                                       i -> array_to_string(ws[i:i+2], ' '))) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  WHERE len(ws) >= 3
"""


@query(
    "q31_minhash_lsh_pairs",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 2147483647 AS h
      FROM sh
    ),
    wide AS (
      SELECT doc_id,
             MIN((1000003 * h + 12345) % 2147483647) AS sig_0,
             MIN((2000003 * h + 67891) % 2147483647) AS sig_1,
             MIN((3000017 * h + 13579) % 2147483647) AS sig_2,
             MIN((4000037 * h + 24680) % 2147483647) AS sig_3
      FROM h GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id, 0 AS band, sig_0 AS sig FROM wide
      UNION ALL SELECT doc_id, 1, sig_1 FROM wide
      UNION ALL SELECT doc_id, 2, sig_2 FROM wide
      UNION ALL SELECT doc_id, 3, sig_3 FROM wide
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
    WHERE a.doc_id < b.doc_id
    """,
)
def q31_minhash_lsh_pairs(spark, sf_dir):
    sig = minhash_signatures(_t(spark, sf_dir, "documents"), n_bands=4, k=3)
    return lsh_candidate_pairs(sig)


# Jaccard over the informative-shingle space: shingles with document
# frequency > 50 (stopword shingles — exactly the keys that make the
# self-join quadratic) are dropped on BOTH sides before pairing; the
# operator additionally size-ratio-prunes pairs that cannot reach the
# threshold (lossless, so the oracle need not mirror it).
@query(
    "q32_jaccard_pairs",
    f"""
    WITH sh0 AS (SELECT DISTINCT doc_id AS id, shingle FROM ({_SHINGLE_SQL})),
    hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > 50),
    sh AS (SELECT id, shingle FROM sh0 ANTI JOIN hot USING (shingle)),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.id < b.id GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard,
           ROUND(inter / sa.sz, 6) AS cont_a,
           ROUND(inter / sb.sz, 6) AS cont_b
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE ROUND(inter / (sa.sz + sb.sz - inter), 6) >= 0.5
    """,
)
def q32_jaccard_pairs(spark, sf_dir):
    return jaccard_pairs(_t(spark, sf_dir, "documents"), k=3, threshold=0.5, max_df=50)


@query(
    "q33_simhash",
    """
    WITH words AS (
      SELECT doc_id AS id, UNNEST(string_split(text, ' ')) AS word FROM documents
    ),
    hw AS (
      SELECT id, CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS h FROM words
    ),
    bits AS (SELECT id, UNNEST(range(0, 32)) AS bit, h FROM hw),
    votes AS (
      SELECT id, bit,
             SUM((CAST(floor(h / pow(2, bit)) AS BIGINT) % 2) * 2 - 1) AS vote
      FROM bits GROUP BY 1, 2
    )
    SELECT id, CAST(SUM(CASE WHEN vote > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY id
    """,
)
def q33_simhash(spark, sf_dir):
    return simhash(_t(spark, sf_dir, "documents"), bits=32)


# -- Similarity search -----------------------------------------------------

_IVEC = "CAST(ROUND(CAST({x} AS DOUBLE) * 10000000) AS BIGINT)"


# ANN top-k three ways in one method-tagged query — the baseline and both
# scale paths over the same embeddings and the same exact integer-scaled
# cosine: 'brute' = full-scan top-20 (cosine_topk), 'lsh' = exact top-10
# restricted to the query's hyperplane sign bucket (lsh_topk — candidates
# shrink ~2^planes×), 'ivf' = coarse-quantizer cells + nprobe=2 probe
# (ivf_topk — candidates shrink to the probed cells).
@query(
    "q34_ann_topk",
    f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    z AS (
      SELECT e.vec_id, UNNEST(e.embedding) AS x, UNNEST(q.qe) AS qx
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    i AS (SELECT vec_id, {_IVEC.format(x='x')} AS ax, {_IVEC.format(x='qx')} AS bx FROM z),
    d AS (SELECT vec_id, SUM(ax * bx) AS dot, SUM(ax * ax) AS na FROM i GROUP BY 1),
    nq AS (
      SELECT SUM({_IVEC.format(x='u')} * {_IVEC.format(x='u')}) AS nqv
      FROM (SELECT UNNEST(qe) AS u FROM q)
    ),
    brute AS (
      SELECT vec_id,
             ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nqv AS DOUBLE))), 6) AS cos
      FROM d, nq
      ORDER BY cos DESC, vec_id LIMIT 20
    ),
    planes AS (
      SELECT vec_id AS plane_id, embedding AS pe FROM embeddings
      WHERE vec_id IN (1, 2, 3, 4)
    ),
    zb AS (
      SELECT e.vec_id, p.plane_id, UNNEST(e.embedding) AS x, UNNEST(p.pe) AS px
      FROM embeddings e, planes p
    ),
    db AS (
      SELECT vec_id, plane_id,
             SUM({_IVEC.format(x='x')} * {_IVEC.format(x='px')}) AS dot
      FROM zb GROUP BY 1, 2
    ),
    bucketed AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot >= 0 THEN CAST(pow(2, plane_id - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      FROM db GROUP BY vec_id
    ),
    lsh AS (
      SELECT d.vec_id,
             ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nqv AS DOUBLE))), 6) AS cos
      FROM d
      CROSS JOIN nq
      JOIN bucketed bk ON bk.vec_id = d.vec_id
      JOIN (SELECT bucket FROM bucketed WHERE vec_id = 0) qb ON bk.bucket = qb.bucket
      ORDER BY cos DESC, d.vec_id LIMIT 10
    ),
    cents AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      WHERE vec_id IN (1, 2, 3, 4, 5, 6, 7, 8)
    ),
    za AS (
      SELECT e.vec_id, c.cid, UNNEST(e.embedding) AS x, UNNEST(c.ce) AS cx
      FROM embeddings e, cents c
    ),
    scored AS (
      SELECT vec_id, cid,
             ROUND(CAST(SUM({_IVEC.format(x='x')} * {_IVEC.format(x='cx')}) AS DOUBLE)
               / (sqrt(CAST(SUM({_IVEC.format(x='x')} * {_IVEC.format(x='x')}) AS DOUBLE))
                  * sqrt(CAST(SUM({_IVEC.format(x='cx')} * {_IVEC.format(x='cx')}) AS DOUBLE))), 6) AS ccos
      FROM za GROUP BY 1, 2
    ),
    cells AS (
      SELECT vec_id, cid AS cell
      FROM (SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
            FROM scored)
      WHERE rn = 1
    ),
    probed AS (
      SELECT cid AS cell FROM scored WHERE vec_id = 0
      ORDER BY ccos DESC, cid LIMIT 2
    ),
    ivf AS (
      SELECT d.vec_id,
             ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nqv AS DOUBLE))), 6) AS cos
      FROM d
      CROSS JOIN nq
      JOIN cells c ON c.vec_id = d.vec_id
      JOIN probed p ON p.cell = c.cell
      ORDER BY cos DESC, d.vec_id LIMIT 10
    ),
    -- q8: the int8-quantized scan + exact re-rank is PINNED to reproduce
    -- the exact brute ordering, so its oracle is brute's top 10
    q8 AS (SELECT vec_id, cos FROM brute ORDER BY cos DESC, vec_id LIMIT 10)
    SELECT 'brute' AS method, vec_id, cos FROM brute
    UNION ALL SELECT 'lsh', vec_id, cos FROM lsh
    UNION ALL SELECT 'ivf', vec_id, cos FROM ivf
    UNION ALL SELECT 'q8', vec_id, cos FROM q8
    """,
)
def q34_ann_topk(spark, sf_dir):
    from workbook_exporter_fe_spark.operators.similarity import (
        cosine_topk_quantized,
        lsh_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    brute = cosine_topk(emb, query_vec_id=0, k=20).select(
        F.lit("brute").alias("method"), "vec_id", "cos"
    )
    lsh = lsh_topk(emb, plane_ids=(1, 2, 3, 4), query_vec_id=0, k=10).select(
        F.lit("lsh").alias("method"), "vec_id", "cos"
    )
    ivf = ivf_topk(
        emb, centroid_ids=(1, 2, 3, 4, 5, 6, 7, 8), query_vec_id=0, nprobe=2, k=10
    ).select(F.lit("ivf").alias("method"), "vec_id", "cos")
    q8 = cosine_topk_quantized(emb, query_vec_id=0, k=10).select(
        F.lit("q8").alias("method"), "vec_id", "cos"
    )
    return brute.unionByName(lsh).unionByName(ivf).unionByName(q8)


_BUCKET_SQL = f"""
    WITH planes AS (
      SELECT vec_id AS plane_id, embedding AS pe FROM embeddings
      WHERE vec_id IN (1, 2, 3, 4)
    ),
    zb AS (
      SELECT e.vec_id, p.plane_id, UNNEST(e.embedding) AS x, UNNEST(p.pe) AS px
      FROM embeddings e, planes p
    ),
    db AS (
      SELECT vec_id, plane_id,
             SUM({_IVEC.format(x='x')} * {_IVEC.format(x='px')}) AS dot
      FROM zb GROUP BY 1, 2
    ),
    bucketed AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot >= 0 THEN CAST(pow(2, plane_id - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      FROM db GROUP BY vec_id
    )
"""

_COS_SQL = (
    "ROUND(CAST(SUM(ax * bx) AS DOUBLE)"
    " / (sqrt(CAST(SUM(ax * ax) AS DOUBLE)) * sqrt(CAST(SUM(bx * bx) AS DOUBLE))), 6)"
)


# Dedup family #5 (brief): embedding-cosine near-dup — LSH-bucketed
# candidate pairs verified with the exact integer-scaled cosine.
@query(
    "q28_embedding_neardup",
    f"""
    {_BUCKET_SQL},
    iv AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS iv
      FROM embeddings
    ),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, ia.iv AS va, ib.iv AS vb
      FROM bucketed a
      JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      JOIN iv ia ON ia.vec_id = a.vec_id
      JOIN iv ib ON ib.vec_id = b.vec_id
    ),
    z AS (SELECT id_a, id_b, UNNEST(va) AS ax, UNNEST(vb) AS bx FROM cand),
    d AS (SELECT id_a, id_b, {_COS_SQL} AS cos FROM z GROUP BY 1, 2)
    SELECT id_a, id_b, cos, TRUE AS pca_ok FROM d WHERE cos >= 0.4
    """,
)
def q28_embedding_neardup(spark, sf_dir):
    # r4: pca_ok — per-pair envelope for the distributed PCA
    # (operators/pca.py): a FULL-RANK projection is a centering + rotation,
    # so each pair's squared Euclidean distance must be preserved; the
    # oracle emits the TRUE literal (EM/eigen math isn't SQL-replayable),
    # the Spark side re-checks it per pair on the real fitted model.
    from workbook_exporter_fe_spark.operators.pca import (
        pca_fit, pca_project,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # the pair set is tiny (near-dup survivors) and read three times
    # below (twice as join probes, once for the id set) — pin it
    pairs = embedding_neardup_pairs(
        emb, plane_ids=(1, 2, 3, 4), threshold=0.4
    ).localCheckpoint(eager=True)
    model = pca_fit(emb)
    # project ONLY the vectors the pairs reference — the fit needs the
    # full corpus (one mapInPandas pass), the check does not
    need = (
        pairs.select(F.col("id_a").alias("vec_id"))
        .union(pairs.select(F.col("id_b").alias("vec_id")))
        .distinct()
    )
    pr = pca_project(
        emb.join(F.broadcast(need), "vec_id"), model
    ).select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: x.cast("double")
        ).alias("raw"),
        "pca",
    )

    def _d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    pa = pr.select(
        F.col("vec_id").alias("id_a"), F.col("raw").alias("ra"),
        F.col("pca").alias("qa"),
    )
    pb = pr.select(
        F.col("vec_id").alias("id_b"), F.col("raw").alias("rb"),
        F.col("pca").alias("qb"),
    )
    d_raw = _d2(F.col("ra"), F.col("rb"))
    d_pca = _d2(F.col("qa"), F.col("qb"))
    return (
        pairs.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a", "id_b", "cos",
            (
                F.abs(d_pca - d_raw)
                <= F.lit(1e-6) * F.greatest(d_raw, F.lit(1.0))
            ).alias("pca_ok"),
        )
    )


# -- Text analysis ---------------------------------------------------------

# Both language-ID heuristics side by side: marker-stopword argmax
# (lang_stop) and char-trigram-profile argmax (lang_ngram); tie/no-hit
# resolution order en→fr→de→es→und mirrored exactly in SQL — PLUS the PII
# detect/redact pass (functions/textops.py PII_PATTERNS): the synthetic
# corpus carries no PII, so both sides append the SAME deterministic
# doc_id-derived PII tail (an email / phone+SSN / IPv4 by doc_id % 3)
# before detecting; patterns are in the Java-regex ∩ RE2 common subset and
# redaction is pinned by md5(redacted) — a byte-exact cross-engine check
# of match sets, ordering, and replacement.
_PII_TAIL_SQL = """
      CASE doc_id % 3
        WHEN 0 THEN ' mail ' || printf('user%d@example.com', doc_id)
        WHEN 1 THEN ' call ' || printf('%03d-555-%04d', doc_id % 1000, doc_id % 10000)
                 || ' ssn ' || printf('%03d-%02d-%04d', doc_id % 900, doc_id % 90, doc_id % 9000)
        ELSE ' host ' || printf('10.0.%d.%d', doc_id % 256, doc_id % 100)
      END
"""

@query(
    "q36_lang_id",
    f"""
    WITH pii AS (
      SELECT doc_id, text || {_PII_TAIL_SQL} AS aug
      FROM documents
    ),
    p AS (
      SELECT doc_id,
        len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_email,
        len(regexp_extract_all(aug, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b')) AS n_ssn,
        len(regexp_extract_all(aug, '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b')) AS n_phone,
        len(regexp_extract_all(aug, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS n_ipv4,
        md5(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g'),
              '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b', '<PHONE>', 'g'),
            '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g')
        ) AS redacted_md5
      FROM pii
    ),
    h AS (
      SELECT doc_id,
        len(list_filter(string_split(text,' '), w -> w IN ('the','and','of','a','is'))) AS en,
        len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les','de'))) AS fr,
        len(list_filter(string_split(text,' '), w -> w IN ('der','die','und','das','ist'))) AS de,
        len(list_filter(string_split(text,' '), w -> w IN ('el','los','y','es','que'))) AS es
      FROM documents
    ),
    tg AS (
      SELECT doc_id,
        CASE WHEN length(text) >= 3
          THEN list_transform(range(1, length(text) - 1), i -> text[i:i+2])
          ELSE [] END AS t
      FROM documents
    ),
    sc AS (
      SELECT doc_id,
        len(list_filter(t, x -> x IN ('the','he ','nd ','ing',' th'))) AS en,
        len(list_filter(t, x -> x IN ('le ','es ',' de','ent','que'))) AS fr,
        len(list_filter(t, x -> x IN ('er ','ein','ich','und','sch'))) AS de,
        len(list_filter(t, x -> x IN (' de','la ','os ','as ',' el'))) AS es
      FROM tg
    )
    SELECT h.doc_id,
           CASE WHEN greatest(h.en, h.fr, h.de, h.es) = 0 THEN 'und'
                WHEN h.en = greatest(h.en, h.fr, h.de, h.es) THEN 'en'
                WHEN h.fr = greatest(h.en, h.fr, h.de, h.es) THEN 'fr'
                WHEN h.de = greatest(h.en, h.fr, h.de, h.es) THEN 'de'
                ELSE 'es' END AS lang_stop,
           CASE WHEN greatest(sc.en, sc.fr, sc.de, sc.es) = 0 THEN 'und'
                WHEN sc.en = greatest(sc.en, sc.fr, sc.de, sc.es) THEN 'en'
                WHEN sc.fr = greatest(sc.en, sc.fr, sc.de, sc.es) THEN 'fr'
                WHEN sc.de = greatest(sc.en, sc.fr, sc.de, sc.es) THEN 'de'
                ELSE 'es' END AS lang_ngram,
           p.n_email, p.n_ssn, p.n_phone, p.n_ipv4, p.redacted_md5
    FROM h JOIN sc ON h.doc_id = sc.doc_id JOIN p ON h.doc_id = p.doc_id
    """,
)
def q36_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tail = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.format_string(" mail user%d@example.com", F.col("doc_id")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.format_string(
                    " call %03d-555-%04d",
                    F.col("doc_id") % 1000,
                    F.col("doc_id") % 10000,
                ),
                F.format_string(
                    " ssn %03d-%02d-%04d",
                    F.col("doc_id") % 900,
                    F.col("doc_id") % 90,
                    F.col("doc_id") % 9000,
                ),
            ),
        )
        .otherwise(
            F.format_string(
                " host 10.0.%d.%d", F.col("doc_id") % 256, F.col("doc_id") % 100
            )
        )
    )
    aug = F.concat(F.col("text"), tail)
    pii = textops.pii_counts(aug)
    return d.select(
        "doc_id",
        textops.lang_id(F.col("text")).alias("lang_stop"),
        textops.lang_id_ngram("text").alias("lang_ngram"),
        pii["n_email"].alias("n_email"),
        pii["n_ssn"].alias("n_ssn"),
        pii["n_phone"].alias("n_phone"),
        pii["n_ipv4"].alias("n_ipv4"),
        F.md5(textops.redact_pii(aug)).alias("redacted_md5"),
    )


# Full per-document text-metrics projection: quality signals + BPE-ish
# token count + min-hash winnowing fingerprint + Gopher-style repetition
# ratios (functions/textops.py repetition_features) — all pure Column exprs
# in one scan-stage pass (the natural shape at corpus scale: one projection
# computes every per-doc signal) — PLUS the benchmark-decontamination
# signal (operators/decontam.py): bench = the deterministic md5-bucket
# 1/16th of documents, every other doc is probed for shared word 8-grams
# via the broadcast distinct-gram semi-join and annotated with its hit
# count. DuckDB replicates the gram semantics on raw strings (the Spark
# side compares 60-bit md5-derived gram hashes — same hit set).
@query(
    "q37_text_metrics",
    """
    WITH f AS (
      SELECT doc_id, text, length(text) AS n_chars,
             len(string_split(text, ' ')) AS n_tokens_ws,
             ROUND(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS avg_token_len,
             ROUND(CAST(len(list_filter(string_split(text,' '),
               w -> w IN ('the','a','an','and','of','to','in','is','on','for'))) AS DOUBLE)
               / len(string_split(text,' ')), 6) AS stopword_ratio,
             ROUND(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
               / length(text), 6) AS punct_ratio,
             len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')) AS n_bpe,
             string_split(text, ' ') AS ws,
             list_filter(string_split(text, ' '), w -> w <> '') AS wz
      FROM documents
    ),
    g AS (
      SELECT doc_id, UNNEST(list_transform(range(1, len(ws) - 6),
                                           i -> array_to_string(ws[i:i+7], ' '))) AS gram
      FROM f WHERE len(ws) >= 8
    ),
    bench AS (
      SELECT DISTINCT gram FROM g
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
    ),
    hits AS (
      SELECT g.doc_id, COUNT(*) AS n_hits
      FROM g JOIN bench USING (gram)
      WHERE substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 1) <> '0'
      GROUP BY g.doc_id
    ),
    lm AS (
      SELECT word, COUNT(*) AS c
      FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word
    ),
    st AS (SELECT SUM(c) AS T, COUNT(*) AS V FROM lm),
    xe AS (
      SELECT doc_id,
             ROUND(-CAST(SUM(CAST(ROUND(ln((c + 1.0) / (T + 1.0 * V)), 6)
                                  AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*), 6) AS xent
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
            FROM documents) tk
      JOIN lm USING (word) CROSS JOIN st
      GROUP BY doc_id
    ),
    bgt AS (
      SELECT doc_id, ws[i] AS v, ws[i + 1] AS w
      FROM f, UNNEST(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2
    ),
    bigc AS (SELECT v, w, COUNT(*) AS c_vw FROM bgt GROUP BY 1, 2),
    ctx AS (SELECT v, SUM(c_vw) AS c_v, COUNT(*) AS n1p_v FROM bigc GROUP BY 1),
    cont AS (SELECT w, COUNT(*) AS r_w FROM bigc GROUP BY 1),
    btot2 AS (SELECT COUNT(*) AS nbt, COUNT(DISTINCT w) AS vc FROM bigc),
    xe2 AS (
      SELECT doc_id, COUNT(*) AS n_big,
             ROUND(-CAST(SUM(CAST(ROUND(ln(
                 CASE WHEN c_v IS NOT NULL THEN
                   (greatest(COALESCE(c_vw, 0) - 0.75, 0.0)
                    + (0.75 * n1p_v)
                      * ((COALESCE(r_w, 0) + 1.0) / (nbt + 1.0 * vc)))
                   / c_v
                 ELSE (COALESCE(r_w, 0) + 1.0) / (nbt + 1.0 * vc) END
               ), 6) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS xent2
      FROM bgt
      LEFT JOIN bigc USING (v, w)
      LEFT JOIN ctx USING (v)
      LEFT JOIN cont USING (w)
      CROSS JOIN btot2
      GROUP BY doc_id
    )
    SELECT f.doc_id, n_chars, n_tokens_ws, avg_token_len, stopword_ratio, punct_ratio,
           ROUND(least(CAST(n_tokens_ws AS DOUBLE) / 50.0, 1.0) * 0.4
                 + CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 8.0 THEN 0.3 ELSE 0.0 END
                 + least(stopword_ratio * 3.0, 0.3), 6) AS quality_score,
           n_bpe,
           CASE WHEN len(ws) >= 5 THEN
             (SELECT MIN(md5(s)) FROM UNNEST(list_transform(range(1, len(ws) - 3),
                i -> array_to_string(ws[i:i+4], ' '))) AS t(s))
           ELSE md5(text) END AS fingerprint,
           ROUND(CASE WHEN len(wz) > 0
                 THEN CAST(len(wz) - len(list_distinct(wz)) AS DOUBLE) / len(wz)
                 ELSE 0.0 END, 6) AS dup_word_ratio,
           ROUND(CASE WHEN len(wz) >= 2 THEN
                   (SELECT CAST(COUNT(*) - COUNT(DISTINCT s) AS DOUBLE) / COUNT(*)
                    FROM UNNEST(list_transform(range(1, len(wz)),
                                i -> array_to_string(wz[i:i+1], ' '))) AS t(s))
                 ELSE 0.0 END, 6) AS dup_2gram_ratio,
           ROUND(CASE WHEN len(wz) >= 3 THEN
                   (SELECT CAST(COUNT(*) - COUNT(DISTINCT s) AS DOUBLE) / COUNT(*)
                    FROM UNNEST(list_transform(range(1, len(wz) - 1),
                                i -> array_to_string(wz[i:i+2], ' '))) AS t(s))
                 ELSE 0.0 END, 6) AS dup_3gram_ratio,
           ROUND(CASE WHEN len(wz) > 0
                 THEN CAST(list_max(list_transform(list_distinct(wz),
                        u -> len(list_filter(wz, x -> x = u)))) AS DOUBLE) / len(wz)
                 ELSE 0.0 END, 6) AS top_word_ratio,
           substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 1) = '0' AS is_bench,
           COALESCE(hits.n_hits, 0) AS n_contam_hits,
           xe.xent,
           COALESCE(xe2.n_big, 0) AS n_big,
           xe2.xent2
    FROM f LEFT JOIN hits ON f.doc_id = hits.doc_id
           JOIN xe ON f.doc_id = xe.doc_id
           LEFT JOIN xe2 ON f.doc_id = xe2.doc_id
    """,
)
def q37_text_metrics(spark, sf_dir):
    from workbook_exporter_fe_spark.operators.lm import (
        doc_cross_entropy, doc_cross_entropy_bigram,
    )

    d = _t(spark, sf_dir, "documents")
    feats = textops.quality_features(F.col("text"))
    reps = textops.repetition_features(F.col("text"))
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    hits = contaminated_docs(
        d.filter(~is_bench), d.filter(is_bench), k=8, hash_fn="md5"
    )
    xent = doc_cross_entropy(d, k=1.0).select("doc_id", "xent")
    xent2 = doc_cross_entropy_bigram(d, discount=0.75, k=1.0)
    return (
        d.join(F.broadcast(hits), "doc_id", "left")
        .join(xent, "doc_id")
        .join(xent2, "doc_id", "left")
        .select(
            "doc_id",
            *[c.alias(name) for name, c in feats.items()],
            textops.token_count_bpe(F.col("text")).alias("n_bpe"),
            textops.fingerprint(F.col("text"), k=5).alias("fingerprint"),
            *[c.alias(name) for name, c in reps.items()],
            is_bench.alias("is_bench"),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_contam_hits"),
            "xent",
            F.coalesce(F.col("n_big"), F.lit(0)).alias("n_big"),
            "xent2",
        )
    )


# Token-histogram analog over the documents table: the flat (source, token,
# n) form of a per-bucket tok_hist map column (its oracle-able projection),
# UNION-TAGGED with the vocab bigram analytics (operators/vocab.py
# token_bigram_counts — packed-int64 shuffle keys) over a deterministic
# engine-portable tokenization: token id = first 7 hex chars of md5(word)
# (28-bit non-negative int32, derivable identically in DuckDB — no shared
# vocab table or RNG needed).
@query(
    "q25_word_histogram",
    """
    WITH uni AS (
      SELECT source, word, COUNT(*) AS n
      FROM (SELECT source, UNNEST(string_split(text, ' ')) AS word FROM documents)
      GROUP BY source, word
    ), tok AS (
      SELECT doc_id, source,
             list_transform(string_split(text, ' '),
                            w -> CAST(('0x' || substr(md5(w), 1, 7)) AS BIGINT)) AS toks
      FROM documents
    ), bg AS (
      SELECT source,
             CAST(toks[i] AS INTEGER) AS gram_a,
             CAST(toks[i + 1] AS INTEGER) AS gram_b,
             COUNT(*) AS n
      FROM tok, UNNEST(range(1, len(toks))) AS t(i)
      GROUP BY 1, 2, 3
    ), lmar AS (
      SELECT source, gram_a, SUM(n) AS c_a FROM bg GROUP BY 1, 2
    ), rmar AS (
      SELECT source, gram_b, SUM(n) AS c_b FROM bg GROUP BY 1, 2
    ), btot AS (
      SELECT source, SUM(n) AS N FROM bg GROUP BY 1
    ), gvocab AS (
      SELECT word, SUM(n) AS gn FROM uni GROUP BY 1
    ), dconsts AS (
      SELECT COUNT(*) AS v, SUM(gn) AS qtot FROM gvocab
    ), ptots AS (
      SELECT source, SUM(n) AS ptot FROM uni GROUP BY 1
    ), dgrid AS (
      SELECT p.source, g.word, COALESCE(u.n, 0) AS pn, g.gn,
             p.ptot, c.v, c.qtot
      FROM ptots p
      CROSS JOIN gvocab g
      CROSS JOIN dconsts c
      LEFT JOIN uni u ON u.source = p.source AND u.word = g.word
    ), dterms AS (
      SELECT source, pn,
             (pn + 0.5) / (ptot + 0.5 * v) AS pp,
             (gn + 0.5) / (qtot + 0.5 * v) AS qq
      FROM dgrid
    ), dm AS (
      SELECT source,
             SUM(pp * ln(pp / qq)) AS kl_div,
             SUM(0.5 * pp * ln(2 * pp / (pp + qq))
                 + 0.5 * qq * ln(2 * qq / (pp + qq))) AS js_div,
             SUM((pp - qq) * ln(pp / qq)) AS psi,
             SUM(0.5 * abs(pp - qq)) AS tvd,
             COUNT(*) AS n_union,
             SUM(CASE WHEN pn = 0 THEN 1 ELSE 0 END) AS n_only_base
      FROM dterms GROUP BY 1
    ), tokocc AS (
      -- vocab growth / churn: deterministic day bucket from doc_id so the
      -- documents table stands in for a dated ingest stream
      SELECT source,
             CAST('2024-01-01' AS TIMESTAMP) + to_days(CAST(doc_id % 7 AS INT))
               AS bucket_ts,
             UNNEST(toks) AS token
      FROM tok
    ), firstseen AS (
      SELECT token, MIN(bucket_ts) AS first_ts FROM tokocc GROUP BY 1
    ), vgc AS (
      SELECT bucket_ts, new_tokens,
             SUM(new_tokens) OVER (ORDER BY bucket_ts) AS vocab_size
      FROM (SELECT first_ts AS bucket_ts, COUNT(*) AS new_tokens
            FROM firstseen GROUP BY 1)
    ), ntr AS (
      SELECT o.source, o.bucket_ts,
             CAST(SUM(CASE WHEN f.first_ts = o.bucket_ts THEN 1 ELSE 0 END)
                  AS BIGINT) AS new_occ,
             COUNT(*) AS total_occ
      FROM tokocc o JOIN firstseen f USING (token)
      GROUP BY 1, 2
    )
    SELECT 'uni' AS kind, source, word,
           CAST(NULL AS INTEGER) AS gram_a, CAST(NULL AS INTEGER) AS gram_b, n,
           CAST(NULL AS DOUBLE) AS pmi
    FROM uni
    UNION ALL
    SELECT 'bi' AS kind, source, CAST(NULL AS VARCHAR) AS word,
           gram_a, gram_b, n, CAST(NULL AS DOUBLE)
    FROM bg
    UNION ALL
    SELECT 'df' AS kind, CAST(NULL AS VARCHAR) AS source, word,
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), COUNT(*) AS n,
           CAST(NULL AS DOUBLE)
    FROM (SELECT DISTINCT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS word
          FROM documents)
    GROUP BY word
    UNION ALL
    SELECT 'pmi' AS kind, bg.source, CAST(NULL AS VARCHAR),
           bg.gram_a, bg.gram_b, bg.n,
           ROUND(ln(CAST(bg.n AS DOUBLE) * CAST(btot.N AS DOUBLE)
                    / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 6) + 0.0
    FROM bg JOIN lmar USING (source, gram_a) JOIN rmar USING (source, gram_b)
            JOIN btot USING (source)
    WHERE bg.n >= 5
    UNION ALL
    SELECT 'drift', source, 'kl_div', CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           ROUND(kl_div, 6) + 0.0 FROM dm
    UNION ALL
    SELECT 'drift', source, 'js_div', CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           ROUND(js_div, 6) + 0.0 FROM dm
    UNION ALL
    SELECT 'drift', source, 'psi', CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           ROUND(psi, 6) + 0.0 FROM dm
    UNION ALL
    SELECT 'drift', source, 'tvd', CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           ROUND(tvd, 6) + 0.0 FROM dm
    UNION ALL
    SELECT 'drift', source, 'n_union', CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), n_union, CAST(NULL AS DOUBLE) FROM dm
    UNION ALL
    SELECT 'drift', source, 'n_only_cur', CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)
    FROM dm
    UNION ALL
    SELECT 'drift', source, 'n_only_base', CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), n_only_base, CAST(NULL AS DOUBLE) FROM dm
    UNION ALL
    SELECT 'vg', CAST(NULL AS VARCHAR),
           strftime(bucket_ts, '%Y-%m-%d %H:%M:%S'),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), new_tokens,
           CAST(vocab_size AS DOUBLE) FROM vgc
    UNION ALL
    SELECT 'ntr', source,
           strftime(bucket_ts, '%Y-%m-%d %H:%M:%S') || '|new',
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), new_occ,
           ROUND(CAST(new_occ AS DOUBLE) / total_occ, 6) FROM ntr
    UNION ALL
    SELECT 'ntr', source,
           strftime(bucket_ts, '%Y-%m-%d %H:%M:%S') || '|tot',
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), total_occ,
           CAST(NULL AS DOUBLE) FROM ntr
    """,
)
def q25_word_histogram(spark, sf_dir):
    from workbook_exporter_fe_spark.operators.vocab import (
        bigram_pmi,
        token_bigram_counts,
    )

    d = _t(spark, sf_dir, "documents")
    nodbl = F.lit(None).cast("double").alias("pmi")
    uni = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("uni").alias("kind"),
            "source",
            "word",
            F.lit(None).cast("int").alias("gram_a"),
            F.lit(None).cast("int").alias("gram_b"),
            "n",
            nodbl,
        )
    )
    toks = F.expr(
        "transform(split(text, ' '), "
        "w -> cast(conv(substring(md5(w), 1, 7), 16, 10) as int))"
    )
    tokrel = d.select("source", toks.alias("tokens"))
    bg_counts = token_bigram_counts(tokrel)
    bi = bg_counts.select(
        F.lit("bi").alias("kind"),
        "source",
        F.lit(None).cast("string").alias("word"),
        "gram_a",
        "gram_b",
        "n",
        nodbl,
    )
    from workbook_exporter_fe_spark.operators.relevance import doc_freqs

    df = doc_freqs(d).select(
        F.lit("df").alias("kind"),
        F.lit(None).cast("string").alias("source"),
        "word",
        F.lit(None).cast("int").alias("gram_a"),
        F.lit(None).cast("int").alias("gram_b"),
        F.col("df").alias("n"),
        nodbl,
    )
    pmi = bigram_pmi(min_count=5, counts=bg_counts).select(
        F.lit("pmi").alias("kind"),
        "source",
        F.lit(None).cast("string").alias("word"),
        "gram_a",
        "gram_b",
        "n",
        "pmi",
    )
    # drift family (operators/drift.py): each source's word distribution
    # vs the corpus-global distribution, through the REAL histogram_drift
    # operator (per-row HOF folds over map columns). Floats round to 6
    # like the pmi rows (fold-vs-SQL sum order differs at ~1e-14, far
    # inside the rounding); support counts are exact integers.
    from workbook_exporter_fe_spark.operators.drift import histogram_drift

    wc = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("n"))
    )
    as_map = F.map_from_entries(
        F.sort_array(F.collect_list(F.struct("word", "n")))
    )
    cur = wc.groupBy("source").agg(as_map.alias("hist")).withColumn(
        "_k", F.lit(1)
    )
    base = (
        wc.groupBy("word")
        .agg(F.sum("n").alias("n"))
        .agg(as_map.alias("ghist"))
        .withColumn("_k", F.lit(1))
    )
    dr = histogram_drift(
        cur, base, keys=["_k"], hist_col="hist", base_hist_col="ghist",
        eps=0.5,
    )
    noint = F.lit(None).cast("int")
    drift_rows = None
    for metric, is_float in (
        ("kl_div", True), ("js_div", True), ("psi", True), ("tvd", True),
        ("n_union", False), ("n_only_cur", False), ("n_only_base", False),
    ):
        row = dr.select(
            F.lit("drift").alias("kind"),
            "source",
            F.lit(metric).alias("word"),
            noint.alias("gram_a"),
            noint.alias("gram_b"),
            (
                F.lit(None).cast("long") if is_float
                else F.col(metric).cast("long")
            ).alias("n"),
            (
                (F.round(F.col(metric), 6) + F.lit(0.0)) if is_float
                else F.lit(None).cast("double")
            ).alias("pmi"),
        )
        drift_rows = row if drift_rows is None else drift_rows.unionByName(row)
    # vocab growth / churn family (operators/vocab.py vocab_growth +
    # new_token_rate) — documents stand in for a dated ingest stream via a
    # deterministic doc_id%7 day bucket, mirrored exactly in the oracle.
    from workbook_exporter_fe_spark.operators.vocab import (
        new_token_rate,
        vocab_growth,
    )

    ev = d.select(
        "source",
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("doc_id") % 7).cast("int")
        )
        .cast("timestamp")
        .alias("event_ts"),
        toks.alias("tokens"),
    )
    bstr = F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss")
    vg = vocab_growth(ev, tier="1d").select(
        F.lit("vg").alias("kind"),
        F.lit(None).cast("string").alias("source"),
        bstr.alias("word"),
        noint.alias("gram_a"),
        noint.alias("gram_b"),
        F.col("new_tokens").alias("n"),
        F.col("vocab_size").cast("double").alias("pmi"),
    )
    ntr = new_token_rate(ev, tier="1d")
    ntr_new = ntr.select(
        F.lit("ntr").alias("kind"),
        "source",
        F.concat(bstr, F.lit("|new")).alias("word"),
        noint.alias("gram_a"),
        noint.alias("gram_b"),
        F.col("new_occ").alias("n"),
        F.col("new_rate").alias("pmi"),
    )
    ntr_tot = ntr.select(
        F.lit("ntr").alias("kind"),
        "source",
        F.concat(bstr, F.lit("|tot")).alias("word"),
        noint.alias("gram_a"),
        noint.alias("gram_b"),
        F.col("total_occ").alias("n"),
        nodbl,
    )
    return (
        uni.unionByName(bi).unionByName(df).unionByName(pmi)
        .unionByName(drift_rows)
        .unionByName(vg).unionByName(ntr_new).unionByName(ntr_tot)
    )


# -- Multimodal: REAL pure-numpy decodes (PPM / WAV / RVID), fully
# hash-oracled (upgraded from rows-only in r3). gen_media writes genuine
# format payloads whose decoded content is a closed-form ramp of the media
# id, so the oracle derives every decoded dimension and content checksum
# ARITHMETICALLY (cyclic-sum closed forms) while Spark actually parses
# headers and decodes bytes inside mapInPandas — decode bugs on either
# side break the hash.

@query(
    "q52_multimodal",
    """
    WITH ids AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 300) t(i)),
    im AS (
      SELECT i, 3 * (i % 5 + 2) * (i % 4 + 2) AS L, (i + 7) % 256 AS s,
             256 AS m, CAST(0 AS BIGINT) AS offs,
             CAST(NULL AS INTEGER) AS frame_idx, 'image' AS kind
      FROM ids WHERE i % 3 = 0
    ),
    au AS (
      SELECT i, i % 50 + 10 AS L, (i + 7) % 2001 AS s,
             2001 AS m, CAST(-1000 * (i % 50 + 10) AS BIGINT) AS offs,
             CAST(NULL AS INTEGER) AS frame_idx, 'audio' AS kind
      FROM ids WHERE i % 3 = 1
    ),
    vf AS (
      SELECT i, (i % 6 + 2) * (i % 5 + 2) AS L,
             (i + 7 + f * 13) % 256 AS s, 256 AS m, CAST(0 AS BIGINT) AS offs,
             CAST(f AS INTEGER) AS frame_idx, 'video' AS kind
      FROM (SELECT i, UNNEST(range(0, (i % 90) + 1, 30)) AS f
            FROM ids WHERE i % 3 = 2)
    ),
    allrows AS (
      SELECT * FROM im UNION ALL SELECT * FROM au UNION ALL SELECT * FROM vf
    ),
    -- motion energy replay: consecutive-frame pixel diff is +13 mod 256,
    -- i.e. |diff| = 13 except the wrap pixels (value >= 243) where it is
    -- 243; wrap count per frame = overlap of the ramp interval with
    -- [243, 256)
    mv AS (
      SELECT i, CAST(13 * L * (nf - 1) + 230 * SUM(
               GREATEST(0, LEAST(((i + 7 + 13 * f) % 256) + L, 256)
                           - GREATEST((i + 7 + 13 * f) % 256, 243))
             ) AS BIGINT) AS motion_sum
      FROM (
        SELECT i, (i % 6 + 2) * (i % 5 + 2) AS L, i % 90 + 1 AS nf,
               UNNEST(range(0, i % 90)) AS f
        FROM ids WHERE i % 3 = 2
      )
      GROUP BY i, L, nf
    )
    SELECT printf('media-%09d', i) AS media_id, kind, frame_idx,
           CAST(L AS INTEGER) AS n_vals,
           CAST(CASE WHEN s + L <= m THEN L * s + L * (L - 1) // 2
                     ELSE (m - s) * s + (m - s) * (m - s - 1) // 2
                          + (L - (m - s)) * (L - (m - s) - 1) // 2
                END + offs AS BIGINT) AS val_sum,
           CASE WHEN kind = 'audio' THEN CAST(L // 8 AS INTEGER) END
             AS spec_frames,
           CASE WHEN kind = 'audio' THEN TRUE END AS spec_ok,
           CASE WHEN kind = 'image' THEN TRUE END AS phash_ok,
           CASE WHEN kind = 'video'
                THEN COALESCE(mv.motion_sum, 0) END AS motion_sum
    FROM allrows LEFT JOIN mv USING (i)
    """,
)
def q52_multimodal(spark, sf_dir):
    """Feature extraction (image/audio, with decode checksums) + video
    frame sampling union-tagged into one scalar-column result. Both
    mapInPandas pipelines decode REAL formats; the checksum columns
    (n_vals = decoded value count, val_sum = exact int64 content sum) are
    what the closed-form oracle reproduces."""
    from workbook_exporter_fe_spark.operators.multimodal import (
        extract_features,
        gen_media,
        sample_frames,
    )

    from workbook_exporter_fe_spark.operators.multimodal import (
        audio_spectral,
        phash_images,
        video_motion,
    )

    media = gen_media(spark, 300, seed=7)
    # r4: STFT analysis of the decoded audio — spec_frames is the exact
    # closed-form frame count (n_samples // n_fft, SQL-replayable), and
    # spec_ok is the per-row Parseval envelope tying the FFT back to the
    # decoded samples (TRUE literal oracle-side)
    spec = audio_spectral(media, n_fft=8).select(
        "media_id", "spec_frames", "spec_ok"
    )
    # r4: pHash (DCT perceptual hash) with the upscale-invariance
    # envelope — real 2x-repeat re-decode + re-hash per image row
    pimg = (
        phash_images(media, stability_check=True)
        .select("media_id", F.col("stable").alias("phash_ok"))
        .distinct()
    )
    feats = (
        extract_features(media, with_stats=True)
        .join(spec, "media_id", "left")
        .join(pimg, "media_id", "left")
        .select(
            "media_id",
            "kind",
            F.lit(None).cast("int").alias("frame_idx"),
            "n_vals",
            "val_sum",
            "spec_frames",
            "spec_ok",
            "phash_ok",
            F.lit(None).cast("bigint").alias("motion_sum"),
        )
    )
    # r4: temporal motion energy — exact int64 Σ|frame diff|, replayed
    # closed-form by the oracle (13 everywhere except the 243-valued
    # mod-256 wrap pixels)
    motion = video_motion(media).select("media_id", "motion_sum")
    frames = (
        sample_frames(media, every_n=30, with_stats=True)
        .join(motion, "media_id", "left")
        .select(
            "media_id",
            F.lit("video").alias("kind"),
            F.col("frame_idx").cast("int").alias("frame_idx"),
            "n_vals",
            "val_sum",
            F.lit(None).cast("int").alias("spec_frames"),
            F.lit(None).cast("boolean").alias("spec_ok"),
            F.lit(None).cast("boolean").alias("phash_ok"),
            "motion_sum",
        )
    )
    return feats.unionByName(frames)


# -- Sampling + packing ----------------------------------------------------

# Deterministic hash-gated downsample + train/val/test split in one query
# (reproducible across cluster sizes, partition layouts, and engines —
# unlike RNG df.sample()): per split, total rows, min key, how many
# survive the 25% sample gate, PLUS (folded r3) the weighted sampling
# family: per-stratum stratified-gate survivors (stratified_sample —
# pure-integer md5 gates, exact) and the Efraimidis–Spirakis weighted
# top-k sample (sample_topk, weight = n_chars; selection summarised as
# count + doc_id sum + min exponential-sort key, the es formula mirrored
# verbatim in SQL — same IEEE -ln/÷ chain on identical int inputs), and
# (folded later in r3) the token-budget mixture fill (mixture_sample —
# per-split greedy md5-order fill, exact integer count + token sum).
@query(
    "q54_sample_split",
    """
    WITH s AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS h,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h52
      FROM documents
    ),
    sp AS (
      SELECT doc_id, n_chars, h,
             -LN((h52 + 1.0) / 4503599627370496.0) / n_chars AS es,
             CASE WHEN h < 58982 THEN 'train'
                  WHEN h < 62259 THEN 'val'
                  ELSE 'test' END AS split
      FROM s
    ),
    es_pick AS (
      SELECT split, doc_id, es,
             ROW_NUMBER() OVER (PARTITION BY split ORDER BY es, doc_id) AS rn
      FROM sp
    ),
    es_agg AS (
      SELECT split, COUNT(*) AS es_n, CAST(SUM(doc_id) AS BIGINT) AS es_id_sum,
             ROUND(MIN(es), 6) AS es_min
      FROM es_pick WHERE rn <= 5 GROUP BY split
    ),
    strat AS (
      SELECT split, COUNT(*) AS n_strat
      FROM sp
      WHERE h < CASE split WHEN 'train' THEN 32768
                           WHEN 'val' THEN 16384
                           ELSE 8192 END
      GROUP BY split
    ),
    mix AS (
      SELECT split, COUNT(*) AS mix_n, CAST(SUM(n_chars) AS BIGINT) AS mix_tok
      FROM (
        SELECT split, n_chars,
               COALESCE(SUM(n_chars) OVER (
                 PARTITION BY split
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cb
        FROM sp
      )
      WHERE cb < CASE split WHEN 'train' THEN 20000
                            WHEN 'val' THEN 2000
                            ELSE 1000 END
      GROUP BY split
    ),
    -- epoch-repeat oversampling replay: replicas = ceil(budget / corpus
    -- tokens), selection order (epoch, md5(id), id), first-crossing
    mo_rep AS (
      SELECT sp.split, sp.n_chars, sp.doc_id, u.i AS mix_epoch, b.bud
      FROM sp
      JOIN (SELECT split, CAST(SUM(n_chars) AS BIGINT) AS tot
            FROM sp GROUP BY 1) tt USING (split)
      JOIN (VALUES ('train', 6000000), ('val', 600000),
                   ('test', 300000)) b(split, bud) USING (split),
           UNNEST(range(CAST(CEIL(CAST(b.bud AS DOUBLE) / tt.tot) AS INT)))
             AS u(i)
    ),
    mixo AS (
      SELECT split, COUNT(*) AS mo_n, CAST(SUM(n_chars) AS BIGINT) AS mo_tok,
             CAST(MAX(mix_epoch) AS BIGINT) AS mo_epochs
      FROM (
        SELECT split, n_chars, mix_epoch, bud,
               COALESCE(SUM(n_chars) OVER (
                 PARTITION BY split
                 ORDER BY mix_epoch, md5(CAST(doc_id AS VARCHAR)), doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cb
        FROM mo_rep
      )
      WHERE cb < bud
      GROUP BY split
    )
    SELECT sp.split, COUNT(*) AS n, MIN(sp.doc_id) AS min_id,
           COUNT(*) FILTER (WHERE sp.h < 16384) AS n_sampled,
           COALESCE(ANY_VALUE(strat.n_strat), 0) AS n_strat,
           ANY_VALUE(es_agg.es_n) AS es_n,
           ANY_VALUE(es_agg.es_id_sum) AS es_id_sum,
           ANY_VALUE(es_agg.es_min) AS es_min,
           COALESCE(ANY_VALUE(mix.mix_n), 0) AS mix_n,
           COALESCE(ANY_VALUE(mix.mix_tok), 0) AS mix_tok,
           COALESCE(ANY_VALUE(mixo.mo_n), 0) AS mo_n,
           COALESCE(ANY_VALUE(mixo.mo_tok), 0) AS mo_tok,
           COALESCE(ANY_VALUE(mixo.mo_epochs), 0) AS mo_epochs
    FROM sp
    LEFT JOIN strat ON sp.split = strat.split
    LEFT JOIN es_agg ON sp.split = es_agg.split
    LEFT JOIN mix ON sp.split = mix.split
    LEFT JOIN mixo ON sp.split = mixo.split
    GROUP BY sp.split
    """,
)
def q54_sample_split(spark, sf_dir):
    from workbook_exporter_fe_spark.operators.sampling import (
        hash_sample,
        hash_split,
        mixture_sample,
        sample_topk,
        stratified_sample,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sp = hash_split(d, weights={"train": 0.9, "val": 0.05, "test": 0.05})
    totals = sp.groupBy("split").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("min_id")
    )
    sampled = hash_sample(sp, rate=0.25).groupBy("split").agg(
        F.count("*").alias("n_sampled")
    )
    strat = stratified_sample(
        sp,
        fractions={"train": 0.5, "val": 0.25, "test": 0.125},
        strata_col="split",
    ).groupBy("split").agg(F.count("*").alias("n_strat"))
    # the es sort key, recomputed here only for the min-key summary column
    # (sample_topk drops its internal _es)
    h52 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("long")
    es = -F.log((h52 + F.lit(1).cast("double")) / F.lit(float(1 << 52))) / F.col(
        "n_chars"
    )
    es5 = sample_topk(
        sp, k=5, strata_col="split", weight_col="n_chars", key_col="doc_id"
    )
    es_agg = (
        es5.withColumn("_es", es)
        .groupBy("split")
        .agg(
            F.count("*").alias("es_n"),
            F.sum("doc_id").alias("es_id_sum"),
            F.round(F.min("_es"), 6).alias("es_min"),
        )
    )
    # token-budget mixture fill (mixture_sample) with split as the
    # mixture stratum: exact greedy md5-order fill to per-split char
    # budgets, summarized as selected-count + selected-token-sum
    mix = (
        mixture_sample(
            sp, {"train": 20000, "val": 2000, "test": 1000},
            token_col="n_chars", source_col="split",
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("mix_n"),
            F.sum("n_chars").alias("mix_tok"),
        )
    )
    # r4: epoch-repeat oversampling (mixture_oversample) — budgets set
    # ABOVE each split's corpus at the gate's sf so small strata replay
    # across epochs; summarized as selected count / token sum / max epoch
    from workbook_exporter_fe_spark.operators.sampling import (
        mixture_oversample,
    )

    mixo = (
        mixture_oversample(
            sp, {"train": 6_000_000, "val": 600_000, "test": 300_000},
            token_col="n_chars", source_col="split",
            # gate budgets sit far above the sf0.01 corpus by design;
            # opt past the fat-finger guard explicitly
            max_epochs=100_000,
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("mo_n"),
            F.sum("n_chars").alias("mo_tok"),
            F.max("mix_epoch").cast("long").alias("mo_epochs"),
        )
    )
    return (
        totals.join(sampled, "split", "left")
        .join(strat, "split", "left")
        .join(es_agg, "split", "left")
        .join(mix, "split", "left")
        .join(mixo, "split", "left")
        .withColumn("n_sampled", F.coalesce(F.col("n_sampled"), F.lit(0)))
        .withColumn("n_strat", F.coalesce(F.col("n_strat"), F.lit(0)))
        .withColumn("mix_n", F.coalesce(F.col("mix_n"), F.lit(0)))
        .withColumn("mix_tok", F.coalesce(F.col("mix_tok"), F.lit(0)))
        .withColumn("mo_n", F.coalesce(F.col("mo_n"), F.lit(0)))
        .withColumn("mo_tok", F.coalesce(F.col("mo_tok"), F.lit(0)))
        .withColumn("mo_epochs", F.coalesce(F.col("mo_epochs"), F.lit(0)))
    )


# GPT-style sequence packing: chunk the per-source doc concatenation into
# capacity-4096 training examples (weight = n_chars on the driver table;
# the engine's sequences table uses n_tok through the same operator) —
# PLUS the distributed BPE tokenizer (operators/bpe.py): merges trained on
# the deterministic doc_id%20 subset, every doc encoded under the learned
# ranks inside the Arrow kernel, and the textbook invariants emitted as a
# hash-checked boolean (oracle: TRUE) — token concatenation reconstructs
# the text and every multi-char token is a learned merge product. The
# merge SEQUENCE itself is pinned merge-for-merge against a pure-python
# Sennrich reference in tests/test_bpe.py (iterative training is the
# sanctioned non-SQL-expressible part).
@query(
    "q55_sequence_packing",
    """
    SELECT source, doc_id, n_chars,
           CAST((cum - n_chars) // 4096 AS BIGINT) AS pack_id,
           CAST((cum - n_chars) % 4096 AS BIGINT) AS pack_offset,
           TRUE AS bpe_ok,
           TRUE AS ut_ok
    FROM (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents
    )
    """,
)
def q55_sequence_packing(spark, sf_dir):
    from workbook_exporter_fe_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
        word_freqs,
    )
    from workbook_exporter_fe_spark.operators.sampling import pack_greedy

    d = _t(spark, sf_dir, "documents")
    packed = pack_greedy(
        d, capacity=4096, weight_col="n_chars", carry_cols=("text",)
    )
    merges = bpe_train(
        word_freqs(d.filter(F.col("doc_id") % 20 == 0)), n_merges=6
    )
    vocab = F.array(*[F.lit(a + b) for a, b in merges]) if merges else F.array(
        F.lit("")
    )
    enc = bpe_encode(packed, merges, text_col="text")
    ok = (
        F.concat_ws("", F.col("bpe_tokens"))
        == F.regexp_replace(F.col("text"), " ", "")
    ) & F.forall(
        F.col("bpe_tokens"),
        lambda t: (F.length(t) == 1) | F.array_contains(vocab, t),
    )
    # r4: the second tokenizer family — unigram-LM (SentencePiece-style)
    # trained on the same held-out slice, Viterbi-encoded over the packed
    # docs; ut_ok pins the Spark plumbing (round-trip + vocab membership)
    # as a TRUE-envelope, the sanctioned shape for EM-trained models the
    # oracle engine cannot reproduce
    from workbook_exporter_fe_spark.operators.unigram import (
        unigram_encode, unigram_train,
    )

    model = unigram_train(
        word_freqs(d.filter(F.col("doc_id") % 40 == 0)),
        vocab_size=150, max_piece_len=4, seed_size=800,
        em_iters=1, max_rounds=2,
    )
    ut_vocab = F.array(*[F.lit(p) for p in sorted(model) if len(p) >= 2])
    enc = unigram_encode(enc, model, text_col="text")
    ut_ok = (
        F.concat_ws("", F.col("ut_tokens"))
        == F.regexp_replace(F.col("text"), " ", "")
    ) & F.forall(
        F.col("ut_tokens"),
        lambda t: (F.length(t) == 1) | F.array_contains(ut_vocab, t),
    )
    return enc.select(
        "source",
        "doc_id",
        "n_chars",
        "pack_id",
        "pack_offset",
        ok.alias("bpe_ok"),
        ut_ok.alias("ut_ok"),
    )


