"""Vocabulary analytics: n-gram counts, first-seen, growth, new-token rate.

Oracles: DuckDB list/unnest SQL over the same synthetic sequences
(exact).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.vocab import (
    new_token_rate,
    token_bigram_counts,
    vocab_first_seen,
    vocab_growth,
)


# pandas object columns of lists register as VARCHAR in DuckDB; stage the
# token arrays through parquet so the list<int> type survives.
@pytest.fixture(scope="module")
def duck_seq(sequences, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("duck") / "seq")
    sequences.select("doc_id", "tokens", "source").write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW seq AS SELECT * FROM read_parquet('{p}/*.parquet')")
    return con


@pytest.fixture(scope="module")
def duck_ev(events, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("duck") / "ev")
    events.select("source", "event_ts", "tokens").write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{p}/*.parquet')")
    return con


def test_bigram_counts_vs_duckdb(sequences, duck_seq):
    got = {
        (r["source"], r["gram_a"], r["gram_b"]): r["n"]
        for r in token_bigram_counts(sequences).collect()
    }
    want = duck_seq.execute(
        """
        SELECT source, tokens[i] AS a, tokens[i + 1] AS b, COUNT(*) AS n
        FROM (SELECT source, tokens, unnest(range(1, len(tokens))) AS i FROM seq)
        GROUP BY 1, 2, 3
        """
    ).fetchall()
    assert len(got) == len(want)
    for s, a, b, n in want:
        assert got[(s, a, b)] == n


def test_min_count_filter(sequences):
    all_counts = token_bigram_counts(sequences)
    kept = token_bigram_counts(sequences, min_count=3)
    assert kept.count() == all_counts.filter("n >= 3").count()


def test_vocab_first_seen_vs_duckdb(events, duck_ev):
    got = {
        r["token"]: r["first_ts"]
        for r in vocab_first_seen(events, "1d").collect()
    }
    want = duck_ev.execute(
        """
        SELECT token, CAST(MIN(date_trunc('day', event_ts)) AS TIMESTAMP) AS f
        FROM (SELECT event_ts, unnest(tokens) AS token FROM ev)
        GROUP BY 1
        """
    ).fetchall()
    assert len(got) == len(want)
    for tok, f in want:
        assert got[tok] == f


def test_vocab_growth_monotone_and_total(events):
    rows = vocab_growth(events, "1d").orderBy("bucket_ts").collect()
    assert all(r["new_tokens"] > 0 for r in rows)
    # running sum is monotone and ends at the full vocabulary size
    sizes = [r["vocab_size"] for r in rows]
    assert sizes == sorted(sizes)
    vocab = events.select(F.explode("tokens").alias("t")).distinct().count()
    assert sizes[-1] == vocab


def test_new_token_rate_vs_duckdb(events, duck_ev):
    got = {
        (r["source"], r["bucket_ts"]): (r["new_occ"], r["total_occ"], r["new_rate"])
        for r in new_token_rate(events, "1d").collect()
    }
    want = duck_ev.execute(
        """
        WITH occ AS (
          SELECT source, CAST(date_trunc('day', event_ts) AS TIMESTAMP) AS b,
                 unnest(tokens) AS token
          FROM ev
        ), fs AS (
          SELECT token, MIN(b) AS first_ts FROM occ GROUP BY 1
        )
        SELECT source, b,
               SUM(CASE WHEN fs.first_ts = occ.b THEN 1 ELSE 0 END) AS new_occ,
               COUNT(*) AS total_occ
        FROM occ JOIN fs USING (token)
        GROUP BY 1, 2
        """
    ).fetchall()
    assert len(got) == len(want)
    for s, b, new_occ, total_occ in want:
        g = got[(s, b)]
        assert g[0] == new_occ and g[1] == total_occ
        assert g[2] == round(new_occ / total_occ, 6)


def test_bigram_pmi_vs_duckdb(sequences, duck_seq):
    from workbook_exporter_fe_spark.operators.vocab import bigram_pmi

    got = {
        (r["source"], r["gram_a"], r["gram_b"]): (r["n"], r["pmi"])
        for r in bigram_pmi(sequences, min_count=3).collect()
    }
    want = duck_seq.execute(
        """
        WITH bg AS (
          SELECT source, tokens[i] AS a, tokens[i + 1] AS b, COUNT(*) AS n
          FROM (SELECT source, tokens, unnest(range(1, len(tokens))) AS i FROM seq)
          GROUP BY 1, 2, 3
        ),
        l AS (SELECT source, a, SUM(n) AS c_a FROM bg GROUP BY 1, 2),
        r AS (SELECT source, b, SUM(n) AS c_b FROM bg GROUP BY 1, 2),
        t AS (SELECT source, SUM(n) AS N FROM bg GROUP BY 1)
        SELECT bg.source, a, b, bg.n,
               ROUND(ln(CAST(bg.n AS DOUBLE) * CAST(t.N AS DOUBLE)
                        / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 6) AS pmi
        FROM bg JOIN l USING (source, a) JOIN r USING (source, b)
                JOIN t USING (source)
        WHERE bg.n >= 3
        """
    ).fetchall()
    assert len(got) == len(want)
    for s, a, b, n, pmi in want:
        assert got[(s, a, b)] == (n, pmi)


def test_bigram_pmi_flags_collocations(spark):
    from workbook_exporter_fe_spark.operators.vocab import bigram_pmi

    # tokens 1->2 always adjacent (a true collocation); 3,4,5 shuffled noise
    rows = []
    for d in range(40):
        noise = [3 + ((d * 7 + j) % 3) for j in range(6)]
        rows.append(("s", d, noise[:3] + [1, 2] + noise[3:]))
    df = spark.createDataFrame(rows, "source string, doc_id long, tokens array<int>")
    out = {(r.gram_a, r.gram_b): r.pmi for r in bigram_pmi(df, min_count=3).collect()}
    colloc = out[(1, 2)]
    assert all(colloc > v for k, v in out.items() if k != (1, 2))
