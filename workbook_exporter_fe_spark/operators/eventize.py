"""Tier-0 eventization (FIXTURES.md F2).

The reference has no time dimension; the north rule introduces one: derive a
per-source event stream deterministically from the sequence rows. The
timestamp depends only on *data values* (source + doc_id order), never on
physical row position, so it is stable under repartitioning.

- ``event_ts = epoch0 + (row_number() over (partition by source order by
  doc_id) - 1) seconds``
- ``v = cast(n_tok as double)``

This mirrors the reference's hidden sequential counter
(``default_listen_port``, /root/reference/workbook_exporter-fe.py:1664-1667,
SURVEY §2 O17) made explicit as a window function.

Scale note: the window is a per-source sort. At 10^12 rows the right move is
to pre-partition by source (the input table already is) so the sort is
shuffle-local; skew on src-00 is handled by AQE + the salted rollup path in
``tiers.py``. In production the input would carry real timestamps and this
stage disappears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EPOCH0 = "2026-01-01 00:00:00"


def eventize(sequences: DataFrame, epoch0: str = EPOCH0) -> DataFrame:
    """sequences(doc_id, tokens, n_tok, source) -> events(source, event_ts, v, doc_id, tokens)."""
    w = Window.partitionBy("source").orderBy("doc_id")
    return sequences.select(
        "source",
        (
            F.to_timestamp(F.lit(epoch0))
            + F.make_interval(secs=(F.row_number().over(w) - 1).cast("double"))
        ).alias("event_ts"),
        F.col("n_tok").cast("double").alias("v"),
        "doc_id",
        "tokens",
    )
