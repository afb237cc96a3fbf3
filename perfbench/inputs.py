"""Seeded inputs: the 7-day event history, the ingest batches and the
serve_mix request sequence.

Events are ``(source, event_ts, v, doc_id)`` over 64 Zipf(1.2) sources,
the shape ``sources/datagen.py`` + ``eventize`` produce. ``v`` is an
integer-valued double, so every sum the tiers hold is exact and a query's
checksum does not depend on Spark's aggregation order.

Inputs are written as parquet with pyarrow, outside any timed window: the
program under test only ever sees the files.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SOURCES = 64
ZIPF_S = 1.2
HISTORY_HOURS = 7 * 24
#: not a measured production rate: sized so that a batch (fold + publish +
#: probe) and the history build fit the benchmark's time budget
EVENTS_PER_HOUR = 300
#: the history is the same for every run seed: it is built once per
#: checkout and program version (see run.py), and the run seed drives the
#: batches and the request sequence
HISTORY_SEED = 0
#: the history starts and ends at noon, so an in-order batch lands in
#: day partitions that already hold data, as 23 of 24 hourly batches do
T0 = int(_dt.datetime(2026, 1, 1, 12, tzinfo=_dt.timezone.utc).timestamp())
HISTORY_END = T0 + HISTORY_HOURS * 3600

_SCHEMA = pa.schema([
    ("source", pa.string()),
    ("event_ts", pa.timestamp("us", tz="UTC")),
    ("v", pa.float64()),
    ("doc_id", pa.string()),
])
_WORKLOAD_CODE = {"history": 0, "ingest_append": 1, "ingest_late": 2, "serve_mix": 3}


def _zipf_p() -> np.ndarray:
    w = 1.0 / np.arange(1, N_SOURCES + 1) ** ZIPF_S
    return w / w.sum()


def _events(rng: np.random.Generator, n: int, lo: int, span: int, tag: str) -> pa.Table:
    src = rng.choice(N_SOURCES, size=n, p=_zipf_p())
    ts = (lo + rng.integers(0, span, size=n)) * 1_000_000
    return pa.table(
        {
            "source": [f"src-{s:02d}" for s in src],
            "event_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "v": rng.integers(1, 513, size=n).astype("float64"),
            "doc_id": [f"{tag}-{i:08d}" for i in range(n)],
        },
        schema=_SCHEMA,
    )


def write_history(path: str) -> int:
    """The 7-day history as one parquet file; returns its event count."""
    rng = np.random.default_rng([HISTORY_SEED, _WORKLOAD_CODE["history"]])
    t = _events(rng, HISTORY_HOURS * EVENTS_PER_HOUR, T0, HISTORY_HOURS * 3600, "h")
    pq.write_table(t, path)
    return t.num_rows


def write_batch(path: str, workload: str, seed: int, i: int) -> int:
    """Batch ``i`` of an ingest workload; returns its event count.

    ``ingest_append``: the hour after the history's last batch (in order).
    ``ingest_late``: the same number of events spread over the whole
    history (late, out-of-order data).
    """
    rng = np.random.default_rng([seed, _WORKLOAD_CODE[workload], i])
    if workload == "ingest_append":
        lo, span = HISTORY_END + i * 3600, 3600
    else:
        lo, span = T0, HISTORY_HOURS * 3600
    tag = {"ingest_append": "a", "ingest_late": "l"}[workload]
    t = _events(rng, EVENTS_PER_HOUR, lo, span, f"{tag}{seed}-{i}")
    pq.write_table(t, path)
    return t.num_rows


def serve_requests(seed: int, n_passes: int) -> list[list[dict]]:
    """The serve_mix closed-loop sequence: ``n_passes`` passes, each a
    seeded permutation of the same four requests, so every pass holds the
    same shapes and a class median does not depend on how the seed ordered
    them. The 1:1 recent:history mix is a choice, not measured traffic: it
    keeps one pass short enough for the time budget. The seed picks the sources, among four of like volume so that
    it does not change a query's cost, and the quantile level.

    ``recent``: the last hour at a 1m step, all-source and a single-source
    rate(). ``history``: the whole 7 days at a 1h step, all-source
    sum_over_time(...[1d]) and a single-source quantile_over_time(...[1d])."""
    rng = np.random.default_rng([seed, _WORKLOAD_CODE["serve_mix"]])
    recent = dict(cls="recent", start=HISTORY_END - 3600, end=HISTORY_END, step="1m")
    history = dict(cls="history", start=T0, end=HISTORY_END, step="1h")
    a, b = (f"src-{s:02d}" for s in rng.integers(10, 14, size=2))
    q = float(rng.choice([0.5, 0.9, 0.99]))
    shapes = [
        dict(query="sum(tok1m)", **recent),
        dict(query=f'rate(tok1m{{source="{a}"}}[5m])', **recent),
        dict(query="sum(sum_over_time(tok1m[1d]))", **history),
        dict(query=f'quantile_over_time({q}, tok1m{{source="{b}"}}[1d])', **history),
    ]
    return [[shapes[k] for k in rng.permutation(len(shapes))] for _ in range(n_passes)]
