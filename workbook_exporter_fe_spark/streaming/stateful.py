"""Custom stateful streaming operator: applyInPandasWithState.

Running per-source statistics (count / running sum / watermark-high) kept in
explicit state across micro-batches — the streaming generalization of the
reference's cross-request mutable state (the global port counter + the
output-file-as-state pattern, reference :1664-1667, :1732-1767), with state
made explicit, keyed, and fault-tolerant instead of hidden in globals.

Scale: state is one tuple per source (64 sources → trivially bounded);
GroupStateTimeout is left off because the key domain is fixed. For unbounded
key domains use event-time timeout + watermark eviction.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "source string, batch_events long, total_events long, total_v double, max_ts timestamp"
STATE_SCHEMA = "total_events long, total_v double"


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    total_events, total_v = state.get if state.exists else (0, 0.0)
    batch_events, batch_v, max_ts = 0, 0.0, None
    for pdf in pdfs:
        batch_events += len(pdf)
        batch_v += float(pdf["v"].sum())
        m = pdf["event_ts"].max()
        max_ts = m if max_ts is None else max(max_ts, m)
    total_events += batch_events
    total_v += batch_v
    state.update((total_events, total_v))
    yield pd.DataFrame(
        {
            "source": [key[0]],
            "batch_events": [batch_events],
            "total_events": [total_events],
            "total_v": [total_v],
            "max_ts": [max_ts],
        }
    )


def running_source_stats(events):
    """Streaming DF of per-source running totals (update-mode output)."""
    return events.groupBy("source").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
