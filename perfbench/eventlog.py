"""Per-layer attribution from Spark's own event log.

The traced run enables ``spark.eventLog.enabled`` (uncompressed) and
records a span around every public call it makes. Each Spark job is
attributed to a span by its ``spark.job.description`` (set with
``setJobDescription`` on the calling thread) or, for jobs started on
another thread such as the HTTP server's handler threads, by the span
its submission time falls in. Task metrics then sum per span.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    index: int
    t0_ms: float
    t1_ms: float = 0.0


@dataclass
class Tracer:
    """Spans recorded around the benchmark's calls into the program. With
    ``spark`` set, each span also sets the Spark job description."""

    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _count: dict[str, int] = field(default_factory=dict)

    @contextmanager
    def span(self, layer: str):
        i = self._count.get(layer, 0)
        self._count[layer] = i + 1
        s = Span(layer, i, time.time() * 1000)
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(f"{layer}#{i}")
        try:
            yield s
        finally:
            s.t1_ms = time.time() * 1000
            self.spans.append(s)
            if self.spark is not None:
                self.spark.sparkContext.setJobDescription(None)


@dataclass
class SpanCost:
    jobs: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    python_run_s: float = 0.0
    python_init_s: float = 0.0
    python_bytes: int = 0


#: SQL metrics of the Python-UDF / Arrow operators (``timing`` metrics are
#: in ms): task accumulable name -> (SpanCost field, scale)
_PYTHON_METRICS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_init_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "data sent to Python workers": ("python_bytes", 1),
    "data returned from Python workers": ("python_bytes", 1),
}


def read_events(log_dir: str) -> list[dict]:
    """Every event of the log under ``log_dir`` (rolling ``eventlog_v2_*``
    directory of ``events_N_*`` files, or one plain file)."""
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    if line.strip():
                        events.append(json.loads(line))
    return events


def attribute(events: list[dict], spans: list[Span]) -> tuple[dict, SpanCost]:
    """Returns ({(layer, index): SpanCost}, cost of unattributed jobs)."""
    by_desc = {f"{s.layer}#{s.index}": (s.layer, s.index) for s in spans}
    ordered = sorted(spans, key=lambda s: s.t0_ms)

    def owner(desc: str | None, t_ms: float):
        if desc in by_desc:
            return by_desc[desc]
        for s in ordered:
            if s.t0_ms <= t_ms <= s.t1_ms:
                return (s.layer, s.index)
        return None

    stage_owner: dict[int, tuple | None] = {}
    job_owner: dict[int, tuple | None] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            o = owner(desc, e["Submission Time"])
            job_owner[e["Job ID"]] = o
            for sid in e.get("Stage IDs", []):
                stage_owner.setdefault(sid, o)
    costs: dict = {}
    other = SpanCost()

    def bucket(o) -> SpanCost:
        if o is None:
            return other
        return costs.setdefault(o, SpanCost())

    for o in job_owner.values():
        bucket(o).jobs += 1
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        m = e.get("Task Metrics") or {}
        c = bucket(stage_owner.get(e["Stage ID"]))
        c.executor_run_s += m.get("Executor Run Time", 0) / 1000
        c.gc_s += m.get("JVM GC Time", 0) / 1000
        c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        c.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            field_scale = _PYTHON_METRICS.get(acc.get("Name"))
            if field_scale is not None:
                name, scale = field_scale
                setattr(c, name, getattr(c, name) + int(acc.get("Update", 0)) * scale)
    return costs, other


def per_layer(costs: dict, spans: list[Span]) -> dict[str, list[SpanCost]]:
    """{layer: [SpanCost of each span of the layer, in span order]}."""
    out: dict[str, list[SpanCost]] = {}
    for s in sorted(spans, key=lambda s: (s.layer, s.index)):
        out.setdefault(s.layer, []).append(costs.get((s.layer, s.index), SpanCost()))
    return out
