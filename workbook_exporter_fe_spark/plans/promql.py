"""PromQL front-end: compile a PromQL subset to DataFrame plans.

The reference generates Prometheus scrape configs (every exporter block
in /root/reference/workbook_exporter-fe.py:302-1641 is a scrape-target
YAML stanza); the query language its users point at the resulting
metrics is PromQL. This module closes the loop engine-side: a lexer +
recursive-descent parser + compiler that turns PromQL text into the same
Catalyst plans the native operators build (operators/rates.py,
operators/histogram.py, operators/tiers.py), evaluated over tier tables
registered in a :class:`MetricStore`.

Supported subset (documented deviations below):

- selectors: ``metric``, ``metric{l="x", l2!="y", l3=~"re", l4!~"re"}``,
  range ``[5m]``, ``offset 1h``, ``@ <unix-ts>`` (instant selectors;
  literal timestamps — start()/end() only exist inside query_range);
  subqueries ``expr[30m:]`` feed any
  range function with an expression's result (explicit re-sampling
  steps are rejected — the inner expression's own grid supplies the
  samples, per deviation 1)
- range functions: ``rate irate increase delta idelta avg_over_time
  sum_over_time min_over_time max_over_time count_over_time
  last_over_time stddev_over_time stdvar_over_time quantile_over_time
  present_over_time resets changes deriv predict_linear mad_over_time
  holt_winters``
- instant functions: ``abs ceil floor round sqrt exp ln log2 log10 sgn
  clamp clamp_min clamp_max timestamp sort sort_desc label_replace
  label_join``
- aggregations: ``sum avg min max count stddev stdvar group quantile
  count_values topk bottomk`` with ``by (...)`` / ``without (...)``
  (prefix or postfix)
- binary: ``+ - * / % ^``, comparisons ``== != > < >= <=`` (filter
  semantics, ``bool`` modifier for 0/1), set ops ``and or unless``,
  vector matching ``on (...)`` / ``ignoring (...)``, many-to-one with
  ``group_left (...)`` / ``group_right (...)`` (duplicate 'one'-side
  keys raise at execution, like Prometheus's many-to-many error)
- ``histogram_quantile(q, vec)`` over ``le``-labelled cumulative buckets

Semantics deviations (deliberate, each scale- or exactness-motivated):

1. **Evaluation grid = the stored bucket timestamps.** Metrics come from
   tier tables (one row per (labels, bucket)); expressions evaluate at
   those timestamps instead of an arbitrary query step with staleness
   lookback. Binary ops align on exact timestamps (inner join), which is
   PromQL's behaviour on a shared grid.
2. **rate/increase are interval-attributed, not extrapolated.** Each
   reset-adjusted per-sample delta belongs to the interval ending at its
   sample; ``increase(m[r])`` sums the deltas of samples in ``(t-r, t]``.
   Prometheus instead extrapolates to the window boundary. Ours is the
   decomposable definition (per-bucket increases re-sum exactly across
   tiers) and is
   reproducible bit-for-bit by any engine.
3. **Vector matching is 1:1 or many-to-one** (``group_left`` /
   ``group_right``); true many-to-many raises at execution, like
   Prometheus. 1:1 result labels are the matching keys.
4. ``stddev_over_time``/``stddev`` are population, matching PromQL.

Scale design: every construct compiles to window frames over
(labels, ts)-sorted series — RANGE frames on epoch seconds, so sparse
series are handled without densify — or to hash aggregations; one
Exchange per distinct partitioning, no UDFs, no driver loops. Range
functions needing a per-series epoch (deriv/predict_linear) center time
with one same-sort whole-partition pass (the cancellation fix documented
on operators/rates.linear_fit).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------- store


class MetricStore:
    """Registry mapping metric names to tier-table DataFrames.

    Each metric is a DataFrame with label columns (strings), a bucket
    timestamp column, and one value column; ``register`` standardizes to
    internal (labels..., ts, value).

    ``register_lazy`` (r5) registers a LOADER instead of a DataFrame:
    ``loader(bounds)`` with ``bounds`` either None (full table) or an
    ``(lo_epoch, hi_epoch)`` prune window. This is the manifest-pruning
    hook for SnapshotTable-backed tier stores — ``query_range`` derives
    a conservative window from the expression and evaluates against
    ``bounded(lo, hi)``, so a day's query over a year's table opens a
    day's files. Loaders may record what they pruned in
    ``pruning_stats[name]`` (run_rules.build_store's SnapshotTable
    loader does)."""

    def __init__(self) -> None:
        self._metrics: dict[str, tuple[DataFrame, tuple[str, ...]]] = {}
        self._lazy: dict[str, tuple] = {}
        self.pruning_stats: dict[str, dict] = {}

    @staticmethod
    def _std(df: DataFrame, labels, ts_col: str, value_col: str) -> DataFrame:
        # normalize NTZ → TIMESTAMP (UTC-pinned sessions make it exact)
        # so offset-shifted and plain vectors join on one timestamp type
        return df.select(
            *[F.col(c).cast("string").alias(c) for c in labels],
            F.col(ts_col).cast("timestamp").alias("ts"),
            F.col(value_col).cast("double").alias("value"),
        )

    def register(
        self,
        name: str,
        df: DataFrame,
        labels: tuple[str, ...] = ("source",),
        ts_col: str = "bucket_ts",
        value_col: str = "value",
    ) -> "MetricStore":
        self._metrics[name] = (
            self._std(df, labels, ts_col, value_col), tuple(labels)
        )
        return self

    def register_lazy(
        self,
        name: str,
        loader,
        labels: tuple[str, ...] = ("source",),
        ts_col: str = "bucket_ts",
        value_col: str = "value",
    ) -> "MetricStore":
        """``loader(bounds)`` → raw tier DataFrame; bounds is None or
        ``(lo_epoch, hi_epoch)``. The pruned load must be a SUPERSET of
        rows in the window (file-granularity pruning is) — evaluation
        semantics (staleness lookback, window frames) make extra
        out-of-window rows harmless."""
        self._lazy[name] = (loader, tuple(labels), ts_col, value_col)
        return self

    def metric(self, name: str) -> "Vector":
        if name not in self._metrics:
            if name in self._lazy:
                loader, labels, ts_col, value_col = self._lazy[name]
                self._metrics[name] = (
                    self._std(loader(None), labels, ts_col, value_col),
                    labels,
                )
            else:
                raise PromQLError(f"unknown metric {name!r}")
        df, labels = self._metrics[name]
        return Vector(df, labels)

    def bounded(self, lo_epoch: int, hi_epoch: int) -> "MetricStore":
        """A store whose lazy metrics load only files intersecting the
        window (manifest pruning); eager metrics pass through as-is.
        Lazy metrics stay LAZY — the bounds are curried into their
        loaders and resolved by ``metric()`` on first reference, so an
        evaluation touching one of three configured tiers pays one
        metric's manifest work, and pruning_stats only ever reports
        metrics the query actually read. pruning_stats is SHARED with
        the parent so callers can report what a bounded evaluation
        pruned. Unbounded memoized loads from the parent are NOT carried
        over — the bounded loader must win for its own metrics."""
        if not self._lazy:
            return self
        s = MetricStore()
        s._metrics = {
            n: v for n, v in self._metrics.items() if n not in self._lazy
        }
        s.pruning_stats = self.pruning_stats
        for name, (loader, labels, ts_col, value_col) in self._lazy.items():
            s._lazy[name] = (
                (lambda bounds, _l=loader: _l((lo_epoch, hi_epoch))),
                labels, ts_col, value_col,
            )
        return s


@dataclass
class Vector:
    """Instant vector: DataFrame(labels..., ts, value)."""

    df: DataFrame
    labels: tuple[str, ...]


class PromQLError(ValueError):
    pass


# --------------------------------------------------------------- lexer

_DUR = {"ms": 0.001, "s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}
_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+)
  | (?P<DURATION>\d+(?:ms|[smhdw]))
  | (?P<NUMBER>\d+\.\d*|\.\d+|\d+|[iI]nf|[nN]a[nN])
  | (?P<IDENT>[a-zA-Z_:][a-zA-Z0-9_:]*)
  | (?P<STRING>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<OP>=~|!~|==|!=|>=|<=|[-+*/%^(){}\[\],=<>@])
    """,
    re.VERBOSE,
)

_KEYWORDS = {"by", "without", "on", "ignoring", "offset", "bool",
             "and", "or", "unless", "group_left", "group_right"}


def _lex(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise PromQLError(f"lex error at {text[pos:pos + 20]!r}")
        kind = m.lastgroup
        val = m.group()
        pos = m.end()
        if kind == "WS":
            continue
        if kind == "IDENT" and val in _KEYWORDS:
            kind = val.upper()
        out.append((kind, val))
    out.append(("EOF", ""))
    return out


def duration_seconds(tok: str) -> float:
    m = re.fullmatch(r"(\d+)(ms|[smhdw])", tok)
    if not m:
        raise PromQLError(f"bad duration {tok!r}")
    return int(m.group(1)) * _DUR[m.group(2)]


# ----------------------------------------------------------------- AST


@dataclass
class Num:
    value: float


@dataclass
class Str:
    value: str


@dataclass
class Selector:
    name: str
    matchers: list[tuple[str, str, str]] = field(default_factory=list)
    range_s: float | None = None
    offset_s: float = 0.0
    at_s: float | None = None  # `@ <unix seconds>` evaluation-time pin


@dataclass
class Call:
    func: str
    args: list


@dataclass
class Agg:
    op: str
    expr: object
    grouping: tuple[str, ...] | None = None  # by-labels
    without: bool = False
    param: object | None = None  # k for topk/bottomk


@dataclass
class Subquery:
    """``expr[range:]`` — a range vector produced by an expression.

    The inner expression's own evaluation grid supplies the samples
    inside the window (deviation: an explicit re-sampling ``step`` is
    rejected rather than silently approximated — see module docstring).
    """

    expr: object
    range_s: float


@dataclass
class Binary:
    op: str
    lhs: object
    rhs: object
    bool_mode: bool = False
    on: tuple[str, ...] | None = None
    ignoring: tuple[str, ...] | None = None
    group: str | None = None  # 'left' | 'right' (many-to-one matching)
    group_labels: tuple[str, ...] = ()


_AGG_OPS = {"sum", "avg", "min", "max", "count", "stddev", "stdvar", "group",
            "topk", "bottomk", "quantile", "count_values"}
_RANGE_FNS = {
    "rate", "irate", "increase", "delta", "idelta", "deriv",
    "predict_linear", "avg_over_time", "sum_over_time", "min_over_time",
    "max_over_time", "count_over_time", "last_over_time",
    "stddev_over_time", "stdvar_over_time", "quantile_over_time",
    "present_over_time", "resets", "changes", "mad_over_time",
    "holt_winters",
}
_INSTANT_FNS = {"abs", "ceil", "floor", "round", "clamp", "clamp_min",
                "clamp_max", "histogram_quantile", "sqrt", "exp", "ln",
                "log2", "log10", "sgn", "timestamp", "sort", "sort_desc",
                "label_replace", "label_join", "minute", "hour",
                "day_of_week", "day_of_month", "month", "year",
                "days_in_month", "sin", "cos", "tan", "asin", "acos",
                "atan", "sinh", "cosh", "tanh", "deg", "rad", "pi"}


class _Parser:
    """Precedence-climbing parser for the supported grammar."""

    _PREC = {  # binds tighter = higher
        "or": 1, "and": 2, "unless": 2,
        "==": 3, "!=": 3, ">": 3, "<": 3, ">=": 3, "<=": 3,
        "+": 4, "-": 4, "*": 5, "/": 5, "%": 5, "^": 6,
    }

    def __init__(self, text: str) -> None:
        self.toks = _lex(text)
        self.i = 0

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, val: str | None = None) -> str:
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise PromQLError(f"expected {val or kind}, got {v!r}")
        return v

    def parse(self):
        node = self.expr(0)
        if self.peek()[0] != "EOF":
            raise PromQLError(f"trailing input at {self.peek()[1]!r}")
        return node

    def expr(self, min_prec: int):
        node = self.unary()
        while True:
            k, v = self.peek()
            op = v if k == "OP" else (v if k in ("AND", "OR", "UNLESS") else None)
            if op not in self._PREC or self._PREC[op] < min_prec:
                return node
            self.next()
            bool_mode = False
            if self.peek()[0] == "BOOL":
                self.next()
                bool_mode = True
            on = ignoring = None
            if self.peek()[0] in ("ON", "IGNORING"):
                kind, _ = self.next()
                lbls = self._label_list()
                if kind == "ON":
                    on = lbls
                else:
                    ignoring = lbls
            group, group_labels = None, ()
            if self.peek()[0] in ("GROUP_LEFT", "GROUP_RIGHT"):
                kind, _ = self.next()
                group = "left" if kind == "GROUP_LEFT" else "right"
                if on is None and ignoring is None:
                    raise PromQLError(
                        f"group_{group} requires on(...) or ignoring(...)"
                    )
                # as in Prometheus, '(' after group_* is the label list
                if self.peek() == ("OP", "("):
                    group_labels = self._label_list()
            # left-assoc except ^
            nxt = self._PREC[op] + (0 if op == "^" else 1)
            rhs = self.expr(nxt)
            node = Binary(op, node, rhs, bool_mode, on, ignoring,
                          group, group_labels)

    def _label_list(self) -> tuple[str, ...]:
        self.expect("OP", "(")
        out = []
        while self.peek() != ("OP", ")"):
            out.append(self.expect("IDENT"))
            if self.peek() == ("OP", ","):
                self.next()
        self.expect("OP", ")")
        return tuple(out)

    def unary(self):
        if self.peek() == ("OP", "-"):
            self.next()
            node = self.unary()
            return Binary("*", Num(-1.0), node)
        if self.peek() == ("OP", "+"):
            self.next()
            return self.unary()
        return self.postfix(self.atom())

    def atom(self):
        k, v = self.peek()
        if k == "NUMBER":
            self.next()
            low = v.lower()
            return Num(float("inf") if low == "inf" else float("nan")
                       if low == "nan" else float(v))
        if k == "STRING":
            self.next()
            return Str(v[1:-1])
        if k == "OP" and v == "(":
            self.next()
            node = self.expr(0)
            self.expect("OP", ")")
            return node
        if k == "IDENT":
            if v in _AGG_OPS:
                return self.aggregation()
            if v in _RANGE_FNS or v in _INSTANT_FNS:
                return self.call()
            return self.selector()
        raise PromQLError(f"unexpected {v!r}")

    def postfix(self, node):
        if self.peek() == ("OP", "["):
            self.next()
            dur = duration_seconds(self.expect("DURATION"))
            # ':' is an IDENT character (recording-rule names use it), so
            # a subquery's ':step' tail lexes as one IDENT token
            k, v = self.peek()
            if k == "IDENT" and v.startswith(":"):
                self.next()
                self.expect("OP", "]")
                if len(v) > 1:
                    raise PromQLError(
                        "subquery step re-sampling is not supported; omit "
                        "the step ('[range:]') to use the inner grid"
                    )
                node = Subquery(node, dur)
            else:
                self.expect("OP", "]")
                if not isinstance(node, Selector) or node.range_s is not None:
                    raise PromQLError(
                        "[range] applies to instant selectors; use "
                        "expr[range:] for subqueries"
                    )
                node.range_s = dur
        # offset / @ modifiers, in either order (Prometheus grammar)
        while isinstance(node, Selector) and (
            self.peek()[0] == "OFFSET" or self.peek() == ("OP", "@")
        ):
            if self.peek()[0] == "OFFSET":
                self.next()
                node.offset_s = duration_seconds(self.expect("DURATION"))
            else:
                self.next()
                k, v = self.next()
                if k != "NUMBER":
                    raise PromQLError(
                        "@ needs a literal unix timestamp (start()/end() "
                        "only exist inside query_range — unsupported here)"
                    )
                node.at_s = float(v)
        return node

    def selector(self) -> Selector:
        name = self.expect("IDENT")
        sel = Selector(name)
        if self.peek() == ("OP", "{"):
            self.next()
            while self.peek() != ("OP", "}"):
                lbl = self.expect("IDENT")
                k, op = self.next()
                if k != "OP" or op not in ("=", "!=", "=~", "!~"):
                    raise PromQLError(f"bad matcher op {op!r}")
                raw = self.expect("STRING")
                sel.matchers.append((lbl, op, raw[1:-1]))
                if self.peek() == ("OP", ","):
                    self.next()
            self.expect("OP", "}")
        return sel

    def call(self) -> Call:
        name = self.expect("IDENT")
        self.expect("OP", "(")
        args = []
        while self.peek() != ("OP", ")"):
            args.append(self.expr(0))
            if self.peek() == ("OP", ","):
                self.next()
        self.expect("OP", ")")
        return Call(name, args)

    def aggregation(self) -> Agg:
        op = self.expect("IDENT")
        grouping, without = None, False
        if self.peek()[0] in ("BY", "WITHOUT"):
            kind, _ = self.next()
            grouping, without = self._label_list(), kind == "WITHOUT"
        self.expect("OP", "(")
        args = [self.expr(0)]
        while self.peek() == ("OP", ","):
            self.next()
            args.append(self.expr(0))
        self.expect("OP", ")")
        if grouping is None and self.peek()[0] in ("BY", "WITHOUT"):
            kind, _ = self.next()
            grouping, without = self._label_list(), kind == "WITHOUT"
        if op in ("topk", "bottomk", "quantile", "count_values"):
            if len(args) != 2:
                raise PromQLError(f"{op} needs (param, expr)")
            return Agg(op, args[1], grouping, without, param=args[0])
        if len(args) != 1:
            raise PromQLError(f"{op} takes one expression")
        return Agg(op, args[0], grouping, without)


def parse(text: str):
    return _Parser(text).parse()


# ------------------------------------------------------------ compiler


def _series_window(labels: tuple[str, ...]) -> Window:
    return Window.partitionBy(*labels).orderBy("_tsec") if labels else (
        Window.orderBy("_tsec")
    )


def _with_tsec(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "_tsec", F.col("ts").cast("timestamp").cast("long")
    )


def _arr_median(arr):
    """phi=0.5 of a SORTED double array: the middle item (odd n) or the
    exact midpoint of the two middle items (even n) — PromQL's quantile
    interpolation at 0.5, as item arithmetic both engines replay."""
    n = F.size(arr)
    mid = F.floor(n / 2).cast("int")
    return F.when(
        n % 2 == 1, F.element_at(arr, mid + 1)
    ).otherwise(
        (F.element_at(arr, mid) + F.element_at(arr, mid + 1)) / F.lit(2.0)
    )


class PromQL:
    """Compile parsed PromQL to a DataFrame over a :class:`MetricStore`.

    ``approx=True`` (r5, "production mode") swaps the item-exact
    implementations of the heaviest window functions for decomposable
    ones behind the SAME PromQL names:

    - ``mad_over_time`` / ``quantile_over_time``: ``percentile_approx``
      (GK sketch, JVM aggregate) instead of the collect_list +
      interpreted sorted-array rank pick. MAD becomes the quartile
      deviation (q75 − q25)/2 from ONE window aggregate — equal to the
      exact MAD for symmetric window distributions, envelope-pinned in
      tests otherwise (the median-of-own-window-deviations alternative
      was measured and rejected: it loses the trend component of
      spread, 4.6× worst-case on a drifting series).
    - ``holt_winters``: the same F.aggregate fold, but over the frame's
      native collect order (window frames iterate in the partition's
      time sort) instead of pre-collecting (t, x) structs and sorting
      per row — drops the per-row O(w log w) sort.

    Exact mode stays the default: it is what the DuckDB oracle replays
    bit-for-bit (deterministic sorted-item arithmetic). Approx mode is
    for production tiers where Prometheus itself computes these
    streaming."""

    def __init__(self, store: MetricStore, approx: bool = False) -> None:
        self.store = store
        self.approx = approx

    def eval(self, query: str) -> DataFrame:
        out = self._eval(parse(query))
        if isinstance(out, float):
            raise PromQLError("query evaluates to a scalar, not a vector")
        return out.df.select(*out.labels, "ts", "value")

    # ---- node dispatch

    def _eval(self, node):
        if isinstance(node, Num):
            return node.value
        if isinstance(node, Str):
            return node.value
        if isinstance(node, Selector):
            return self._selector(node)
        if isinstance(node, Call):
            return self._call(node)
        if isinstance(node, Agg):
            return self._agg(node)
        if isinstance(node, Binary):
            return self._binary(node)
        if isinstance(node, Subquery):
            raise PromQLError("a subquery needs a range function around it")
        raise PromQLError(f"cannot evaluate {node!r}")

    # ---- selectors

    def _selector(self, sel: Selector, want_range: bool = False):
        if sel.range_s is not None and not want_range:
            raise PromQLError(
                f"range vector {sel.name}[...] needs a range function"
            )
        if want_range and sel.range_s is None:
            raise PromQLError(f"{sel.name} needs a [range]")
        vec = self.store.metric(sel.name)
        df = vec.df
        for lbl, op, val in sel.matchers:
            if lbl not in vec.labels:
                raise PromQLError(f"unknown label {lbl!r} on {sel.name}")
            c = F.col(lbl)
            if op == "=":
                df = df.filter(c == val)
            elif op == "!=":
                df = df.filter(c != val)
            elif op == "=~":
                df = df.filter(c.rlike(f"^(?:{val})$"))
            else:
                df = df.filter(~c.rlike(f"^(?:{val})$"))
        if sel.at_s is not None:
            # `m @ t` (+ optional offset, applied relative to t): the
            # as-of value at t − offset per series (5m Prometheus
            # staleness window), materialized as a TIME-CONSTANT vector
            # on the metric's own grid — so binary matching against any
            # same-grid vector works unchanged (the range-query reading
            # of @: the same value at every evaluation step). Series
            # with no sample inside the staleness window are absent,
            # like Prometheus's stale series.
            if sel.range_s is not None:
                raise PromQLError(
                    "@ on range vectors is not supported; apply @ to "
                    "the instant selector"
                )
            eff = int(sel.at_s - sel.offset_s)
            w = Window.partitionBy(*vec.labels).orderBy(F.desc("__t"))
            asof = (
                df.withColumn(
                    "__t", F.col("ts").cast("timestamp").cast("long")
                )
                .filter((F.col("__t") <= eff) & (F.col("__t") > eff - 300))
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(*vec.labels, F.col("value").alias("__v"))
            )
            out = (
                df.select(*vec.labels, "ts")
                .join(asof, list(vec.labels))
                .select(*vec.labels, "ts", F.col("__v").alias("value"))
            )
            return Vector(out, vec.labels)
        if sel.offset_s:
            df = df.withColumn(
                "ts",
                F.timestamp_seconds(
                    F.col("ts").cast("timestamp").cast("long")
                    + int(sel.offset_s)
                ),
            )
        return Vector(df, vec.labels)

    # ---- range functions

    def _range_arg(self, node) -> tuple[Vector, float, object]:
        if isinstance(node, Subquery):
            inner = self._eval(node.expr)
            if isinstance(inner, float):
                raise PromQLError("subquery needs a vector expression")
            return inner, float(node.range_s), node
        if not isinstance(node, Selector):
            raise PromQLError(
                "range functions take metric[range] or expr[range:]"
            )
        vec = self._selector(node, want_range=True)
        return vec, float(node.range_s), node

    def _call(self, call: Call):
        name = call.func
        if name in _RANGE_FNS:
            return self._range_fn(call)
        if name == "histogram_quantile":
            q = self._eval(call.args[0])
            if not isinstance(q, float):
                raise PromQLError("histogram_quantile needs scalar q")
            vec = self._eval(call.args[1])
            return self._histogram_quantile(q, vec)
        if name in ("clamp_min", "clamp_max"):
            vec = self._eval(call.args[0])
            bound = self._eval(call.args[1])
            fn = F.greatest if name == "clamp_min" else F.least
            return Vector(
                vec.df.withColumn("value", fn(F.col("value"), F.lit(bound))),
                vec.labels,
            )
        if name == "clamp":
            if len(call.args) != 3:
                raise PromQLError("clamp needs (v, min, max)")
            vec = self._eval(call.args[0])
            lo, hi = self._eval(call.args[1]), self._eval(call.args[2])
            if not isinstance(lo, float) or not isinstance(hi, float):
                raise PromQLError("clamp bounds must be scalars")
            # PromQL: min > max yields NaN for every sample
            clamped = (
                F.lit(float("nan"))
                if lo > hi
                else F.least(F.greatest(F.col("value"), F.lit(lo)), F.lit(hi))
            )
            return Vector(
                vec.df.withColumn("value", clamped), vec.labels
            )
        if name in ("sort", "sort_desc"):
            # ordering is presentational in PromQL (instant-query display);
            # a DataFrame result is unordered by nature, so this orders the
            # plan's output without changing the row set
            vec = self._eval(call.args[0])
            col = F.col("value").asc() if name == "sort" else (
                F.col("value").desc()
            )
            return Vector(vec.df.orderBy(col), vec.labels)
        if name == "pi":
            if call.args:
                raise PromQLError("pi() takes no arguments")
            return float(math.pi)
        if name in ("abs", "ceil", "floor", "round", "sqrt", "exp", "ln",
                    "log2", "log10", "sgn", "sin", "cos", "tan", "asin",
                    "acos", "atan", "sinh", "cosh", "tanh", "deg", "rad"):
            vec = self._eval(call.args[0])
            fn = {"abs": F.abs, "ceil": F.ceil, "floor": F.floor,
                  "round": F.round, "sqrt": F.sqrt, "exp": F.exp,
                  "ln": F.log, "log2": F.log2, "log10": F.log10,
                  "sgn": F.signum, "sin": F.sin, "cos": F.cos,
                  "tan": F.tan, "asin": F.asin, "acos": F.acos,
                  "atan": F.atan, "sinh": F.sinh, "cosh": F.cosh,
                  "tanh": F.tanh, "deg": F.degrees, "rad": F.radians}[name]
            return Vector(
                vec.df.withColumn("value", fn(F.col("value")).cast("double")),
                vec.labels,
            )
        if name == "timestamp":
            vec = self._eval(call.args[0])
            return Vector(
                vec.df.withColumn(
                    "value",
                    F.col("ts").cast("timestamp").cast("long").cast("double"),
                ),
                vec.labels,
            )
        if name in ("minute", "hour", "day_of_week", "day_of_month",
                    "month", "year", "days_in_month"):
            # Prometheus time-component functions read the sample VALUES
            # as unix timestamps (UTC) — the idiom is f(timestamp(v)) or
            # f(process_start_time_seconds)
            if not call.args:
                raise PromQLError(
                    f"{name}() needs a vector argument — the 0-arg "
                    "eval-time form is unsupported"
                )
            vec = self._eval(call.args[0])
            t = F.timestamp_seconds(F.col("value").cast("long"))
            comp = {
                "minute": F.minute(t),
                "hour": F.hour(t),
                # Spark dayofweek: 1=Sunday; PromQL: 0=Sunday
                "day_of_week": F.dayofweek(t) - 1,
                "day_of_month": F.dayofmonth(t),
                "month": F.month(t),
                "year": F.year(t),
                "days_in_month": F.dayofmonth(F.last_day(t)),
            }[name]
            return Vector(
                vec.df.withColumn("value", comp.cast("double")), vec.labels
            )
        if name == "label_replace":
            return self._label_replace(call)
        if name == "label_join":
            return self._label_join(call)
        raise PromQLError(f"unsupported function {name!r}")

    def _label_replace(self, call: Call):
        """label_replace(v, dst, replacement, src, regex): if the anchored
        regex matches the src label's value, set dst to the replacement
        (with $1-style group references); otherwise the sample keeps its
        existing dst (or empty when dst is new)."""
        if len(call.args) != 5:
            raise PromQLError("label_replace needs (v, dst, repl, src, re)")
        vec = self._eval(call.args[0])
        dst, repl, src, regex = (self._eval(a) for a in call.args[1:])
        if not all(isinstance(s, str) for s in (dst, repl, src, regex)):
            raise PromQLError("label_replace label args must be strings")
        if src not in vec.labels:
            raise PromQLError(f"unknown source label {src!r}")
        anchored = f"^(?:{regex})$"
        old = F.col(dst) if dst in vec.labels else F.lit("")
        out = vec.df.withColumn(
            dst,
            F.when(
                F.col(src).rlike(anchored),
                F.regexp_replace(F.col(src), anchored, repl),
            ).otherwise(old),
        )
        labels = vec.labels if dst in vec.labels else vec.labels + (dst,)
        return Vector(out, labels)

    def _label_join(self, call: Call):
        """label_join(v, dst, sep, src...): dst = src labels joined."""
        if len(call.args) < 4:
            raise PromQLError("label_join needs (v, dst, sep, src...)")
        vec = self._eval(call.args[0])
        dst, sep = self._eval(call.args[1]), self._eval(call.args[2])
        srcs = [self._eval(a) for a in call.args[3:]]
        bad = [s for s in srcs if s not in vec.labels]
        if bad:
            raise PromQLError(f"unknown source label(s) {bad}")
        out = vec.df.withColumn(
            dst, F.concat_ws(sep, *[F.col(s) for s in srcs])
        )
        labels = vec.labels if dst in vec.labels else vec.labels + (dst,)
        return Vector(out, labels)

    def _range_fn(self, call: Call):
        name = call.func
        horizon = phi = None
        sf = tf = None
        range_node = call.args[0] if call.args else None
        if name == "predict_linear":
            if len(call.args) != 2:
                raise PromQLError("predict_linear needs (v[r], t)")
            horizon = self._eval(call.args[1])
        elif name == "holt_winters":
            if len(call.args) != 3:
                raise PromQLError("holt_winters needs (v[r], sf, tf)")
            sf, tf = self._eval(call.args[1]), self._eval(call.args[2])
            if not (isinstance(sf, float) and isinstance(tf, float)):
                raise PromQLError("holt_winters needs scalar sf, tf")
            if not (0 < sf < 1 and 0 < tf < 1):
                raise PromQLError("holt_winters factors must be in (0, 1)")
        elif name == "quantile_over_time":
            if len(call.args) != 2:
                raise PromQLError("quantile_over_time needs (phi, v[r])")
            phi = self._eval(call.args[0])
            if not isinstance(phi, float):
                raise PromQLError("quantile_over_time needs scalar phi")
            range_node = call.args[1]
        elif len(call.args) != 1:
            raise PromQLError(f"{name} takes one range vector")
        vec, r, _sel = self._range_arg(range_node)
        labels = vec.labels
        d = _with_tsec(vec.df)
        wo = _series_window(labels)
        # (t - r, t] on an integral-seconds clock
        frame = wo.rangeBetween(-(int(r) - 1), 0)
        v = F.col("value")
        if name in ("rate", "increase"):
            prev = F.lag("value").over(wo)
            delta = (
                F.when(prev.isNull(), F.lit(None).cast("double"))
                .when(v >= prev, v - prev)
                .otherwise(v)
            )
            d = d.withColumn("_d", delta)
            inc = F.sum("_d").over(frame)
            out = inc if name == "increase" else inc / F.lit(r)
        elif name == "delta":  # gauge: last - first in window
            out = F.last("value").over(frame) - F.first("value").over(frame)
        elif name == "idelta":
            out = v - F.lag("value").over(wo)
        elif name == "irate":
            # instantaneous rate from the LAST TWO samples, counter-reset
            # aware; the previous sample must still lie inside the range
            # window (PromQL returns nothing otherwise)
            prev = F.lag("value").over(wo)
            prev_t = F.lag("_tsec").over(wo)
            dt = (F.col("_tsec") - prev_t).cast("double")
            num = F.when(v >= prev, v - prev).otherwise(v)
            out = F.when(
                prev.isNotNull()
                & (dt > 0)
                & (prev_t > F.col("_tsec") - F.lit(int(r))),
                num / dt,
            )
        elif name == "avg_over_time":
            out = F.avg("value").over(frame)
        elif name == "sum_over_time":
            out = F.sum("value").over(frame)
        elif name == "min_over_time":
            out = F.min("value").over(frame)
        elif name == "max_over_time":
            out = F.max("value").over(frame)
        elif name == "count_over_time":
            out = F.count("value").over(frame).cast("double")
        elif name == "last_over_time":
            out = F.last("value").over(frame)
        elif name == "stddev_over_time":  # population, like PromQL
            out = F.stddev_pop("value").over(frame)
        elif name == "stdvar_over_time":  # population variance
            out = F.var_pop("value").over(frame)
        elif name == "present_over_time":
            out = F.when(
                F.count("value").over(frame) > 0, F.lit(1.0)
            )
        elif name == "quantile_over_time":
            # rank phi*(n-1) with linear interpolation — the same formula
            # as PromQL's quantile (and Spark's exact percentile).
            # approx mode: the GK sketch aggregate (decomposable, no
            # per-window item state), default 1/10000 rank accuracy.
            out = (
                F.percentile_approx("value", F.lit(phi), F.lit(10000))
                if self.approx
                else F.percentile("value", F.lit(phi))
            ).over(frame)
        elif name == "mad_over_time" and self.approx:
            # production mode: the quartile-deviation estimator
            # (q75 − q25)/2 from ONE decomposable percentile_approx pass
            # — for symmetric window distributions IQR/2 equals the MAD
            # exactly (Rousseeuw & Croux's classic robust-scale pair),
            # and on both the smooth and the adversarial test series it
            # tracks exact MAD within ~8% median / ≤0.6 worst-case
            # relative (pinned in tests). The rejected alternative —
            # median of each sample's deviation from its OWN window
            # median — systematically loses the trend component of the
            # spread (measured 4.6× worst-case on a drifting series).
            # No collect_list state, no interpreted array sort.
            q = F.percentile_approx(
                "value", F.array(F.lit(0.25), F.lit(0.75)), F.lit(10000)
            ).over(frame)
            d = d.withColumn("_iqr", q)
            out = (
                F.element_at("_iqr", 2) - F.element_at("_iqr", 1)
            ) / F.lit(2.0)
        elif name == "mad_over_time":
            # median absolute deviation from the window median, both
            # medians the phi=0.5 rank pick: a sorted-array ITEM (odd n)
            # or the exact midpoint (a+b)/2 (even n) — deterministic
            # sorted-item arithmetic the oracle mirrors with list_sort.
            # The median scalar is referenced inside the deviation HOF
            # (inlined per element by CollapseProject) — acceptable here
            # because range windows are bounded by the range/step ratio,
            # not data volume (cf. the drift.py O(V) rule).
            d = d.withColumn(
                "_xs", F.sort_array(F.collect_list("value").over(frame))
            )
            med = _arr_median(F.col("_xs"))
            devs = F.sort_array(
                F.transform(F.col("_xs"), lambda x: F.abs(x - med))
            )
            out = _arr_median(devs)
        elif name == "holt_winters":
            # Prometheus's smoothed value (double exponential smoothing):
            #   s_1 = x_0;  b = x_1 - x_0
            #   for i >= 1:  b'  = tf*(s1 - s0) + (1-tf)*b   (i >= 2)
            #                s1' = sf*x_i + (1-sf)*(s1 + b')
            # — a left fold over the window samples in TIME order,
            # expressed with F.aggregate so the recurrence's IEEE op
            # sequence is fixed and mirrored verbatim by the oracle's
            # list_reduce. Needs >= 2 samples, like PromQL.
            if self.approx:
                # production mode: window frames iterate in the
                # partition's (labels, ts) sort, so the collect order IS
                # time order — skip the per-row struct sort (ties on
                # equal timestamps follow partition order, which is why
                # the oracle-replayable exact mode keeps the sort)
                d = d.withColumn(
                    "_hxs", F.collect_list("value").over(frame)
                )
            else:
                d = d.withColumn(
                    "_hxs",
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    F.col("_tsec").alias("t"), v.alias("x")
                                )
                            ).over(frame)
                        ),
                        lambda s: s["x"],
                    ),
                )
            vals = F.col("_hxs")
            n = F.size(vals)
            c_sf, c_tf = F.lit(float(sf)), F.lit(float(tf))
            c_sf1, c_tf1 = F.lit(1.0 - float(sf)), F.lit(1.0 - float(tf))
            init = F.struct(
                F.lit(0.0).alias("s0"),
                F.element_at(vals, 1).alias("s1"),
                (F.element_at(vals, 2) - F.element_at(vals, 1)).alias("b"),
                F.lit(1).alias("i"),
            )

            def _hw_merge(a, x):
                bn = F.when(a["i"] == 1, a["b"]).otherwise(
                    c_tf * (a["s1"] - a["s0"]) + c_tf1 * a["b"]
                )
                s1n = c_sf * x + c_sf1 * (a["s1"] + bn)
                return F.struct(
                    a["s1"].alias("s0"),
                    s1n.alias("s1"),
                    bn.alias("b"),
                    (a["i"] + 1).alias("i"),
                )

            out = F.when(
                n >= 2,
                F.aggregate(
                    F.slice(vals, 2, n - 1),
                    init,
                    _hw_merge,
                    lambda a: a["s1"],
                ),
            )
        elif name in ("resets", "changes"):
            prev = F.lag("value").over(wo)
            flag = (
                (v < prev) if name == "resets" else (v != prev)
            ).cast("long")
            d = d.withColumn("_f", F.when(prev.isNull(), F.lit(0)).otherwise(flag))
            # transitions strictly inside the window: the first in-frame
            # sample's flag crosses the window boundary — drop it
            out = (
                F.sum("_f").over(frame) - F.first("_f").over(frame)
            ).cast("double")
        elif name in ("deriv", "predict_linear"):
            # least squares over the range frame; time centered per series
            # (full-epoch seconds cancel catastrophically — see
            # operators/rates.linear_fit)
            wall = wo.rangeBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            d = d.withColumn("_t0", F.min("_tsec").over(wall))
            d = d.withColumn(
                "_tc", (F.col("_tsec") - F.col("_t0")).cast("double")
            )
            t = F.col("_tc")
            k = F.count("value").over(frame).cast("double")
            st = F.sum(t).over(frame)
            sy = F.sum(v).over(frame)
            sty = F.sum(t * v).over(frame)
            stt = F.sum(t * t).over(frame)
            den = k * stt - st * st
            slope = F.when((k >= 2) & (den > 0), (k * sty - st * sy) / den)
            if name == "deriv":
                out = slope
            else:
                intercept = (sy - slope * st) / k
                out = intercept + slope * (t + F.lit(float(horizon)))
        else:  # pragma: no cover
            raise PromQLError(name)
        res = d.withColumn("value", out).select(*labels, "ts", "value")
        return Vector(res.filter(F.col("value").isNotNull()), labels)

    # ---- aggregation

    def _agg(self, agg: Agg):
        vec = self._eval(agg.expr)
        if isinstance(vec, float):
            raise PromQLError(f"{agg.op} needs a vector")
        if agg.grouping is None:
            keep: tuple[str, ...] = ()
        elif agg.without:
            keep = tuple(l for l in vec.labels if l not in agg.grouping)
        else:
            bad = set(agg.grouping) - set(vec.labels)
            if bad:
                raise PromQLError(f"unknown grouping labels {sorted(bad)}")
            keep = tuple(l for l in vec.labels if l in agg.grouping)
        if agg.op in ("topk", "bottomk"):
            k = self._eval(agg.param)
            if not isinstance(k, float):
                raise PromQLError("topk needs scalar k")
            order = [F.col("value").desc() if agg.op == "topk"
                     else F.col("value").asc()]
            order += [F.col(l) for l in vec.labels]  # deterministic ties
            w = Window.partitionBy(*keep, "ts").orderBy(*order)
            out = (
                vec.df.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= int(k))
                .drop("_rk")
            )
            return Vector(out, vec.labels)  # topk keeps original labels
        if agg.op == "quantile":
            phi = self._eval(agg.param)
            if not isinstance(phi, float):
                raise PromQLError("quantile needs scalar phi")
            out = vec.df.groupBy(*keep, "ts").agg(
                F.percentile(F.col("value"), F.lit(phi)).alias("value")
            )
            return Vector(out, keep)
        if agg.op == "count_values":
            lbl = self._eval(agg.param)
            if not isinstance(lbl, str):
                raise PromQLError('count_values needs ("label", expr)')
            if lbl in keep:
                raise PromQLError(f"label {lbl!r} collides with grouping")
            out = (
                vec.df.withColumn(lbl, F.col("value").cast("string"))
                .groupBy(*keep, lbl, "ts")
                .agg(F.count("*").cast("double").alias("value"))
            )
            return Vector(out, keep + (lbl,))
        fn = {
            "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
            "count": lambda c: F.count(c).cast("double"),
            "stddev": F.stddev_pop,
            "stdvar": F.var_pop,
            # group: 1 for each group that has any sample
            "group": lambda c: F.max(F.lit(1.0)),
        }[agg.op]
        out = vec.df.groupBy(*keep, "ts").agg(fn(F.col("value")).alias("value"))
        return Vector(out, keep)

    # ---- binary ops

    _ARITH = {"+": "+", "-": "-", "*": "*", "/": "/", "%": "%", "^": "^"}
    _CMP = {"==", "!=", ">", "<", ">=", "<="}

    @staticmethod
    def _apply_op(op: str, a, b):
        if op == "+":
            return a + b
        if op == "-":
            return a - b
        if op == "*":
            return a * b
        if op == "/":
            # PromQL/IEEE semantics under ANSI mode: x/0 = ±Inf, 0/0 = NaN
            return F.when(b != 0, a / b).otherwise(
                F.when(a > 0, F.lit(float("inf")))
                .when(a < 0, F.lit(float("-inf")))
                .otherwise(F.lit(float("nan")))
            )
        if op == "%":
            return F.when(b != 0, a % b).otherwise(F.lit(float("nan")))
        if op == "^":
            return F.pow(a, b)
        if op == "==":
            return a == b
        if op == "!=":
            return a != b
        if op == ">":
            return a > b
        if op == "<":
            return a < b
        if op == ">=":
            return a >= b
        return a <= b

    def _binary(self, node: Binary):
        lhs, rhs = self._eval(node.lhs), self._eval(node.rhs)
        if isinstance(lhs, float) and isinstance(rhs, float):
            import math

            if node.op in ("and", "or", "unless"):
                raise PromQLError(f"set op {node.op!r} needs vectors")
            if node.op in self._CMP:
                ok = self._apply_op(node.op, lhs, rhs)
                if not node.bool_mode:
                    raise PromQLError("scalar comparison needs bool")
                return 1.0 if ok else 0.0
            if node.op == "^":
                return math.pow(lhs, rhs)
            return {"+": lhs + rhs, "-": lhs - rhs, "*": lhs * rhs,
                    "/": lhs / rhs if rhs else float("inf"),
                    "%": math.fmod(lhs, rhs) if rhs else float("nan")}[node.op]
        if node.op in ("and", "or", "unless"):
            return self._set_op(node, lhs, rhs)
        if isinstance(lhs, float) or isinstance(rhs, float):
            vec, scalar, flipped = (
                (rhs, lhs, True) if isinstance(lhs, float) else (lhs, rhs, False)
            )
            a = F.lit(scalar) if flipped else F.col("value")
            b = F.col("value") if flipped else F.lit(scalar)
            expr = self._apply_op(node.op, a, b)
            if node.op in self._CMP:
                if node.bool_mode:
                    out = vec.df.withColumn(
                        "value", expr.cast("int").cast("double")
                    )
                else:
                    out = vec.df.filter(expr)
                return Vector(out, vec.labels)
            return Vector(
                vec.df.withColumn("value", expr.cast("double")), vec.labels
            )
        return self._vector_binary(node, lhs, rhs)

    @staticmethod
    def _match_keys(node: Binary, lhs: Vector, rhs: Vector) -> list[str]:
        if node.on is not None:
            return list(node.on)
        common = [l for l in lhs.labels if l in rhs.labels]
        if node.ignoring is not None:
            common = [l for l in common if l not in node.ignoring]
        return common

    def _set_op(self, node: Binary, lhs: Vector, rhs: Vector):
        if isinstance(lhs, float) or isinstance(rhs, float):
            raise PromQLError(f"set op {node.op!r} needs vectors")
        keys = self._match_keys(node, lhs, rhs) + ["ts"]
        if node.op == "and":
            out = lhs.df.join(rhs.df.select(*keys).distinct(), keys, "semi")
            return Vector(out, lhs.labels)
        if node.op == "unless":
            out = lhs.df.join(rhs.df.select(*keys).distinct(), keys, "anti")
            return Vector(out, lhs.labels)
        # or: lhs plus rhs rows whose match keys are absent from lhs
        if set(lhs.labels) != set(rhs.labels):
            raise PromQLError("'or' needs identical label sets")
        extra = rhs.df.join(lhs.df.select(*keys).distinct(), keys, "anti")
        return Vector(lhs.df.unionByName(extra.select(*lhs.df.columns)),
                      lhs.labels)

    def _vector_binary(self, node: Binary, lhs: Vector, rhs: Vector):
        keys = self._match_keys(node, lhs, rhs)
        if node.group:
            return self._grouped_binary(node, lhs, rhs, keys)
        jk = keys + ["ts"]
        l = lhs.df.select(*jk, F.col("value").alias("_lv"))
        r = rhs.df.select(*jk, F.col("value").alias("_rv"))
        j = l.join(r, jk)
        expr = self._apply_op(node.op, F.col("_lv"), F.col("_rv"))
        if node.op in self._CMP:
            if node.bool_mode:
                out = j.withColumn("value", expr.cast("int").cast("double"))
            else:
                out = j.filter(expr).withColumn("value", F.col("_lv"))
        else:
            out = j.withColumn("value", expr.cast("double"))
        return Vector(out.select(*keys, "ts", "value"), tuple(keys))

    def _grouped_binary(self, node: Binary, lhs: Vector, rhs: Vector,
                        keys: list[str]):
        """group_left / group_right many-to-one matching: every sample on
        the 'many' side joins the unique 'one'-side sample with the same
        match keys; labels listed in group_*() are copied from the 'one'
        side (overwriting the many side's). A duplicate key on the 'one'
        side fails the query at execution (Prometheus raises the same
        many-to-many error), via a conditional raise_error that stays on
        the codegen happy path."""
        many = lhs if node.group == "left" else rhs
        one = rhs if node.group == "left" else lhs
        many_val = "_lv" if node.group == "left" else "_rv"
        one_val = "_rv" if node.group == "left" else "_lv"
        extra = tuple(dict.fromkeys(
            l for l in node.group_labels if l not in keys
        ))
        bad = [l for l in extra if l not in one.labels]
        if bad:
            raise PromQLError(
                f"group_{node.group} labels {bad} not on the 'one' side"
            )
        jk = keys + ["ts"]
        w = Window.partitionBy(*jk)
        one_df = (
            one.df.select(
                *jk,
                *[F.col(l).alias(f"_g_{l}") for l in extra],
                F.col("value").alias(one_val),
            )
            .withColumn("_n", F.count("*").over(w))
            .withColumn(
                one_val,
                F.when(
                    F.col("_n") > 1,
                    F.raise_error(F.lit(
                        f"group_{node.group}: multiple matches on the "
                        "'one' side for the same match keys"
                    )),
                ).otherwise(F.col(one_val)),
            )
            .drop("_n")
        )
        many_df = many.df.select(
            *many.labels, "ts", F.col("value").alias(many_val)
        )
        j = many_df.join(one_df, jk)
        expr = self._apply_op(node.op, F.col("_lv"), F.col("_rv"))
        if node.op in self._CMP:
            if node.bool_mode:
                j = j.withColumn("value", expr.cast("int").cast("double"))
            else:
                j = j.filter(expr).withColumn("value", F.col("_lv"))
        else:
            j = j.withColumn("value", expr.cast("double"))
        for l in extra:
            j = j.withColumn(l, F.col(f"_g_{l}"))
        labels = tuple(dict.fromkeys(tuple(many.labels) + extra))
        return Vector(j.select(*labels, "ts", "value"), labels)

    # ---- histogram_quantile

    def _histogram_quantile(self, q: float, vec: Vector):
        """PromQL histogram_quantile over ``le``-labelled cumulative
        buckets: rank into the cumulative counts, interpolate linearly
        inside the containing bucket (lower bound 0 for the first finite
        bucket, upper clamp at the highest finite ``le`` for +Inf)."""
        if "le" not in vec.labels:
            raise PromQLError("histogram_quantile needs an 'le' label")
        rest = tuple(l for l in vec.labels if l != "le")
        led = F.when(F.col("le").isin("+Inf", "Inf", "inf"),
                     F.lit(float("inf"))).otherwise(F.col("le").cast("double"))
        d = vec.df.withColumn("_le", led)
        grp = d.groupBy(*rest, "ts").agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_le"), F.col("value")))
            ).alias("_b")
        )
        b = F.col("_b")
        total = F.element_at(b, -1)["value"]  # +Inf (or top) bucket count
        rank = total * q
        # first bucket whose cumulative count reaches the rank
        hits = F.filter(b, lambda s: s["value"] >= rank)
        hit = F.element_at(hits, 1)
        idx = F.array_position(b, hit).cast("int")
        prev = F.when(idx > 1, F.element_at(b, idx - 1))
        lo = F.coalesce(prev["_le"], F.lit(0.0))
        lo_cum = F.coalesce(prev["value"], F.lit(0.0))
        hi = hit["_le"]
        top_finite = F.element_at(
            F.filter(b, lambda s: ~F.isnan(s["_le"]) & (s["_le"] != float("inf"))),
            -1,
        )["_le"]
        inner = F.col("_lo") + (F.col("_hi") - F.col("_lo")) * (
            (rank - F.col("_lc")) / (F.col("_hc") - F.col("_lc"))
        )
        est = (
            grp.withColumn("_lo", lo)
            .withColumn("_hi", hi)
            .withColumn("_lc", lo_cum)
            .withColumn("_hc", hit["value"])
            .withColumn("_top", top_finite)
            .withColumn(
                "value",
                F.when(total <= 0, F.lit(None).cast("double"))
                .when(F.col("_hi") == float("inf"), F.col("_top"))
                .when(F.col("_hc") == F.col("_lc"), F.col("_hi"))
                .otherwise(inner),
            )
            .select(*rest, "ts", "value")
        )
        return Vector(est.filter(F.col("value").isNotNull()), rest)


def promql(store: MetricStore, query: str, mode: str = "exact") -> DataFrame:
    """One-shot: parse + compile + return DataFrame(labels..., ts, value).

    ``mode='approx'`` enables the decomposable production variants of
    mad_over_time / quantile_over_time / holt_winters (see
    :class:`PromQL`); ``'exact'`` (default) is the oracle-replayable
    item-exact path."""
    if mode not in ("exact", "approx"):
        raise PromQLError(f"unknown mode {mode!r}")
    return PromQL(store, approx=(mode == "approx")).eval(query)


#: functions whose Spark implementation reaches UNBOUNDEDLY far back:
#: rate/increase/irate/idelta/resets/changes take each sample's delta
#: against its predecessor via F.lag over the unbounded series window
#: (the engine's counter-continuation deviation — the predecessor may
#: sit arbitrarily before the range window across a data gap), and
#: deriv/predict_linear anchor elapsed time at min(_tsec) over the WHOLE
#: partition. Pruning files could remove those far-back rows and change
#: results, so any of these names disables pruning outright.
_UNBOUNDED_REACH_FNS = frozenset({
    "rate", "increase", "irate", "idelta", "resets", "changes",
    "deriv", "predict_linear",
})


def prune_allowance(query: str) -> float | None:
    """Conservative extra seconds a bounded evaluation of ``query`` can
    reach beyond [start, end]: the SUM of every duration token in the
    expression (ranges, offsets, subquery windows — any composition of
    them reaches at most their sum). None — pruning disabled rather
    than guessed — when the expression uses the ``@`` modifier (pins
    evaluation to an ABSOLUTE time that may lie anywhere) or any
    function in :data:`_UNBOUNDED_REACH_FNS` (their lag/min-anchored
    semantics reach past any fixed window)."""
    toks = _lex(query)
    if any(val == "@" for _, val in toks):
        return None
    if any(
        kind == "IDENT" and val in _UNBOUNDED_REACH_FNS
        for kind, val in toks
    ):
        return None
    return sum(
        duration_seconds(val) for kind, val in toks if kind == "DURATION"
    )


def query_range(
    store: MetricStore,
    query: str,
    start,
    end,
    step: str = "1m",
    lookback: str = "5m",
    mode: str = "exact",
) -> DataFrame:
    """Prometheus ``/api/v1/query_range`` evaluation shape: the expression
    resampled onto an explicit ``[start, end]`` grid with ``step`` spacing
    and staleness ``lookback``.

    Composition, consistent with the engine's documented deviation 1: the
    expression first evaluates on its NATIVE grid (the stored bucket
    timestamps — range/window semantics computed over real samples), then
    each series is as-of joined onto the step grid: grid point t takes the
    last native sample with ``sample_ts ∈ (t - lookback, t]`` (exactly
    Prometheus's instant-vector staleness rule, default 5m). Prometheus
    instead evaluates the whole expression AT each step; on a shared
    grid the two agree, and off-grid steps get the nearest-past value
    rather than a re-windowed one — the decomposable choice, since a
    tier point never changes retroactively.

    ``start``/``end`` accept epoch seconds or any Column-castable
    timestamp string. Output: (labels..., ts, value) with one row per
    (series, grid point) that has a non-stale sample — dense output is
    one gap-fill away (operators/gapfill.py) by design.

    Scale: the spine is |series| × |grid| rows built from a distinct +
    one ``sequence`` explode, and the as-of resolution is the marker
    trick — union samples with spine markers, ONE last_value window over
    the same (labels, ts) sort the native evaluation already used. No
    joins against the sample relation, no per-grid-point scans.
    """
    import datetime as _dt

    def _secs(x) -> int:
        if isinstance(x, (int, float)):
            return int(x)
        if isinstance(x, _dt.datetime):
            return int(x.timestamp())
        raise PromQLError(f"start/end must be epoch seconds or datetime, got {x!r}")

    t0, t1 = _secs(start), _secs(end)
    step_s = int(duration_seconds(step) if isinstance(step, str) else step)
    look_s = int(duration_seconds(lookback) if isinstance(lookback, str) else lookback)
    if step_s <= 0 or t1 < t0:
        raise PromQLError("need end >= start and step > 0")

    # manifest pruning (r5): the grid only reads samples in
    # [start - lookback - Σdurations, end + Σdurations] — hand lazy
    # (SnapshotTable-backed) metrics that window so a day's query over a
    # year's tier store opens a day's files. File pruning is a superset;
    # extra rows outside the window are excluded by evaluation semantics
    # (staleness lookback / window frames), so results are pinned equal.
    allow = prune_allowance(query)
    if allow is not None:
        store = store.bounded(
            t0 - look_s - int(allow), t1 + int(allow)
        )

    df = promql(store, query, mode=mode)
    labels = [c for c in df.columns if c not in ("ts", "value")]

    samples = df.select(
        *labels,
        F.unix_timestamp("ts").alias("_t"),
        F.unix_timestamp("ts").alias("_sample_t"),
        "value",
        F.lit(0).alias("_marker"),
    )
    spine = (
        df.select(*labels).distinct()
        .select(
            *labels,
            F.explode(
                F.sequence(F.lit(t0), F.lit(t1), F.lit(step_s))
            ).alias("_t"),
        )
        .select(
            *labels, "_t",
            F.lit(None).cast("long").alias("_sample_t"),
            F.lit(None).cast("double").alias("value"),
            F.lit(1).alias("_marker"),
        )
    )
    # at equal timestamps the sample sorts BEFORE the marker, so a grid
    # point sees a sample landing exactly on it (Prometheus: t inclusive)
    w = (
        Window.partitionBy(*labels)
        .orderBy("_t", "_marker")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        samples.unionByName(spine)
        .withColumn("_lv", F.last("value", ignorenulls=True).over(w))
        .withColumn("_lt", F.last("_sample_t", ignorenulls=True).over(w))
        .filter(
            (F.col("_marker") == 1)
            & F.col("_lv").isNotNull()
            # Prometheus staleness: a sample exactly lookback old is
            # still returned (stale only if strictly older)
            & (F.col("_lt") >= F.col("_t") - F.lit(look_s))
        )
        .select(
            *labels,
            F.timestamp_seconds("_t").alias("ts"),
            F.col("_lv").alias("value"),
        )
    )
    return out


def absent_range(
    store: MetricStore,
    query: str,
    start,
    end,
    step: str = "1m",
    lookback: str = "5m",
) -> DataFrame:
    """PromQL ``absent()`` over a query_range grid: one row
    ``(ts, value=1.0)`` for every grid point where the expression yields
    NO non-stale sample from ANY series — the alerting primitive for
    "this metric stopped existing" (scrape death, dropped tier
    partition). Well-defined here precisely because query_range supplies
    an explicit evaluation grid; on the native-grid path absence is
    unobservable (the grid IS the data). Label-less, like Prometheus's
    absent() on a selector with no matchers."""
    present = query_range(store, query, start, end, step, lookback).select(
        F.unix_timestamp("ts").alias("_t")
    ).distinct()
    import datetime as _dt

    def _secs(x) -> int:
        if isinstance(x, (int, float)):
            return int(x)
        if isinstance(x, _dt.datetime):
            return int(x.timestamp())
        raise PromQLError(f"start/end must be epoch seconds or datetime, got {x!r}")

    t0, t1 = _secs(start), _secs(end)
    step_s = int(duration_seconds(step) if isinstance(step, str) else step)
    spark = present.sparkSession
    grid = spark.range(1).select(
        F.explode(F.sequence(F.lit(t0), F.lit(t1), F.lit(step_s))).alias("_t")
    )
    return (
        grid.join(present, "_t", "anti")
        .select(
            F.timestamp_seconds("_t").alias("ts"),
            F.lit(1.0).alias("value"),
        )
    )
