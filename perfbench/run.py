#!/usr/bin/env python3
"""Ingest→serve benchmark of the rollup engine's production cycle.

    python3 perfbench/run.py --workload ingest_append --seed 1 --seconds 10 --trace 0

One run drives the cycle through the program's public entry points only:
an event batch is folded into the 1m/1h/1d tiers and Gorilla chunks
(``TierPipeline.run_incremental``), committed to the snapshot serving
store (``publish_snapshot_tiers``), and answered by PromQL over HTTP
(``run_server.make_server`` in-process, ``run_rules.build_store`` serving
the store), all on one ``local[nproc]`` SparkSession.

Workloads (see BENCHMARK.json for why each exists):

- ``ingest_append``: in-order batches, each the hour after the 7-day
  history; each batch is folded, published, then probed over HTTP.
- ``ingest_late``: the same batch size, timestamps spread over the whole
  history (late data: a wide delta through the same layers).
- ``serve_mix``: no writes; a closed loop with one HTTP client over the
  history's store, ``recent`` (last 1h, 1m step) and ``history`` (7 days,
  1h step) request classes.

The history is built once per checkout and program version, in a
process of its own (its own JVM), and cached under ``.perfbench_work/``
(its build time is not part of any metric). Every run then starts a fresh
JVM and restores a fresh copy of the history's store, so every timed
batch or pass starts from the same state; each ingest run needs the fresh
copy anyway, because a batch's merge rewrites the history of every source
it touches.

The event rate (300 events/h over 64 sources, ~50k events of history, 300
per batch) and serve_mix's 1:1 recent:history mix are not measured
production traffic: they are sized so that the runs of both workloads fit
the benchmark's time budget. At this volume a batch's cost is mostly fixed
per-batch (per Spark job) overhead, and per-event costs (merge, codec)
move it only a little.

End-to-end metrics (``--trace 0``), every one measured on every workload:

- ``setup_s``: JVM start + one restore of the history's store from its
  cache + the warm-up (ingest: the probe on the restored history;
  serve_mix: the direct evaluation of every request, which also gives the
  expected answers, and one whole HTTP pass).
- ``cycle_s``: time of the workload's unit of work as its user sees it.
  Ingest: batch-to-queryable of the first batch after start-up, from
  hand-off of the batch file until the HTTP probe's answer includes the
  batch. It is a batch in a fresh JVM whose only warm-up is a query: a
  discarded warm-up batch (fold + publish) would cost as much as the
  timed one, which the time budget does not allow. serve_mix: median of
  the passes over the request sequence (every request shape once).
- ``query_recent_ms`` / ``query_history_ms``: HTTP latency of the class.
  Ingest (first batch): the read of the last hour after the publish, and
  the 7-day tier-3 probe that proves the batch is queryable. serve_mix:
  the median over the passes.
- ``store_bytes_per_event``: on-disk bytes of the store per event it holds.

The report lines before the final JSON add ``batch_to_queryable_s``,
``ingest_events_per_s``, ``queries_per_s``, ``peak_rss_mb`` (this process
plus the JVM; it moves by a quarter between runs, too much to gate on),
``failed_ratio``, the tail percentile with ≥10 samples beyond it (when a
run has that many samples), the pre-JVM CPU control and the load average.
Ingest batches after the first (when ``--seconds`` outlasts one batch)
are run, checked and reported as samples, but do not enter ``cycle_s``.

``--trace 1`` runs the same cycle with Spark's event log on, spans around
every public call and a direct (non-HTTP) evaluation after each HTTP
query (timed apart: serve_mix's passes exclude it), and reports the
per-layer metrics instead; it prints the difference to the untraced run
of the same workload, seed and program version, when one was made in this
checkout, as tracing overhead.

Every run checks the program's outputs: ``TierPipeline.verify()``, tier-1
``sum(cnt)`` equal to the events folded, each probe (the serving store's
tier-3 event total) including its batch, and each serve_mix response equal to the
series count, point count and value checksum of a direct ``query_range``
on the same store. A failed check counts in ``failed`` and makes the
command exit 1.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
#: temporary files of the running session; snapshot manifests hold absolute
#: paths, so the history's store is built and served at RUN_DIR/store
RUN_DIR = os.path.join(WORK, "run")
WORKLOADS = ("ingest_append", "ingest_late", "serve_mix")
#: program files whose content keys the history cache
PROGRAM = ("workbook_exporter_fe_spark", "run_server.py", "run_rules.py")
STAGES = ("t0_events_inc", "tier1_inc", "tier2_inc", "tier3_inc", "compress_inc")
SPARK_LAYERS = ("fold", "publish", "query", "check")
SPARK_COSTS = ("executor_run_s", "shuffle_write_bytes", "spill_bytes", "gc_s")
TIERS = ("tier1", "tier2", "tier3")

sys.path.insert(0, HERE)
sys.path.insert(0, REPO)


# ------------------------------------------------------------ contention
#: the control: a pure-Python loop, timed three times in a child interpreter
_CPU_LOOP = """
import time
for _ in range(3):
    t0 = time.perf_counter()
    x = 0
    for i in range(1_500_000):
        x += i * i % 7
    print(time.perf_counter() - t0)
"""


def _cpu_loops(n: int) -> list[float]:
    """Timings of the control loop in ``n`` children at once."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _CPU_LOOP], stdout=subprocess.PIPE, text=True)
        for _ in range(n)
    ]
    outs = [p.communicate()[0] for p in procs]
    if any(p.returncode for p in procs):
        raise RuntimeError("CPU control loop failed")
    return [float(x) for out in outs for x in out.split()]


def contention_control() -> dict:
    """Pre-JVM CPU control: the same pure-Python loop solo and
    ``nproc``-way parallel (median of three per child). On an idle box the
    scaling is ~1.0; other load on the machine lowers it."""
    n = os.cpu_count() or 1
    solo = statistics.median(_cpu_loops(1))
    par = statistics.median(_cpu_loops(n))
    return {
        "control_solo_s": solo,
        "control_par_s": par,
        "control_scaling": solo / par,
        "nproc": n,
        "loadavg": list(os.getloadavg()),
    }


# -------------------------------------------------------------- processes
def become_subreaper() -> None:
    """Make the processes this run starts, and theirs, children of this
    process when their parent ends first (Spark's Python workers outlive
    the JVM by a moment), so that reap_descendants() can wait for them."""
    import ctypes

    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return  # not Linux: orphans go to init and are not waited for
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me = str(os.getpid())
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended meanwhile
        if stat[stat.rindex(")") + 2:].split()[1] == me:
            kids.append(int(d))
    return kids


def reap_descendants(grace_s: float = 30.0) -> None:
    """Wait until every process this run started has ended; kill what is
    still running after ``grace_s`` seconds."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            print(f"perfbench: killing processes still running: {kids}", file=sys.stderr)
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# ---------------------------------------------------------------- helpers
def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _first(xs):
    return xs[0] if xs else 0.0


def _tail(xs) -> tuple[float, float] | None:
    """(p, value) of the highest percentile with ≥10 samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11  # index with 10 samples above it
    return (k + 1) / n * 100, sorted(xs)[k]


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _program_key() -> str:
    h = hashlib.sha256()
    for entry in PROGRAM + (os.path.join("perfbench", "inputs.py"),):
        p = os.path.join(REPO, entry)
        files = (
            [p] if os.path.isfile(p)
            else sorted(
                os.path.join(r, f) for r, _d, fs in os.walk(p)
                for f in fs if f.endswith(".py")
            )
        )
        for f in files:
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _answer(body: dict) -> tuple[int, int, float]:
    """(series, points, checksum) of a Prometheus matrix response."""
    res = body["data"]["result"]
    vals = [float(v) for s in res for _t, v in s["values"] if v is not None]
    return len(res), sum(len(s["values"]) for s in res), sum(vals)


def _same(a: tuple, b: tuple) -> bool:
    return a[0] == b[0] and a[1] == b[1] and abs(a[2] - b[2]) <= 1e-9 * max(1.0, abs(b[2]))


# ---------------------------------------------------------------- session
def open_session(trace: bool = False):
    """A ``local[nproc]`` session whose temporary files stay under RUN_DIR
    (emptied first)."""
    from workbook_exporter_fe_spark.session import get_spark

    shutil.rmtree(RUN_DIR, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "eventlog", "uploads"):
        os.makedirs(os.path.join(RUN_DIR, d))
    # Spark's Python workers import the program; they only see it
    # through PYTHONPATH, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(RUN_DIR, "warehouse")
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(RUN_DIR, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(RUN_DIR, "eventlog"),
        })
    return get_spark(app_name="perfbench", cores=os.cpu_count() or 1, extra_conf=conf)


def close_session(spark) -> None:
    gw = spark.sparkContext._gateway
    spark.stop()
    # the JVM exits when its stdin closes; wait for it
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)


def _build_history(cache: str) -> None:
    """Fold and publish the 7-day history at RUN_DIR/store and cache it."""
    import inputs
    from workbook_exporter_fe_spark.plans.pipeline import (
        TierPipeline,
        publish_snapshot_tiers,
    )

    spark = open_session()
    try:
        store = os.path.join(RUN_DIR, "store")
        events = os.path.join(RUN_DIR, "history.parquet")
        n = inputs.write_history(events)
        TierPipeline(spark, store).run_incremental(spark.read.parquet(events), "history")
        publish_snapshot_tiers(spark, store)
        building = cache + ".building"
        shutil.rmtree(building, ignore_errors=True)
        shutil.copytree(store, os.path.join(building, "store"))
        with open(os.path.join(building, "history.json"), "w") as f:
            json.dump({"events": n}, f)
        os.rename(building, cache)
    finally:
        close_session(spark)


def history_cache(key: str) -> tuple[str, float | None]:
    """(cache dir, build seconds or None) of the history for program
    version ``key``. A missing cache is built in a child process, so the
    measured run's JVM never did the history's fold and publish. Caches of
    other versions are kept: the parent and a change run alternately in one
    checkout."""
    cache = os.path.join(WORK, f"history-{key}")
    if os.path.exists(cache):
        return cache, None
    t0 = time.perf_counter()
    code = f"import sys; sys.path.insert(0, {HERE!r}); import run; run._build_history({cache!r})"
    p = subprocess.run([sys.executable, "-c", code])
    if p.returncode != 0 or not os.path.exists(cache):
        raise RuntimeError(f"history build failed (exit code {p.returncode})")
    return cache, time.perf_counter() - t0


# ------------------------------------------------------------------- run
class Run:
    def __init__(self, args, control: dict, cache: str):
        self.args = args
        self.control = control
        self.cache = cache
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, list[float]] = {}
        self.info: dict = {}
        self.server = None
        #: time spent in traced runs' direct evaluations after HTTP queries
        self.direct_s = 0.0

    # ------------------------------------------------------------ checks
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)
        return ok

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def lsample(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    # ------------------------------------------------------------- setup
    def start_session(self):
        from eventlog import Tracer

        t0 = time.perf_counter()
        self.spark = open_session(self.trace)
        self.jvm_start_s = time.perf_counter() - t0
        self.nproc = os.cpu_count() or 1
        self.tracer = Tracer(self.spark if self.trace else None)

    def restore_history(self) -> tuple[str, int, float]:
        """Put a fresh copy of the cached history's store in RUN_DIR;
        returns (store, history events, copy seconds)."""
        store = os.path.join(RUN_DIR, "store")
        with open(os.path.join(self.cache, "history.json")) as f:
            n = json.load(f)["events"]
        t0 = time.perf_counter()
        shutil.copytree(os.path.join(self.cache, "store"), store)
        return store, n, time.perf_counter() - t0

    def start_server(self, store: str):
        from run_server import make_server

        tiers = os.path.join(store, "snapshot_tiers")
        cfg = {"metrics": [
            {"name": "tok1m", "table": os.path.join(tiers, "tier1"), "labels": ["source"],
             "ts": "bucket_ts", "value": "sum_v"},
            {"name": "events1d", "table": os.path.join(tiers, "tier3"), "labels": ["source"],
             "ts": "bucket_ts", "value": "cnt"},
        ]}
        server, state = make_server(
            os.path.join(RUN_DIR, "uploads"), port=0, cores=str(self.nproc),
            metrics_cfg=cfg,
        )
        state.spark = self.spark  # share the benchmark's session
        thread = threading.Thread(target=server.serve_forever, daemon=True)
        thread.start()
        self.server, self.server_thread = server, thread
        self.cfg = cfg
        self.url = f"http://127.0.0.1:{server.server_address[1]}/api/v1/query_range?"

    # ------------------------------------------------------------ queries
    def http_query(self, layer: str, q: dict) -> tuple[float, dict | None, float]:
        """One HTTP request: (latency, Prometheus body or None on failure,
        perf_counter at the answer). In traced runs the same query is then
        evaluated directly, for the per-layer split."""
        url = self.url + urllib.parse.urlencode(
            {k: q[k] for k in ("query", "start", "end", "step")}
        )
        with self.tracer.span(layer):
            t0 = time.perf_counter()
            try:
                with urllib.request.urlopen(url, timeout=170) as r:
                    body = json.loads(r.read())
            except OSError as e:  # HTTP error statuses are OSErrors too
                print(f"request failed: {q['query']}: {e}", file=sys.stderr)
                return 0.0, None, time.perf_counter()
            t_end = time.perf_counter()
            dt = t_end - t0
        if body.get("status") != "success":
            return dt, None, t_end
        if self.trace and layer == "query":
            self.direct(q, "direct", dt)
            self.direct_s += time.perf_counter() - t_end
        return dt, body, t_end

    def direct(self, q: dict, layer: str, http_s: float | None = None):
        """build_store + query_range + collect; returns (series, points,
        checksum). With ``http_s`` (the same query's HTTP latency) it
        records the per-layer split."""
        from run_rules import build_store
        from workbook_exporter_fe_spark.plans.promql import query_range

        with self.tracer.span(layer):
            t0 = time.perf_counter()
            store = build_store(self.spark, self.cfg)
            t1 = time.perf_counter()
            df = query_range(store, q["query"], q["start"], q["end"], step=q["step"])
            labels = [c for c in df.columns if c not in ("ts", "value")]
            rows = df.collect()
            t2 = time.perf_counter()
        series = {tuple(r[c] for c in labels) for r in rows}
        ans = (len(series), len(rows), sum(float(r["value"]) for r in rows))
        if http_s is not None:
            self.lsample("promql.build_store_ms", (t1 - t0) * 1000)
            self.lsample("promql.query_range_ms", (t2 - t1) * 1000)
            self.lsample("promql.rows_out", len(rows))
            self.lsample("server.overhead_ms", (http_s - (t2 - t0)) * 1000)
            opened = pruned = 0
            for m in self.cfg["metrics"]:
                if m["name"] not in q["query"]:
                    continue
                st = store.pruning_stats.get(m["name"])
                if st is None:
                    # an unpruned load (prune_allowance() is None, e.g.
                    # rate()) records nothing but reads every live file
                    opened += self.live_files(m["table"])
                else:
                    opened += st["files_opened"]
                    pruned += st["files_pruned"]
            self.lsample("snapshots.files_opened", opened)
            self.lsample("snapshots.files_pruned", pruned)
        return ans

    def live_files(self, table: str) -> int:
        from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable

        return len(SnapshotTable(self.spark, table).snapshot()["files"])

    def record_live_files(self, store: str) -> None:
        for tier in TIERS:
            self.layer[f"snapshots.live_files.{tier}"] = [
                self.live_files(os.path.join(store, "snapshot_tiers", tier))
            ]

    # ------------------------------------------------------------- ingest
    def ingest(self) -> None:
        import inputs
        from workbook_exporter_fe_spark.plans.pipeline import (
            TierPipeline,
            publish_snapshot_tiers,
        )

        t_setup = time.perf_counter()
        store, hist_events, copy_s = self.restore_history()
        self.start_server(store)
        pipe = TierPipeline(self.spark, store)
        folded = hist_events
        # every tier-3 day bucket once: the 8 calendar days the history
        # and the appended hours touch
        day0 = inputs.T0 - inputs.T0 % 86400
        probe = dict(query="sum(events1d)", start=day0, end=day0 + 8 * 86400, step="1d")

        def recent(end: int) -> dict:
            return dict(query="sum(tok1m)", start=end - 3600, end=end, step="1m")

        # warm-up: the probe on the restored history (a fresh JVM's first
        # query pays seconds of one-off costs)
        t_warm = time.perf_counter()
        _dt, body, _t = self.http_query("setup", probe)
        total = None if body is None else _answer(body)[2]
        self.check(total == folded, f"history probe {total} != history events {folded}")
        warm = time.perf_counter() - t_warm
        self.setup_s = self.jvm_start_s + copy_s + warm
        self.info["setup_wall_s"] = time.perf_counter() - t_setup

        t_meas = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t_meas < self.args.seconds:
            # hand off batch i, fold, publish and probe it, read the last hour
            path = os.path.join(RUN_DIR, f"batch-{i}.parquet")
            n = inputs.write_batch(path, self.args.workload, self.args.seed, i)
            end = inputs.HISTORY_END + (
                (i + 1) * 3600 if self.args.workload == "ingest_append" else 0
            )
            run_fp = f"{self.args.workload}:{self.args.seed}:{i}"
            t0 = time.perf_counter()
            events = self.spark.read.parquet(path)
            with self.tracer.span("fold"):
                pipe.run_incremental(events, run_fp)
            t1 = time.perf_counter()
            with self.tracer.span("publish"):
                info = publish_snapshot_tiers(self.spark, store, changed=events)
            t2 = time.perf_counter()
            q_s, body, t3 = self.http_query("query", probe)
            folded += n
            total = None if body is None else _answer(body)[2]
            if self.check(total == folded, f"batch {i}: probe {total} != events folded {folded}"):
                self.sample("cycle_s", t3 - t0)
                self.sample("ingest_events_per_s", n / (t3 - t0))
                self.sample("query_history_ms", q_s * 1000)
            dt, body, _t = self.http_query("query", recent(end))
            if self.check(body is not None and _answer(body)[0] == 1, f"batch {i}: recent read failed"):
                self.sample("query_recent_ms", dt * 1000)
            self.lsample("pipeline.run_incremental_s", t1 - t0)
            self.lsample("publish.s", t2 - t1)
            self.lsample("publish.partitions_replaced",
                         sum(v.get("partitions_replaced", 0) for v in info.values()))
            self.lsample("publish.files_replaced",
                         sum(v.get("files_replaced", 0) for v in info.values()))
            self.lsample("pipeline.batch_bytes", os.path.getsize(path))
            for e in pipe.manifest.entries:
                if e.get("run_fp") == run_fp and e.get("stage") in STAGES:
                    self.lsample(f"pipeline.stage.{e['stage']}_s", float(e["wall_sec"]))
            i += 1
        self.info["measured_s"] = time.perf_counter() - t_meas
        self.info["batches"] = i
        self.info["events_folded"] = folded

        from pyspark.sql import functions as F

        t_check = time.perf_counter()
        with self.tracer.span("check"):
            v = pipe.verify()
            self.check(v.get("ok") is True, f"verify(): {v}")
            cnt = self.spark.read.parquet(os.path.join(store, "tier1")).agg(F.sum("cnt")).first()[0]
        self.info["check_s"] = time.perf_counter() - t_check
        self.check(cnt == folded, f"tier-1 sum(cnt) {cnt} != events folded {folded}")
        self.record_live_files(store)
        self.store_bytes_per_event = _du(store) / folded

    # -------------------------------------------------------------- serve
    def serve(self) -> None:
        import inputs

        t_setup = time.perf_counter()
        store, hist_events, copy_s = self.restore_history()
        self.start_server(store)
        passes = inputs.serve_requests(self.args.seed, 64)
        shapes = sorted(passes[0], key=lambda q: (q["cls"], q["query"]))
        def ask(layer: str, q: dict) -> float | None:
            dt, body, _t = self.http_query(layer, q)
            got = _answer(body) if body is not None else None
            ok = self.check(got is not None and _same(got, expected[q["query"]]),
                            f"{q['query']}: got {got}, expected {expected[q['query']]}")
            return dt if ok else None

        # warm-up: the expected answer of every request, by direct
        # evaluation on the same store, then one discarded HTTP pass (a
        # query's second evaluation is still measurably slower than its
        # third)
        t_warm = time.perf_counter()
        expected = {q["query"]: self.direct(q, "setup") for q in shapes}
        for q in shapes:
            ask("setup", q)
        warm = time.perf_counter() - t_warm
        self.setup_s = self.jvm_start_s + copy_s + warm
        self.info["setup_wall_s"] = time.perf_counter() - t_setup

        t_meas = time.perf_counter()
        n_pass = 0
        while n_pass == 0 or time.perf_counter() - t_meas < self.args.seconds:
            t_pass, d_pass = time.perf_counter(), self.direct_s
            for q in passes[n_pass % len(passes)]:
                dt = ask("query", q)
                if dt is not None:
                    self.sample(f"query_{q['cls']}_ms", dt * 1000)
            self.sample("cycle_s", time.perf_counter() - t_pass - (self.direct_s - d_pass))
            n_pass += 1
        self.info["measured_s"] = time.perf_counter() - t_meas
        self.info["passes"] = n_pass
        self.info["queries_per_s"] = (
            n_pass * len(shapes) / (self.info["measured_s"] - self.direct_s)
        )
        self.record_live_files(store)
        self.store_bytes_per_event = _du(store) / hist_events

    # ----------------------------------------------------------- teardown
    def finish(self) -> None:
        jvm = self.spark.sparkContext._gateway.proc.pid
        self.peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server_thread.join(timeout=30)
        close_session(self.spark)

    def e2e(self) -> dict:
        s = self.samples
        # ingest: the first batch after start-up; serve_mix: every pass
        pick = _median if self.args.workload == "serve_mix" else _first
        return {
            "setup_s": self.setup_s,
            "cycle_s": pick(s.get("cycle_s", [])),
            "query_recent_ms": pick(s.get("query_recent_ms", [])),
            "query_history_ms": pick(s.get("query_history_ms", [])),
            "store_bytes_per_event": self.store_bytes_per_event,
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self) -> dict:
        from eventlog import attribute, per_layer, read_events

        costs, other = attribute(
            read_events(os.path.join(RUN_DIR, "eventlog")), self.tracer.spans
        )
        layers = per_layer(costs, self.tracer.spans)
        out = {"session.jvm_start_s": self.jvm_start_s}
        for name in ("pipeline.run_incremental_s",) + tuple(
            f"pipeline.stage.{st}_s" for st in STAGES
        ) + ("publish.s", "publish.partitions_replaced", "publish.files_replaced"):
            out[name] = _median(self.layer.get(name, []))
        fold = layers.get("fold", [])
        out["pipeline.spark_jobs"] = _median([c.jobs for c in fold])
        out["pipeline.bytes_written"] = _median([c.bytes_written for c in fold])
        batch_bytes = self.layer.get("pipeline.batch_bytes", [])
        out["pipeline.write_amp"] = _median(
            [c.bytes_written / b for c, b in zip(fold, batch_bytes)]
        )
        for k in ("python_run_s", "python_init_s", "python_bytes"):
            out[f"codecs.{k}"] = _median([getattr(c, k) for c in fold])
        for name in ("snapshots.files_opened", "snapshots.files_pruned") + tuple(
            f"snapshots.live_files.{t}" for t in TIERS
        ) + ("promql.build_store_ms", "promql.query_range_ms", "promql.rows_out",
                     "server.overhead_ms"):
            out[name] = _median(self.layer.get(name, []))
        out["promql.spark_jobs"] = _median([c.jobs for c in layers.get("direct", [])])
        total = sum(c.executor_run_s for cs in layers.values() for c in cs) + other.executor_run_s
        for layer in SPARK_LAYERS:
            cs = layers.get(layer, [])
            for k in SPARK_COSTS:
                out[f"spark.{layer}.{k}"] = sum(getattr(c, k) for c in cs)
        out["trace.attributed_share"] = (1 - other.executor_run_s / total) if total else 1.0
        self.info["unattributed_jobs"] = other.jobs
        return out


# ------------------------------------------------------------------ main
def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measure for at least this long (whole batches / passes)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def report(run: Run, metrics: dict, units: dict, notes: list[str]) -> None:
    a = run.args
    print(f"# perfbench {a.workload} seed={a.seed} trace={a.trace}")
    c = run.control
    print(f"# contention: control_scaling={c['control_scaling']:.3f} "
          f"(solo {c['control_solo_s']:.4f}s, {c['nproc']}-way {c['control_par_s']:.4f}s) "
          f"loadavg={c['loadavg']}")
    for k, v in run.info.items():
        print(f"# {k}: {v}")
    for line in notes:
        print(f"# {line}")
    for k, v in metrics.items():
        print(f"{k:38s} {v:>16.6g} {units.get(k, '')}")
    s = run.samples
    extra = {
        "failed_ratio": (run.failed / run.attempted, "ratio"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
    }
    if a.workload != "serve_mix":
        extra["batch_to_queryable_s"] = (_first(s.get("cycle_s", [])), "s")
        extra["ingest_events_per_s"] = (_first(s.get("ingest_events_per_s", [])), "1/s")
    else:
        extra["queries_per_s"] = (run.info["queries_per_s"], "1/s")
    for k, (v, u) in extra.items():
        print(f"{k:38s} {v:>16.6g} {u}")
    for k, xs in sorted(s.items()):
        t = _tail(xs)
        tail = f" p{t[0]:.0f}={t[1]:.6g}" if t else ""
        print(f"# samples {k}: n={len(xs)} median={_median(xs):.6g}{tail}")


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: program not found next to perfbench/: {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    control = contention_control()  # before the JVM exists
    os.makedirs(WORK, exist_ok=True)
    program = _program_key()
    cache, build_s = history_cache(program)
    run = Run(args, control, cache)
    if build_s is not None:
        run.info["history_build_s"] = build_s
    run.start_session()
    try:
        if args.workload == "serve_mix":
            run.serve()
        else:
            run.ingest()
    finally:
        run.finish()
    e2e = run.e2e()
    result_dir = os.path.join(WORK, "results")
    os.makedirs(result_dir, exist_ok=True)
    key = f"{args.workload}-s{args.seed}-{program}"
    if args.trace:
        metrics = run.per_layer()
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        share = metrics["trace.attributed_share"]
        run.check(share >= 0.9, f"trace attributes {share:.3f} < 0.9 of executor "
                                "run time to the named layers")
        base = os.path.join(result_dir, f"{key}-t0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)
            notes = [
                f"tracing overhead {k}: {v - untraced[k]:+.6g} "
                f"(traced {v:.6g}, untraced {untraced[k]:.6g})"
                for k, v in e2e.items()
            ]
        else:
            notes = ["tracing overhead: no untraced run of this workload, seed and "
                     "program version here"]
        metrics = {m["name"]: metrics[m["name"]] for m in spec["per_layer"]}
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        notes = []
        with open(os.path.join(result_dir, f"{key}-t0.json"), "w") as f:
            json.dump(e2e, f)
    run.info["wall_s"] = time.perf_counter() - t_main
    report(run, metrics, units, notes)
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    become_subreaper()
    try:
        status = main()
    finally:
        reap_descendants()
    sys.exit(status)
