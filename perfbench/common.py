"""Shared benchmark machinery: spans, counters read from Spark's status
store, RSS sampling, percentiles and order-insensitive result hashes.

Spans and counters are recorded only by the benchmark, around its own
calls into the program's public functions; nothing here reaches into the
program's internals beyond what a user of Spark can read.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import decimal
import gc
import hashlib
import os
import statistics
import threading
import time

# Per-layer metrics, in the order BENCHMARK.json lists them:
# (name, unit, better). A workload reports 0 for a layer it skips.
QUERY_NAMES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_revenue",
    "join_broadcast_brand_revenue",
    "window_running_spend",
    "events_tumbling_hourly",
    "sort_limit_top_orders",
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("io.read_json_s", "s", "lower"),
    ("io.files_listed", "count", "lower"),
    ("io.input_bytes", "bytes", "lower"),
    ("io.write_jdbc_s", "s", "lower"),
    ("io.jdbc_rows", "count", "higher"),
    ("io.scan_rows_per_result_row", "ratio", "lower"),
    ("plans.call_s", "s", "lower"),
    ("plans.eager_jobs", "count", "lower"),
    ("plans.materialize_s", "s", "lower"),
    ("plans.rows_per_doc", "ratio", "higher"),
    ("versioned.write_s", "s", "lower"),
    ("versioned.commits", "count", "lower"),
    ("versioned.files_written", "count", "lower"),
    ("versioned.merge_s", "s", "lower"),
    ("versioned.merge_touched_file_ratio", "ratio", "lower"),
    ("versioned.bytes_per_row", "bytes/row", "lower"),
    ("sinks.batch_commit_s", "s", "lower"),
    ("sinks.rows_committed", "count", "higher"),
    ("queries.build_s", "s", "lower"),
    ("queries.exec_s", "s", "lower"),
    *[(f"queries.{q}.exec_s", "s", "lower") for q in QUERY_NAMES],
    ("queries.jobs", "count", "lower"),
    ("queries.tasks", "count", "lower"),
    ("queries.shuffle_write_bytes", "bytes", "lower"),
    ("queries.task_s_per_wall_s", "ratio", "higher"),
    ("text.quality_s", "s", "lower"),
    ("dedup.exact_s", "s", "lower"),
    ("dedup.minhash_lsh_s", "s", "lower"),
    ("dedup.clusters_s", "s", "lower"),
    ("similarity.embedding_pairs_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.pair_yield", "ratio", "higher"),
    ("dedup.shuffle_write_bytes", "bytes", "lower"),
    ("dedup.planted_recall", "ratio", "higher"),
    ("stream.latency_s", "s", "lower"),
    ("stream.trigger_s", "s", "lower"),
    ("stream.add_batch_s", "s", "lower"),
    ("stream.plan_s", "s", "lower"),
    ("stream.wal_commit_s", "s", "lower"),
    ("stream.state_rows", "count", "lower"),
    ("stream.state_bytes", "bytes", "lower"),
    ("stream.rows_per_batch", "count", "higher"),
    ("spark.gc_s", "s", "lower"),
    ("jvm.jit_cpu_s", "s", "lower"),
    ("jvm.gc_cpu_s", "s", "lower"),
    ("spark.tasks_failed", "count", "lower"),
    ("spark.heap_peak_mb", "MB", "lower"),
    ("mem.rss_peak_mb", "MB", "lower"),
    ("mem.jvm_rss_peak_mb", "MB", "lower"),
    ("mem.workers_pss_peak_mb", "MB", "lower"),
]

# End-to-end metrics: (name, unit, better, bound). Every workload reports
# every one of them; what an "op" and an "item" are depends on the
# workload (see METRICS.md). Times are CPU seconds of the driver JVM, its
# Python workers and the Python driver: on a shared host CPU steal moved
# wall-clock medians by up to 95 % between two sets of the same code.
# Operation times leave out the JVM's JIT compiler and GC threads, whose
# time moved one operation's CPU seconds by up to 40 % between runs.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("ops_ok_ratio", "ratio", "higher", 0.02),
    ("op_cpu_s_p50", "s", "lower", 0.25),
    ("ops_per_cpu_s", "1/s", "higher", 0.25),
    ("items_per_cpu_s", "items/s", "higher", 0.25),
]


def now() -> float:
    return time.perf_counter()


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# ---------------------------------------------------------------------------
# Result hashing (order-insensitive, column-order-insensitive)
# ---------------------------------------------------------------------------


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def rows_hash(columns: list[str], rows) -> str:
    """sha256 over the sorted canonical rows; columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "|".join(f"{columns[i]}={_canon(r[i])}" for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Counters from Spark's status tracker / status store
# ---------------------------------------------------------------------------

EXEC_FIELDS = {
    "input_bytes": "totalInputBytes",
    "shuffle_write_bytes": "totalShuffleWrite",
    "task_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "tasks": "completedTasks",
    "tasks_failed": "failedTasks",
}


class Counters:
    """Reads job ids and executor totals at a boundary; ``diff`` of two
    snapshots is the work Spark did in between. Waits for the listener
    bus to drain first, so the status store has seen every finished
    task."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def snap(self) -> dict:
        from py4j.protocol import Py4JError

        try:
            self.jsc.listenerBus().waitUntilEmpty()
        except Py4JError:  # the drain is an accuracy aid, not required
            pass
        out = {k: 0 for k in EXEC_FIELDS}
        ex = self.jsc.statusStore().executorList(True)
        for i in range(ex.size()):
            e = ex.apply(i)
            for k, m in EXEC_FIELDS.items():
                out[k] += int(getattr(e, m)())
        out["job_ids"] = set(self.sc.statusTracker().getJobIdsForGroup(None))
        return out

    @staticmethod
    def diff(a: dict, b: dict) -> dict:
        d = {k: b[k] - a[k] for k in EXEC_FIELDS}
        d["jobs"] = len(b["job_ids"] - a["job_ids"])
        return d


def plan_nodes(df) -> list[tuple[str, dict, str]]:
    """(node name, {metric: value}, one-line description) for every node
    of ``df``'s executed plan, descending into adaptive query stages.
    Call after the DataFrame has been executed."""
    out = []

    def walk(p):
        name = p.nodeName()
        ms = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            ms[kv._1()] = int(kv._2().value())
        out.append((name, ms, p.simpleString(100)))
        if name == "AdaptiveSparkPlan":
            kids = [p.executedPlan()]
        elif "QueryStage" in name:
            kids = [p.plan()]
        else:
            ch = p.children()
            kids = [ch.apply(i) for i in range(ch.size())]
        for k in kids:
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def scan_rows(df) -> int:
    """Rows produced by the file scans of an executed DataFrame."""
    return sum(
        ms.get("numOutputRows", 0)
        for name, ms, _ in plan_nodes(df)
        if name.startswith("Scan") or name.startswith("FileScan")
    )


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id, counter diffs).

    Disabled, ``span`` costs one context-manager entry and records
    nothing, so untraced runs measure the program alone."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._lock = threading.Lock()
        self.counters = Counters(spark) if enabled else None
        self.t0 = now()
        self.op = None  # index of the operation spans are attributed to

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "run_id": self.run_id,
                "op": self.op,
            }
            self.spans.append(rec)
        c0 = self.counters.snap()
        stack.append(sid)
        rec["start"] = now() - self.t0
        try:
            yield attrs
        finally:
            rec["end"] = now() - self.t0
            stack.pop()
            rec["counters"] = Counters.diff(c0, self.counters.snap())
            rec["attrs"] = attrs

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def report(self) -> dict:
        """Per span name: count, total and self time (span minus the
        union of its children's intervals), summed counters."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s.get("parent") is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            dur = s["end"] - s["start"]
            covered, last = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], last), min(c.get("end", c["start"]), s["end"])
                if b > a:
                    covered += b - a
                    last = b
            r = out.setdefault(
                s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0, "counters": {}}
            )
            r["count"] += 1
            r["total_s"] += dur
            r["self_s"] += dur - covered
            for k, v in s.get("counters", {}).items():
                r["counters"][k] = r["counters"].get(k, 0) + v
        return out


def table_arrow(table_dir: str, version: int | None = None, columns=None):
    """A versioned table's snapshot read straight from its parquet files
    with pyarrow, for the correctness gates: no Spark job, and no trust
    in the program's own reader. Raises if the snapshot hides rows
    behind deletion vectors, which a plain file read would count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datalake_scripts_spark.operators import versioned as V

    files = V.files_for_read(table_dir, version)
    parts = [pq.read_table(os.path.join(table_dir, f), columns=columns) for f in files]
    tbl = pa.concat_tables(parts) if parts else None
    n = tbl.num_rows if tbl is not None else 0
    if n != V.snapshot_row_count(table_dir, version):
        raise ValueError(f"{table_dir}: file rows {n} differ from the snapshot's row count")
    return tbl


def settle(spark) -> None:
    """Before each measured operation: drop cached blocks and collect
    garbage on both sides, so no operation pays eviction or GC for an
    earlier one."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


# ---------------------------------------------------------------------------
# Peak RSS of the driver JVM and its Python workers
# ---------------------------------------------------------------------------


def _mem_kb(pid: int, field: str) -> int:
    """``VmRSS`` from /proc/<pid>/status, or ``Pss`` from smaps_rollup
    (proportional: pages shared with the forking parent count once)."""
    path = f"/proc/{pid}/status" if field == "VmRSS:" else f"/proc/{pid}/smaps_rollup"
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    kids.extend(int(x) for x in f.read().split())
            except OSError:
                pass
    except OSError:
        pass
    return kids


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_s(pid: int) -> float:
    """utime + stime of a process and of its reaped children, seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _TICK


# JVM runtime threads, by the name prefix /proc shows for them
RUNTIME_THREADS = {
    "jit": ("C1 CompilerThre", "C2 CompilerThre"),
    "gc": ("GC Thread", "G1 ", "VM Thread", "VM Periodic"),
}


class RuntimeCpu:
    """CPU seconds used so far by the driver JVM's runtime threads (JIT
    compilers, garbage collector), per kind. Each reading lists the
    JVM's threads and keeps every runtime thread's latest time, so a
    thread started since the last reading counts whole. The JVM runs
    with fixed sets of compiler and GC threads (``run.start_spark``), so
    none retires with time unread."""

    def __init__(self, jvm_pid: int):
        self.task = f"/proc/{jvm_pid}/task"
        self._kind: dict[str, str | None] = {}  # "tid:start" -> kind
        self._last: dict[str, float] = {}

    def __call__(self) -> dict[str, float]:
        try:
            tids = os.listdir(self.task)
        except OSError:
            tids = []
        for tid in tids:
            try:
                with open(f"{self.task}/{tid}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
            except OSError:
                continue
            fields = rest.split()
            key = f"{tid}:{fields[19]}"  # starttime: a reused tid is a new key
            if key not in self._kind:
                comm = head.split("(", 1)[1]
                self._kind[key] = next(
                    (k for k, pre in RUNTIME_THREADS.items() if comm.startswith(pre)), None)
            if self._kind[key]:
                self._last[key] = (int(fields[11]) + int(fields[12])) / _TICK
        out = dict.fromkeys(RUNTIME_THREADS, 0.0)
        for key, v in self._last.items():
            out[self._kind[key]] += v
        return out


class CpuMeter:
    """CPU seconds used so far by the driver JVM (with the helpers it
    reaped), its Python worker processes (with the workers they reaped)
    and this Python driver; calling it leaves out the JVM's runtime
    threads (``total`` keeps them, ``runtime`` reads them per kind).
    Differences between two readings are the CPU cost of what ran in
    between."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.runtime = RuntimeCpu(jvm_pid)

    def total(self) -> float:
        total, todo = _cpu_s(self.jvm), _children(self.jvm)
        while todo:
            p = todo.pop()
            if _is_python(p):
                total += _cpu_s(p)
                todo.extend(_children(p))
        t = os.times()
        return total + t.user + t.system

    def __call__(self) -> float:
        return self.total() - sum(self.runtime().values())


def _is_python(pid: int) -> bool:
    """Python workers only: the JVM also spawns short-lived helpers
    (shell commands via posix_spawn) that share its address space until
    they exec, and would count the whole JVM again."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class RssSampler:
    """Samples the memory of a process tree every ``period`` seconds on a
    daemon thread; ``peak_kb`` is the highest sum seen. The root (the
    JVM) counts its RSS; its Python descendants (the worker daemon and
    the workers it forks, which share most pages) count their PSS, so a
    varying number of forked workers does not count shared pages again."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root = root_pid
        self.period = period
        self.peak_kb = 0
        self.peak_jvm_kb = 0
        self.peak_workers_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        jvm, workers, todo = _mem_kb(self.root, "VmRSS:"), 0, _children(self.root)
        while todo:
            p = todo.pop()
            if _is_python(p):
                workers += _mem_kb(p, "Pss:")
                todo.extend(_children(p))
        self.peak_kb = max(self.peak_kb, jvm + workers)
        self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
        self.peak_workers_kb = max(self.peak_workers_kb, workers)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def start(self):
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        self._sample()
        return self.peak_kb / 1024.0


def heap_peak_mb(spark) -> float:
    """Peak JVM heap used, from the status store's executor peak memory
    metrics (in local mode the one executor is the driver)."""
    ex = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    peak = 0
    for i in range(ex.size()):
        pm = ex.apply(i).peakMemoryMetrics()
        if pm.isDefined():
            peak = max(peak, int(pm.get().getMetricValue("JVMHeapMemory")))
    return peak / 2**20
