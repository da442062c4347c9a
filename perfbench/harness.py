"""Shared machinery for the workloads: statistics, run hygiene and
process clean-up through ``/proc``, per-layer tracing, Spark job counts,
and the closed-loop op log.

Nothing here edits the engine package. Tracing wraps the package's
public functions from the outside by rebinding every module attribute
that holds them, so calls made by the engine's own modules are seen too.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "druid_hadoop_utils_spark"
_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ statistics

def pct(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of ``values``."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    return sum(values) / len(values) if values else 0.0


# --------------------------------------------------------- /proc hygiene

def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    out, stack, seen = [], [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except OSError:
            continue  # raced with process exit
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            return f.read().rsplit(b")", 1)[1].split()[0] != b"Z"
    except OSError:
        return False


def stop_processes(pids, timeout_s: float = 10.0) -> None:
    """Terminate the processes in ``pids`` that are still running and
    wait until they have ended (killing any that outlive ``timeout_s``).
    They need not be our children, so waiting means polling ``/proc``."""
    live = [p for p in pids if _alive(p)]
    for p in live:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    while live and time.monotonic() < deadline:
        time.sleep(0.05)
        live = [p for p in live if _alive(p)]
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in live):
        time.sleep(0.05)


def _pid_cpu_jiffies(pid: int) -> int:
    """utime + stime + cutime + cstime: reaped children count at every
    node, because Spark's Python workers are reaped by an intermediate
    parent (the pyspark daemon or the JVM), not by this process."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        tail = f.read().rsplit(b")", 1)[1].split()
    return int(tail[11]) + int(tail[12]) + int(tail[13]) + int(tail[14])


def _tree_cpu_jiffies(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            total += _pid_cpu_jiffies(pid)
        except OSError:
            continue
    return total


def _tree_rss_bytes(root: int) -> int:
    """Resident memory of the tree with shared pages counted once: the
    sum of each process's proportional set size. Summing plain RSS would
    count the JVM twice whenever it forks a helper process, since the
    child shares every page until it execs."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def _system_busy_jiffies() -> tuple[int, int]:
    """(non-idle jiffies over all cores, hypervisor-steal jiffies)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals) - idle, steal


class Hygiene:
    """Samples, every ``period_s`` on a daemon thread, the resident
    memory of this process tree (driver, JVM, Python workers) and the CPU used by
    processes outside it and stolen by the hypervisor. Peaks are kept so
    a run that shared the machine names itself."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_rss = 0
        self.foreign_cores_max = 0.0
        self.steal_cores_max = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "Hygiene":
        self._thread.start()
        return self

    def _loop(self) -> None:
        root = os.getpid()
        prev = (*_system_busy_jiffies(), _tree_cpu_jiffies(root), time.monotonic())
        # the CPU window is a few samples wide: single /proc/stat ticks
        # are too coarse for a 250 ms window
        window = max(1, int(2.0 / self.period_s))
        n = 0
        while not self._stop.wait(self.period_s):
            self.peak_rss = max(self.peak_rss, _tree_rss_bytes(root))
            n += 1
            if n % window:
                continue
            busy, steal = _system_busy_jiffies()
            tree = _tree_cpu_jiffies(root)
            now = time.monotonic()
            wall = now - prev[3]
            # a process that left the tree (exited and reaped outside it)
            # takes its CPU with it; such a window cannot be attributed
            if wall > 0 and tree >= prev[2]:
                d_busy, d_steal, d_tree = busy - prev[0], steal - prev[1], tree - prev[2]
                foreign = max(0, d_busy - d_steal - d_tree) / _CLK_TCK / wall
                self.foreign_cores_max = max(self.foreign_cores_max, foreign)
                self.steal_cores_max = max(self.steal_cores_max, max(0, d_steal) / _CLK_TCK / wall)
            prev = (busy, steal, tree, now)

    def stop(self) -> None:
        self.peak_rss = max(self.peak_rss, _tree_rss_bytes(os.getpid()))
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_probe_ms(reps: int = 5, n: int = 200_000) -> float:
    """How fast this machine runs right now: the fastest of ``reps``
    timings of a fixed pure-Python loop, in ms. On one machine the
    figure is steady while the host is quiet; a higher one shows a run
    that shared a busy host, also when the host reports no steal."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(n):
            x += i & 7
        best = min(best, time.perf_counter() - t0)
    return best * 1e3


# --------------------------------------------------------------- tracing

class Tracer:
    """In-memory span recorder. A span is (id, parent, name, op, start,
    end); counts are keyed by name and op. Disabled tracers install no
    wrappers, so untraced runs execute the engine unmodified."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.op = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "op": self.op, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name].append(value)

    # ---- wrapping the package's public functions
    def _rebind(self, original, replacement) -> None:
        import sys

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, replacement)
                    self._patched.append((mod, attr, original))

    def instrument(self, module, attr: str, name: str, on_return=None) -> None:
        """Record a span named ``name`` around every call of
        ``module.attr``, wherever the package bound it. ``on_return(rec,
        result)`` may attach facts about the result to the span."""
        if not self.enabled:
            return
        original = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = original(*args, **kwargs)
                if on_return is not None:
                    on_return(rec, result)
                return result

        wrapper.__wrapped__ = original
        wrapper.__name__ = getattr(original, "__name__", attr)
        self._rebind(original, wrapper)

    def instrument_context(self, module, attr: str, name: str) -> None:
        """Like ``instrument`` for a context-manager factory: the span
        covers only ``__enter__`` (time spent acquiring)."""
        if not self.enabled:
            return
        original = getattr(module, attr)
        tracer = self

        class _Timed:
            def __init__(self, cm):
                self._cm = cm

            def __enter__(self):
                with tracer.span(name):
                    return self._cm.__enter__()

            def __exit__(self, *exc):
                return self._cm.__exit__(*exc)

        def wrapper(*args, **kwargs):
            return _Timed(original(*args, **kwargs))

        wrapper.__wrapped__ = original
        self._rebind(original, wrapper)

    def restore(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    # ---- analysis
    def self_times_ms(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover
        (children of one span run sequentially on one thread, so their
        intervals are disjoint and add up)."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"] - covered[s["id"]]) * 1e3
                for s in self.spans if s["end"] is not None}

    def durations_ms(self, name: str, parent_name: str | None = None) -> list[float]:
        by_id = {s["id"]: s for s in self.spans}
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if parent_name is not None:
                p = by_id.get(s["parent"])
                if p is None or p["name"] != parent_name:
                    continue
            out.append((s["end"] - s["start"]) * 1e3)
        return out

    def self_ms(self, name: str) -> list[float]:
        st = self.self_times_ms()
        return [st[s["id"]] for s in self.spans if s["name"] == name and s["id"] in st]

    def outermost_ms_per_op(self, prefix: str) -> list[float]:
        """Per op: time covered by spans whose name starts with
        ``prefix`` and whose parent does not (nested calls count once)."""
        by_id = {s["id"]: s for s in self.spans}
        per_op: dict = defaultdict(float)
        for s in self.spans:
            if not s["name"].startswith(prefix) or s["end"] is None:
                continue
            p = by_id.get(s["parent"])
            if p is not None and p["name"].startswith(prefix):
                continue
            per_op[s["op"]] += (s["end"] - s["start"]) * 1e3
        return list(per_op.values())

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        st = self.self_times_ms()
        spans = [dict(s, self_ms=st.get(s["id"])) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": spans, "counts": self.counts}, f)


def span_cost_us(n: int = 20000) -> float:
    """Measured cost of one recorded span (enter + exit), in µs, on a
    scratch tracer so the run's own spans are untouched."""
    probe = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with probe.span("probe"):
            pass
    return (time.perf_counter() - t0) / n * 1e6


# ------------------------------------------------------- Spark job stats

class JobStats:
    """Per-op Spark job, stage and task counts from a job group and
    ``SparkContext.statusTracker()``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def jobs(self, op_id: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(op_id))

    def tasks(self, job_ids) -> int:
        n = 0
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    n += st.numCompletedTasks
        return n

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def scan_output_rows(df) -> int:
    """Rows emitted by the scan nodes of ``df``'s executed plan (after an
    action ran on ``df`` itself), walking through adaptive query stages."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        if "Scan" in cls and "Exchange" not in cls:
            m = node.metrics().get("numOutputRows")
            if m.isDefined():
                total += int(m.get().value())
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return total


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                continue
    return out


def new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(sz for p, sz in after.items() if p not in before)


# ------------------------------------------------------------ op loop

class OpLog:
    """Every attempted op: kind, wall ms, success, error class."""

    def __init__(self):
        self.ops: list[dict] = []

    def record(self, kind: str, ms: float, ok: bool, err: str | None = None, **extra) -> None:
        self.ops.append({"kind": kind, "ms": ms, "ok": ok, "err": err, **extra})

    def ms(self, *kinds: str) -> list[float]:
        return [o["ms"] for o in self.ops if o["ok"] and o["kind"] in kinds]

    def attempted(self, *kinds: str) -> int:
        return sum(1 for o in self.ops if not kinds or o["kind"] in kinds)

    def failed(self, *kinds: str) -> int:
        return sum(1 for o in self.ops if not o["ok"] and (not kinds or o["kind"] in kinds))

    def errors(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for o in self.ops:
            if not o["ok"]:
                out[o["err"]] += 1
        return dict(out)


def error_class(exc: BaseException) -> str:
    """Exception type plus Spark's error class when it carries one."""
    name = type(exc).__name__
    get = getattr(exc, "getCondition", None) or getattr(exc, "getErrorClass", None)
    cond = None
    if get is not None:
        try:
            cond = get()
        except Exception:  # noqa: BLE001 - a best-effort label only
            cond = None
    return f"{name}:{cond}" if cond else name
