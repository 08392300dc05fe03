"""Outside-in tracing of the package's layers, plus the /proc readers the
benchmark needs in both modes.

The tracer replaces module attributes, from the benchmark's side, with
wrappers that open a span around each call. A span is named
``<module>.<function>`` and gets its own Spark job group, so the jobs run
inside it can be read back from ``statusTracker`` and the status store,
which both work with the UI disabled. The job group is a local property of
the calling thread, so spans opened inside a ``foreachBatch`` sink (on the
stream's thread) are attributed too.

Spans are kept in memory; :meth:`Tracer.layers` resolves their Spark
counters once, after the timed region, and rolls them up per span name.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024

#: Per-span counters, in the order a traced run reports them.
COUNTERS = (
    "calls", "wall_s", "self_s", "jobs", "stages", "tasks", "exec_run_s",
    "exec_cpu_s", "shuffle_bytes", "spill_bytes", "input_bytes", "driver_s",
    "py_worker_cpu_s",
)


# -- /proc readers -----------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_s(pids) -> float:
    """utime + stime + cutime + cstime of ``pids``, in seconds. Reaped
    workers fold into their daemon's cutime/cstime, so the sum over the
    daemon and its live workers only grows."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[21]) * PAGE_KB
    return total / 1024


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``; (0, 0) when it does not exist."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            with contextlib.suppress(OSError):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return files, size


class RssSampler:
    """Samples the resident memory of the driver Python process, the JVM and
    every process below the JVM (the pyspark daemon and its workers) on a
    background thread, and keeps the peak."""

    def __init__(self, jvm_pid: int, period_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak_mb = 0.0
        self.peak_parts: dict = {}  # the peak sample, per process kind
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        workers = descendants(self.jvm_pid)
        parts = {"driver_py": rss_mb([os.getpid()]), "jvm": rss_mb([self.jvm_pid]),
                 "py_workers": rss_mb(workers)}
        total = sum(parts.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_parts = total, {**parts, "n_workers": len(workers)}

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. :meth:`wrap` installs a span around a module
    or class attribute; :meth:`unwrap_all` restores the originals."""

    GROUP_KEY = "spark.jobGroup.id"

    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._wrapped: list[tuple[object, str, object]] = []

    def _py_worker_cpu(self) -> float:
        return cpu_s(descendants(self.jvm_pid))

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._wrapped.append((owner, attr, orig))

    def wrap_callback(self, owner, attr: str, name: str) -> None:
        """Like :meth:`wrap`, but the span goes around each call of the
        function passed as the first argument (a ``foreachBatch`` sink)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(obj, fn, *args, **kwargs):
            @functools.wraps(fn)
            def fn_traced(*a, **k):
                with self.span(name):
                    return fn(*a, **k)

            return orig(obj, fn_traced, *args, **kwargs)

        setattr(owner, attr, traced)
        self._wrapped.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._wrapped):
            setattr(owner, attr, orig)
        self._wrapped.clear()

    @contextlib.contextmanager
    def span(self, name: str):
        t_enter = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids), "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "group": f"perfbench-{os.getpid()}-{len(self.spans)}-{name}",
            "child_wall_s": 0.0,
        }
        prev_group = self.sc.getLocalProperty(self.GROUP_KEY)
        self.sc.setLocalProperty(self.GROUP_KEY, rec["group"])
        rec["py_cpu0"] = self._py_worker_cpu()
        stack.append(rec)
        self.bookkeeping_s += time.perf_counter() - t_enter
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            wall = time.perf_counter() - p0
            t_exit = time.perf_counter()
            rec["t1"] = rec["t0"] + wall
            rec["wall_s"] = wall
            rec["py_worker_cpu_s"] = self._py_worker_cpu() - rec.pop("py_cpu0")
            stack.pop()
            if stack:
                stack[-1]["child_wall_s"] += wall
            self.sc.setLocalProperty(self.GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - t_exit

    # -- resolution, after the timed region ---------------------------------

    def _drain_listener_bus(self) -> None:
        """The status store is fed asynchronously; wait until every job and
        stage event of the run has landed before reading it."""
        bus = self.sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty()

    def _job_counters(self, group: str) -> tuple[dict, list[tuple[float, float]]]:
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        c = dict.fromkeys(
            ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
             "shuffle_bytes", "spill_bytes", "input_bytes"), 0.0)
        intervals = []
        for jid in tracker.getJobIdsForGroup(group):
            c["jobs"] += 1
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000, done.get().getTime() / 1000))
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j error: a skipped stage has no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["exec_run_s"] += st.executorRunTime() / 1e3
                c["exec_cpu_s"] += st.executorCpuTime() / 1e9
                c["shuffle_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["input_bytes"] += st.inputBytes()
        return c, intervals

    @staticmethod
    def _covered(intervals, lo: float, hi: float) -> float:
        """Length of the union of ``intervals`` clipped to [lo, hi]."""
        total, end = 0.0, lo
        for a, b in sorted(intervals):
            a, b = max(a, end), min(b, hi)
            if b > a:
                total += b - a
                end = b
        return total

    def layers(self) -> dict[str, dict[str, float]]:
        """Per span name, the sum over its calls of every counter in
        :data:`COUNTERS`. Job counters are inclusive: a span's jobs are its
        own job group's plus those of the spans it called."""
        t_start = time.perf_counter()
        self._drain_listener_bus()
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s["counters"], s["intervals"] = self._job_counters(s["group"])
        # children end before their parents, so list order is post-order
        for s in self.spans:
            parent = by_id.get(s["parent"])
            if parent is not None:
                for k, v in s["counters"].items():
                    parent["counters"][k] += v
                parent["intervals"].extend(s["intervals"])
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            row = out.setdefault(s["name"], dict.fromkeys(COUNTERS, 0.0))
            row["calls"] += 1
            row["wall_s"] += s["wall_s"]
            row["self_s"] += s["wall_s"] - s["child_wall_s"]
            row["py_worker_cpu_s"] += s["py_worker_cpu_s"]
            row["driver_s"] += s["wall_s"] - self._covered(s["intervals"], s["t0"], s["t1"])
            for k, v in s["counters"].items():
                row[k] += v
        self.bookkeeping_s += time.perf_counter() - t_start
        return out
