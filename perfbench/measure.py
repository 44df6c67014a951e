"""Measurement from outside the program: Spark status-store job and
stage metrics, spans around the program's public functions, a
streaming progress listener, and process-tree CPU time and peak memory.

Nothing here edits the program.  Spans patch a module attribute for
the duration of a ``with`` block and restore it afterwards, so only
the traced operations of a traced run see them.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


def drain(spark) -> None:
    """Wait until the listener bus has delivered every posted event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


class JobLedger:
    """Per-operation job, stage and task totals from the status store.

    The status store is filled by the listener bus even with the UI
    off.  Operations run one at a time from one client, so the jobs an
    operation submitted are the ones that appear while it runs; this
    also catches jobs submitted from a ``foreachBatch`` callback thread,
    whose job group the caller cannot see.
    """

    def __init__(self, spark):
        self._spark = spark
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seen = self._job_ids()

    def _job_ids(self) -> set[int]:
        drain(self._spark)
        it = self._store.jobsList(None).iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next().jobId())
        return ids

    def collect(self, t_start: float, t_end: float) -> dict:
        """Totals over the jobs submitted since the last call; the
        operation ran from ``t_start`` to ``t_end`` (epoch seconds)."""
        ids = self._job_ids()
        new = sorted(ids - self._seen)
        self._seen = ids
        out = defaultdict(float)
        spans = []
        for jid in new:
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                spans.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            sids = job.stageIds()
            for k in range(sids.size()):
                try:
                    st = self._store.lastStageAttempt(sids.apply(k))
                except Py4JJavaError:  # stage never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
                out["input_scans"] += st.inputRecords() > 0
        out["driver_s"] = max(0.0, (t_end - t_start) - _covered(spans, t_start, t_end))
        return dict(out)


def _covered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Spans:
    """Named wall-time spans around module-level functions."""

    def __init__(self):
        # span name -> (start, end) of each call, perf_counter seconds
        self.calls: dict[str, list[tuple[float, float]]] = defaultdict(list)
        # span name -> result of its last call, if kept
        self.returned: dict[str, object] = {}

    def seconds(self, name: str, since: float = float("-inf")) -> list[float]:
        """Durations of the calls of span ``name`` that started at or
        after ``since``."""
        return [b - a for a, b in self.calls.get(name, []) if a >= since]

    def timed(self, fn, name, keep_result: bool = False):
        """``fn`` wrapped to record one span per call.  ``name`` is a
        span name or a function of the call's arguments that gives one.
        With ``keep_result`` the last call's result is kept by name."""

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                res = fn(*args, **kwargs)
            finally:
                label = name(*args, **kwargs) if callable(name) else name
                self.calls[label].append((t0, time.perf_counter()))
            if keep_result:
                self.returned[label] = res
            return res

        return wrapper

    @contextmanager
    def around(self, module, attr: str, name, keep_result: bool = False, callback=None):
        """Patch ``module.attr`` with ``timed`` for the ``with`` block.
        ``callback=(k, cb_name)`` also times the callable the call gets
        as positional argument ``k``, as span ``cb_name``."""
        orig = fn = getattr(module, attr)
        if callback is not None:
            k, cb_name = callback

            def fn(*args, **kwargs):
                args = list(args)
                args[k] = self.timed(args[k], cb_name)
                return orig(*args, **kwargs)

        setattr(module, attr, self.timed(fn, name, keep_result))
        try:
            yield
        finally:
            setattr(module, attr, orig)


def progress_listener(spark):
    """A StreamingQueryListener that keeps every progress event.

    Returns (listener, events); register with
    ``spark.streams.addListener``.  Events arrive on the listener bus,
    so read them only after ``drain``."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list = []

    class _Keep(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Keep(), events


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def cpu_s(pids: list[int]) -> dict[int, float]:
    """CPU seconds (user + system, own and of reaped children) of each
    live process in ``pids``.  Time the hypervisor steals from the host
    is not charged to a process, so these move with the work the
    program does, not with how busy the host's neighbours are."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited
            continue
        # fields 14-17 of proc(5): utime stime cutime cstime
        out[pid] = sum(int(x) for x in fields[11:15]) * _TICK_S
    return out


def cpu_delta_s(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds spent between two ``cpu_s`` snapshots; a process
    started in between counts in full."""
    return sum(t - before.get(pid, 0.0) for pid, t in after.items())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:  # exited
            continue
    return total_kb / 1024


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
