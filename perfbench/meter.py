"""Measuring instruments used from outside the program: spans around
layer calls, Spark's cumulative executor counters, and a peak-memory
sampler for the engine's processes."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans kept in memory: ``(name, start, end, parent index)``.

    ``materialize`` runs a layer call, persists and counts its result
    inside the layer's span, so that the next layer's span covers only its
    own work. ``release`` unpersists everything materialized so far.
    """

    enabled = True

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._stack: list[int] = []
        self._persisted: list[DataFrame] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((name, time.perf_counter(), float("nan"), parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p)

    def materialize(self, name: str | None, fn) -> DataFrame:
        """``fn()`` persisted and counted, inside a span named ``name``
        unless ``name`` is None (work of the enclosing span)."""
        with self.span(name) if name else nullcontext():
            df = fn().persist()
            df.count()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def total_s(self, name: str) -> float:
        return sum(e - s for n, s, e, _ in self.spans if n == name)

    def self_s(self, name: str) -> float:
        """Duration of the spans named ``name`` minus their children's."""
        total = 0.0
        for i, (n, s, e, _) in enumerate(self.spans):
            if n == name:
                kids = sum(ke - ks for _, ks, ke, kp in self.spans if kp == i)
                total += (e - s) - kids
        return total


class NoTrace:
    """The untraced twin of :class:`Tracer`: no spans, nothing persisted."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield

    def materialize(self, name: str | None, fn) -> DataFrame:
        return fn()

    def release(self) -> None:
        pass


class EngineCounters:
    """Cumulative counters from Spark's status store; the difference of two
    snapshots is the work of the calls between them.

    The executor summary gives GC, shuffle and task counts. Its
    ``totalDuration`` is, in local mode, the time the executor had any
    task running, not the sum of task times, so task time is summed from
    each stage's ``executorRunTime`` instead.
    """

    FIELDS = ("totalGCTime", "totalShuffleRead", "totalShuffleWrite", "totalTasks", "failedTasks")
    _ENDED = ("COMPLETE", "SKIPPED", "FAILED")

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._run_ms: dict[tuple[int, int], float] = {}
        self._ended: set[tuple[int, int]] = set()

    def _task_ms(self) -> float:
        """Executor run time summed over every stage so far. The store lists
        stages newest first, so reading stops at the first one already seen
        ended; stages the store has since evicted keep their recorded time."""
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._ended:
                break
            self._run_ms[key] = float(s.executorRunTime())
            if s.status().toString() in self._ENDED:
                self._ended.add(key)
        return sum(self._run_ms.values())

    def snapshot(self) -> dict[str, float]:
        self._bus.waitUntilEmpty(60_000)  # the store is fed asynchronously
        execs = self._store.executorList(True)
        out = dict.fromkeys(self.FIELDS, 0.0)
        for i in range(execs.size()):
            e = execs.apply(i)
            for f in self.FIELDS:
                out[f] += float(getattr(e, f)())
        out["taskRunTime"] = self._task_ms()
        return out

    @staticmethod
    def delta(before: dict, after: dict, wall_s: float, cores: int) -> dict[str, float]:
        d = {f: after[f] - before[f] for f in before}
        return {
            "session.task_s": d["taskRunTime"] / 1000.0,
            "session.busy_frac": d["taskRunTime"] / 1000.0 / (wall_s * cores),
            "session.shuffle_read_mb": d["totalShuffleRead"] / 2**20,
            "session.shuffle_write_mb": d["totalShuffleWrite"] / 2**20,
            "session.gc_s": d["totalGCTime"] / 1000.0,
            "session.tasks": d["totalTasks"],
            "session.failed_tasks": d["failedTasks"],
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we looked
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _is_java(cmdline: bytes) -> bool:
    return os.path.basename(cmdline.split(b"\0", 1)[0]) == b"java"


def engine_pids(pid: int, jvm: bool = True) -> list[int]:
    """The Python workers among ``pid``'s descendants and, when ``jvm``,
    the JVMs that fork them.

    Left out are the helpers a JVM spawns (shell commands of the local file
    system): between fork and exec such a child reports the JVM's whole
    resident set as its own.
    """
    kids = _children()
    out, todo = [], [(k, False) for k in kids.get(pid, [])]
    while todo:
        p, under_jvm = todo.pop()
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        java = _is_java(cmd)
        if (jvm and java and not under_jvm) or b"pyspark.daemon" in cmd:
            out.append(p)
        todo.extend((k, under_jvm or java) for k in kids.get(p, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of ``pids`` and of their reaped children."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        total += sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])
    return total / _TICKS


class CpuClock:
    """CPU seconds spent by the engine's processes (see :func:`engine_pids`)
    and by the calling thread, which drives them. Time the hypervisor gives
    to other machines is not counted, unlike in wall time."""

    def __init__(self) -> None:
        self._pids = engine_pids(os.getpid())

    def __call__(self) -> float:
        return cpu_seconds(self._pids) + time.thread_time()


def steal_ticks() -> tuple[int, int]:
    """``(stolen, busy)`` CPU ticks of the machine so far: time the
    hypervisor gave this machine's virtual CPUs to other machines while
    they had work, and time they ran it."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq


class Stopwatch:
    """Wall time of an interval, and the same less the share of it the
    hypervisor withheld from this machine.

    On a shared host, other machines take turns on the physical cores, and
    how much they take changes from minute to minute. While the machine
    has work, each tick of it is either run or stolen, so the interval's
    wall time times ``busy / (busy + stolen)`` is the time the work would
    have taken on the CPU time the machine asked for. Idle cores stay in
    it: a job that leaves cores idle waiting for a straggler is as long,
    less its stolen share, as it was.
    """

    def __init__(self) -> None:
        self.t0, self.s0 = time.perf_counter(), steal_ticks()

    def stop(self) -> tuple[float, float, float]:
        """``(unstolen seconds, wall seconds, stolen share)`` since start."""
        wall, (s1, b1) = time.perf_counter() - self.t0, steal_ticks()
        stolen, busy = s1 - self.s0[0], b1 - self.s0[1]
        share = stolen / (stolen + busy) if stolen + busy else 0.0
        return wall * (1.0 - share), wall, share


def collect_heap(spark: SparkSession) -> None:
    """A full collection of the driver JVM's heap."""
    spark.sparkContext._jvm.java.lang.System.gc()


class PeakMemory:
    """Peak memory the engine holds while the ``with`` block runs: the sum
    of each driver JVM memory pool's peak, from the JVM's memory beans,
    plus the sampled peak resident size of the Python workers the JVM forks
    (see :func:`engine_pids`).

    The young generation's eden and survivor spaces are left out, as is
    the JVM's resident size: they follow how large an allocation buffer
    the collector chose, which it sizes from its pause-time goal and so
    from the host's speed. The old generation and the non-heap pools hold
    what the program keeps.
    """

    REFRESH = 20
    _YOUNG = ("Eden", "Survivor")

    def __init__(self, spark: SparkSession, interval_s: float = 0.05) -> None:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._pools = [p for p in mf.getMemoryPoolMXBeans()
                       if not any(y in p.getName() for y in self._YOUNG)]
        self.interval_s = interval_s
        self.peak = 0
        self._workers = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        # walking /proc for the process tree costs far more than reading a
        # few statm files, so the tree is walked once per REFRESH samples
        me, n, pids = os.getpid(), 0, []
        while not self._stop.is_set():
            if n % self.REFRESH == 0:
                pids = engine_pids(me, jvm=False)
            n += 1
            self._workers = max(self._workers, rss_bytes(pids))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> PeakMemory:
        for p in self._pools:
            p.resetPeakUsage()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        """End the window; the ``with`` block's end does if this did not."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join()
        self.peak = sum(p.getPeakUsage().getUsed() for p in self._pools) + self._workers

    def __exit__(self, *exc) -> None:
        self.stop()
