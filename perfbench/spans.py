"""Spans around the engine's entry points, Spark status-store harvest, and
process/box counters.

A span is opened by the benchmark around each call it times (a drain, a
``run_cycle``, a ``write_batch``, one query). While a span is open, every
Spark job the calling thread submits carries the span's id as its job
group (``spark.jobGroup.id`` local property; threads the engine starts
from that thread inherit it). After the timed window, ``harvest`` reads
the jobs and stages of those groups from the status store
(``statusStore().jobsList`` / ``lastStageAttempt``, readable with the UI
disabled) and the Python-worker time from the SQL status store. Nothing
is read from Spark while a span is open, so a traced operation pays one
py4j call per span boundary.

A span's inclusive figures cover its own jobs and those of every span
nested in it; its self time is its wall minus the wall of its children.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    #: rows the spanned operation committed, where it commits any
    rows: int = 0
    children: list[str] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class JobStats:
    """Counters of the jobs of one or more spans."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_run_s: float = 0.0
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "JobStats") -> None:
        for k, v in vars(other).items():
            if k == "intervals":
                self.intervals.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


class Tracer:
    """Records spans when ``enabled``; otherwise every ``span`` is a
    no-op, so untraced runs touch no Spark state for tracing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: dict[str, Span] = {}
        self._stack: list[Span] = []
        self._n = 0
        self.jobs: dict[str, JobStats] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(f"pb-{os.getpid()}-{self._n}", name, parent and parent.id, time.time())
        self.spans[s.id] = s
        if parent:
            parent.children.append(s.id)
        self._stack.append(s)
        sc.setLocalProperty(_GROUP_KEY, s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            sc.setLocalProperty(_GROUP_KEY, parent.id if parent else None)

    def traced(self, name: str, fn):
        """``fn`` wrapped in a span named ``name``."""

        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    # -- after the timed window ---------------------------------------------

    def harvest(self) -> None:
        """Pull the job, stage and SQL counters of every recorded span
        from the status stores. Call outside any timed window."""
        if not self.enabled:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        by_job: dict[int, str] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            sub, comp = j.submissionTime(), j.completionTime()
            when = (
                (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
                if sub.isDefined() and comp.isDefined()
                else None
            )
            if group not in self.spans:
                # a stream's micro-batches run under the stream's own job
                # group: credit them to the innermost span open at submission
                group = self._open_at(when[0]) if when else None
                if group is None:
                    continue
            by_job[j.jobId()] = group
            st = self.jobs.setdefault(group, JobStats())
            st.jobs += 1
            if when:
                st.intervals.append(when)
            ids = j.stageIds()
            for k in range(ids.size()):
                try:
                    sd = store.lastStageAttempt(ids.apply(k))
                except Exception:  # evicted or never attempted
                    continue
                if str(sd.status()) != "COMPLETE":
                    continue  # skipped stages reuse an earlier stage's output
                st.stages += 1
                st.tasks += sd.numTasks()
                st.run_s += sd.executorRunTime() / 1e3
                st.cpu_s += sd.executorCpuTime() / 1e9
                st.gc_s += sd.jvmGcTime() / 1e3
                st.input_bytes += sd.inputBytes()
                st.input_records += sd.inputRecords()
                st.output_bytes += sd.outputBytes()
                st.shuffle_read_bytes += sd.shuffleReadBytes()
                st.shuffle_write_bytes += sd.shuffleWriteBytes()
                st.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        self._harvest_python(by_job)

    def _open_at(self, t: float) -> str | None:
        inner = None
        for s in self.spans.values():
            if s.start <= t <= s.end and (inner is None or s.start > inner.start):
                inner = s
        return inner.id if inner else None

    def _harvest_python(self, by_job: dict[int, str]) -> None:
        """"time to run Python workers" of every SQL execution whose jobs
        ran in a recorded span, credited to that span."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            job_ids = e.jobs().keys().toSeq()
            groups = {by_job.get(job_ids.apply(k)) for k in range(job_ids.size())}
            groups.discard(None)
            if not groups:
                continue
            # the plan graph is the final (adaptive) plan; the execution's
            # own metric list holds the initial plan's, never updated
            nodes = sql.planGraph(e.executionId()).allNodes()
            accs = []
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not any(w in node.name() for w in ("Python", "Pandas", "Arrow")):
                    continue
                metrics = node.metrics()
                accs += [
                    metrics.apply(k).accumulatorId()
                    for k in range(metrics.size())
                    if metrics.apply(k).name() == "time to run Python workers"
                ]
            if not accs:
                continue
            values = sql.executionMetrics(e.executionId())
            total = 0.0
            for a in accs:
                shown = values.get(a)  # Option: absent until a task reports
                if shown.isDefined():
                    total += _duration_s(shown.get())
            # an execution's jobs all run under the span that started it
            self.jobs.setdefault(sorted(groups)[0], JobStats()).python_run_s += total

    def inclusive(self, span_id: str) -> JobStats:
        out = JobStats()
        todo = [span_id]
        while todo:
            s = todo.pop()
            if s in self.jobs:
                out.add(self.jobs[s])
            todo.extend(self.spans[s].children)
        return out


def _duration_s(text: str) -> float:
    """Seconds from a SQL timing metric's display string: ``"2.2 s"``, or
    ``"total (min, med, max ...)\\n2.2 s (...)"`` when several tasks report."""
    m = re.search(r"(?:^|\n)\s*([\d.]+)\s*(ms|s|m|h)\b", text)
    if not m:
        return 0.0
    scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}[m.group(2)]
    return float(m.group(1)) * scale


def busy_s(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, start), min(hi, end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def engine_metrics(tracer: Tracer, spans: list[Span], units: int) -> dict[str, float]:
    """``engine.*`` per unit of work, over the given top-level spans."""
    st = JobStats()
    driver_only = 0.0
    for s in spans:
        inc = tracer.inclusive(s.id)
        st.add(inc)
        driver_only += s.wall - busy_s(inc.intervals, s.start, s.end)
    u = max(units, 1)
    return {
        "engine.jobs": st.jobs / u,
        "engine.tasks": st.tasks / u,
        "engine.executor_run_s": st.run_s / u,
        "engine.executor_cpu_s": st.cpu_s / u,
        "engine.off_cpu_share": 1.0 - st.cpu_s / st.run_s if st.run_s else 0.0,
        "engine.gc_s": st.gc_s / u,
        "engine.shuffle_read_bytes": st.shuffle_read_bytes / u,
        "engine.shuffle_write_bytes": st.shuffle_write_bytes / u,
        "engine.spill_bytes": st.spill_bytes / u,
        "engine.input_bytes": st.input_bytes / u,
        "engine.output_bytes": st.output_bytes / u,
        "engine.driver_only_s": driver_only / u,
        "engine.python_run_s": st.python_run_s / u,
    }


# -- process and box state ---------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and every live descendant
    (the Spark JVM and its Python workers), reaped children included."""
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between listing and reading
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat line, over
    user..steal only: guest time is already folded into user/nice."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


class BoxState:
    """Steal share and load of the whole machine across a run."""

    def __init__(self):
        self.ticks = cpu_ticks()
        self.load_start = os.getloadavg()[0]

    def finish(self) -> dict[str, float]:
        total, steal = cpu_ticks()
        return {
            "box.cpu_steal_pct": 100.0
            * (steal - self.ticks[1])
            / max(1, total - self.ticks[0]),
            "box.loadavg_start": self.load_start,
            "box.loadavg_end": os.getloadavg()[0],
            "box.nproc": float(os.cpu_count() or 1),
        }


class Reference:
    """A fixed amount of CPU work outside the program under test, timed
    between units of work to read how fast the shared box runs at that
    moment: a parallel sort of 2M doubles in the Spark driver JVM (its
    common fork-join pool, one thread per CPU) and a sort of 1M doubles in
    NumPy. Both sort preallocated copies, so a sample allocates nothing
    and triggers no GC. Neither goes through the package or Spark's
    scheduler, so no change to the program moves it."""

    JVM_N, PY_N, REPS = 2_000_000, 1_000_000, 3

    def __init__(self, spark):
        import numpy as np

        jvm = spark._jvm
        self._copy = jvm.java.lang.System.arraycopy
        self._sort = jvm.java.util.Arrays.parallelSort
        self._src = jvm.java.util.Random(7).doubles(self.JVM_N).toArray()
        self._dst = jvm.java.util.Arrays.copyOf(self._src, self.JVM_N)
        self._np_src = np.random.default_rng(7).random(self.PY_N)
        self._np_dst = np.empty_like(self._np_src)
        self.sample()  # JIT-compile the sort before the first sample

    def sample(self) -> float:
        """Median wall of ``REPS`` repetitions of the fixed work, in s."""
        import numpy as np

        walls = []
        for _ in range(self.REPS):
            t = time.perf_counter()
            self._copy(self._src, 0, self._dst, 0, self.JVM_N)
            self._sort(self._dst)
            np.copyto(self._np_dst, self._np_src)
            self._np_dst.sort()
            walls.append(time.perf_counter() - t)
        return statistics.median(walls)
