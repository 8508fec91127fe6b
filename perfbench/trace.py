"""Spans, Spark job accounting, process-tree memory and the host's core
speed, measured from outside the engine.

A :class:`Tracer` wraps public callables (``install``) so each call
records a span: name, start, end, parent span and run id. Spans stay in
memory; ``write`` dumps them as JSON lines when the run ends (a traced
run writes ``.perfbench/spans-<workload>-<seed>.jsonl``). Nesting is
tracked per thread, so spans opened on ``ThreadPoolExecutor`` workers
(the crawl's concurrent sibling writes) get the span that submitted
them as parent only when they run on the same thread; such spans are
told apart by their interval, which is why self time uses the *union*
of child intervals.

Spark work is attributed to a span by job-id range: the next job id is
read when the span opens and when it closes, and every job in between
belongs to it. Job groups are not used because executor threads do not
inherit them. Stage, task, shuffle and spill counts per job come from
Spark's JSON event log (:func:`read_event_log`).
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    id: int = 0
    job0: int = 0
    job1: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def next_job_id(sc) -> int:
    """Id the next submitted Spark job will get."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


class Tracer:
    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def _jobs(self) -> int:
        return next_job_id(self.sc) if self.sc is not None else 0

    def open(self, name: str) -> Span:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            span = Span(
                name, time.perf_counter(), parent=stack[-1].id if stack else None,
                run=self.run_id, id=len(self.spans), job0=self._jobs(),
            )
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.job1 = self._jobs()
        self._local.stack.remove(span)

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.open(name)
                return self.s

            def __exit__(self, *exc):
                tracer.close(self.s)
                return False

        return _Ctx()

    def install(self, owner, attr: str, name: str | None = None, label=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording one span per
        call. ``label(args, kwargs)`` may add a suffix to the name."""
        orig = getattr(owner, attr)
        base = name or attr

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = base + (label(args, kwargs) if label else "")
            s = self.open(span_name)
            try:
                return orig(*args, **kwargs)
            finally:
                self.close(s)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def span_cost(self, samples: int = 50) -> float:
        """Seconds one span's bookkeeping takes (two job-id reads over
        py4j included), measured here and not kept."""
        n = len(self.spans)
        t0 = time.perf_counter()
        for _ in range(samples):
            self.close(self.open("trace.cost"))
        cost = (time.perf_counter() - t0) / samples
        del self.spans[n:]
        return cost

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix) and s.end]

    def children(self, span: Span) -> list[Span]:
        """Spans opened inside ``span``'s interval on any thread, other
        than ``span`` itself and its ancestors."""
        out = []
        for s in self.spans:
            if s is span or not s.end or s.start < span.start or s.end > span.end:
                continue
            if s.parent == span.id or s.parent is None or self._is_descendant(s, span):
                out.append(s)
        return out

    def _is_descendant(self, s: Span, ancestor: Span) -> bool:
        p = s.parent
        while p is not None:
            if p == ancestor.id:
                return True
            p = self.spans[p].parent
        return False

    def self_time(self, span: Span, child_prefix: str) -> float:
        kids = [(c.start, c.end) for c in self.children(span) if c.name.startswith(child_prefix)]
        return span.dur - union_length(kids)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class JobCosts:
    stages: int = 0
    tasks: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


def read_event_log(log_dir: str) -> dict[int, JobCosts]:
    """Per-job stages run, tasks, shuffle bytes and spill bytes from the
    JSON event log files under ``log_dir``. Skipped stages count for
    nothing, because they run no task."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, JobCosts] = defaultdict(JobCosts)
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        jobs[stage_job[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if sid not in stage_job:
                        continue
                    jc = jobs[stage_job[sid]]
                    jc.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    r = m.get("Shuffle Read Metrics") or {}
                    w = m.get("Shuffle Write Metrics") or {}
                    jc.shuffle_read += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    jc.shuffle_write += w.get("Shuffle Bytes Written", 0)
                    jc.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(jobs)


def span_costs(span: Span, jobs: dict[int, JobCosts]) -> JobCosts:
    out = JobCosts()
    for j in range(span.job0, span.job1):
        c = jobs.get(j)
        if c is None:
            continue
        out.stages += c.stages
        out.tasks += c.tasks
        out.shuffle_read += c.shuffle_read
        out.shuffle_write += c.shuffle_write
        out.spill += c.spill
    return out


def _children_of(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children_of(pid))
    return out


def tree_rss_bytes(root: int) -> int:
    return sum(_rss_bytes(pid) for pid in process_tree(root))


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (driver JVM, Python workers) every ``interval`` seconds
    on a thread, keeping the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


def spin(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i % 7
    return x


LOOP_N = 30_000
# loop_seconds() on an otherwise idle 4-vCPU VM (Xeon, 2.0 GHz): the
# core speed that scaled times are reported at.
REFERENCE_LOOP_S = 0.0018


def children_cpu_seconds() -> float:
    """CPU time used so far by this process's descendants (the JVM, the
    Python workers)."""
    ticks = 0
    for pid in process_tree(os.getpid())[1:]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def wait_idle(window: float = 0.25, busy: float = 0.1, timeout: float = 10.0) -> float:
    """Wait until this process's descendants use less than ``busy`` of
    one core over ``window`` seconds (after heavy work the JVM goes on
    compiling for a second or two), at most ``timeout`` seconds. Returns
    the seconds waited."""
    t0 = time.perf_counter()
    cpu = children_cpu_seconds()
    while time.perf_counter() - t0 < timeout:
        time.sleep(window)
        now = children_cpu_seconds()
        if now - cpu < busy * window:
            break
        cpu = now
    return time.perf_counter() - t0


def loop_seconds(duration: float = 0.3) -> float:
    """How fast the VM's cores run now: the median CPU time of
    ``spin(LOOP_N)``, a fixed loop of Python arithmetic, run back to back
    in this thread for ``duration`` seconds, once this process's
    descendants are idle.

    The VM shares its host, and the other tenants slow its cores down by
    up to 2x for seconds to minutes at a time, while the VM's steal time
    stays near zero. The benchmark reads this probe only while the code
    under test is idle (before and after each set-up, before and after
    the timed passes), so the reading does not depend on how busy that
    code keeps the cores. CPU time leaves out the time the loop waits for
    a core and counts the slowing of the cores themselves."""
    wait_idle()
    spin(5_000)
    samples = []
    end = time.perf_counter() + duration
    while time.perf_counter() < end:
        t = time.thread_time()
        spin(LOOP_N)
        samples.append(time.thread_time() - t)
    return statistics.median(samples)


def scale(seconds: float, loop_s: float) -> float:
    """``seconds`` measured while the probe read ``loop_s``, as the time
    on cores as fast as the reference's."""
    return seconds * REFERENCE_LOOP_S / loop_s
