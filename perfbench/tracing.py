"""Tracing for the benchmark: layer spans, /proc sampling, event-log rollup.

Nothing here reaches into the program: layers are named by the benchmark's
own wrappers around calls into public functions.  A wrapper records a span
and sets the Spark local property ``perfbench.layer`` for its thread, so
every job the call schedules on that thread (including broadcast and AQE
jobs, which inherit the caller's local properties) carries the layer name
into the event log.  Jobs the call schedules from threads of its own carry
no tag (PySpark's pinned threads do not inherit local properties); they are
attributed to the outermost span whose time range holds their submission.
Task metrics then roll up per layer from the plain-JSON event log.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYER_PROP = "perfbench.layer"
_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---- /proc ----------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from the host's vCPUs since boot
    (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident bytes of every process below ``root`` (the JVM, the pyspark
    daemon and its workers), not counting ``root`` itself."""
    total = 0
    for pid in _descendants(root or os.getpid()):
        st = _stat(pid)
        if st:
            total += int(st[21]) * _PAGE  # field 24: rss in pages
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, with reaped children) of every process
    below ``root``: the JVM, the pyspark daemon and its workers."""
    ticks = 0
    for pid in _descendants(root or os.getpid()):
        st = _stat(pid)
        if st:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _CLK


def python_worker_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the pyspark daemon and its workers: utime + stime of
    each live one, plus the daemon's cutime + cstime for workers it reaped."""
    pids = _descendants(root or os.getpid())
    daemons = [p for p in pids if "pyspark.daemon" in _cmdline(p)]
    ticks = 0
    for d in daemons:
        st = _stat(d)
        if st:
            ticks += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
        for w in _descendants(d):
            st = _stat(w)
            if st:
                ticks += int(st[11]) + int(st[12])
    return ticks / _CLK


class RssSampler:
    """Background thread that keeps the peak of ``tree_rss_bytes``."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())


# ---- spans ----------------------------------------------------------------

@dataclass
class Span:
    layer: str
    start: float  # epoch seconds
    end: float
    py_cpu_s: float


@dataclass
class Tracer:
    """Records one span per wrapped call and tags its jobs with the layer."""

    sc: object  # SparkContext
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def layer(self, name: str):
        prev = self.sc.getLocalProperty(LAYER_PROP)
        self.sc.setLocalProperty(LAYER_PROP, name)
        cpu0, t0 = python_worker_cpu_s(), time.time()
        try:
            yield
        finally:
            span = Span(name, t0, time.time(), python_worker_cpu_s() - cpu0)
            self.sc.setLocalProperty(LAYER_PROP, prev)
            with self._lock:
                self.spans.append(span)


# ---- event log ------------------------------------------------------------

@dataclass
class Task:
    stage: int
    launch: float  # epoch seconds
    finish: float
    run_s: float
    gc_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int


@dataclass
class LayerRollup:
    jobs: int = 0
    tasks: list[Task] = field(default_factory=list)

    @property
    def task_s(self) -> float:
        return sum(t.run_s for t in self.tasks)

    @property
    def gc_s(self) -> float:
        return sum(t.gc_s for t in self.tasks)

    @property
    def shuffle_mb(self) -> float:
        return sum(t.shuffle_read + t.shuffle_write for t in self.tasks) / 2**20

    @property
    def spill_mb(self) -> float:
        return sum(t.spill for t in self.tasks) / 2**20

    def skew(self) -> float:
        """max ÷ median task run time of the layer's heaviest Spark stage."""
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks:
            by_stage.setdefault(t.stage, []).append(t.run_s)
        if not by_stage:
            return 0.0
        runs = max(by_stage.values(), key=sum)
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0

    def busy_s(self, start: float, end: float) -> float:
        """Length of the union of task intervals, clipped to [start, end]."""
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((max(t.launch, start), min(t.finish, end))
                           for t in self.tasks):
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy


def span_at(spans: list[Span], t: float) -> str:
    """Layer of the outermost span holding epoch second ``t``, or ``""``."""
    holding = [s for s in spans if s.start <= t <= s.end]
    return min(holding, key=lambda s: (s.start, -s.end)).layer if holding else ""


def rollup(lines, spans: list[Span] = ()) -> dict[str, LayerRollup]:
    """Roll task metrics up per ``perfbench.layer`` from event-log lines.

    A job without a tag belongs to the outermost of ``spans`` that holds
    its submission time.  A task belongs to the layer of the first job that
    listed its stage; jobs and tasks without a layer land under ``""``."""
    stage_layer: dict[int, str] = {}
    out: dict[str, LayerRollup] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            layer = (ev.get("Properties") or {}).get(LAYER_PROP) \
                or span_at(spans, ev.get("Submission Time", 0) / 1e3)
            out.setdefault(layer, LayerRollup()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_layer.setdefault(sid, layer)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            task = Task(
                stage=ev["Stage ID"],
                launch=info.get("Launch Time", 0) / 1e3,
                finish=info.get("Finish Time", 0) / 1e3,
                run_s=m.get("Executor Run Time", 0) / 1e3,
                gc_s=m.get("JVM GC Time", 0) / 1e3,
                shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            )
            layer = stage_layer.get(task.stage, "")
            out.setdefault(layer, LayerRollup()).tasks.append(task)
    return out


def read_event_log(log_dir: str, spans: list[Span]) -> dict[str, LayerRollup]:
    """Roll up the one application log written under ``log_dir``."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    with open(os.path.join(log_dir, name)) as f:
        return rollup(f, spans)


def merge(rollups: list[LayerRollup]) -> LayerRollup:
    out = LayerRollup()
    for r in rollups:
        out.jobs += r.jobs
        out.tasks += r.tasks
    return out
