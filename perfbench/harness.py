"""Measurement plumbing shared by every workload: spans, Spark job groups,
the process-tree RSS sampler and the Spark event-log parser.

Spans live in memory and are written out once, at the end of a traced run.
Each span owns a Spark job group, so the event log attributes every job,
stage and task to the innermost span that was open when it was submitted.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import signal
import statistics
import threading
import time
from dataclasses import dataclass, field


def median(values):
    return statistics.median(values) if values else 0.0


def quantile(values, q):
    """Nearest-rank quantile (``q`` in [0, 1]) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


# -- spans ---------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    workload: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb-span-{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and sets no
    job group, so untraced runs pay only a context-manager entry."""

    def __init__(self, sc, workload: str, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(),
                  parent.id if parent else None, self.workload, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name, interruptOnCancel=False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(self._stack[-1].group if self._stack
                                else "pb-root", "root",
                                interruptOnCancel=False)

    def wrap(self, stack: contextlib.ExitStack, obj, attr: str,
             name: str | None = None) -> None:
        """Replace ``obj.attr`` by a spanned wrapper until ``stack`` closes.
        Package functions import their callees at call time or through
        module globals, so this times nested layers without editing them."""
        if not self.enabled:
            return
        orig = getattr(obj, attr)
        span_name = name or attr
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(span_name) as sp:
                out = orig(*a, **kw)
                if sp is not None:
                    sp.attrs["args"], sp.attrs["result"] = a, out
                return out

        setattr(obj, attr, wrapper)
        stack.callback(setattr, obj, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, span: Span) -> list[Span]:
        ids = {span.id}
        out = [span]
        for s in self.spans[span.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "workload": s.workload,
                    "id": s.id}) + "\n")


# -- process-tree RSS ----------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants: the Python driver, the JVM it
    launched and the Python workers the JVM forks."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of the process tree under ``root``."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of the process tree under ``root``,
    with the children each process has reaped, less the JVM's JIT compiler
    threads. Time the hypervisor gives to other guests (steal) is in no
    process's CPU time, and JIT compilation is the JVM warming itself up:
    early in a run it is half an op's CPU time, and it fades as the run
    goes on. The JVM must keep a fixed set of compiler threads
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or one that exits takes
    its time out of the subtraction."""
    ticks = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in  # utime stime cutime cstime
                             f.read().rsplit(")", 1)[1].split()[11:15])
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if "CompilerThre" in stat[stat.index("("):stat.rindex(")")]:
                ticks -= sum(int(x) for x in  # utime stime
                             stat.rsplit(")", 1)[1].split()[11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def wait_gone(pids, timeout: float = 60.0) -> None:
    """Wait until every pid has exited; kill the ones still alive after
    ``timeout`` seconds. A zombie counts as gone."""
    deadline = time.monotonic() + timeout
    while alive := [p for p in pids if _alive(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# -- Spark event log -----------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class StageStats:
    group: str | None = None
    tasks: int = 0
    failures: int = 0
    durations: list = field(default_factory=list)
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    gc_ms: int = 0
    bytes_written: int = 0
    records_written: int = 0
    records_read: int = 0
    py_sent: int = 0
    py_returned: int = 0


@dataclass
class EventLog:
    """Per-job-group totals parsed from one application's event log."""

    jobs_by_group: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)

    @classmethod
    def parse(cls, log_dir: str) -> "EventLog":
        files = [p for p in glob.glob(os.path.join(log_dir, "**"),
                                      recursive=True)
                 if os.path.isfile(p) and not p.endswith(".crc")
                 and not os.path.basename(p).startswith("appstatus")]
        out = cls()
        stage_group: dict[int, str | None] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        grp = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id")
                        out.jobs_by_group[grp] = out.jobs_by_group.get(
                            grp, 0) + 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, grp)
                    elif kind == "SparkListenerTaskEnd":
                        out._task(ev, stage_group)
        return out

    def _task(self, ev, stage_group):
        key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
        st = self.stages.get(key)
        if st is None:
            st = self.stages[key] = StageStats(stage_group.get(ev["Stage ID"]))
        st.tasks += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            st.failures += 1
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        st.durations.append(m.get("Executor Run Time", 0))
        st.gc_ms += m.get("JVM GC Time", 0)
        st.spill += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0)
        om = m.get("Output Metrics") or {}
        st.bytes_written += om.get("Bytes Written", 0)
        st.records_written += om.get("Records Written", 0)
        st.records_read += (m.get("Input Metrics") or {}).get(
            "Records Read", 0)
        for acc in info.get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if name == PY_SENT:
                st.py_sent += int(upd or 0)
            elif name == PY_RETURNED:
                st.py_returned += int(upd or 0)

    def totals(self, groups: set | None = None) -> dict:
        """Summed counters over the stages of ``groups`` (None = all)."""
        sel = [s for s in self.stages.values()
               if groups is None or s.group in groups]
        ratios = [max(s.durations) / max(statistics.median(s.durations), 1)
                  for s in sel if len(s.durations) >= 2]
        return {
            "jobs": sum(n for g, n in self.jobs_by_group.items()
                        if groups is None or g in groups),
            "task_failures": sum(s.failures for s in sel),
            "spill_bytes": sum(s.spill for s in sel),
            "shuffle_bytes": sum(s.shuffle_write for s in sel),
            "gc_s": sum(s.gc_ms for s in sel) / 1000.0,
            "bytes_written": sum(s.bytes_written for s in sel),
            "records_written": sum(s.records_written for s in sel),
            "records_read": sum(s.records_read for s in sel),
            "python_bytes_sent": sum(s.py_sent for s in sel),
            "python_bytes_returned": sum(s.py_returned for s in sel),
            "task_max_over_median": median(ratios),
        }


def span_groups(tracer: Tracer, spans) -> set:
    """Job groups of ``spans`` and of every span nested inside them."""
    groups = set()
    for sp in spans:
        groups.update(s.group for s in tracer.subtree(sp))
    return groups


def dir_bytes(path: str, pattern: str | None = None) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if pattern is None or pattern in os.path.join(root, name):
                try:
                    total += os.path.getsize(os.path.join(root, name))
                except OSError:
                    pass
    return total
