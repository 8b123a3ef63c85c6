"""Host and process probes, spans, and the Spark event-log reader.

Everything here reads `/proc` or files the benchmark wrote itself; none
of it imports the engine. Times are seconds unless a name says `_ms`.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import time
from dataclasses import dataclass, field

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' splits cleanly
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """`root` and every live descendant (the Spark JVM, its Python
    workers, and any server or load process the benchmark started)."""
    children: dict[int, list[int]] = {}
    for path in glob.glob("/proc/[0-9]*"):
        pid = int(path[6:])
        f = _stat_fields(pid)
        if f is not None:
            children.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU-seconds of the tree, including children it has
    already reaped (a Python worker that exited mid-pass still counts)."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in f[11:15])
    return total / _HZ


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def host_steal_s() -> float:
    """Host-wide hypervisor steal since boot, all CPUs, in seconds."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _HZ if len(cpu) > 8 else 0.0


def host_facts() -> dict:
    """nproc and physical RAM, read the way the session is sized."""
    return {
        "nproc": os.cpu_count() or 1,
        "ram_mb": os.sysconf("SC_PHYS_PAGES") * _PAGE // (1024 * 1024),
        "python": platform.python_version(),
    }


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    pass_id: str
    driver_cpu_s: float
    steal_s: float


@dataclass
class Tracer:
    """In-memory span recorder; `write` dumps the spans as JSON lines
    once the benchmark ends."""

    pass_id: str = ""
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        self.parent = self.t._stack[-1] if self.t._stack else None
        self.t._stack.append(self.name)
        self.cpu0, self.steal0 = time.process_time(), host_steal_s()
        self.t0 = time.time()  # wall clock, comparable with event-log times
        return self

    def __exit__(self, *exc) -> None:
        t1 = time.time()
        self.t._stack.pop()
        self.t.spans.append(
            Span(
                self.name,
                self.t0,
                t1,
                self.parent,
                self.t.pass_id,
                time.process_time() - self.cpu0,
                host_steal_s() - self.steal0,
            )
        )


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def read_event_log(log_dir: str, spans: list[Span]) -> dict[str, GroupStats]:
    """Per-layer counters from a Spark event log directory.

    A job belongs to the layer named by its job group. Otherwise it
    belongs to the span open when it was submitted: streaming micro-batches
    run under their query's own job group, not the caller's. Jobs are
    counted from SparkListenerJobStart events, so the count is exact
    however many jobs the live status store still retains. A stage
    belongs to the job that first lists it, and tasks to their stage."""
    names = {s.name for s in spans}

    def owner(props: dict | None, submit_ms: float) -> str:
        group = (props or {}).get("spark.jobGroup.id")
        if group in names:
            return group
        t = submit_ms / 1e3
        for s in spans:
            if s.start <= t <= s.end:
                return s.name
        return "(none)"

    stats: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = owner(ev.get("Properties"), ev.get("Submission Time", 0))
                    stats.setdefault(g, GroupStats()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageSubmitted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"], "(none)")
                    stats.setdefault(g, GroupStats()).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "(none)")
                    s = stats.setdefault(g, GroupStats())
                    s.tasks += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        s.tasks_failed += 1
                    m = ev.get("Task Metrics") or {}
                    s.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    s.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    s.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
                    s.spill_mb += (
                        m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return stats
