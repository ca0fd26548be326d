"""Measurement primitives: in-memory spans, percentiles, ``/proc``
counters and Spark event-log aggregation.

Spans are recorded from the benchmark's own files around calls into
the program's public entry points (``Tracer.wrap`` swaps an attribute
for a timing shim and restores it afterwards); nothing inside the
program is edited. Spans stay in memory and are written once, when the
run ends.
"""

from __future__ import annotations

import functools
import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 1]) of a non-empty list."""
    vals = sorted(values)
    idx = max(0, min(len(vals) - 1, math.ceil(q * len(vals)) - 1))
    return float(vals[idx])


#: replies per window of a closed loop: five cycles of the query mix,
#: so every window holds the same share of each query class
WINDOW = 50


def loop_windows(values, size: int = WINDOW) -> list[list]:
    """``values`` in consecutive full windows of ``size``; the remainder
    is dropped, and fewer than ``size`` values are one window."""
    if len(values) < size:
        return [values]
    return [values[i:i + size] for i in range(0, len(values) - size + 1, size)]


def interquartile_mean(values) -> float:
    """Mean of the middle half of ``values`` (all of them below four).
    Unlike a median it averages over a run whose parts ran at different
    speeds; unlike a mean it is not set by a few stalled windows."""
    vals = sorted(values)
    q = len(vals) // 4
    mid = vals[q:len(vals) - q]
    return sum(mid) / len(mid)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def read_rchar() -> int:
    """Bytes this process has read through read()-family calls."""
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    raise RuntimeError("/proc/self/io has no rchar line")


def host_steal_s() -> float:
    """CPU seconds, summed over the machine's CPUs, that the hypervisor
    ran other guests while this one wanted to run (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of ``pid`` in MB (``VmHWM``)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"/proc/{pid}/status has no VmHWM line")


def dir_bytes(path: str | Path) -> int:
    """On-disk bytes of the data files under ``path`` (markers and
    checksum files excluded)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, name))
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Per-run span recorder. ``request`` sets the id shared by the spans
    of one request; nested wrapped calls record their caller as parent."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.request: int | None = None
        self._restore: list = []

    def span(self, name: str, fn, *args, counters=None, attrs=None, **kwargs):
        """Run ``fn`` inside a span. ``counters() -> dict`` is sampled
        before and after; the deltas land in the span's attributes."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.request, dict(attrs or {}))
        self._stack.append(len(self.spans))
        self.spans.append(sp)
        before = counters() if counters else None
        try:
            return fn(*args, **kwargs)
        finally:
            if counters:
                after = counters()
                sp.attrs.update({k: after[k] - before[k] for k in after})
            sp.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, counters=None, extra=None):
        """Replace ``owner.attr`` by a span-recording shim until
        :meth:`unwrap_all`. ``extra(args, kwargs) -> dict`` adds call
        attributes (e.g. how many terms a fetch asked for)."""
        original = getattr(owner, attr)
        had_own = attr in vars(owner)

        @functools.wraps(original)
        def shim(*args, **kwargs):
            attrs = extra(args, kwargs) if extra else None
            return self.span(
                name, original, *args, counters=counters, attrs=attrs, **kwargs
            )

        setattr(owner, attr, shim)
        self._restore.append((owner, attr, original, had_own))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, original, had_own = self._restore.pop()
            if had_own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)  # the class attribute shows through again

    def self_ms(self) -> list[float]:
        """Per span: duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.ms
        return [sp.ms - c for sp, c in zip(self.spans, child)]

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": sp.name,
                            "start": sp.start,
                            "end": sp.end,
                            "parent": sp.parent,
                            "request": sp.request,
                            **({"attrs": sp.attrs} if sp.attrs else {}),
                        }
                    )
                    + "\n"
                )


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

SPARK_FIELDS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


def read_event_log(log_dir: Path) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the finished event log of the run's one
    application: jobs carry their submission time (epoch s), tasks their
    launch time and the metrics the per-layer report sums."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}, got {files}")
    jobs, tasks = [], []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append({"t": ev["Submission Time"] / 1000.0})
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "t": ev["Task Info"]["Launch Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    }
                )
    return jobs, tasks


def spark_window(jobs, tasks, start: float, end: float) -> dict[str, float]:
    """Sum of Spark work whose job was submitted, or whose task was
    launched, inside ``[start, end)`` (epoch seconds). The benchmark is
    one client thread running phases back to back, so a phase's time
    window holds exactly its jobs, including those submitted from
    helper threads the program starts."""
    ts = [t for t in tasks if start <= t["t"] < end]
    return {
        "jobs": sum(1 for j in jobs if start <= j["t"] < end),
        "tasks": len(ts),
        "executor_run_s": sum(t["run_s"] for t in ts),
        "executor_cpu_s": sum(t["cpu_s"] for t in ts),
        "gc_s": sum(t["gc_s"] for t in ts),
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in ts),
        "spill_bytes": sum(t["spill_bytes"] for t in ts),
    }
