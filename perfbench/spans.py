"""Measurement helpers for the lifecycle benchmark: spans, samples, RSS.

Nothing here imports pyspark or the engine, so the helpers can be read
and tested without a JVM.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def median(values):
    return statistics.median(values) if values else None


def tail(values):
    """The highest percentile with at least ten samples above it, as
    (percentile, value): the sample with exactly ten samples above it, at
    percentile 100 * (n - 10) / n; with ten samples or fewer, the maximum."""
    n = len(values)
    ordered = sorted(values)
    if n <= 10:
        return 100.0, ordered[-1] if ordered else None
    return 100.0 * (n - 10) / n, ordered[n - 11]


class Tracer:
    """In-memory spans: name, start, end, parent, operation id.

    Disabled tracers cost one branch per call. Spans are written out only
    at the end of the run (``dump``). ``sc`` (a SparkContext) turns on one
    Spark job group per operation so jobs can be counted per operation
    type through the status tracker."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.jobs: dict[str, list[int]] = {}
        self._stack: list[int] = []
        self._op_seq = 0
        self._op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self._op_id, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def operation(self, op_type: str):
        """A top-level operation: its own id, span and Spark job group."""
        if not self.enabled:
            yield
            return
        self._op_seq += 1
        op_id = f"{op_type}-{self._op_seq}"
        outer = self._op_id
        self._op_id = op_id
        if self.sc is not None:
            self.sc.setJobGroup(op_id, op_type)
        try:
            with self.span(f"op.{op_type}"):
                yield
        finally:
            self._op_id = outer
            if self.sc is not None:
                n = len(self.sc.statusTracker().getJobIdsForGroup(op_id))
                self.jobs.setdefault(op_type, []).append(n)
                self.sc.setJobGroup(outer or "perfbench", "perfbench")

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover (children never overlap: one thread)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child_time[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def _tree(root: int) -> list[tuple[int, str, int, str]]:
    """(pid, command name, parent pid, parent's command name) for ``root``
    and every descendant."""
    procs: dict[int, tuple[str, int]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        procs[int(name)] = (stat[stat.find("(") + 1:stat.rfind(")")], ppid)
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            comm, ppid = procs[pid]
            out.append((pid, comm, ppid, procs.get(ppid, ("", 0))[0]))
        todo.extend(children.get(pid, ()))
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _hwm_bytes(pid: int) -> int | None:
    """The kernel's high-water mark of the process's resident set."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


class RssSampler:
    """Tracks the peak resident set of this process and every descendant
    (driver JVM, Python workers): a background thread polls each
    process's kernel high-water mark (VmHWM), so a short peak between
    polls is still seen. ``peak_bytes`` sums the per-process peaks."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.hwm: dict[int, int] = {}
        self.names: dict[int, str] = {}
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    @property
    def peak_bytes(self) -> int:
        return sum(self.hwm.values())

    @property
    def pids(self) -> set[int]:
        return self.seen - {os.getpid()}

    def sample(self) -> None:
        for pid, comm, ppid, parent in _tree(os.getpid()):
            self.seen.add(pid)
            if parent == "java" and _exe(pid) == _exe(ppid):
                # spawned by the JVM and not yet exec'd: it shares the
                # JVM's memory, which the JVM already counts
                continue
            hwm = _hwm_bytes(pid)
            if hwm is not None:
                self.hwm[pid] = max(hwm, self.hwm.get(pid, 0))
                self.names[pid] = comm

    def by_process(self) -> list[tuple[str, int]]:
        """(command name, peak MB) per process counted, largest first."""
        return sorted(((self.names[p], b >> 20) for p, b in self.hwm.items()),
                      key=lambda t: -t[1])

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()
