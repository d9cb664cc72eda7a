"""Spans around the benchmark's calls into the program, and memory measures.

Both live in the benchmark's own files: the program is measured from
outside, at the boundary of each public call it exposes.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """In-memory spans: name, start, end, parent, run id, boundary counts.

    Disabled, ``span`` only yields; enabled, it records one span per call
    and evaluates ``counts`` (a callable) when the call returns, so counts
    are taken at the same boundary as the timing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = 0

    @contextlib.contextmanager
    def span(self, name: str, counts=None):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if counts is not None:
                try:
                    rec["counts"] = counts()
                except Exception as exc:  # a failed op has partial state
                    rec["counts"] = {"error": repr(exc)}

    def self_times(self, run_id: int) -> dict[str, float]:
        """Per span name, summed duration minus the time its children cover."""
        idx = [i for i, s in enumerate(self.spans) if s["run"] == run_id]
        child = {i: 0.0 for i in idx}
        for i in idx:
            p = self.spans[i]["parent"]
            if p is not None:
                child[p] += self.spans[i]["end"] - self.spans[i]["start"]
        out: dict[str, float] = {}
        for i in idx:
            s = self.spans[i]
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + s["end"] - s["start"] - child[i])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=1)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; (0, 0) when it does not exist."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(root, n)).st_size
                files += 1
            except FileNotFoundError:   # removed while walking
                pass
    return total, files


def _parents() -> dict[int, int]:
    """Parent pid of every process, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:         # exited while listing
            continue
        parent[int(d)] = int(st[st.rindex(")") + 2:].split()[1])
    return parent


def _peak_rss_bytes(pid: int) -> int:
    """The process's own high-water mark of resident memory (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:             # exited
        pass
    return 0


def descendants(root_pid: int) -> set[int]:
    """Pids of every process below ``root_pid``."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    tree: set[int] = set()
    frontier = [root_pid]
    while frontier:
        for c in kids.get(frontier.pop(), ()):
            if c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def tree_peak_rss_bytes(root_pid: int) -> int:
    """Sum of the peak resident memory of ``root_pid`` and each process
    below it (the JVM and the Python workers): an upper bound of the
    tree's peak that the kernel keeps, so nothing samples it while the
    workload runs."""
    return sum(_peak_rss_bytes(p) for p in descendants(root_pid) | {root_pid})


class ScratchSampler:
    """Background thread: peak bytes under the kernels' scratch directory,
    sampled every ``interval`` seconds."""

    def __init__(self, scratch: str, interval: float = 0.1):
        self.scratch = scratch
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, dir_usage(self.scratch)[0])
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
