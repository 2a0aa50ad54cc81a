"""Spark-free parts of the benchmark: statistics, spans, the rank
comparator, the host control loop, process-tree memory sampling and
process hygiene.  Everything here is unit-tested by test_harness.py
without a Spark session."""

from __future__ import annotations

import math
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Iterator, Optional


# ---------------------------------------------------------------- stats
def median(values: list[float]) -> float:
    return float(statistics.median(values))


def window_drift(values: list[float]) -> float:
    """Median of the second half of a timed window over the median of
    its first half: > 1 means the window slowed down, < 1 that it was
    still warming up.  An odd middle sample is left out."""
    half = len(values) // 2
    if half == 0:
        raise ValueError("drift needs at least two samples")
    return median(values[-half:]) / median(values[:half])


# ---------------------------------------------------------------- spans
@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: Optional[int]
    start: float  # time.time() seconds, comparable with Spark's clocks
    end: float
    group: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> the span's duration minus the union of its children's
    intervals (each child clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return {
        s.span_id: s.duration - union_length(children.get(s.span_id, []))
        for s in spans
    }


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and
    calls nothing, so the untraced run pays only a function call.

    ``on_enter(group, name)`` / ``on_exit(parent_group)`` are hooks the
    Spark side uses to tag each span's jobs with a job group.  The time
    spent in the tracer's own bookkeeping (hooks included) is summed in
    ``overhead_s``."""

    def __init__(self, enabled: bool,
                 on_enter: Optional[Callable[[str, str], None]] = None,
                 on_exit: Optional[Callable[[Optional[str]], None]] = None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._on_enter = on_enter
        self._on_exit = on_exit
        self._stack: list[tuple[int, str]] = []
        self._next_id = 0
        self._op_id = 0

    def new_op(self) -> int:
        self._op_id += 1
        return self._op_id

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        self._next_id += 1
        sid = self._next_id
        parent = self._stack[-1][0] if self._stack else None
        group = f"perfbench-{sid}"
        if self._on_enter:
            self._on_enter(group, name)
        self._stack.append((sid, group))
        start = time.time()
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield
        finally:
            end = time.time()
            t_out = time.perf_counter()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(self._stack[-1][1] if self._stack else None)
            self.spans.append(
                Span(sid, name, self._op_id, parent, start, end, group)
            )
            self.overhead_s += time.perf_counter() - t_out

    def innermost_at(self, t: float) -> Optional[Span]:
        """The deepest span whose interval holds wall time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best


# ------------------------------------------------------------- compare
def rank_mismatch(got: list[tuple[int, float]], want: list[tuple[int, float]],
                  rtol: float = 1e-9) -> Optional[str]:
    """None when ``got`` is rank-identical to ``want`` (same ids in the
    same order) with every score within ``rtol``; else a description
    of the first difference."""
    got_ids = [g[0] for g in got]
    want_ids = [w[0] for w in want]
    if got_ids != want_ids:
        return f"rank mismatch: got {got_ids} want {want_ids}"
    for (gid, gs), (_, ws) in zip(got, want):
        if not math.isclose(gs, ws, rel_tol=rtol, abs_tol=0.0):
            return f"score mismatch on doc {gid}: got {gs!r} want {ws!r}"
    return None


# ---------------------------------------------------------------- host
def control_ms() -> float:
    """A fixed pure-Python + numpy loop; its time moves only with host
    contention, so it tells whether two sets of runs saw the same box."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.standard_normal((200, 200))
    t0 = time.perf_counter()
    b = a
    for _ in range(8):
        b = b @ a
        b /= np.abs(b).max()
    acc = 0
    for i in range(200_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes mapping it.  Python workers are forked from one
    daemon and share most of their pages with it, so summing their RSS
    would count those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemorySampler:
    """Samples the summed PSS of this process and all its descendants
    (driver Python, the JVM, Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = pss_bytes(me) + sum(pss_bytes(p) for p in descendants(me))
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


_SPARK_MARKERS = ("org.apache.spark.deploy.SparkSubmit", "pyspark.daemon",
                  "pyspark/daemon.py", "pyspark.worker")


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def spark_processes(exclude: set[int]) -> list[int]:
    """Pids of Spark JVMs and PySpark workers not in ``exclude``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit() and int(name) not in exclude:
            cmd = _cmdline(int(name))
            if any(m in cmd for m in _SPARK_MARKERS):
                out.append(int(name))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def kill_and_wait(pids: list[int], timeout_s: float = 10.0) -> list[int]:
    """SIGTERM, then SIGKILL, the given pids; return any that survive."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        pids = wait_gone(pids, timeout_s / 2)
        if not pids:
            break
    return pids
