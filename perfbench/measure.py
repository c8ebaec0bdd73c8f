"""Spark-free measurement helpers: percentiles, span trees, micro-batch
cycle times read from a streaming checkpoint, the /proc RSS sampler, and
the metric-name rule.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import threading
import time

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it,
    never below the median: with fewer than 20 samples no percentile
    above 50 qualifies and the tail reads the median."""
    if n <= 0:
        raise ValueError("no samples")
    return max(50, math.floor(100 * (1 - 10 / n)))


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def cycle_summary(cycles: list[float]) -> dict:
    """Median and tail of per-batch cycle times, with the tail percentile
    and the sample count it rests on."""
    pct = tail_percentile(len(cycles))
    return {
        "p50_s": statistics.median(cycles),
        "tail_s": percentile(cycles, pct),
        "tail_pct": pct,
        "count": len(cycles),
    }


def _log_entries(log_dir: str) -> dict[int, str]:
    """batchId -> file path for a checkpoint's offsets/ or commits/ log."""
    out = {}
    for fn in os.listdir(log_dir):
        if fn.isdigit():
            out[int(fn)] = os.path.join(log_dir, fn)
    return out


def _offsets_body(path: str) -> list[str]:
    # offsets file: version line, metadata line, then one line per source
    with open(path) as fh:
        return fh.read().splitlines()[2:]


def committed_batches(checkpoint: str) -> int:
    """Number of micro-batches in `checkpoint`'s commit log."""
    return len(_log_entries(os.path.join(checkpoint, "commits")))


def checkpoint_cycles(checkpoint: str) -> list[float]:
    """Cycle time of every DATA micro-batch recorded in `checkpoint`.

    A batch's cycle runs from the previous batch's commit (or, for the
    first batch, from its own offset-log write) to its own commit-log
    write; both are file modification times, so nothing inside the run
    is instrumented. A batch whose source offsets equal the previous
    batch's read no new input (a no-data batch that only advances the
    watermark); it is folded into the next data batch's cycle instead of
    being counted as a batch of its own."""
    offsets = _log_entries(os.path.join(checkpoint, "offsets"))
    commits = _log_entries(os.path.join(checkpoint, "commits"))
    cycles = []
    prev_end = None
    prev_body = None
    for b in sorted(commits):
        if b not in offsets:
            continue
        body = _offsets_body(offsets[b])
        start = prev_end if prev_end is not None else os.stat(offsets[b]).st_mtime
        end = os.stat(commits[b]).st_mtime
        if body != prev_body:
            cycles.append(end - start)
            prev_end = end
        prev_body = body
    return cycles


class Spans:
    """In-memory span recorder: (name, start, end, parent, run id).
    Spans are closed in LIFO order by the `span` context manager and
    stay in memory until the caller writes them out."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a finished span (e.g. one synthesised from progress
        records) and return its id."""
        self.spans.append({
            "id": len(self.spans), "name": name, "start": start, "end": end,
            "parent": parent, "run": self.run_id,
        })
        return len(self.spans) - 1


class _SpanCtx:
    def __init__(self, rec: Spans, name: str):
        self.rec, self.name = rec, name
        self.id: int | None = None

    def __enter__(self):
        parent = self.rec._stack[-1] if self.rec._stack else None
        self.id = self.rec.add(self.name, time.time(), math.nan, parent)
        self.rec._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.rec.spans[self.id]["end"] = time.time()
        self.rec._stack.pop()
        return False


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


class RssSampler:
    """Samples the resident set of this process and all its descendants
    from /proc every `period` seconds on a daemon thread; `peaks()` gives
    the peak of the total and of each process class (driver, JVM, Python
    workers)."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.root = os.getpid()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}

    def _sample(self) -> dict[str, float]:
        parent: dict[int, int] = {}
        comm: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    st = fh.read()
            except OSError:
                continue
            rp = st.rindex(")")
            comm[int(d)] = st[st.index("(") + 1:rp]
            parent[int(d)] = int(st[rp + 2:].split()[1])
        tree = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        out = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    pages = int(fh.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
            mb = pages * os.sysconf("SC_PAGE_SIZE") / 2**20
            if pid == self.root:
                kind = "driver"
            elif comm.get(pid) == "java":
                kind = "jvm"
            else:
                kind = "pyworkers"
            out[kind] += mb
            out["total"] += mb
        return out

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            s = self._sample()
            with self._lock:
                for k, v in s.items():
                    self.peak[k] = max(self.peak[k], v)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()

    def peaks(self) -> dict[str, float]:
        with self._lock:
            return dict(self.peak)
