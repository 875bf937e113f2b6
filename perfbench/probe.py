"""Measurement plumbing owned by the benchmark: spans, peak RSS of the
process tree, and the host stamp.

Nothing here imports the program under test.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory spans: name, start, end, parent and per-operation id.

    A span opened with no parent on the current thread starts a new
    operation; nested spans inherit its id. Worker threads pass
    ``parent=`` explicitly. When ``job_counter`` returns Spark's next job
    id, each span also records how many jobs it launched.
    """

    def __init__(self):
        self.t0 = time.perf_counter()
        self.job_counter = None  # set to count Spark jobs per span
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self.spans: list[dict] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        stack = self._stack()
        parent = parent if parent is not None else (stack[-1] if stack else None)
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else sid,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "attrs": dict(attrs),
        }
        jobs0 = self.job_counter() if self.job_counter else None
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self.t0
            if jobs0 is not None:
                rec["attrs"]["spark_jobs"] = self.job_counter() - jobs0
            with self._lock:
                self.spans.append(rec)

    def finished(self) -> list[dict]:
        """Spans in start order, each with ``dur`` and ``self`` time: the
        duration minus the part of it that child spans cover."""
        spans = sorted(self.spans, key=lambda s: s["start"])
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in children.get(s["id"], []):
                a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            dur = s["end"] - s["start"]
            out.append({**s, "dur": dur, "self": dur - covered})
        return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the Spark
    JVM and its Python workers), read from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def sample(self) -> None:
        parents: dict[int, int] = {}
        for entry in os.scandir("/proc"):
            if not entry.name.isdigit():
                continue
            try:
                with open(f"/proc/{entry.name}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may hold spaces; ppid follows the last ')'
            parents[int(entry.name)] = int(stat[stat.rfind(b")") + 2:].split()[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parents.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm", "rb") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()


def cpu_calibration_ms() -> float:
    """Single-core speed probe: best of three numpy sorts of the same 2M
    shuffled floats. Loadavg shows contention; this shows a slower host."""
    import numpy as np

    data = np.random.RandomState(0).permutation(2_000_000).astype(np.float64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.sort(data, kind="quicksort")
        best = min(best, time.perf_counter() - t0)
    return best * 1000


def steal_s() -> float:
    """CPU time the hypervisor took from this VM's cores so far (0 on
    bare metal): a run whose share grew was slowed by its neighbours."""
    with open("/proc/stat") as f:
        ticks = int(f.readline().split()[8])
    return ticks / os.sysconf("SC_CLK_TCK")


def source_digest(root: Path) -> str:
    """sha256 over the program's Python sources, so runs from checkouts
    that are not git repositories still name the code they measured."""
    h = hashlib.sha256()
    for p in sorted((root / "clp_core_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def host_stamp(root: Path, seed: int) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": list(os.getloadavg()),
        "cpu_calib_sort_ms": cpu_calibration_ms(),
        "steal_s_start": steal_s(),
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
        "seed": seed,
    }
