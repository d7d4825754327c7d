"""Run-level measurement helpers: latency summaries, process-tree memory
sampling and host context."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time


def tail_percentile(n: int) -> float | None:
    """The highest percentile (0-100) that leaves at least ten of ``n``
    samples beyond it, or None when ``n`` is too small for one."""
    if n < 11:
        return None
    return 100.0 * (n - 10) / n


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    s = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[k - 1]


def latency_summary(values: list[float]) -> dict:
    """Median and tail of per-operation latencies with the sample count.
    With fewer than eleven samples no percentile has ten beyond it; the
    tail is then the maximum and ``tail_pct`` is None."""
    pct = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "tail_pct": pct,
        "tail": percentile(values, pct) if pct is not None else max(values),
    }


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(_children(p))
    return pids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each page shared by k
    processes counted 1/k. Python workers are forked from one daemon and
    share most of their pages, so plain RSS would count those once per
    worker and swing with the worker count."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class TreeSampler:
    """Background sampler of the resident memory (PSS) of this process
    and all of its descendants (the JVM and its Python workers). Also
    records the distinct Python worker processes it sees, the workers
    Spark started. Used as a context manager around a timed window."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.worker_pids: set[int] = set()
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        pids = process_tree(os.getpid())
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in pids))
        for p in pids:
            if p not in self._seen:
                self._seen.add(p)
                if "pyspark.daemon" in _cmdline(p) or "pyspark.worker" in _cmdline(p):
                    self.worker_pids.add(p)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "TreeSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat.
    Stolen ticks are time a virtual CPU was ready to run but the
    hypervisor ran someone else."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time stolen between two ``cpu_ticks`` readings.
    Context for reading a slow run on a shared host, not a metric."""
    total = end[1] - start[1]
    return round((end[0] - start[0]) / total, 4) if total else 0.0


def physical_mem_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def oracle_probe(rows: int = 300, reps: int = 2) -> float:
    """No-Spark single-core rate of the oracle pipeline over the seed-42
    fixture corpus, best of ``reps`` after one warm pass (rows/s). Context
    for reading a run on a contended host, not a metric."""
    from spardaqus_spark import fixtures, oracle

    pdf = fixtures.gen_files(rows)[["repo", "path", "commit", "lang", "content"]]
    oracle.run(pdf.head(100))
    best = 0.0
    for _ in range(reps):
        t0 = time.perf_counter()
        oracle.run(pdf)
        best = max(best, len(pdf) / (time.perf_counter() - t0))
    return best
