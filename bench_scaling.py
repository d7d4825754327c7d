#!/usr/bin/env python
"""Scaling-efficiency measurement (BASELINE.json:2,14 — throughput scaling
>= 0.8 from N to 4N executors).

Sandbox proxy (BASELINE.md): the same job, same input, same code at two
parallelism levels — one JVM, N vs 4N executor threads. The pipeline's
parallelism knobs all derive from the core count (session.py's shuffle
partitions, which AQE coalesces to the data), so no retuning happens
between the two runs — exactly the "same code scales N -> 4N" contract.
Prod form: spark-submit --py-files at N and 4N executors. The timed job
is the shipped one: ``pipeline.run`` with its write, footer count of
the committed rows and the lineage file whose publish commits the
attempt, into a fresh run dir that is removed afterwards.

Methodology: one window, local[1] -> local[4], inside the host's core
budget. A wider window such as local[8] -> local[32] measures hypervisor
oversubscription on a host that advertises more vCPUs than it delivers
(BENCH/BASELINE.md capacity curve), not the job. k interleaved (lo, hi)
rep pairs; per-rep efficiency eff_i = hi_i / (ratio * lo_i); the
HEADLINE is the MEDIAN of the per-rep efficiencies (not a best-of
ratchet — ADVICE r02), with min/max spread and the full per-rep list
recorded.

Prints one JSON line with the window and the headline.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent

RUNNER = r"""
import sys, time, json
from pathlib import Path
sys.path.insert(0, {repo!r})
from spardaqus_spark import pipeline
from spardaqus_spark.config import default_config
from spardaqus_spark.session import get_spark

spark = get_spark(app="scaling", master="local[{cores}]")
spark.sparkContext.setLogLevel("ERROR")
cfg = default_config(num_buckets=64)
src = spark.read.parquet({corpus!r})
n = src.count()
# warm-up: JVM + python-worker spinup + model training, excluded from the
# timed window (a 100 TB run amortizes startup to zero). Each run commits
# into its own fresh run dir: a shared one would make the timed run a
# no-op resume.
pipeline.run(src.limit(2000), cfg, run_dir={tmp!r} + "/warm")
t0 = time.perf_counter()
res = pipeline.run(src, cfg, run_dir={tmp!r} + "/timed")
dt = time.perf_counter() - t0
data_files = len(list(Path({tmp!r}, "timed", "files_clean").rglob("*.parquet")))
print(json.dumps({{"cores": {cores}, "sec": round(dt, 2),
                   "files_per_sec": round(n / dt, 1),
                   "files_in": n, "files_out": res["files_out"],
                   "data_files": data_files}}))
spark.stop()
"""

REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "5"))
# Scaling runs use a 420k-row corpus by default: the criterion is the
# JOB's steady-state rate at N vs 4N, and a ~10 s window at 4N lets fixed
# overhead (job scheduling, stage barriers) and hypervisor steal dominate
# the ratio. A 100 TB run amortizes both; a ~40 s window is the smallest
# honest proxy on a small host.
ROWS = int(os.environ.get("SPARK_GRAFT_SCALE_ROWS", "420000"))
CORPUS_FILES = 32
WINDOW = (1, 4)  # N -> 4N executor threads, within host capacity


GRANT_WORKER = r"""
import sys, time
sys.path.insert(0, {repo!r})
from spardaqus_spark import fixtures, oracle
from spardaqus_spark.config import default_config
pdf = fixtures.gen_files(2000)[["repo", "path", "commit", "lang", "content"]]
cfg = default_config()
for _ in range(3):
    oracle.run(pdf.head(800), cfg)
best = 0.0
for _ in range(2):
    t0 = time.perf_counter()
    oracle.run(pdf, cfg)
    best = max(best, 2000 / (time.perf_counter() - t0))
print(best)
"""


def grant_probe(p: int = 4) -> dict:
    """Hypervisor CORE-GRANT probe (r5): the same no-Spark oracle work run
    solo and in ``p`` concurrent processes; ``agg / (p * solo)`` is the
    host's OWN 1->p scaling at this moment, with zero Spark in the loop.
    The r4 host_probe made contended THROUGHPUT sessions self-evident;
    this makes contended SCALING sessions self-evident — on this
    Firecracker microVM the grant was measured collapsing to 0.22-0.30
    (aggregate 4-process rate BELOW one process's solo rate) minutes
    after a quiet window, so a low pipeline-scaling median recorded next
    to a collapsed grant reads as hypervisor steal, not code (the same
    decision rule as probe-vs-files_per_sec). Each worker is a fresh
    process with its own warm-up; per-worker rate is best-of-2 timed
    passes so cold-start cannot masquerade as steal."""
    def run_concurrent(n: int) -> list[float]:
        code = GRANT_WORKER.format(repo=str(REPO))
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", code],
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
                cwd="/tmp",
            )
            for _ in range(n)
        ]
        rates = []
        for i, pr in enumerate(procs):
            out, err = pr.communicate()
            # a crashed worker (OOM, import error) must name itself instead
            # of surfacing as an opaque IndexError/ValueError (ADVICE r05)
            lines = out.strip().splitlines()
            if pr.returncode != 0 or not lines:
                raise RuntimeError(
                    f"grant_probe worker {i}/{n} failed (rc={pr.returncode}, "
                    f"no parsable stdout): stderr tail: {err.strip()[-500:]!r}"
                )
            try:
                rates.append(float(lines[-1]))
            except ValueError as e:
                raise RuntimeError(
                    f"grant_probe worker {i}/{n} emitted non-numeric output "
                    f"{lines[-1]!r}; stderr tail: {err.strip()[-500:]!r}"
                ) from e
        return rates

    solo = run_concurrent(1)[0]
    quad = run_concurrent(p)
    agg = sum(quad)
    return {
        "p": p,
        "solo_rows_per_sec": round(solo, 1),
        "concurrent_rows_per_sec": [round(x, 1) for x in quad],
        "aggregate_rows_per_sec": round(agg, 1),
        "grant_eff_1_to_p": round(agg / (p * solo), 3),
    }


def corpus_path() -> str:
    """Generate-once synthetic scaling corpus (deterministic, seed 42) of
    ``ROWS`` rows, written as a directory of ``CORPUS_FILES`` parquet
    parts (a real table is many files; one part would be one scan task)."""
    p = REPO / ".bench_cache" / f"files_n{ROWS}_p{CORPUS_FILES}"
    if not (p / "_DONE").exists():
        from perfbench import corpus
        from spardaqus_spark import fixtures

        corpus.write_parts(
            fixtures.gen_files(ROWS)[corpus.INPUT_COLS], p, CORPUS_FILES
        )
        (p / "_DONE").touch()
    return str(p)


def run_at(cores: int, corpus: str) -> dict:
    """One fresh process at local[cores]; its run dirs live in a temp tree
    removed when the process ends."""
    tmp = tempfile.mkdtemp(prefix="scaling-")
    try:
        code = RUNNER.format(repo=str(REPO), cores=cores, corpus=corpus, tmp=tmp)
        out = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True,
            text=True,
            timeout=1800,
            cwd="/tmp",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"scaling run at local[{cores}] failed (rc={out.returncode}): "
            f"stderr tail: {out.stderr.strip()[-500:]!r}"
        )
    return json.loads(lines[-1])


def measure_window(n_lo: int, n_hi: int, corpus: str) -> dict:
    """k interleaved (lo, hi) pairs; per-rep paired efficiency; median.

    INTERLEAVED because the hypervisor's available compute drifts
    minute-to-minute (measured ±40%): pairing each lo with the hi run
    adjacent in time makes each eff_i a same-conditions ratio, and the
    median over k pairs is robust to any single noisy rep — unlike the
    r2 best-of ratchet, a later regression moves the headline.
    """
    ratio = n_hi / n_lo
    effs, lo_rates, hi_rates, files_out, data_files = [], [], [], [], []
    for _ in range(REPS):
        lo = run_at(n_lo, corpus)
        hi = run_at(n_hi, corpus)
        lo_rates.append(lo["files_per_sec"])
        hi_rates.append(hi["files_per_sec"])
        files_out.append([lo["files_out"], hi["files_out"]])
        data_files.append([lo["data_files"], hi["data_files"]])
        effs.append(round(hi["files_per_sec"] / (ratio * lo["files_per_sec"]), 3))
    return {
        "n_lo": n_lo,
        "n_hi": n_hi,
        "ratio": ratio,
        "median": round(statistics.median(effs), 3),
        "min": min(effs),
        "max": max(effs),
        "effs": effs,
        "rates_lo": lo_rates,
        "rates_hi": hi_rates,
        # rows each timed run committed, [lo, hi] per rep: equal, non-zero
        "files_out": files_out,
        # parquet data files each timed run wrote, [lo, hi] per rep
        "data_files": data_files,
    }


def main() -> None:
    corpus = corpus_path()
    grant_before = grant_probe()
    head_key = f"{WINDOW[0]}to{WINDOW[1]}"
    head = measure_window(*WINDOW, corpus)
    grant_after = grant_probe()
    print(json.dumps({
        "metric": "scaling_efficiency_Nx4",
        "value": head["median"],
        "unit": "ratio",
        "method": f"median-of-{REPS} paired interleaved reps, window {head_key}",
        "headline_window": head_key,
        "windows": {head_key: head},
        # host-grant context bracketing the measurement window: a low
        # median next to a collapsed grant_eff is hypervisor steal
        "host_grant_probe": {"before": grant_before, "after": grant_after},
        "pass": head["median"] >= 0.8,
        "reps": REPS,
        "measured_at": time.time(),
    }))


if __name__ == "__main__":
    sys.path.insert(0, str(REPO))
    main()
