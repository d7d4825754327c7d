#!/usr/bin/env python
"""Benchmark harness (SURVEY.md §7 M7; BASELINE.md measured rows).

Runs (a) the full quality pipeline over a deterministic synthetic corpus —
the headline files/sec-filtered metric — and (b) the headline coverage
queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Prints ONE JSON line:
  {"metric": ..., "value": <total headline sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "pipeline": {"files_in": N, "files_out": N, "sec": s, "files_per_sec": r}}

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] cores (default *)
  SPARK_GRAFT_BENCH_N  synthetic corpus rows (default 100000)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_N = int(os.environ.get("SPARK_GRAFT_BENCH_N", "100000"))
CACHE = REPO / ".bench_cache"

HEADLINE = [
    "pricing_summary",
    "top_revenue_orders",
    "region_revenue",
    "window_topk",
    "sessionize",
    "dedup_exact_docs",
    "ngram_jaccard_pairs",
    "cosine_topk",
    # r4 split: "minhash_lsh_candidates" is the r1-r3 op formerly timed as
    # "minhash_lsh_pairs" (banded-LSH candidate generation — keep the
    # cross-round series comparable); "minhash_lsh_pairs" is now the
    # REGISTERED verified form (candidates + exact-Jaccard verification
    # join), timed as its own entry. See BENCH/BASELINE.md r4 note.
    "minhash_lsh_candidates",
    "minhash_lsh_pairs",
    "pipeline_documents",
]

# headline entries not in the driver registry (internal stages timed for
# cross-round comparability) — resolved here instead of entrymod.queries()
def _extra_headline():
    from spardaqus_spark import queries_ml as QM

    return {"minhash_lsh_candidates": QM.q_minhash_lsh_candidates}


def host_probe(n_rows: int = 4000) -> dict:
    """No-Spark single-core reference (VERDICT r03 item 2): run the
    single-process oracle pipeline — the SAME kernels the Spark stages
    execute (langid, ppl, heuristics, verdict, scrub) — over a fixed
    deterministic corpus and report rows/sec. Parallel capacity on this
    microVM swings ±40% with noisy neighbors while the serial rate moves
    far less (BENCH/BASELINE.md noise caveat), so a bench JSON whose
    files_per_sec collapses but whose probe is healthy is self-evidently
    a contended session, not a code regression — and vice versa.
    Protocol: three warm passes on a slice, then BEST-OF-3 timed full
    passes with all samples reported. quiet_ref is the measured
    quiet-host range for THIS protocol (n=4000, single process; see
    BENCH/BASELINE.md r4)."""
    from spardaqus_spark import fixtures, oracle
    from spardaqus_spark.config import default_config

    pdf = fixtures.gen_files(n_rows)[["repo", "path", "commit", "lang", "content"]]
    cfg = default_config()
    # cold-start (imports, numpy JIT-ish first-touch, model tables) costs
    # 4-7x on the first call — measured 294 -> 578 -> 849 -> ~1.9k rows/s
    # over successive calls. Three warm passes on a slice, then best-of-3
    # timed full passes = the steady-state serial rate.
    for _ in range(3):
        oracle.run(pdf.head(800), cfg)
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        oracle.run(pdf, cfg)
        samples.append(n_rows / (time.perf_counter() - t0))
    # best-of-3 plus the raw samples: a single contended sample (observed
    # live: 419 rows/s under loadavg 4, then 2163 seconds later in the
    # same process) shows up in the spread without poisoning the headline.
    return {
        "rows": n_rows,
        "rows_per_sec": round(max(samples), 1),
        "samples_rows_per_sec": [round(s, 1) for s in samples],
        "quiet_ref_rows_per_sec": [1700, 2300],
    }


N_CORPUS_FILES = 32  # a real table is many files; a single pandas parquet
# is ONE row group = ONE scan task, which serializes the whole pre-shuffle
# map side (scan + sha2) and caps measured scaling (Amdahl). 32 parts give
# the scan the same parallelism surface a production table has.


def corpus_path() -> str:
    """Generate-once synthetic bench corpus (deterministic, seed 42),
    written as a directory of N_CORPUS_FILES parquet parts."""
    p = CACHE / f"files_n{BENCH_N}_p{N_CORPUS_FILES}"
    if not (p / "_DONE").exists():
        from spardaqus_spark import fixtures

        p.mkdir(parents=True, exist_ok=True)
        df = fixtures.gen_files(BENCH_N)[
            ["repo", "path", "commit", "lang", "content"]
        ]
        step = (len(df) + N_CORPUS_FILES - 1) // N_CORPUS_FILES
        for i in range(N_CORPUS_FILES):
            part = df.iloc[i * step : (i + 1) * step]
            if len(part):
                part.to_parquet(p / f"part-{i:04d}.parquet", index=False)
        (p / "_DONE").touch()
    return str(p)


def main() -> None:
    cpath = corpus_path()  # build before Spark starts (pandas-side)
    probe = host_probe()  # single-core reference, measured pre-Spark

    from spardaqus_spark import pipeline
    from spardaqus_spark.config import default_config
    from spardaqus_spark.session import get_spark

    import __spark_entry__ as entrymod

    # SPARK_GRAFT_CPUS wins if set; otherwise cap at 16 threads — the host
    # delivers ~8-10 real cores (BENCH/BASELINE.md capacity curve) and 32
    # threads measurably UNDER-perform 16 (oversubscription overhead).
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else f"local[{min(os.cpu_count() or 16, 16)}]"
    # Shuffle-partition count follows the MEASURED host capacity, not the
    # advertised thread count: the fused scoring stage is memory-bandwidth
    # bound and this microVM saturates at ~16 concurrent python workers
    # (BENCH/BASELINE.md capacity curve; re-measured r02: 8.5k files/s at
    # 16 partitions vs 6.1k at 32, both under local[32]). Partition count
    # != thread count is normal Spark tuning — on a real cluster this is
    # spark.sql.shuffle.partitions sized to executor cores x nodes.
    try:
        n_threads = int(master[6:-1])
    except ValueError:
        n_threads = os.cpu_count() or 16
    spark = get_spark(
        app="spardaqus-bench", master=master,
        shuffle_partitions=min(n_threads, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # --- pipeline throughput (the BASELINE.json headline) ---------------
    cfg = default_config(num_buckets=64)
    src = spark.read.parquet(cpath)
    files_in = src.count()  # warms the scan; excluded from the timed window
    # warm-up: python-worker spinup + per-worker model training + codegen
    # JIT, on a 2k slice. A 100 TB run amortizes startup to zero, so the
    # timed window measures steady-state throughput, not JVM cold start.
    pipeline.run(src.limit(2000), cfg)
    t0 = time.perf_counter()
    res = pipeline.run(src, cfg)
    pipe_sec = time.perf_counter() - t0
    pipe = {
        "files_in": files_in,
        "files_out": res["files_out"],
        "sec": round(pipe_sec, 3),
        "files_per_sec": round(files_in / pipe_sec, 1),
    }

    # --- headline coverage queries at SF_DIR -----------------------------
    # two passes, report the best: pass 1 absorbs whole-stage-codegen JIT
    # and shuffle-service warmup that otherwise lands entirely on whichever
    # heavy query runs first (VERDICT r01: ngram_jaccard at 20s cold vs
    # ~1s steady-state). Steady-state is the honest 100 TB proxy — a real
    # cluster runs each plan shape thousands of times per day.
    qmap = {**entrymod.queries(), **_extra_headline()}
    qtimes: dict[str, float] = {}
    for rep in range(2):
        for name in HEADLINE:
            fn = qmap[name]
            t0 = time.perf_counter()
            n = fn(spark, SF_DIR).count()
            dt = round(time.perf_counter() - t0, 3)
            if name not in qtimes or dt < qtimes[name]:
                qtimes[name] = dt
            _ = n
        # ngram_jaccard/minhash persist() a shared subtree that can only be
        # released after the consuming action; drop those cached DataFrames
        # between passes so repeated invocations never accumulate storage
        # memory (ADVICE r02 persist-leak finding).
        spark.catalog.clearCache()
    total = round(sum(qtimes.values()), 3)

    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "timing": "best-of-2 (warm steady-state; pass 1 absorbs JIT)",
        "queries": qtimes,
        "sf": None,
        "pipeline": pipe,
        "host_probe": probe,
        "cores": master,  # the actual master used, not the env echo
    }
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out["sf"] = float(sf) if sf.replace(".", "").isdigit() else sf
    # scaling efficiency: only report a MEASURED value (bench_scaling.py
    # records its last run here; ADVICE r01 — never a hardcoded constant)
    scaling_file = CACHE / "scaling.json"
    if scaling_file.exists():
        try:
            rec = json.loads(scaling_file.read_text())
            # r3 methodology: headline = MEDIAN of the latest session's
            # paired interleaved reps at the within-capacity window, with
            # the SURVEY-pinned 8->32 window recorded alongside (VERDICT
            # r02 #2 / ADVICE r02 — no best-ever ratchet).
            out["scaling_efficiency_N_to_4N"] = rec["value"]
            out["scaling_method"] = rec.get("method")
            out["scaling_measured_at"] = rec.get("measured_at")
            if "spread" in rec:
                out["scaling_spread"] = rec["spread"]
                out["scaling_n_runs"] = rec.get("n_runs")
            if "windows" in rec:
                out["scaling_windows"] = {
                    k: {
                        "median": w["median"],
                        "min": w["min"],
                        "max": w["max"],
                        "effs": w["effs"],
                    }
                    for k, w in rec["windows"].items()
                }
            # r5: the scaling session's own contamination evidence (1-vs-4
            # concurrent no-Spark probes bracketing the windows) travels
            # with the headline so a low median stays decidable from the
            # JSON alone — same rule as host_probe for throughput
            if "host_grant_probe" in rec:
                out["scaling_host_grant_probe"] = rec["host_grant_probe"]
        except (ValueError, KeyError):
            pass
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
