#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_clean --seed 1 --seconds 8 --trace 0

Runs one workload in one fresh process at local[<cores>] from the root of
a checkout: builds the seeded inputs (cached per seed under
``perfbench/.work``), starts Spark, runs the set-up pass, then runs
operations for ``--seconds`` seconds, checking each against the oracle.
Prints a report, then as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the metrics are the
end-to-end ones with ``--trace 0`` and the per-layer ones with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def launch_env(run_dir: Path, cores: int, event_dir: Path | None) -> None:
    """Spark settings that must be in place before the JVM starts: this
    host's cores and memory, and every scratch path inside the checkout
    (set first, so input preparation's temp files land there too)."""
    from perfbench.measure import physical_mem_bytes

    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # get_spark defaults the driver to 16g, more than a small host has.
    # A small heap also fills to its cap on every run, which keeps the
    # process-tree peak RSS from depending on when the JVM happened to GC.
    gib = max(1, min(2, physical_mem_bytes() // (4 << 30)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{gib}g"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }
    if event_dir is not None:
        # the traced context turns the log on; the first context stays untraced
        event_dir.mkdir(parents=True, exist_ok=True)
        confs["spark.eventLog.dir"] = event_dir.as_uri()
        confs["spark.eventLog.compress"] = "false"
    args = [x for k, v in confs.items() for x in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_spark(cores: int):
    from spardaqus_spark.session import get_spark

    spark = get_spark(app="perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def window_summary(win) -> dict:
    from perfbench.measure import latency_summary

    lat = latency_summary([o.latency_s for o in win.ops if o.rows] or [0.0])
    return {"rows_per_s": win.rows_per_s, **lat}


def latency_line(what: str, lat: dict) -> str:
    tail = "max" if lat["tail_pct"] is None else f"p{lat['tail_pct']:.1f}"
    return f"  {what} n={lat['n']} p50 {lat['p50']:.4f} s tail ({tail}) {lat['tail']:.4f} s"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    run_dir = WORK / "runs" / f"{args.workload}-{os.getpid()}"
    try:
        from perfbench import corpus, measure, workloads
    except ImportError as e:
        print(f"perfbench: the package under test is not importable: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = corpus.cpu_count()
    event_dir = run_dir / "eventlog" if args.trace else None
    launch_env(run_dir, cores, event_dir)
    context = {"loadavg_start": measure.loadavg()}
    cache = corpus.SeedCache(WORK / "cache" / corpus.source_key(), args.seed)
    wl = workloads.WORKLOADS[args.workload](cache, run_dir, cores)
    wl.prepare()
    side = side_passes(cache, run_dir, cores, args.trace)
    context["oracle_rows_per_s_1core"] = round(measure.oracle_probe(), 1)

    t0 = time.perf_counter()
    spark = start_spark(cores)
    try:
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t0
        wl.prepare_spark(spark)
        t1 = time.perf_counter()
        wl.restore()
        setup_s += time.perf_counter() - t1

        ticks = measure.cpu_ticks()
        with measure.TreeSampler() as sampler:
            win = wl.window(spark, args.seconds)
        context["steal_share_window"] = measure.steal_share(ticks, measure.cpu_ticks())
        summary = window_summary(win)
        ops = list(win.ops)
        layers = None
        if args.trace:
            layers, traced_ops = traced_window(spark, wl, side, args, cores, event_dir, summary)
            ops += traced_ops
    finally:
        stop_jvm(spark)
    context["loadavg_end"] = measure.loadavg()

    failed = [o for o in ops if not o.ok]
    if args.trace:
        from perfbench.trace import PER_LAYER

        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {
            "rows_per_s": {"value": summary["rows_per_s"], "unit": "rows/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": sampler.peak_mb, "unit": "MB"},
        }
    report(args, summary, ops, failed, metrics, context)
    shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


def side_passes(cache, run_dir: Path, cores: int, traced: int):
    """The traced run's passes over the layers neither batch workload
    reaches, on small inputs: one availableNow run of ``scrub_stream``
    over STREAM_CHUNK files of the run's seeded corpus, and one pass of
    the near-dup queries over PROBE_DOCS documents sampled with
    PROBE_SEED. Their inputs and expected outputs are built here, before
    Spark starts. The documents' expected output takes ~30 s to build
    and does not depend on the run's seed, so every run prepares it: the
    first run in a checkout builds it, and no traced run pays for it."""
    from perfbench import corpus, workloads

    docs_cache = corpus.SeedCache(cache.dir.parent, workloads.PROBE_SEED)
    docs = workloads.NearDedup(docs_cache, run_dir / "side-docs", cores, n_docs=workloads.PROBE_DOCS)
    docs.prepare()
    if not traced:
        return None
    stream = workloads.StreamMicrobatch(cache, run_dir / "side-stream", cores)
    stream.prepare()
    return stream, docs


def _now_ms() -> int:
    return int(time.time() * 1000)


def traced_window(spark, wl, side, args, cores, event_dir, untraced):
    """Restart Spark with the event log on, repeat set-up and the window
    with the benchmark's spans, make the side passes, and derive the
    per-layer metrics from the event-log slice of each."""
    from perfbench import eventlog, measure, trace

    spark.sparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "true")
    spark.stop()
    spark = start_spark(cores)  # stopped with the JVM by the caller
    spans: dict[str, float] = {}
    with measure.TreeSampler() as sampler:
        wl.warm_up(spark)
        wl.restore()
        since = _now_ms()
        with trace.checkpoint_spans(spans):
            win = wl.window(spark, args.seconds)
        until = _now_ms()
    summary = window_summary(win)
    stream, docs = side
    s0 = _now_ms()
    swin = stream.window(spark, 0)
    s1 = _now_ms()
    dwin = docs.window(spark, 0)
    probes = docs.probes(spark)
    d1 = _now_ms()
    spark.stop()  # flushes the event log
    events = eventlog.read_events(event_dir)
    layers = trace.layer_metrics(eventlog.parse(events, since, until), win, spans)
    layers.update(trace.stream_metrics(eventlog.parse(events, s0, s1), swin))
    layers.update(trace.query_metrics(eventlog.parse(events, s1, d1), dwin))
    layers.update(probes)
    layers.update(trace.replay_kernels(wl.replay_texts(), wl.cfg))
    layers["python.worker_starts"] = float(len(sampler.worker_pids))
    layers["trace.overhead_frac"] = 1.0 - summary["rows_per_s"] / untraced["rows_per_s"]
    print(latency_line("side stream micro-batches", window_summary(swin)))
    return layers, win.ops + swin.ops + dwin.ops


def report(args, summary, ops, failed, metrics, context) -> None:
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print(f"  operations {len(ops)} failed {len(failed)} failed_frac {len(failed) / max(len(ops), 1):.4f}")
    for o in failed[:5]:
        print(f"  failed: {o.note}")
    print(latency_line("op latency", summary))
    for k, m in metrics.items():
        print(f"  {k} {m['value']:.6g} {m['unit']}")
    print(f"  context {json.dumps(context)}")


if __name__ == "__main__":
    sys.exit(main())
