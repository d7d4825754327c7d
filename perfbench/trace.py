"""Per-layer metrics of a traced run: the Spark event log attributed to
the package's modules, spans the benchmark records around calls into
``plans.checkpoint``, streaming progress, and a single-thread replay of
the workload's texts through the public kernel functions."""

from __future__ import annotations

import hashlib
import re
import time
from collections import defaultdict
from contextlib import contextmanager

import pandas as pd

from . import eventlog as E

REPLAY_BATCH = 512
REPLAY_ROWS = 4096

# The ``per_layer`` metrics of every traced run. The streaming, queries
# and graphops layers are reached by neither batch workload, so a traced
# run also makes the side passes ``run.py`` describes and measures them
# there.
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.bytes_read": "bytes",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "python.run_s": "s",
    "python.worker_start_s": "s",
    "python.worker_init_s": "s",
    "python.worker_starts": "count",
    "python.arrow_bytes_in": "bytes",
    "python.arrow_bytes_out": "bytes",
    "kernels.textnum.flatten_s": "s",
    "kernels.heuristics_s": "s",
    "kernels.langid_s": "s",
    "kernels.ppl_s": "s",
    "rules.apply_s": "s",
    "kernels.scrub_s": "s",
    "kernels.sha256_s": "s",
    "kernels.minhash_s": "s",
    "kernels.model_train_s": "s",
    "kernels.chars": "count",
    "kernels.scrub_changed_ratio": "ratio",
    "operators.stages.dedup_s": "s",
    "operators.stages.dedup_shuffle_bytes": "bytes",
    "operators.stages.dup_loser_frac": "ratio",
    "operators.stages.score_scrub_python_s": "s",
    "operators.stages.score_scrub_rows": "count",
    "operators.stages.arrow_bytes_in": "bytes",
    "operators.stages.arrow_bytes_out": "bytes",
    "operators.stages.score_useful_ratio": "ratio",
    "pipeline.repartition_shuffle_bytes": "bytes",
    "pipeline.write_s": "s",
    "pipeline.write_bytes": "bytes",
    "pipeline.write_files": "count",
    "pipeline.readback_s": "s",
    "plans.lineage_s": "s",
    "plans.lineage_rows": "count",
    "plans.checkpoint.commit_s": "s",
    "plans.checkpoint.clean_orphans_s": "s",
    "plans.checkpoint.filter_resume_s": "s",
    "plans.checkpoint.rescored_ratio": "ratio",
    "streaming.microbatch_p50_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.unfused_python_s": "s",
    "queries.docs_per_s": "docs/s",
    "queries.minhash_candidates_s": "s",
    "queries.packing_s": "s",
    "queries.candidate_pairs": "count",
    "queries.verified_ratio": "ratio",
    "operators.graphops.cc_s": "s",
    "operators.graphops.rounds": "count",
    "trace.overhead_frac": "ratio",
}

_CKPT_SPANS = {
    "commit_bucket": "plans.checkpoint.commit_s",
    "clean_orphans": "plans.checkpoint.clean_orphans_s",
    "filter_resume": "plans.checkpoint.filter_resume_s",
}


@contextmanager
def checkpoint_spans(spans: dict[str, float]):
    """Time every call into ``plans.checkpoint`` that the pipeline makes
    (it resolves them through the module at call time)."""
    from spardaqus_spark.plans import checkpoint as ckpt

    saved = {name: getattr(ckpt, name) for name in _CKPT_SPANS}
    for key in _CKPT_SPANS.values():
        spans.setdefault(key, 0.0)

    def timed(name, fn):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                spans[_CKPT_SPANS[name]] += time.perf_counter() - t0

        return wrapper

    for name, fn in saved.items():
        setattr(ckpt, name, timed(name, fn))
    try:
        yield spans
    finally:
        for name, fn in saved.items():
            setattr(ckpt, name, fn)


def replay_kernels(texts: pd.Series, cfg) -> dict[str, float]:
    """Single-thread replay of up to REPLAY_ROWS texts in REPLAY_BATCH-row
    batches through the kernels the Spark stages call, in their order."""
    from spardaqus_spark.kernels import heuristics, langid, minhash, ppl, scrub, textnum
    from spardaqus_spark.rules import apply_rules_pandas

    t = defaultdict(float)
    t0 = time.perf_counter()
    langid.train_model()
    ppl.train_model()
    t["kernels.model_train_s"] = time.perf_counter() - t0
    lex = scrub.load_lexicon(cfg.lexicon_path)
    texts = texts.fillna("").astype(str).reset_index(drop=True).head(REPLAY_ROWS)
    changed = 0

    def span(key, fn, *a, **kw):
        s = time.perf_counter()
        out = fn(*a, **kw)
        t[key] += time.perf_counter() - s
        return out

    for lo in range(0, len(texts), REPLAY_BATCH):
        c = texts.iloc[lo : lo + REPLAY_BATCH].reset_index(drop=True)
        flat = span("kernels.textnum.flatten_s", textnum.flatten_codepoints, c)
        m = span("kernels.heuristics_s", heuristics.compute_metrics, c, flat=flat)
        lid = span("kernels.langid_s", langid.predict, c, flat=flat)
        m["lang_pred"] = lid["lang_pred"].to_numpy()
        m["lang_conf"] = lid["lang_conf"].to_numpy()
        m["ppl"] = span("kernels.ppl_s", ppl.perplexity, c, flat=flat).to_numpy()
        span("rules.apply_s", apply_rules_pandas, cfg.rules, m, cfg.verdict)
        s = span("kernels.scrub_s", scrub.scrub_series, c, lex)
        changed += int((s != c).sum())
        span("kernels.sha256_s", lambda x: [hashlib.sha256(v.encode("utf-8")).hexdigest() for v in x], s)
        norm = [re.sub(r"\s+", " ", v.lower()) for v in c]
        span("kernels.minhash_s", minhash.signatures, norm)
    t["kernels.chars"] = float(texts.str.len().sum())
    t["kernels.scrub_changed_ratio"] = changed / max(len(texts), 1)
    return dict(t)


def layer_metrics(
    trace: E.Trace,
    window,
    spans: dict[str, float],
) -> dict[str, float]:
    """Per-layer metrics of one traced window from its event-log slice,
    the benchmark's spans and the operations' own details."""
    ops = window.ops
    n_ops = max(len(ops), 1)
    out: dict[str, float] = defaultdict(float)
    out.update(spans)

    out["sources.scan_s"] = trace.total("scan time", E.is_source_scan)
    out["sources.bytes_read"] = trace.total("size of files read", E.is_source_scan)
    out["pipeline.jobs"] = trace.jobs / n_ops
    out["pipeline.tasks"] = trace.tasks / n_ops
    out["spark.executor_run_s"] = trace.task_totals.get("run_ms", 0.0) / 1e3
    out["spark.gc_s"] = trace.task_totals.get("gc_ms", 0.0) / 1e3
    out["spark.spill_bytes"] = trace.task_totals.get("spill_bytes", 0.0)
    out["spark.peak_exec_mem_bytes"] = float(trace.peak_task_exec_mem)

    py = lambda n: E.python_role(n) is not None  # noqa: E731
    stage_py = lambda n: (E.python_role(n) or "").startswith("operators.stages")  # noqa: E731
    out["python.run_s"] = trace.total("time to run Python workers", py)
    out["python.worker_start_s"] = trace.total("time to start Python workers", py)
    out["python.worker_init_s"] = trace.total("time to initialize Python workers", py)
    out["python.arrow_bytes_in"] = trace.total("data sent to Python workers", py)
    out["python.arrow_bytes_out"] = trace.total("data returned from Python workers", py)

    scored_role = lambda n: E.python_role(n) in ("operators.stages.score_scrub", "operators.stages.score")  # noqa: E731
    scored = trace.total("number of output rows", scored_role)
    out["operators.stages.score_scrub_rows"] = scored
    out["operators.stages.score_scrub_python_s"] = trace.total("time to run Python workers", stage_py)
    out["operators.stages.arrow_bytes_in"] = trace.total("data sent to Python workers", stage_py)
    out["operators.stages.arrow_bytes_out"] = trace.total("data returned from Python workers", stage_py)
    out["operators.stages.dedup_shuffle_bytes"] = trace.total("shuffle bytes written", E.is_dedup_exchange)
    out["operators.stages.dedup_s"] = trace.total("shuffle write time", E.is_dedup_exchange) + trace.total(
        "sort time", lambda n: n.name == "Sort" and "content_sha256" in n.desc
    )
    dedup_in = sum(o.detail.get("dedup_in", 0) for o in ops)
    dedup_out = sum(o.detail.get("dedup_out", 0) for o in ops)
    if dedup_in:
        out["operators.stages.dup_loser_frac"] = 1.0 - dedup_out / dedup_in
    if scored:
        out["operators.stages.score_useful_ratio"] = dedup_out / scored if dedup_in else 1.0

    out["pipeline.repartition_shuffle_bytes"] = trace.total("shuffle bytes written", E.is_bucket_exchange)
    data_write = lambda n: E.is_write(n) and not E.is_lineage_write(n)  # noqa: E731
    out["pipeline.write_bytes"] = trace.total("written output", data_write)
    out["pipeline.write_files"] = trace.total("number of written files", data_write)
    roles = defaultdict(float)
    for ex in trace.executions.values():
        roles[E.execution_role(ex)] += ex.seconds
    out["pipeline.readback_s"] = roles["pipeline.readback"]
    out["plans.lineage_s"] = roles["plans.lineage"]
    # the data write is the first action on the persisted verdict frame, so
    # its execution also runs scoring; its own cost is its writing tasks
    out["pipeline.write_s"] = sum(
        ex.write_task_s
        for ex in trace.executions.values()
        if E.execution_role(ex) == "pipeline.write"
    )
    out["plans.lineage_rows"] = trace.total("number of output rows", E.is_lineage_write)

    todo = sum(o.detail.get("rows_todo", 0) for o in ops)
    if todo and dedup_in:
        out["plans.checkpoint.rescored_ratio"] = scored / todo

    return dict(out)


def stream_metrics(trace: E.Trace, window) -> dict[str, float]:
    """The streaming layer from one traced stream pass: Spark's own
    per-batch ``durationMs`` split and the event-log slice of the pass.
    The stream scores through the unfused ``score`` -> ``scrub_stage``
    maps, which no batch workload runs."""
    from .measure import latency_summary

    batches = [o for o in window.ops if "duration_ms" in o.detail]
    durations = [o.detail["duration_ms"] for o in batches]
    n = max(len(batches), 1)
    unfused = lambda node: E.python_role(node) in ("operators.stages.score", "operators.stages.scrub_stage")  # noqa: E731
    return {
        "streaming.microbatch_p50_s": latency_summary([o.latency_s for o in batches] or [0.0])["p50"],
        "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in durations) / 1e3,
        "streaming.wal_commit_s": sum(d.get("walCommit", 0) for d in durations) / 1e3,
        "streaming.query_planning_s": sum(d.get("queryPlanning", 0) for d in durations) / 1e3,
        "streaming.jobs_per_batch": trace.jobs / n,
        "streaming.unfused_python_s": trace.total("time to run Python workers", unfused),
    }


def query_metrics(trace: E.Trace, window) -> dict[str, float]:
    """The queries and graphops layers from one traced near-dup pass:
    the queries' rate and the connected-components executions."""
    cc = [ex for ex in trace.executions.values() if E.is_graphops(ex)]
    n_ops = max(len(window.ops), 1)
    return {
        "queries.docs_per_s": window.rows_per_s,
        "operators.graphops.rounds": sum("count at" in ex.description for ex in cc) / n_ops,
        "operators.graphops.cc_s": sum(ex.seconds for ex in cc),
    }
