"""Full batch pipeline composition (SURVEY.md §3.1 / §4.3).

Logical DAG (all lazy — Catalyst optimizes the whole thing as one plan):

    read -> sha2 (codegen) -> dedup window (shuffle #1, hash by content
         sha: PERFECTLY uniform, so the scoring stage that pipelines on top
         of it is skew-free by construction — no mega-repo can hot-spot a
         content-hash partitioning)
         -> resume filter (codegen: drop committed / non-whitelisted
            buckets — above the window, which must see every row to pick
            global dedup winners, and below the kernel, so a resume
            scores only unfinished buckets)
         -> ONE fused mapInPandas (narrow, ``stages.score_scrub``):
            metrics + langid + ppl + in-worker verdict + scrub of kept rows
         -> keep filter
         -> bucketize repartition (shuffle #2 — repo-hash bucket + salt,
            kept rows only, sized by AQE: files follow the buckets, not
            the cores; resume/pruning stay bucket-grained)
         -> sort within partitions by (bucket, repo, path, commit)
         -> write(partitionBy bucket) -> footer counts of the kept bucket
            dirs (driver) -> ONE lineage file, whose publish is the commit

Exactly two shuffles at any scale, and shuffle #2 carries only the ~75%
kept, scrubbed rows. Input laid out by Iceberg's ``bucket(repo)``
transform runs through the same DAG unchanged: the dedup exchange
repartitions by content hash whatever the arrival layout.

``write_and_count`` (shared with the stream's micro-batches) persists
the verdict frame once and, after the write, collects ONE small
per-(partition, bucket) aggregate from it (``plans.lineage.ledger``):
the processed buckets, the kept buckets and every lineage row are
derived on the driver from those rows. The committed counts come from
the parquet footers of the kept bucket dirs (``committed_counts``), and
the attempt's lineage rows never go back through Spark: the driver
writes them as one parquet file, and publishing that file commits the
whole attempt (``plans.checkpoint.commit_bucket``). So a run is the data
write and the ledger: no read-back job, no lineage job and no second
commit record.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from contextlib import contextmanager
from pathlib import Path
from typing import TYPE_CHECKING, Callable, Iterable, Sequence

from .config import PipelineConfig
from .operators import bucketize as bk, stages
from .plans import checkpoint as ckpt, lineage as lin

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, DataFrameWriter, Row


def build_verdict_frame(
    df: "DataFrame",
    cfg: PipelineConfig,
    run_dir: str | Path | None = None,
    bucket_whitelist: list[int] | None = None,
) -> "DataFrame":
    """read-input -> scored + verdict frame (keep, rule_hits, dup_loser,
    scrubbed content of kept rows). Pure plan construction — nothing
    executes (bar reading the committed attempt files).

    Rows of buckets committed under ``run_dir``, and of buckets outside
    ``bucket_whitelist``, are pruned right after the dedup window: every
    row still takes part in dedup (a committed winner keeps making its
    open-bucket copy a loser), but only the rest reaches the kernel.
    Catalyst pushes predicates through a ``Window`` only on its partition
    key (``content_sha256``), so the ``bucket`` filter stays above it.

    The content-hash dedup exchange doubles as the skew-free physical
    partitioning for scoring; ``bucket``/``salt`` are logical columns
    only until the write repartition.
    """
    if cfg.boilerplate_frac_enabled:
        # opt-in cross-file stage (VERDICT r02 #7): per-repo boilerplate
        # fraction joined on BEFORE scoring so rules can reference it.
        # Computed over the RAW input (pre-dedup), matching oracle.run.
        df = stages.with_boilerplate_frac(df, cfg)
    df = bk.with_bucket_columns(df, cfg)  # logical columns, no shuffle
    df = stages.with_sha(df)
    df = stages.dedup_exact(df)  # shuffle #1: uniform content-hash
    df = ckpt.filter_resume(df, run_dir, only=bucket_whitelist)
    # fused score+verdict+scrub: 2 Arrow crossings total, scrub only on
    # kept rows, verdict via the oracle-shared pandas rules
    return stages.score_scrub(df, cfg)


def kept_rows(scored: "DataFrame") -> "DataFrame":
    """The rows a sink holds: ``keep`` rows, without ``keep``,
    ``rule_keep`` and ``dup_loser``, which are constant on them. Both the
    batch sink and the stream's write one column set through this."""
    from pyspark.sql import functions as F

    return scored.filter(F.col("keep")).drop("keep", "rule_keep", "dup_loser")


def build_clean_frame(df_verdict: "DataFrame") -> "DataFrame":
    """verdict frame -> files_clean (``kept_rows``, scrubbed content), then
    the (bucket, salt) repartition (shuffle #2, kept rows only) and the
    sort the write keeps: this is the plan ``run()`` writes. No count: AQE
    (on by default, set by ``get_spark``) coalesces it to the data's size
    like shuffle #1, where a fixed count would write one file per (task,
    bucket) however little data there is."""
    return (
        kept_rows(df_verdict)
        .repartition("bucket", "salt")
        # bucket first, or the writer's own Sort(bucket) replaces it
        .sortWithinPartitions("bucket", "repo", "path", "commit")
    )


def run(
    df: "DataFrame",
    cfg: PipelineConfig,
    run_dir: str | Path,
    run_id: str | None = None,
    bucket_whitelist: list[int] | None = None,
) -> dict:
    """Execute end-to-end with checkpoint/resume + lineage.

    A resumed run (``run_dir`` holding committed attempt files) and
    ``bucket_whitelist`` (used by the kill-at-50% resume test; prod uses it
    for targeted reruns) both prune buckets inside
    ``build_verdict_frame``, before scoring: only the buckets this attempt
    processes are scored, written and committed. Every bucket with input
    rows is committed, zero-kept ones included, by publishing the
    attempt's one lineage file. ``run_dir`` must be a local path
    (``write_and_count``). Returns summary counters.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    v = build_verdict_frame(
        df, cfg, run_dir=run_dir, bucket_whitelist=bucket_whitelist
    )
    # joined as a string, so a refused URI is named as it was given
    out_path = os.path.join(run_dir, "files_clean")

    def writer(v: "DataFrame") -> "DataFrameWriter":
        # crash-atomicity: sweep what a crashed attempt left uncommitted
        # (data bucket dirs, lineage temp file) BEFORE the append write,
        # so reprocessing cannot duplicate rows
        ckpt.clean_orphans(run_dir, out_path)
        return build_clean_frame(v).write.mode("append").partitionBy("bucket")

    rules = [r.name for r in cfg.rules]
    phase_s: dict[str, float] = {}
    ledger, seen = write_and_count(v, writer, "bucket", out_path, rules, phase_s)
    # per-stage lineage ([B:6] "every stage"): a few thousand rows already
    # on the driver; publishing them commits the attempt, so a committed
    # bucket always has its rows. An attempt that processed nothing
    # commits nothing.
    with _phase(phase_s, "commit"):
        rows = lin.lineage_rows(ledger, run_id, rules, write_counts=seen)
        if rows:
            ckpt.commit_bucket(run_dir, run_id, rows)
    result = {
        "run_id": run_id,
        "buckets": len({r["bucket"] for r in ledger}),
        "files_out": sum(seen.values()),
        "rows_scored": sum(r["n_all"] for r in ledger),
        "rows_kept": sum(r["n_keep"] for r in ledger),
    }
    _write_metrics(run_dir, run_id, result, phase_s)
    return result


def write_and_count(
    scored: "DataFrame",
    writer: Callable[["DataFrame"], "DataFrameWriter"],
    column: str,
    root: str | Path,
    rules: Sequence[str],
    phase_s: dict[str, float],
) -> tuple[list["Row"], dict[int, int]]:
    """Write ``scored`` with the caller's ``writer`` into the local sink
    ``root``, partitioned by ``column`` (``bucket`` or ``batch_id``), and
    count what landed: the step a batch attempt and a micro-batch share.
    ``scored`` feeds the write and ONE collected ``lineage.ledger``
    grouped by ``column``, so it is persisted; the dirs the ledger says
    kept rows are counted from their footers. ``phase_s`` gets the
    ``write``, ``ledger`` and ``readback`` wall seconds. Returns (ledger
    rows, value -> committed rows)."""
    from pyspark import StorageLevel

    root = local_root(root)
    # content rows are KB-MB: spilling is expected and fine at scale
    scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        with _phase(phase_s, "write"):
            writer(scored).parquet(str(root))
        with _phase(phase_s, "ledger"):
            ledger = lin.ledger(scored, rules, column)
    finally:
        scored.unpersist()
    kept = [k for k, n in sorted(lin.kept_per(ledger, column).items()) if n]
    with _phase(phase_s, "readback"):
        seen = committed_counts(root, column, kept)
    return ledger, seen


def local_root(root: str | Path) -> Path:
    """``root`` as a ``Path``; a ``scheme://`` root, even ``file://``, is
    refused by name: the footer count and ``os.replace`` need a local
    path (object stores wait for Iceberg, SURVEY.md §4.2)."""
    if re.match(r"[A-Za-z][\w+.-]*://", str(root)):
        raise ValueError(f"sink must be a local path, not a URI: {root}")
    return Path(root)


@contextmanager
def _phase(phase_s: dict[str, float], name: str):
    """Record the wall seconds of the enclosed block as ``phase_s[name]``."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        phase_s[name] = time.perf_counter() - t0


def committed_counts(root: Path, column: str, values: Iterable[int]) -> dict[int, int]:
    """value -> rows the sink at ``root`` holds under ``<column>=<value>/``
    (``bucket`` or ``batch_id``), for exactly these dirs: the OBSERVED
    write-stage counts of a batch run or a micro-batch.

    Counted from the sink after the write job commits, so a write-side
    loss shows up (recounting the pre-write frame would make files_in ==
    files_out by construction). The counts are the ``num_rows`` of each
    data file's parquet footer, read on the driver with no Spark job:
    both sinks are local paths (their lineage commits with
    ``os.replace``), and Spark's own count of a partition-column-only read
    comes from the same row-group metadata. Names starting with ``_`` or
    ``.`` are skipped, as Hadoop input formats skip them (the local
    writer's ``.part-*.crc`` checksums). Callers pass only dirs with
    kept rows, so each dir must hold rows: a dir that is missing, or that
    holds no rows (its data files gone), raises here, naming it. Either
    is a real write loss that fails the run loudly. No values: ``{}``."""
    import pyarrow.parquet as pq

    counts: dict[int, int] = {}
    empty = []
    for v in map(int, values):
        d = root / f"{column}={v}"
        files = d.iterdir() if d.is_dir() else ()
        n = sum(
            pq.read_metadata(f).num_rows
            for f in files
            if not f.name.startswith(("_", "."))
        )
        if n:
            counts[v] = n
        else:
            empty.append(str(d))
    if empty:
        raise RuntimeError(f"write loss: kept partition dirs hold no rows: {empty}")
    return counts


def _write_metrics(
    run_dir: str | Path, run_id: str, result: dict, phase_s: dict[str, float]
) -> None:
    """run_metrics sink (SURVEY §2.1): one JSON line per run, appended —
    the bench/monitoring surface. ``phase_s`` holds the wall seconds of
    the write, ledger, readback and commit (the lineage rows and their
    publish) phases."""
    import json

    p = Path(run_dir) / "run_metrics.jsonl"
    entry = {"run_id": run_id, "ts": time.time(), **result, "phase_s": phase_s}
    with open(p, "a") as f:
        f.write(json.dumps(entry) + "\n")
