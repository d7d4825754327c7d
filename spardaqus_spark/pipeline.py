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
         -> write(partitionBy bucket) -> sink read-back -> lineage write
            -> per-bucket manifests

Exactly two shuffles at any scale, and shuffle #2 carries only the ~75%
kept, scrubbed rows. Input laid out by Iceberg's ``bucket(repo)``
transform runs through the same DAG unchanged: the dedup exchange
repartitions by content hash whatever the arrival layout.

``run`` persists the verdict frame once and, after the write, collects
ONE small per-(partition, bucket) aggregate from it
(``plans.lineage.ledger``): the processed buckets, the kept buckets and
every lineage row are derived on the driver from those rows.
"""

from __future__ import annotations

import uuid
from pathlib import Path
from typing import TYPE_CHECKING, Iterable

from .config import PipelineConfig
from .operators import bucketize as bk, stages
from .plans import checkpoint as ckpt, lineage as lin

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def build_verdict_frame(
    df: "DataFrame",
    cfg: PipelineConfig,
    run_dir: str | Path | None = None,
    bucket_whitelist: list[int] | None = None,
) -> "DataFrame":
    """read-input -> scored + verdict frame (keep, rule_hits, dup_loser,
    scrubbed content of kept rows). Pure plan construction — nothing
    executes (bar reading the manifests).

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


def build_clean_frame(df_verdict: "DataFrame") -> "DataFrame":
    """verdict frame -> files_clean (kept rows, scrubbed content), then the
    (bucket, salt) repartition (shuffle #2, kept rows only) for the write.
    No count: AQE (on by default, set by ``get_spark``) coalesces it to
    the data's size like shuffle #1, where a fixed count would write one
    file per (task, bucket) however little data there is."""
    from pyspark.sql import functions as F

    return df_verdict.filter(F.col("keep")).repartition("bucket", "salt")


def run(
    df: "DataFrame",
    cfg: PipelineConfig,
    run_dir: str | Path,
    run_id: str | None = None,
    bucket_whitelist: list[int] | None = None,
) -> dict:
    """Execute end-to-end with checkpoint/resume + lineage.

    A resumed run (``run_dir`` holding bucket manifests) and
    ``bucket_whitelist`` (used by the kill-at-50% resume test; prod uses it
    for targeted reruns) both prune buckets inside
    ``build_verdict_frame``, before scoring: only the buckets this attempt
    processes are scored, written and committed. Every bucket with input
    rows is committed, zero-kept ones included. Returns summary counters.
    """
    from pyspark import StorageLevel

    run_id = run_id or uuid.uuid4().hex[:12]
    run_dir = Path(run_dir)

    v = build_verdict_frame(
        df, cfg, run_dir=run_dir, bucket_whitelist=bucket_whitelist
    )

    # The verdict frame feeds two consumers (the ledger aggregate and the
    # clean write); persist it so the expensive scoring stage runs exactly
    # once. MEMORY_AND_DISK: `content` rows are KB-MB, spilling is
    # expected and fine at scale.
    spark = v.sparkSession
    v = v.persist(StorageLevel.MEMORY_AND_DISK)
    out_path = str(run_dir / "files_clean")
    lineage_path = str(run_dir / "lineage")
    # crash-atomicity at the bucket grain: sweep visible bucket partitions
    # that never got a manifest (orphans of a crashed attempt) BEFORE this
    # attempt's append write, so reprocessing cannot duplicate rows.
    ckpt.clean_orphans(run_dir, out_path, lineage_path)
    rules = [r.name for r in cfg.rules]
    try:
        (
            build_clean_frame(v)
            # bucket first, or the writer's own Sort(bucket) replaces it
            .sortWithinPartitions("bucket", "repo", "path", "commit")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(out_path)
        )
        # ONE aggregate, collected: the processed buckets (zero-kept ones
        # included), the kept buckets and every lineage row come from it
        ledger = lin.ledger(v, rules)
    finally:
        v.unpersist()
    kept = lin.kept_per_bucket(ledger)
    # observed committed counts, read back from THIS attempt's kept-bucket
    # dirs only (which dirs exist comes from the ledger, never from a
    # filesystem probe)
    seen = committed_counts(
        spark, out_path, "bucket", [b for b, n in sorted(kept.items()) if n]
    )
    # per-stage lineage ([B:6] "every stage"), bucket-partitioned so the
    # orphan sweep covers the lineage sink with the same manifest check as
    # the data sink. Tiny (<= partitions x buckets x 4 + buckets rows):
    # coalesce(1) so the write emits one file per bucket dir, not one per
    # (task, bucket).
    (
        spark.createDataFrame(
            lin.lineage_rows(ledger, run_id, rules, write_counts=seen),
            lin.LINEAGE_SCHEMA,
        )
        .coalesce(1)
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(lineage_path)
    )
    for b in sorted(kept):
        ckpt.commit_bucket(run_dir, run_id, b, seen.get(b, 0), out_path)
    result = {
        "run_id": run_id,
        "buckets": len(kept),
        "files_out": sum(seen.values()),
    }
    _write_metrics(run_dir, run_id, result)
    return result


def committed_counts(
    spark: "SparkSession", root: str, col: str, values: Iterable[int]
) -> dict[int, int]:
    """value -> rows the sink at ``root`` holds under ``col=value``, for
    exactly these partition dirs: the OBSERVED write-stage counts of the
    batch job and of each stream micro-batch.

    Counted from the sink after the write job commits, so a write-side
    loss shows up (recounting the pre-write frame would make files_in ==
    files_out by construction). Only the given dirs are read, ``basePath``
    keeping the partition column: listing the whole sink root would cost
    the run's full history, not this attempt. The dirs are addressed as
    plain strings, never probed with a local ``.exists()`` (always False
    on hdfs://, s3a://, ... sinks, which would fabricate a total write
    loss). Callers pass only values with kept rows, so each dir must
    exist: the read is unguarded, and a missing dir is a real write loss
    that fails the run loudly. No values: no read, ``{}``."""
    dirs = [f"{root.rstrip('/')}/{col}={int(v)}" for v in values]
    if not dirs:
        return {}
    rows = (
        spark.read.option("basePath", root)
        .parquet(*dirs)
        .groupBy(col)
        .count()
        .collect()
    )
    return {int(r[col]): int(r["count"]) for r in rows}


def _write_metrics(run_dir: Path, run_id: str, result: dict) -> None:
    """run_metrics sink (SURVEY §2.1): one JSON line per run, appended —
    the bench/monitoring surface."""
    import json
    import time

    p = Path(run_dir) / "run_metrics.jsonl"
    entry = {"run_id": run_id, "ts": time.time(), **result}
    with open(p, "a") as f:
        f.write(json.dumps(entry) + "\n")
