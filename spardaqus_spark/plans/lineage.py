"""Per-partition lineage rows (BASELINE.json:6): for every pipeline stage,
(run_id, attempt, stage, partition_id, bucket, files_in, files_out,
rule_hit_counts).

Everything comes from ONE Spark aggregate, ``ledger``: a whole-stage-
codegen ``groupBy(spark_partition_id(), bucket)`` over the verdict frame,
collected to the driver (at most partitions x buckets rows). The fused
kernel means the stage boundaries exist logically, not physically, so
each stage's in/out counts follow exactly from the ledger's
(n_all, n_surv, n_keep):

  dedup:   in = all rows,   out = dedup survivors (!dup_loser)
  score:   in = all rows,   out = all rows (scoring drops nothing)
  verdict: in = all rows,   out = keep (rule_keep & survivor)
  scrub:   in = kept rows,  out = kept rows (rewrite, no drops)
  write:   in = kept rows,  out = the count the write job actually
           committed, read back from the sink by the caller — a
           write-side loss shows as files_in != files_out (VERDICT r02 #3).
           Write rows are sink-grained (partition_id = -1, one per bucket
           or micro-batch): commit happens per bucket, not per partition.

The same ledger, grouped by partition only, gives the streaming
micro-batch its rows (``stream_rows``); the stream does no dedup, so it
has no dedup stage and its grain is the micro-batch, not the bucket.
"""

from __future__ import annotations

from collections import Counter
from typing import TYPE_CHECKING, Sequence

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, Row

LINEAGE_SCHEMA = (
    "run_id string, attempt int, stage string, partition_id int, bucket int, "
    "files_in bigint, files_out bigint, rule_hit_counts map<string,bigint>"
)
STREAM_LINEAGE_SCHEMA = (
    "batch_id int, stage string, partition_id int, "
    "files_in bigint, files_out bigint"
)


def ledger(
    df_verdict: "DataFrame",
    rules: Sequence[str] = (),
    by: Sequence[str] = ("bucket",),
) -> list["Row"]:
    """One aggregate over ``spark_partition_id()`` x ``by``, collected:
    rows of (partition_id, *by, n_all, n_surv, n_keep, hits), where
    ``hits[i]`` counts the rows whose ``rule_hits`` contain ``rules[i]``
    (needs dup_loser, keep and, with ``rules``, rule_hits columns)."""
    from pyspark.sql import functions as F

    def n(cond):
        return F.sum(cond.cast("long"))

    return (
        df_verdict.groupBy(F.spark_partition_id().alias("partition_id"), *by)
        .agg(
            F.count("*").alias("n_all"),
            n(~F.col("dup_loser")).alias("n_surv"),
            n(F.col("keep")).alias("n_keep"),
            F.array(
                *[n(F.array_contains("rule_hits", r)) for r in rules]
            ).alias("hits"),
        )
        .collect()
    )


def _stage_counts(r: "Row") -> list[tuple[str, int, int]]:
    return [
        ("dedup", r["n_all"], r["n_surv"]),
        ("score", r["n_all"], r["n_all"]),
        ("verdict", r["n_all"], r["n_keep"]),
        ("scrub", r["n_keep"], r["n_keep"]),
    ]


def kept_per_bucket(rows: list["Row"]) -> dict[int, int]:
    """bucket -> kept rows entering the write, every ledger bucket (zero-
    kept ones included)."""
    kept: Counter[int] = Counter()
    for r in rows:
        kept[r["bucket"]] += r["n_keep"]
    return dict(kept)


def lineage_rows(
    rows: list["Row"],
    run_id: str,
    rules: Sequence[str],
    write_counts: dict[int, int],
) -> list[tuple]:
    """Batch lineage rows in ``LINEAGE_SCHEMA`` order from a bucket-keyed
    ``ledger``: four derived stages per (partition, bucket), then one
    sink-grained write row per bucket whose files_out is the OBSERVED
    committed count (``write_counts``: bucket -> rows the write job
    landed, missing = 0). rule_hit_counts attach to verdict rows only:
    rules that fired, by name, or NULL when none did. ``attempt`` is
    always 1: no caller numbers its attempts."""
    out = []
    for r in rows:
        hits = {k: v for k, v in sorted(zip(rules, r["hits"])) if v} or None
        for stage, fi, fo in _stage_counts(r):
            out.append((
                run_id, 1, stage, r["partition_id"], r["bucket"], fi, fo,
                hits if stage == "verdict" else None,
            ))
    for b, n in sorted(kept_per_bucket(rows).items()):
        out.append((run_id, 1, "write", -1, b, n, write_counts.get(b, 0), None))
    return out


def stream_rows(
    rows: list["Row"], batch_id: int, n_committed: int
) -> list[tuple]:
    """Micro-batch lineage rows in ``STREAM_LINEAGE_SCHEMA`` order from a
    partition-keyed ``ledger``: score/verdict/scrub per partition, then one
    write row (files_in = kept rows, files_out = ``n_committed``, the
    count read back from the batch's sink partition)."""
    out = [
        (batch_id, stage, r["partition_id"], fi, fo)
        for r in rows
        for stage, fi, fo in _stage_counts(r)
        if stage != "dedup"
    ]
    n_keep = sum(r["n_keep"] for r in rows)
    out.append((batch_id, "write", -1, n_keep, n_committed))
    return out
