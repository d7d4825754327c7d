"""Per-partition lineage rows (BASELINE.json:6): for every pipeline stage,
(run_id, attempt, stage, partition_id, bucket, files_in, files_out,
rule_hit_counts).

Everything comes from ONE Spark aggregate, ``ledger``: a whole-stage-
codegen ``groupBy(spark_partition_id(), bucket)`` over the verdict frame
(``batch_id`` in place of ``bucket`` for a micro-batch), collected to the
driver (at most partitions x buckets rows). The fused
kernel means the stage boundaries exist logically, not physically, so
each stage's in/out counts follow exactly from the ledger's
(n_all, n_surv, n_keep):

  dedup:   in = all rows,   out = dedup survivors (!dup_loser)
  score:   in = all rows,   out = all rows (scoring drops nothing)
  verdict: in = all rows,   out = keep (rule_keep & survivor)
  scrub:   in = kept rows,  out = kept rows (rewrite, no drops)
  write:   in = kept rows,  out = the count the write job actually
           committed, summed from the parquet footers of the sink's dir
           by the caller (``pipeline.committed_counts``) — a write-side
           loss shows as files_in != files_out (VERDICT r02 #3). Write
           rows are sink-grained (partition_id = -1, one per bucket or
           micro-batch): the sink is counted per dir, not per partition.

The rows sit on the driver, so ``publish`` writes them with pyarrow as
ONE parquet file, no Spark job: a batch attempt's as
``lineage/attempt-<run_id>-<uuid8>.parquet`` under its run dir, whose
publish is the attempt's commit (``plans.checkpoint.commit_bucket``;
``bucket`` a data column); a micro-batch's (``stream_rows``: no dedup
stage) as ``<out>_lineage/batch_id=<id>/lineage.parquet``, which a retry
replaces. Verdict rows carry the rule hit counts in both.
"""

from __future__ import annotations

import os
from collections import Counter
from pathlib import Path
from typing import TYPE_CHECKING, Sequence

from pyspark.sql import types as T

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, Row

# StructTypes, not DDL strings: ``publish`` derives the Arrow schema from
# them without a JVM
LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("attempt", T.IntegerType()),
    T.StructField("stage", T.StringType()),
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("bucket", T.IntegerType()),
    T.StructField("files_in", T.LongType()),
    T.StructField("files_out", T.LongType()),
    T.StructField("rule_hit_counts", T.MapType(T.StringType(), T.LongType())),
])
# no batch_id: it is the file's partition dir
STREAM_LINEAGE_SCHEMA = T.StructType([
    LINEAGE_SCHEMA[c]
    for c in ("stage", "partition_id", "files_in", "files_out", "rule_hit_counts")
])


def ledger(df_verdict: "DataFrame", rules: Sequence[str], by: str) -> list["Row"]:
    """One aggregate over ``spark_partition_id()`` x the column ``by``,
    collected: rows of (partition_id, <by>, n_all, n_surv, n_keep, hits),
    where ``hits[i]`` counts the rows whose ``rule_hits`` contain
    ``rules[i]`` (needs dup_loser, keep and, with ``rules``, rule_hits
    columns)."""
    from pyspark.sql import functions as F

    def n(cond):
        return F.sum(cond.cast("long"))

    return (
        df_verdict.groupBy(F.spark_partition_id().alias("partition_id"), by)
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


def _stages(r: "Row", rules: Sequence[str]) -> list[tuple]:
    """(stage, files_in, files_out, rule_hit_counts) of the four derived
    stages of one ledger row. rule_hit_counts attach to the verdict row
    only: the rules that fired, by name, or NULL when none did."""
    hits = {k: v for k, v in sorted(zip(rules, r["hits"])) if v} or None
    return [
        ("dedup", r["n_all"], r["n_surv"], None),
        ("score", r["n_all"], r["n_all"], None),
        ("verdict", r["n_all"], r["n_keep"], hits),
        ("scrub", r["n_keep"], r["n_keep"], None),
    ]


def kept_per(rows: list["Row"], by: str) -> dict[int, int]:
    """value of ``by`` -> kept rows entering the write, for every value in
    a ledger grouped by ``by`` (zero-kept ones included)."""
    kept: Counter[int] = Counter()
    for r in rows:
        kept[r[by]] += r["n_keep"]
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
    landed, missing = 0). ``attempt`` is always 1: no caller numbers its
    attempts."""
    out = [
        (run_id, 1, stage, r["partition_id"], r["bucket"], fi, fo, hits)
        for r in rows
        for stage, fi, fo, hits in _stages(r, rules)
    ]
    for b, n in sorted(kept_per(rows, "bucket").items()):
        out.append((run_id, 1, "write", -1, b, n, write_counts.get(b, 0), None))
    return out


def stream_rows(
    rows: list["Row"], rules: Sequence[str], n_committed: int
) -> list[tuple]:
    """Micro-batch lineage rows in ``STREAM_LINEAGE_SCHEMA`` order from a
    ``batch_id``-keyed ``ledger``: score/verdict/scrub per partition, then
    one write row (files_in = kept rows, files_out = ``n_committed``, the
    count of rows in the batch's sink partition)."""
    out = [
        (stage, r["partition_id"], fi, fo, hits)
        for r in rows
        for stage, fi, fo, hits in _stages(r, rules)
        if stage != "dedup"
    ]
    n_keep = sum(r["n_keep"] for r in rows)
    out.append(("write", -1, n_keep, n_committed, None))
    return out


def publish(rows: list[tuple], schema: "T.StructType", path: Path) -> Path:
    """Write ``rows`` (at least one, in ``schema`` order) as ONE parquet
    file at ``path`` and return it. The file is written to its
    ``.tmp-<name>`` sibling (Spark and pyarrow skip dot files) and
    published by one ``os.replace``, so readers see the whole file or none
    of it, and a file already at ``path`` is replaced whole. A retried
    publish to ``path`` reuses, and so consumes, a killed one's temp file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(zip(*rows), arrow)],
        schema=arrow,
    )
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.parent / f".tmp-{path.name}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path
