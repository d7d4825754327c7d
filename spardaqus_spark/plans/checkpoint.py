"""Checkpoint manifest + resume (BASELINE.json:6,14).

Grain = the repo-hash bucket (SURVEY.md §1.4). A run writes its output
partitioned by bucket; after the write job commits, one manifest JSON
file per processed bucket is committed via write-temp + atomic
``os.rename`` — the sandbox stand-in for an Iceberg snapshot commit
(SURVEY.md §4.2).

Crash window: a driver crash after the data job commits but before the
manifest loop finishes leaves VISIBLE bucket partitions with no
manifest. Those are orphans of the crashed attempt; ``clean_orphans``
deletes them at the start of a resumed run, BEFORE the append write, so
reprocessing can never duplicate rows (single-writer-per-run_dir
assumption, same as Iceberg's). Data + lineage are both bucket-
partitioned so the same sweep covers both sinks.

Resume: ``filter_resume`` turns the manifests into one literal
``NOT bucket IN (...)`` filter. The pipeline applies it above the dedup
window and below the scoring kernel, so a restarted run scores and writes
only the unprocessed buckets (resume-overhead target, BASELINE.md). Done
buckets are still scanned and hashed: ``bucket`` is derived from
``xxhash64(repo)``, not a partition column of the input, and the dedup
window must see every row to pick the same winners as an uninterrupted run.
"""

from __future__ import annotations

import json
import os
import uuid
from pathlib import Path
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

SCHEMA_VERSION = 1


def manifest_dir(run_dir: str | Path) -> Path:
    return Path(run_dir) / "_manifest"


def commit_bucket(
    run_dir: str | Path, run_id: str, bucket: int, files_out: int, output_path: str
) -> None:
    """Atomically mark one bucket done."""
    d = manifest_dir(run_dir)
    d.mkdir(parents=True, exist_ok=True)
    entry = {
        "run_id": run_id,
        "bucket": int(bucket),
        "status": "done",
        "files_out": int(files_out),
        "output_path": output_path,
        "schema_version": SCHEMA_VERSION,
    }
    tmp = d / f".tmp-{uuid.uuid4().hex}"
    tmp.write_text(json.dumps(entry))
    os.rename(tmp, d / f"bucket-{bucket:05d}.json")


def done_buckets(run_dir: str | Path) -> list[int]:
    d = manifest_dir(run_dir)
    if not d.exists():
        return []
    out = []
    for f in sorted(d.glob("bucket-*.json")):
        try:
            out.append(int(json.loads(f.read_text())["bucket"]))
        except (ValueError, KeyError, json.JSONDecodeError):
            continue  # torn write: treated as not-done, bucket reruns
    return out


def clean_orphans(run_dir: str | Path, *data_paths: str | Path) -> list[int]:
    """Delete ``bucket=<b>`` partition dirs under each data path whose
    bucket has NO committed manifest — orphan output of an attempt that
    crashed between the data-job commit and the manifest loop. Run at
    the start of every resumed run so ``mode('append')`` cannot
    duplicate rows. Returns the swept bucket ids."""
    import shutil

    done = set(done_buckets(run_dir))
    removed: set[int] = set()
    for dp in data_paths:
        p = Path(dp)
        if not p.exists():
            continue
        for d in p.glob("bucket=*"):
            try:
                b = int(d.name.split("=", 1)[1])
            except ValueError:
                continue
            if b not in done:
                shutil.rmtree(d, ignore_errors=True)
                removed.add(b)
    return sorted(removed)


def filter_resume(
    df: "DataFrame", run_dir: str | Path | None, only: list[int] | None = None
) -> "DataFrame":
    """Keep the rows of buckets still to process: drop the buckets
    committed under ``run_dir`` and, if ``only`` is given, every bucket
    outside it. A codegen'd literal predicate (at most ``num_buckets``
    values), or ``df`` itself when nothing is pruned."""
    from pyspark.sql import functions as F

    done = done_buckets(run_dir) if run_dir is not None else []
    if done:
        df = df.filter(~F.col("bucket").isin(done))
    if only is not None:
        df = df.filter(F.col("bucket").isin([int(b) for b in only]))
    return df
