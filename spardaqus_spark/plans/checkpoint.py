"""Checkpoint manifest + resume (BASELINE.json:6,14).

Grain = the attempt. A run writes its output partitioned by repo-hash
bucket (SURVEY.md §1.4) and its lineage as one parquet file
(``lineage.write_attempt``); it then commits ONE manifest,
``_manifest/<stem>.json``, whose stem is that lineage file's
(``attempt-<run_id>-<uuid8>``). The manifest lists every bucket the
attempt processed with its observed ``files_out`` (zero-kept buckets
included) and is published by a temp file + one atomic ``os.rename`` —
the sandbox stand-in for an Iceberg snapshot commit (SURVEY.md §4.2).

Crash window: a driver crash after the data job commits but before the
manifest rename leaves VISIBLE bucket partitions, and possibly the
attempt's lineage file, that no manifest owns. ``clean_orphans`` removes
them, by file, at the start of a resumed run, BEFORE the append write,
so reprocessing can never duplicate rows (single-writer-per-run_dir
assumption, same as Iceberg's).

Resume: ``filter_resume`` turns the union of the manifests' buckets into
one literal ``NOT bucket IN (...)`` filter. The pipeline applies it above
the dedup window and below the scoring kernel, so a restarted run scores
and writes only the unprocessed buckets (resume-overhead target,
BASELINE.md). Done buckets are still scanned and hashed: ``bucket`` is
derived from ``xxhash64(repo)``, not a partition column of the input, and
the dedup window must see every row to pick the same winners as an
uninterrupted run.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

SCHEMA_VERSION = 2


def manifest_dir(run_dir: str | Path) -> Path:
    return Path(run_dir) / "_manifest"


def check_layout(run_dir: str | Path) -> None:
    """Refuse a run dir written in an older layout: per-bucket manifests
    (``_manifest/bucket-*.json``) or a bucket-partitioned lineage sink
    (``lineage/bucket=*`` dirs, which Spark cannot read mixed with
    attempt files). Such run dirs are not migrated."""
    run_dir = Path(run_dir)
    for d, pattern in (
        (manifest_dir(run_dir), "bucket-*.json"),
        (run_dir / "lineage", "bucket=*"),
    ):
        old = sorted(p.name for p in d.glob(pattern))
        if old:
            raise ValueError(
                f"{d} holds {old[0]} ({len(old)} entries) from an older "
                "layout; finish that run dir with the version that started "
                "it, or start a new run dir"
            )


def commit_bucket(
    run_dir: str | Path, stem: str, run_id: str, files_out: dict[int, int], output_path: str
) -> None:
    """Atomically commit one attempt: every bucket in ``files_out``
    (bucket -> observed rows written) is done once the manifest
    ``<stem>.json`` is visible. The name is kept from the per-bucket
    manifests it replaced because perfbench's ``--trace 1`` runs time
    ``commit_bucket``, ``clean_orphans`` and ``filter_resume`` by name."""
    d = manifest_dir(run_dir)
    d.mkdir(parents=True, exist_ok=True)
    entry = {
        "run_id": run_id,
        "buckets": {str(b): int(n) for b, n in sorted(files_out.items())},
        "output_path": output_path,
        "schema_version": SCHEMA_VERSION,
    }
    tmp = d / f".tmp-{uuid.uuid4().hex}"
    tmp.write_text(json.dumps(entry))
    os.rename(tmp, d / f"{stem}.json")


def _committed(run_dir: str | Path) -> dict[str, list[int]]:
    """stem -> buckets of every committed attempt manifest."""
    out = {}
    for f in sorted(manifest_dir(run_dir).glob("attempt-*.json")):
        try:
            out[f.stem] = [int(b) for b in json.loads(f.read_text())["buckets"]]
        except (ValueError, KeyError):
            continue  # unreadable: not committed, its buckets rerun
    return out


def done_buckets(run_dir: str | Path) -> list[int]:
    return sorted({b for bs in _committed(run_dir).values() for b in bs})


def clean_orphans(run_dir: str | Path, *data_paths: str | Path) -> list[Path]:
    """Remove the output of attempts that crashed before their manifest
    rename. Run at the start of every resumed run so ``mode('append')``
    cannot duplicate rows. Under each path, and under ``_manifest/``:

    - a ``bucket=<b>`` dir (the data sink) goes whole when no manifest
      lists bucket ``b``;
    - an ``attempt-*.parquet`` file (the lineage sink) goes when no
      manifest has its stem;
    - a ``.tmp-*`` file (a publish that never reached its rename) goes.

    Returns the removed paths."""
    committed = _committed(run_dir)
    owned = {f"bucket={b}" for bs in committed.values() for b in bs}
    removed = []
    for p in (manifest_dir(run_dir), *map(Path, data_paths)):
        for d in p.glob("bucket=*"):
            if d.name not in owned:
                shutil.rmtree(d, ignore_errors=True)
                removed.append(d)
        for f in p.glob("attempt-*.parquet"):
            if f.stem not in committed:
                f.unlink()
                removed.append(f)
        for f in p.glob(".tmp-*"):
            f.unlink()
            removed.append(f)
    return sorted(removed)


def filter_resume(
    df: "DataFrame", run_dir: str | Path | None, only: list[int] | None = None
) -> "DataFrame":
    """Keep the rows of buckets still to process: drop the buckets
    committed under ``run_dir`` and, if ``only`` is given, every bucket
    outside it. A codegen'd literal predicate (at most ``num_buckets``
    values), or ``df`` itself when nothing is pruned. A ``run_dir`` in an
    older layout is refused first (``check_layout``), so ``run()`` and
    ``main.py --explain`` both refuse it before any plan exists."""
    from pyspark.sql import functions as F

    done = []
    if run_dir is not None:
        check_layout(run_dir)
        done = done_buckets(run_dir)
    if done:
        df = df.filter(~F.col("bucket").isin(done))
    if only is not None:
        df = df.filter(F.col("bucket").isin([int(b) for b in only]))
    return df
