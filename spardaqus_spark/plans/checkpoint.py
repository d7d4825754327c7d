"""Checkpoint commit + resume (BASELINE.json:6,14).

Grain = the attempt, and the attempt's lineage file is its commit. A run
writes its output partitioned by repo-hash bucket (SURVEY.md §1.4), then
``commit_bucket`` writes the attempt's lineage rows as ONE parquet file to
a ``.tmp-`` sibling under ``lineage/`` and publishes it as
``attempt-<run_id>-<uuid8>.parquet`` by one atomic ``os.replace`` — the
sandbox stand-in for an Iceberg snapshot commit (SURVEY.md §4.2). The
file's write rows list every bucket the attempt processed with its
observed ``files_out`` (zero-kept buckets included), so a visible attempt
file is a whole, committed attempt; no second record has to agree with it.

Crash window: a driver crash after the data job commits but before the
publish leaves VISIBLE bucket partitions, and possibly a ``.tmp-`` file,
that no attempt file owns. ``clean_orphans`` removes them, by file, at the
start of a resumed run, BEFORE the append write, so reprocessing can
never duplicate rows (single-writer-per-run_dir assumption, same as
Iceberg's).

Resume: ``filter_resume`` turns the union of the attempt files' buckets
into one literal ``NOT bucket IN (...)`` filter. The pipeline applies it
above the dedup window and below the scoring kernel, so a restarted run
scores and writes only the unprocessed buckets (resume-overhead target,
BASELINE.md). Done buckets are still scanned and hashed: ``bucket`` is
derived from ``xxhash64(repo)``, not a partition column of the input, and
the dedup window must see every row to pick the same winners as an
uninterrupted run.
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path
from typing import TYPE_CHECKING

from . import lineage as lin

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def check_layout(run_dir: str | Path) -> None:
    """Refuse a run dir written in an older layout: one holding a
    ``_manifest/`` dir (the JSON manifests, per bucket or per attempt,
    that used to commit) or a bucket-partitioned lineage sink
    (``lineage/bucket=*`` dirs, which Spark cannot read mixed with
    attempt files). Such run dirs are not migrated."""
    run_dir = Path(run_dir)
    old = [*run_dir.glob("_manifest"), *sorted(run_dir.glob("lineage/bucket=*"))]
    if old:
        raise ValueError(
            f"{old[0]} is from an older layout; finish that run dir with the "
            "version that started it, or start a new run dir"
        )


def commit_bucket(run_dir: str | Path, run_id: str, rows: list[tuple]) -> Path:
    """Atomically commit one attempt: publish its ``lineage_rows`` (at
    least one) as ONE parquet file under ``run_dir/lineage/`` and return
    its path (``lineage.publish``). Every bucket in the rows is done once
    the file is visible; the name carries a fresh uuid, so two attempts
    sharing a ``run_id`` never replace each other's rows. Keep the name,
    though it commits a whole attempt: perfbench's ``--trace 1`` runs time
    ``commit_bucket``, ``clean_orphans`` and ``filter_resume`` by name."""
    name = f"attempt-{run_id}-{uuid.uuid4().hex[:8]}.parquet"
    return lin.publish(rows, lin.LINEAGE_SCHEMA, Path(run_dir) / "lineage" / name)


def _attempts(run_dir: str | Path) -> tuple[set[int], list[Path]]:
    """(buckets of every committed attempt file, attempt files pyarrow
    cannot read: not committed, their buckets rerun)."""
    import pyarrow.parquet as pq

    done: set[int] = set()
    unreadable = []
    for f in sorted((Path(run_dir) / "lineage").glob("attempt-*.parquet")):
        try:
            done.update(pq.ParquetFile(f).read(columns=["bucket"])["bucket"].to_pylist())
        except (OSError, ValueError):
            unreadable.append(f)
    return done, unreadable


def done_buckets(run_dir: str | Path) -> list[int]:
    return sorted(_attempts(run_dir)[0])


def clean_orphans(run_dir: str | Path, data_path: str | Path) -> list[Path]:
    """Remove the output of attempts that crashed before their publish.
    Run at the start of every resumed run so ``mode('append')`` cannot
    duplicate rows:

    - a ``bucket=<b>`` dir under ``data_path`` goes whole when no
      committed attempt file lists bucket ``b``;
    - a ``.tmp-*`` file under ``lineage/`` (a publish that never reached
      its rename) goes;
    - an ``attempt-*.parquet`` file that pyarrow cannot read goes.

    Returns the removed paths."""
    done, unreadable = _attempts(run_dir)
    owned = {f"bucket={b}" for b in done}
    dirs = [d for d in Path(data_path).glob("bucket=*") if d.name not in owned]
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    files = [*(Path(run_dir) / "lineage").glob(".tmp-*"), *unreadable]
    for f in files:
        f.unlink()
    return sorted(dirs + files)


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
