"""SparkSession factory tuned for the content-heavy quality pipeline.

Scale notes (SURVEY.md §4.2):
- Arrow batch size is tuned DOWN (default 512) because `content` rows are
  KB-MB; this bounds python-worker memory regardless of executor count.
- shuffle partitions follow the session's default parallelism so the same
  code scales N -> 4N without retuning (scaling-efficiency mandate).
- AQE on: runtime partition coalescing + skew-join splitting.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Python workers deserialize our kernels by importing this package, so its
# root must be on the workers' PYTHONPATH no matter where the driver runs
# from. In local mode workers inherit the driver env; on a cluster,
# spark-submit --py-files dist/spardaqus_spark.zip ships the same code
# (SURVEY.md §3.1).
_PKG_ROOT = str(Path(__file__).resolve().parents[1])


def _export_pythonpath() -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_ROOT}{os.pathsep}{pp}" if pp else _PKG_ROOT
        )


def ship_package(spark: SparkSession) -> None:
    """Make `spardaqus_spark` importable by python workers of an ALREADY
    RUNNING session (e.g. one the driver harness created before importing
    us, from an arbitrary cwd): zip the package and addPyFile it — the
    runtime analog of spark-submit --py-files. Workers put addPyFile zips
    AHEAD of PYTHONPATH, so the zip is named by a hash of the package
    sources (a zip left by an earlier checkout is never reused) and
    published by an atomic rename (a concurrent shipper never sees a
    half-written one)."""
    sc = spark.sparkContext
    if getattr(sc, "_spardaqus_shipped", False):
        return
    import hashlib
    import tempfile
    import zipfile

    root = Path(_PKG_ROOT)
    srcs = [
        (p.relative_to(root).as_posix(), p.read_bytes())
        for p in sorted((root / "spardaqus_spark").rglob("*.py"))
    ]
    h = hashlib.sha256()
    for name, data in srcs:
        h.update(name.encode() + b"\0" + hashlib.sha256(data).digest())
    tmpdir = tempfile.gettempdir()
    zpath = os.path.join(tmpdir, f"spardaqus_spark_pkg-{h.hexdigest()[:16]}.zip")
    if not os.path.exists(zpath):
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tmpdir)
        try:
            with os.fdopen(fd, "wb") as f:
                with zipfile.ZipFile(f, "w", zipfile.ZIP_DEFLATED) as z:
                    for name, data in srcs:
                        z.writestr(name, data)
            os.replace(tmp, zpath)
        except BaseException:
            os.unlink(tmp)
            raise
    try:
        sc.addPyFile(zpath)
    except Exception:
        pass  # already registered in this context
    sc._spardaqus_shipped = True


def get_spark(
    app: str = "spardaqus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 512,
) -> SparkSession:
    _export_pythonpath()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _default_shuffle(master)))
    )
    return b.getOrCreate()


def _default_shuffle(master: str) -> int:
    # 2 tasks per core (standard Spark guidance): fine enough granularity
    # that fast cores steal work around stragglers — measured r2 on this
    # host: local[8] pipeline 5.9k -> 8.6k files/s going from 1x to 2x
    # tasks/core, local[2] unchanged. On a real cluster the same setting
    # absorbs slow-node/stolen-cpu stragglers. local[*] -> 2x cpu count;
    # cluster -> a sane floor (real deployments size this to the data).
    if master.startswith("local["):
        inner = master[6:-1]
        if inner == "*":
            return 2 * (os.cpu_count() or 8)
        try:
            return max(2 * int(inner), 4)
        except ValueError:
            return 32
    return 200
