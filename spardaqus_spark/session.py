"""SparkSession factory tuned for the content-heavy quality pipeline.

Scale notes (SURVEY.md §4.2):
- Arrow batch size is tuned DOWN (512 records) because `content` rows are
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


def export_pythonpath() -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_ROOT}{os.pathsep}{pp}" if pp else _PKG_ROOT
        )


def package_zip(zpath: str | Path) -> None:
    """Zip the package's ``.py`` sources to ``zpath`` (``ship_package``
    and ``package.sh``). Executors read no ``conf/`` file: the driver
    loads the lexicon and ships it in the kernel's closure."""
    import zipfile

    root = Path(_PKG_ROOT)
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted((root / "spardaqus_spark").rglob("*.py")):
            z.writestr(p.relative_to(root).as_posix(), p.read_bytes())


def ship_package(spark: SparkSession) -> None:
    """Make `spardaqus_spark` importable by python workers of an ALREADY
    RUNNING session (e.g. one the driver harness created before importing
    us, from an arbitrary cwd): zip the package and addPyFile it — the
    runtime analog of spark-submit --py-files. Workers put addPyFile zips
    AHEAD of PYTHONPATH, so each context ships a zip of the current
    sources, built in a fresh private temp dir (a zip left by an earlier
    checkout or another process is never shipped). Local-mode executors
    fetch that path when their first task launches, so the dir lives until
    the driver process exits, and ``atexit`` removes it then."""
    sc = spark.sparkContext
    if getattr(sc, "_spardaqus_shipped", False):
        return
    import atexit
    import shutil
    import tempfile

    zdir = tempfile.mkdtemp(prefix="spardaqus_spark_pkg-")
    atexit.register(shutil.rmtree, zdir, ignore_errors=True)
    zpath = os.path.join(zdir, "spardaqus_spark.zip")
    package_zip(zpath)
    try:
        sc.addPyFile(zpath)
    except Exception:
        pass  # already registered in this context
    sc._spardaqus_shipped = True


def get_spark(
    app: str = "spardaqus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """The session for this process. Under spark-submit (the launcher sets
    ``PYSPARK_GATEWAY_PORT``) the JVM already runs with the submitted
    master and driver memory, so both are left to submit unless a master
    is asked for here; standalone, this process launches a local JVM.
    Shuffle partitions default to 2 tasks per core of the running session
    (standard Spark guidance: fine enough that fast cores steal work
    around stragglers), read from ``defaultParallelism``, which follows
    whatever master the session got."""
    export_pythonpath()
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.ui.enabled", "false")
    )
    if master or "PYSPARK_GATEWAY_PORT" not in os.environ:
        b = b.master(
            master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
        ).config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    spark = b.getOrCreate()
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions or 2 * spark.sparkContext.defaultParallelism),
    )
    return spark
