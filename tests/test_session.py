"""session.ship_package: python workers import an addPyFile zip AHEAD of
PYTHONPATH, so the shipped zip must hold the current package sources."""

from __future__ import annotations

import atexit
import tempfile
import zipfile
from pathlib import Path
from types import SimpleNamespace

from spardaqus_spark import session

PKG = Path(session._PKG_ROOT) / "spardaqus_spark"


class _RecordingContext:
    def __init__(self):
        self.py_files: list[str] = []

    def addPyFile(self, path: str) -> None:
        self.py_files.append(path)


def test_ship_package_ships_current_sources(tmp_path, monkeypatch):
    """A zip left in the temp dir by an earlier checkout must not be
    shipped: the shipped members equal the tree byte for byte. The zip
    sits alone in a fresh private dir that the registered exit hook
    removes, so shipping leaves nothing behind in the temp dir."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    exit_hooks = []
    monkeypatch.setattr(atexit, "register", lambda f, *a, **kw: exit_hooks.append((f, a, kw)))
    stale = tmp_path / "spardaqus_spark.zip"
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("spardaqus_spark/__init__.py", "raise ImportError('stale')\n")
    ctx = _RecordingContext()

    session.ship_package(SimpleNamespace(sparkContext=ctx))
    session.ship_package(SimpleNamespace(sparkContext=ctx))  # once per context

    assert len(ctx.py_files) == 1, ctx.py_files
    shipped_zip = Path(ctx.py_files[0])
    with zipfile.ZipFile(shipped_zip) as z:
        shipped = {n: z.read(n) for n in z.namelist()}
    tree = {
        p.relative_to(PKG.parent).as_posix(): p.read_bytes()
        for p in PKG.rglob("*.py")
    }
    assert shipped == tree
    # a fresh private dir holding only the zip
    zdir = shipped_zip.parent
    assert zdir.parent == tmp_path and zdir != tmp_path
    assert list(zdir.iterdir()) == [shipped_zip]
    # the exit hook removes that dir, and only that dir
    assert len(exit_hooks) == 1
    f, a, kw = exit_hooks[0]
    f(*a, **kw)
    assert not zdir.exists()
    assert sorted(tmp_path.iterdir()) == [stale]


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the master and the
    configs ``get_spark`` asks for, and hands back a session whose context
    reports ``parallelism`` cores."""

    def __init__(self, parallelism: int):
        self.masters: list[str] = []
        self.configs: dict[str, str] = {}
        self.session = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=parallelism),
            conf=SimpleNamespace(set=self.configs.__setitem__),
        )

    def master(self, m: str) -> "_RecordingBuilder":
        self.masters.append(m)
        return self

    def appName(self, name: str) -> "_RecordingBuilder":
        return self

    def config(self, key: str, value: str) -> "_RecordingBuilder":
        self.configs[key] = value
        return self

    def getOrCreate(self):
        return self.session


def _get_spark(monkeypatch, gateway: bool, parallelism: int = 3, **kw):
    rec = _RecordingBuilder(parallelism)
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=rec))
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    if gateway:
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "40000")
    else:
        monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert session.get_spark(**kw) is rec.session
    return rec


def test_get_spark_keeps_the_submitted_master(monkeypatch):
    """Under spark-submit the master and driver memory belong to submit:
    no ``.master()`` override, and the shuffle partitions follow the
    cores the running session reports, not a master string."""
    rec = _get_spark(monkeypatch, gateway=True, parallelism=3)
    assert rec.masters == []
    assert "spark.driver.memory" not in rec.configs
    assert rec.configs["spark.sql.shuffle.partitions"] == "6"


def test_get_spark_standalone_and_explicit_master(monkeypatch):
    """Standalone, ``get_spark`` launches local mode itself; an explicit
    master and shuffle count win, under submit too."""
    rec = _get_spark(monkeypatch, gateway=False)
    assert rec.masters == ["local[2]"]
    assert "spark.driver.memory" in rec.configs
    assert rec.configs["spark.sql.shuffle.partitions"] == "6"

    rec = _get_spark(
        monkeypatch, gateway=True, master="local[4]", shuffle_partitions=8
    )
    assert rec.masters == ["local[4]"]
    assert rec.configs["spark.sql.shuffle.partitions"] == "8"
