"""session.ship_package: python workers import an addPyFile zip AHEAD of
PYTHONPATH, so the shipped zip must hold the current package sources."""

from __future__ import annotations

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
    """A zip left at the fixed pre-hash name by an earlier checkout must
    not be shipped: the shipped members equal the tree byte for byte."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with zipfile.ZipFile(tmp_path / "spardaqus_spark_pkg.zip", "w") as z:
        z.writestr("spardaqus_spark/__init__.py", "raise ImportError('stale')\n")
    ctx = _RecordingContext()

    session.ship_package(SimpleNamespace(sparkContext=ctx))
    session.ship_package(SimpleNamespace(sparkContext=ctx))  # once per context

    assert len(ctx.py_files) == 1, ctx.py_files
    with zipfile.ZipFile(ctx.py_files[0]) as z:
        shipped = {n: z.read(n) for n in z.namelist()}
    tree = {
        p.relative_to(PKG.parent).as_posix(): p.read_bytes()
        for p in PKG.rglob("*.py")
    }
    assert shipped == tree
    # published by rename: no temp file is left beside the zip
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        ["spardaqus_spark_pkg.zip", Path(ctx.py_files[0]).name]
    )
