from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from spardaqus_spark.session import get_spark

    s = get_spark(app="spardaqus-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf():
    """Deterministic 1200-row synthetic corpus (+5% dups)."""
    from spardaqus_spark import fixtures

    return fixtures.gen_files(1200)


@pytest.fixture(scope="session")
def corpus_sdf(spark, corpus_pdf):
    return spark.createDataFrame(
        corpus_pdf[["repo", "path", "commit", "lang", "content"]]
    )


@pytest.fixture(scope="session")
def golden(corpus_pdf):
    from spardaqus_spark import oracle

    return oracle.run(corpus_pdf[["repo", "path", "commit", "lang", "content"]])


@pytest.fixture(scope="session")
def unsorted_files():
    """``root`` -> the parquet data files under it whose rows are not in
    ``(repo, path, commit)`` order: the sink's deterministic layout
    (SURVEY §4.2) holds iff this is empty."""
    import pyarrow.parquet as pq

    def check(root) -> list[str]:
        files = sorted(Path(root).rglob("*.parquet"))
        assert files, f"no data files under {root}"
        bad = []
        for f in files:
            t = pq.read_table(f, columns=["repo", "path", "commit"]).to_pylist()
            keys = [(r["repo"], r["path"], r["commit"]) for r in t]
            if keys != sorted(keys):
                bad.append(str(f))
        return bad

    return check
