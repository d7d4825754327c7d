"""Local replica of the driver's correctness harness (__spark_entry__.py):
run every queries() entry on Spark at sf0.01 and compare against
oracle_sql() via DuckDB — row count + column names + order-insensitive
canonical value comparison. Rows-only entries need rows > 0 and a
stable schema. The twins read only `documents` and `embeddings`."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod
from spardaqus_spark import queries_ml as QM
from spardaqus_spark import queries_text as QT

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        # Driver-grade strictness: do NOT collapse 56.0 -> "56".  An
        # integer-valued float must stay distinguishable from a true int so
        # DuckDB HUGEINT->float64 drift (the round-1 `sessionize` red row)
        # fails locally too.  Oracle SQL must CAST to BIGINT instead.
        return f"{v:.4f}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def _canon(pdf: pd.DataFrame) -> list[str]:
    cols = sorted(pdf.columns)
    rows = [
        "|".join(_canon_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows)


ORACLE = entrymod.oracle_sql()
ALL = entrymod.queries()
SQL_BACKED = sorted(ORACLE)
ROWS_ONLY = sorted(set(ALL) - set(ORACLE))


@pytest.mark.parametrize("name", SQL_BACKED)
def test_query_matches_duckdb(spark, duck, name):
    got = ALL[name](spark, SF_DIR).toPandas()
    exp = duck.execute(ORACLE[name]).df()
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    cg, ce = _canon(got), _canon(exp)
    mism = [i for i, (a, b) in enumerate(zip(cg, ce)) if a != b][:3]
    assert cg == ce, f"{name}: first mismatches {[(cg[i], ce[i]) for i in mism]}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = ALL[name](spark, SF_DIR)
    pdf = df.toPandas()
    assert len(pdf) > 0, f"{name}: no rows"
    assert len(df.schema.fields) > 0
    # Driver-grade canonicalization (r4): the driver's rows-only path does a
    # pandas sort_values over ALL columns, which raises on unhashable cells
    # — replicate it exactly so any list/dict-valued output column fails
    # locally first.
    pdf.sort_values(list(pdf.columns))


def test_rows_only_entries_are_pinned():
    """A rows-only entry has no DuckDB twin, so the check above proves
    only that it runs; it needs a gate of its own elsewhere (the pipeline
    verdict's is the oracle equality in tests/test_pipeline_oracle.py)."""
    assert ROWS_ONLY == ["pipeline_documents"], (
        f"rows-only entries {ROWS_ONLY}: a new rows-only entry needs a "
        "statistics gate in tests/test_recall.py before it joins this list"
    )


def test_queries_fit_the_harness_cap():
    """The driver harness records at most 50 queries per round (BASELINE.md
    'Driver harness observations'): with every entry inside the cap, no
    ordering of queries() can leave one without evidence."""
    assert len(entrymod.queries()) <= 50


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # langid over documents must produce real predictions
    langs = {r["lang_pred"] for r in rows}
    assert langs & {"de", "en", "es", "fr", "zh"}


def test_new_training_ops_nonvacuous(spark):
    """Thresholds calibrated against the sf0.01 testdata (the
    non-vacuity rule); if the corpus is ever regenerated these guards fail
    loudly instead of a flag or a keep-list silently going all-true or
    all-false while the oracle still 'matches'."""
    # corpus_build's stratified predicate: en downsampled toward 25%,
    # every other lang toward 75%
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    kept = docs.select(
        "lang", QT.stratified_keep_cond().cast("double").alias("kept")
    ).toPandas()
    by = kept.groupby("lang")["kept"].mean()
    assert by["en"] < 0.45
    assert (by.drop("en") > 0.55).all()

    # r4 ops: both sides of the source-locality split populated, and the
    # embedding keep-list strictly between "kept nothing" and "kept all"
    src = ALL["near_dup_source_stats"](spark, SF_DIR).toPandas()
    assert set(src["same_source"]) == {True, False}
    assert src["n_pairs"].sum() >= 20

    keep = ALL["embedding_dedup_keep"](spark, SF_DIR).toPandas()
    assert 0 < len(keep) < 500
    assert keep["vec_id"].is_unique


def test_every_sql_twin_is_registered():
    """A module-level ``SQL_*`` string of the query modules is a DuckDB
    twin, so it must be a value of oracle_sql(): a twin left behind when
    its query is retired fails here. Unprefixed fragments (``PACK_SQL``,
    ``STRAT_PRED_SQL``, ``COS_PAIRS_SQL``) are composed into twins and
    exempt by name."""
    registered = set(ORACLE.values())
    orphans = [
        f"{mod.__name__}.{name}"
        for mod in (QT, QM)
        for name, val in vars(mod).items()
        if name.startswith("SQL_") and isinstance(val, str)
        and val not in registered
    ]
    assert not orphans, orphans
