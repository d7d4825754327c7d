"""Local replica of the driver's correctness harness (__spark_entry__.py):
run every queries() entry on Spark at sf0.01 and compare against
oracle_sql() via DuckDB — row count + column names + order-insensitive
canonical value comparison. Rows-only entries just need rows >= 0 and a
stable schema."""

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

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


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
    assert len(pdf) >= 0
    assert len(df.schema.fields) > 0
    # Driver-grade canonicalization (r4): the driver's rows-only path does a
    # pandas sort_values over ALL columns, which raises on unhashable cells
    # — replicate it exactly so any list/dict-valued output column fails
    # locally first.
    pdf.sort_values(list(pdf.columns))


def test_queries_order_puts_unevidenced_first():
    """The driver harness records at most 50 queries per round (BASELINE.md
    'Driver harness observations'), so entries needing fresh driver
    evidence MUST stay first in queries() — guard the dict insertion order
    against accidental reshuffles.  r6 (VERDICT r05 item 1 + optimization
    round): corpus_build leads, then the 22 relational tail entries the r5
    cap rotated out, then every entry whose plan changed in the r6
    optimization pass."""
    first41 = list(entrymod.queries())[:41]
    assert first41 == [
        "corpus_build",
        "pricing_summary",
        "top_revenue_orders",
        "region_revenue",
        "having_filter",
        "outer_join_nulls",
        "semi_join",
        "anti_join",
        "range_join",
        "asof_last_signup",
        "window_topk",
        "window_running",
        "window_moving_avg",
        "rollup_slices",
        "cube_regions",
        "set_ops",
        "percentiles",
        "corr_stats",
        "json_extract",
        "date_trunc_monthly",
        "string_funcs",
        "conditional_pivot",
        "sessionize",
        "embedding_near_dup",
        "ann_lsh_cosine",
        "ann_ivf_cosine",
        "embedding_dedup_keep",
        "near_dedup_keep",
        "dedup_clusters",
        "minhash_lsh_pairs",
        "ngram_jaccard_pairs",
        "near_dup_source_stats",
        "cosine_topk",
        "median_stats",
        "rolling_fingerprint",
        "repetition_metrics",
        "decontamination",
        "quality_binning",
        "simhash_buckets",
        "pipeline_documents",
        "streaming_band_profile",
    ], first41


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # langid over documents must produce real predictions
    langs = {r["lang_pred"] for r in rows}
    assert langs & {"de", "en", "es", "fr", "zh"}


def test_new_training_ops_nonvacuous(spark):
    """The r3-continuation ops' thresholds are calibrated against the
    driver testdata (CLAUDE.md non-vacuity rule); if the corpus is ever
    regenerated these guards fail loudly instead of the flags silently
    going all-true/all-false while the oracle still 'matches'."""
    rep = ALL["repetition_metrics"](spark, SF_DIR).toPandas()
    assert 0 < rep["flagged"].sum() < len(rep)

    dec = ALL["decontamination"](spark, SF_DIR).toPandas()
    assert 0 < dec["contaminated"].sum() < len(dec)
    # eval docs themselves are excluded from the output
    assert (dec["doc_id"] % 10 != 0).all()

    mix = ALL["mixing_weights"](spark, SF_DIR).toPandas()
    assert (mix["sample_rate"] == 1.0).any()
    assert (mix["sample_rate"] < 1.0).any()

    st = ALL["stratified_sample"](spark, SF_DIR).toPandas()
    by = st.groupby("lang")["kept"].mean()
    assert by["en"] < 0.45          # en downsampled toward 25%
    assert (by.drop("en") > 0.55).all()  # others toward 75%

    # r4 ops: both sides of the source-locality split populated, and the
    # embedding keep-list strictly between "kept nothing" and "kept all"
    src = ALL["near_dup_source_stats"](spark, SF_DIR).toPandas()
    assert set(src["same_source"]) == {True, False}
    assert src["n_pairs"].sum() >= 20

    keep = ALL["embedding_dedup_keep"](spark, SF_DIR).toPandas()
    assert 0 < len(keep) < 500
    assert keep["vec_id"].is_unique
