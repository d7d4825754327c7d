"""Whole-surface physical-plan audit (SURVEY §4 / BASELINE.json:15):
every query registered in __spark_entry__.queries() is PLANNED (never
executed — cheap) and its physical plan screened for the two classes of
regressions that source lints can't see:

1. accidental cartesian products — only the by-design cases in
   CARTESIAN_OK may contain one (e.g. cosine_topk broadcasts a tiny query
   side; embedding_near_dup is the pinned exact baseline whose scale path
   is the LSH/IVF twins), and every exemption names a registered query;
2. per-row Python evaluation (BatchEvalPython) — the runtime counterpart
   of the `F.udf` source lint; only Arrow-batched eval (ArrowEvalPython,
   MapInPandas, FlatMapGroupsInPandas, PythonMapInArrow) is allowed.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

# cartesian/broadcast-NLJ allowed: small side is bounded by construction
CARTESIAN_OK = {
    "cosine_topk",        # 5-row query side, crossJoin by design
    "embedding_near_dup", # pinned exact O(n^2) baseline; LSH twin scales
    "range_join",         # broadcast nested loop vs 3-row literal bands
    "mixing_weights",     # 1-row global-mean broadcast (scalar-subquery shape)
    "quality_binning",    # 1-row quartile-threshold broadcast (same shape)
    # r4 checked ANN forms: the exact verification side (_exact_cos_pairs)
    # is the same pinned O(n^2) twin as embedding_near_dup — it exists to
    # make the approximate path driver-checkable at small sf; the raw
    # LSH/IVF subtrees inside these plans remain bucket-joined.
    "ann_lsh_cosine",
    "ann_ivf_cosine",
}

QUERIES = sorted(entrymod.queries().items())


def test_cartesian_allow_list_is_registered():
    """A stale exemption must fail, not linger: every allow-listed name is
    a registered query."""
    assert CARTESIAN_OK <= set(entrymod.queries()), (
        CARTESIAN_OK - set(entrymod.queries())
    )


def _plan(spark, fn):
    df = fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name,fn", QUERIES, ids=[n for n, _ in QUERIES])
def test_no_accidental_cartesian_or_per_row_python(spark, name, fn):
    plan = _plan(spark, fn)
    if name not in CARTESIAN_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join (missing equi-condition?)"
        )
    assert "BatchEvalPython" not in plan, f"{name}: per-row Python UDF node"


def test_exact_cos_pairs_row_cap(spark, monkeypatch):
    """The exact all-pairs twin runs as ONE applyInPandas group; above
    EXACT_COS_MAX_ROWS it must fail fast with the cap and the row count
    named, not grind one worker through an O(n^2) matmul or into an OOM."""
    from spardaqus_spark import queries_text as QT

    monkeypatch.setattr(QT, "EXACT_COS_MAX_ROWS", 100)
    df = QT.exact_cos_pairs(spark, SF_DIR, 0.35, gate_rounded=False)
    with pytest.raises(Exception, match=r"500 embeddings.*EXACT_COS_MAX_ROWS=100"):
        df.collect()
