"""Physical-plan assertions (SURVEY.md §4) — the 100-TB design contract:
column pruning, predicate pushdown, broadcast dim joins, and the
two-shuffle pipeline budget. These are the properties that keep the job
alive at 1000 executors; they are asserted, not assumed."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from spardaqus_spark import pipeline
from spardaqus_spark.config import default_config
from spardaqus_spark.queries import q_region_revenue


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def files_parquet(spark, corpus_pdf, tmp_path_factory):
    d = tmp_path_factory.mktemp("plan_src") / "files.parquet"
    corpus_pdf[["repo", "path", "commit", "lang", "content"]].to_parquet(
        d, index=False
    )
    return str(d)


def test_metadata_query_prunes_content(spark, files_parquet):
    """A metadata query (groupBy(repo).count) must never deserialize the
    giant `content` column — column pruning reaches the scan."""
    df = spark.read.parquet(files_parquet).groupBy("repo").count()
    plan = _plan(df)
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") : scan.index("\n", scan.index("ReadSchema"))]
    assert "repo" in read_schema
    assert "content" not in read_schema, read_schema


def test_filter_pushdown_reaches_scan(spark, files_parquet):
    df = spark.read.parquet(files_parquet).filter(F.col("lang") == "en").select("path")
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan[plan.index("PushedFilters") : plan.index("\n", plan.index("PushedFilters"))]
    assert "lang" in pushed, pushed


def test_dim_joins_broadcast(spark):
    plan = _plan(q_region_revenue(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_pipeline_shuffle_budget(spark, files_parquet):
    """Exactly ONE Exchange in the verdict DAG — the dedup window's
    content-hash partition, which doubles as the (perfectly uniform)
    physical partitioning for the scoring kernel. Scoring + verdict +
    scrub pipeline on top with NO additional shuffle (SURVEY.md §4.2)."""
    src = spark.read.parquet(files_parquet)
    v = pipeline.build_verdict_frame(src, default_config())
    plan = _plan(v)
    n_exchange = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchange == 1, f"expected 1 shuffle, got {n_exchange}:\n{plan[:2000]}"
    # one scoring kernel: score + verdict + scrub run in ONE Arrow-batched
    # map (stages.score_scrub), with no per-row or chained Python UDF
    assert len(_node_ids(plan, "MapInPandas")) == 1, plan[:3000]
    for py_stage in ("ArrowEvalPython", "BatchEvalPython"):
        assert py_stage not in plan, py_stage
    # sha2 + the dedup window around the kernel compile into whole-stage
    # codegen (AQE's formatted plan hides spans pre-execution -> use
    # codegen mode)
    cg = v._sc._jvm.PythonSQLUtils.explainString(
        v._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen" in cg


def test_full_dag_two_shuffles(spark, files_parquet):
    """End-to-end budget: dedup exchange + the pre-write bucket/salt
    repartition of KEPT rows only. The scrub stage itself adds nothing."""
    src = spark.read.parquet(files_parquet)
    v = pipeline.build_verdict_frame(src, default_config())
    clean = pipeline.build_clean_frame(v)
    p = _plan(clean)
    assert p.count("+- Exchange") + p.count(":- Exchange") == 2


def _node_ids(plan: str, node: str, detail: str = "") -> list[int]:
    """Formatted-plan ids of ``node`` operators whose detail block contains
    ``detail``. Ids are assigned children-first, so an operator's id is
    larger than the ids of everything below it."""
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    return [
        int(m.group(1))
        for b in blocks
        if (m := re.match(rf"\((\d+)\) {node}\n", b)) and detail in b
    ]


def test_resumed_dag_prunes_between_window_and_kernel(spark, files_parquet, tmp_path):
    """Resume prunes committed buckets with one literal filter that sits
    ABOVE the dedup window (which must see every row, or a committed
    winner's open-bucket copy would be kept) and BELOW the scoring kernel
    (so committed rows are never scored). No broadcast, no extra shuffle."""
    from spardaqus_spark.plans import checkpoint as ckpt

    cfg = default_config()
    for b in range(cfg.num_buckets // 2):
        ckpt.commit_bucket(tmp_path, "prior", b, 0, str(tmp_path / "files_clean"))
    src = spark.read.parquet(files_parquet)
    v = pipeline.build_verdict_frame(src, cfg, run_dir=tmp_path)
    plan = _plan(v)
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 1, plan[:2000]
    clean = _plan(pipeline.build_clean_frame(v))
    assert clean.count("+- Exchange") + clean.count(":- Exchange") == 2

    (window,) = _node_ids(plan, "Window")
    (prune,) = _node_ids(plan, "Filter", "NOT bucket#")
    (kernel,) = _node_ids(plan, "MapInPandas")
    assert window < prune < kernel, plan[:3000]


def test_boilerplate_stage_plan_shape(spark, files_parquet):
    """The opt-in cross-file boilerplate stage (SURVEY §2.9.17) must stay
    scale-safe: per-repo totals BROADCAST to the doc-frequency join (never
    a shuffled join against the token table), no cartesian product, no
    Python stage (pure codegen), and the token-grain aggregations keyed on
    high-cardinality (file, token) / (repo, token) composites."""
    from spardaqus_spark.operators import stages

    src = spark.read.parquet(files_parquet)
    df = stages.with_boilerplate_frac(src, default_config())
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan  # totals join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for py_stage in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_stage not in plan, py_stage


def test_minhash_signatures_zero_shuffle(spark):
    """r4 contract: the minhash signature stage is a NARROW streaming map
    (kernels/minhash inside one MapInPandas) — no Exchange may appear in
    its plan. The r1-r3 shingle-explode + groupBy(doc_id) form shuffled
    the full corpus at signature time; at 100 TB the only minhash shuffle
    allowed is the band-bucket self-join downstream."""
    from spardaqus_spark.queries import load
    from spardaqus_spark.queries_ml import minhash_signatures

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    plan = _plan(minhash_signatures(docs))
    assert "MapInPandas" in plan
    n_exchange = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchange == 0, f"signature stage must not shuffle:\n{plan[:1500]}"


def test_minhash_verification_no_exploded_shuffles(spark):
    """r5 contract (VERDICT r04 item 6): the verified minhash query's
    verification leg joins per-doc DISTINCT shingle ARRAYS onto the
    candidate pair list with array_intersect — it must never regress to
    the r4 exploded form (shingle rows -> join on (d2, shingle) ->
    groupBy pair), whose shuffles scaled with shingles-per-doc. Pinned
    structurally: the verified plan computes array_intersect and binds
    NO exploded `shingle` attribute anywhere — the exploded form cannot
    avoid one (its join key and groupBy input is a per-shingle row),
    while the array form only ever carries the per-doc `sh` array.
    (Generate-node counting is NOT a stable pin here: the persisted
    candidates subtree's InMemoryRelation repeats its internal plan text
    once per consumer in the formatted output.)"""
    from spardaqus_spark.queries_ml import q_minhash_lsh_pairs

    sf = "/root/testdata/sf0.001"
    spark.catalog.clearCache()  # candidate persist from other tests
    p_ver = _plan(q_minhash_lsh_pairs(spark, sf))
    assert "array_intersect" in p_ver, p_ver[:800]
    assert "shingle#" not in p_ver, (
        "verification binds an exploded shingle attribute — "
        f"exploded-shingle regression:\n{p_ver[:1500]}"
    )
