"""Skew handling, quantified (BASELINE.json:6,14 'salted repartition for
skewed mega-repos'):

1. the fixture really is skewed (2 mega-repos own ~30% of rows);
2. the default DAG's content-hash partitioning is uniform by construction
   (no salt needed — measured balance);
3. the pre-write repartition's (bucket, salt) key demonstrably flattens
   the per-key row distribution vs repo-bucketing alone.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spardaqus_spark.config import default_config
from spardaqus_spark.operators import bucketize as bk


@pytest.fixture(scope="module")
def skewed_sdf(spark, corpus_pdf):
    return spark.createDataFrame(
        corpus_pdf[["repo", "path", "commit", "lang", "content"]]
    )


def _partition_sizes(df) -> list[int]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    return [r["count"] for r in rows]


def test_fixture_is_skewed(skewed_sdf):
    top = (
        skewed_sdf.groupBy("repo")
        .count()
        .orderBy(F.desc("count"))
        .limit(2)
        .agg(F.sum("count").alias("s"))
        .collect()[0]["s"]
    )
    total = skewed_sdf.count()
    assert top / total > 0.25, f"mega-repos own {top/total:.2%}, expected ~30%"


def test_salting_flattens_keys(skewed_sdf):
    """The salt that runs: the pipeline repartitions kept rows on
    ``with_bucket_columns``' (bucket, salt) before the write. Checked at
    the KEY grain (partition-level balance at 1260 rows is dominated by
    how few keys hash into each partition — at production scale the law
    of large numbers smooths that; the key distribution is the
    deterministic signal)."""
    import re

    from spardaqus_spark import pipeline

    cfg = default_config(num_buckets=32, salt_k=8)
    keyed = bk.with_bucket_columns(skewed_sdf, cfg)
    b_max = keyed.groupBy("bucket").count().agg(F.max("count")).collect()[0][0]
    s_max = (
        keyed.groupBy("bucket", "salt").count().agg(F.max("count")).collect()[0][0]
    )
    total = skewed_sdf.count()
    # bucket alone: each mega-repo (~15% of rows) is ONE key
    assert b_max > total * 0.12, f"bucket max key {b_max}/{total}"
    # (bucket, salt): the mega-repo keys split across salt_k
    assert s_max < b_max * 0.5, f"salted max key {s_max} vs bucket {b_max}"
    # and (bucket, salt) is the key the pipeline's write exchange hashes on
    clean = pipeline.build_clean_frame(pipeline.build_verdict_frame(skewed_sdf, cfg))
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(bucket#\d+, salt#\d+", plan), plan[:2000]


def test_content_hash_partitioning_is_uniform(skewed_sdf):
    """Default DAG: dedup exchange partitions by sha2(content) — balanced
    within 3x of ideal regardless of repo skew."""
    from spardaqus_spark.operators import stages

    d = stages.with_sha(skewed_sdf).repartition(16, "content_sha256")
    sizes = _partition_sizes(d)
    ideal = sum(sizes) / len(sizes)
    assert max(sizes) < ideal * 3, sizes


def test_salted_join_plan_and_equivalence(spark, skewed_sdf):
    """§2.2 skew-salted join: the physical plan joins on (key, salt) with
    the small side exploded K ways, and the RESULT equals the plain join
    exactly (salting is a physical rewrite only)."""
    from spardaqus_spark.operators.saltops import SALT, salted_join

    big = skewed_sdf.select("repo", "path")
    small = (
        skewed_sdf.groupBy("repo").count().select("repo", "count")
    )
    j = salted_join(big, small, on="repo", k=4)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert SALT in plan, "salt column missing from the join plan"
    assert "explode" in plan.lower() or "Generate" in plan
    got = j.groupBy("repo").agg(
        F.count("*").alias("n"), F.max("count").alias("c")
    )
    exp = (
        big.join(small, "repo")
        .groupBy("repo")
        .agg(F.count("*").alias("n"), F.max("count").alias("c"))
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    # left-preserving semantics: unmatched big rows survive exactly once
    l = salted_join(big, small.filter(F.col("count") > 10**9), "repo", k=4, how="left")
    assert l.count() == big.count()
    with pytest.raises(ValueError):
        salted_join(big, small, "repo", how="full")


def test_salted_agg_plan_and_equivalence(spark, skewed_sdf):
    """§2.2 salted two-phase agg: first exchange hashes on (key, salt) —
    a mega-key spreads over K reducers — and values match the plain agg."""
    from spardaqus_spark.operators.saltops import SALT, salted_agg

    df = skewed_sdf.select("repo", F.length("content").alias("n"))
    out = salted_agg(
        df,
        keys=["repo"],
        exprs={
            "cnt": ("count", "n"),
            "total": ("sum", "n"),
            "mx": ("max", "n"),
            "avg_n": ("avg", "n"),
        },
        k=8,
    )
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    # phase-1 exchange hashes on (repo, __salt); phase-2 on repo alone
    assert re.search(r"hashpartitioning\(repo[^)]*" + SALT, plan), (
        "first exchange must hash on (repo, salt)"
    )
    assert re.search(r"hashpartitioning\(repo#\d+, \d+\)", plan), (
        "final exchange must hash on repo alone"
    )
    assert plan.count("HashAggregate") >= 4  # partial+final x two phases
    exp = df.groupBy("repo").agg(
        F.count("n").alias("cnt"),
        F.sum("n").alias("total"),
        F.max("n").alias("mx"),
        F.avg("n").alias("avg_n"),
    )
    a = {r["repo"]: r for r in out.collect()}
    b = {r["repo"]: r for r in exp.collect()}
    assert set(a) == set(b)
    for k_ in a:
        assert a[k_]["cnt"] == b[k_]["cnt"] and a[k_]["total"] == b[k_]["total"]
        assert a[k_]["mx"] == b[k_]["mx"]
        assert abs(a[k_]["avg_n"] - b[k_]["avg_n"]) < 1e-9


def test_content_salt_skips_map_columns(spark):
    """code-review r3: xxhash64 cannot hash MapType — the content salt
    must exclude map columns (still deterministic over the rest) and
    raise clearly when nothing hashable remains."""
    import pytest

    from spardaqus_spark.operators.saltops import salted_agg

    df = spark.createDataFrame(
        [("r1", 1, {"a": 1}), ("r1", 2, {"b": 2}), ("r2", 3, {"c": 3})],
        "repo string, n int, meta map<string,int>",
    )
    out = salted_agg(df, ["repo"], {"total": ("sum", "n")}, k=4).collect()
    assert {(r["repo"], r["total"]) for r in out} == {("r1", 3), ("r2", 3)}

    from spardaqus_spark.operators.saltops import _content_salt

    maps_only = df.select("meta")
    with pytest.raises(ValueError, match="non-map"):
        _content_salt(maps_only, 4)


def test_content_salt_skips_nested_map_columns(spark):
    """code-review r3 second pass: the exclusion must walk the whole type
    tree — array<map> and struct-with-map-field are just as unhashable as
    a top-level map."""
    from spardaqus_spark.operators.saltops import salted_agg

    df = spark.createDataFrame(
        [("r1", 1, [{"a": 1}], ("x", {"k": 2})), ("r1", 2, [], ("y", {}))],
        "repo string, n int, tags array<map<string,int>>, "
        "meta struct<s:string,m:map<string,int>>",
    )
    out = salted_agg(df, ["repo"], {"total": ("sum", "n")}, k=4).collect()
    assert [(r["repo"], r["total"]) for r in out] == [("r1", 3)]
