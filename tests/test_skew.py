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

