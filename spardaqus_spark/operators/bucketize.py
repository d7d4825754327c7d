"""Explicit partitioning: repo-hash bucketing + salted repartition for
skewed mega-repos (BASELINE.json:6,14; SURVEY.md §1.4).

- bucket = pmod(xxhash64(repo), NUM_BUCKETS) — the lineage/checkpoint/
  partition-pruning grain; in production Iceberg this is the partition
  transform ``bucket(N, repo)``.
- salt = pmod(xxhash64(path), SALT_K): the pre-write repartition key is
  (bucket, salt), so once AQE keeps more than one write partition a
  mega-repo's kept rows spread over up to SALT_K tasks, not one. Scoring
  never runs on this layout — it pipelines on the skew-free content-hash
  dedup exchange — so every repo is salted and no hot-repo detection
  pass is needed.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from ..config import PipelineConfig

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def with_bucket_columns(df: "DataFrame", cfg: PipelineConfig) -> "DataFrame":
    """+ bucket:int, salt:int as LOGICAL columns (codegen, no shuffle).

    The physical partitioning for scoring comes from the content-hash
    dedup exchange; bucket/salt drive lineage grain, resume, and the
    pre-write repartition only.
    """
    from pyspark.sql import functions as F

    bucket = F.pmod(F.xxhash64("repo"), F.lit(cfg.num_buckets)).cast("int")
    salt = F.pmod(F.xxhash64("path"), F.lit(cfg.salt_k)).cast("int")
    return df.withColumn("bucket", bucket).withColumn("salt", salt)
