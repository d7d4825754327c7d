"""Table-format seam (SURVEY.md §7 M5): one config key switches between
sandbox parquet and production Iceberg. The sandbox has no Iceberg jar
(SURVEY.md App. A), so the iceberg branch is config-gated and exercised
only for plan construction in prod.

Production notes baked into the layout:
- reads prune columns at the source (metadata-only passes never
  deserialize `content` — SURVEY.md §1.3);
- writes partition by `bucket` so resume + targeted reruns get partition
  pruning for free, and sorting each bucket by (repo, path, commit) pins
  a deterministic file layout (sha256-stable bytes, SURVEY.md §4.2).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from ..config import PipelineConfig

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def read_files(spark: "SparkSession", cfg: PipelineConfig, columns: list[str] | None = None) -> "DataFrame":
    if cfg.table_format == "iceberg":
        df = spark.read.format("iceberg").load(cfg.input_path)
    else:
        df = spark.read.parquet(cfg.input_path)
    if columns:
        df = df.select(*columns)
    return df


def write_files(df: "DataFrame", cfg: PipelineConfig, path: str, mode: str = "append") -> None:
    keys = ("repo", "path", "commit")
    if cfg.table_format == "iceberg":
        df.sortWithinPartitions(*keys).writeTo(path).append()
    else:  # bucket first, or the writer's own Sort(bucket) replaces it
        out = df.sortWithinPartitions("bucket", *keys)
        out.write.mode(mode).partitionBy("bucket").parquet(path)


def read_stream_source(spark: "SparkSession", cfg: "PipelineConfig", **opts):
    """Streaming source seam (SURVEY §2.1/§2.8 — the Spardaqus transport
    analog). kafka is config-gated: the sandbox ships no kafka jar, so the
    branch is exercised only in production; the file branch feeds the same
    foreachBatch pipeline in tests."""
    fmt = opts.get("format", getattr(cfg, "stream_format", "parquet"))
    if fmt == "kafka":
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", opts["bootstrap_servers"])
            .option("subscribe", opts["topic"])
            .load()
        )
    reader = spark.readStream.schema(opts["schema"])
    if "max_files_per_trigger" in opts:
        reader = reader.option("maxFilesPerTrigger", opts["max_files_per_trigger"])
    return reader.parquet(opts["path"])


def ingest_json_batch(spark: "SparkSession", records: list[dict], schema: str) -> "DataFrame":
    """REST/batch-extract seam (SURVEY §2.1 — the Splunk-extract analog):
    a JSON batch from any collector becomes a typed DataFrame ready for
    the stage DAG. Driver-side only for the (small) batch envelope —
    payload-scale ingest arrives via the table/stream sources above."""
    import json as _json

    rdd = spark.sparkContext.parallelize([_json.dumps(r) for r in records])
    return spark.read.schema(schema).json(rdd)
