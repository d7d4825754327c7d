"""Source seams (SURVEY.md §7 M5): one config key switches the batch
read between sandbox parquet and production Iceberg. The sandbox has no
Iceberg jar (SURVEY.md App. A), so the iceberg branch is config-gated and
exercised only for plan construction in prod. Spark prunes the columns a
plan never uses at the scan (metadata-only passes never deserialize
`content` — SURVEY.md §1.3). The sink write is ``pipeline.run``'s own.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from ..config import PipelineConfig

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def read_files(spark: "SparkSession", cfg: PipelineConfig) -> "DataFrame":
    if cfg.table_format == "iceberg":
        return spark.read.format("iceberg").load(cfg.input_path)
    return spark.read.parquet(cfg.input_path)


def read_stream_source(spark: "SparkSession", **opts):
    """Streaming source seam (SURVEY §2.1/§2.8 — the Spardaqus transport
    analog). ``format="kafka"`` picks kafka; the sandbox ships no kafka
    jar, so that branch is exercised only in production. The default
    parquet file branch feeds the same foreachBatch pipeline in tests."""
    fmt = opts.get("format", "parquet")
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

