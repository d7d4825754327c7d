"""Source/sink seam coverage (SURVEY §2.1; VERDICT r01/r02 'partial'
rows). The sandbox ships no Iceberg or Kafka jar, so those branches
cannot round-trip — but they CAN be proven wired end-to-end up to
DataSource resolution: calling them must fail with Spark's
missing-data-source error (i.e., the exact point where adding the jar to
the classpath makes them work), never an AttributeError/TypeError in our
own plumbing. The parquet twins of the same seams round-trip fully."""

from __future__ import annotations

import pytest

from spardaqus_spark.config import default_config
from spardaqus_spark.sources import io as sio


def test_read_files_parquet_with_column_pruning(spark, corpus_pdf, tmp_path):
    p = tmp_path / "files.parquet"
    corpus_pdf[["repo", "path", "commit", "lang", "content"]].to_parquet(
        p, index=False
    )
    cfg = default_config(input_path=str(p))
    df = sio.read_files(spark, cfg, columns=["repo", "path"])
    assert df.columns == ["repo", "path"]
    assert df.count() == len(corpus_pdf)


def test_write_files_parquet_bucket_partitioned(
    spark, corpus_pdf, tmp_path, unsorted_files
):
    from spardaqus_spark.operators import bucketize as bk

    cfg = default_config(num_buckets=4)
    src = spark.createDataFrame(
        corpus_pdf[["repo", "path", "commit", "lang", "content"]].head(200)
    )
    df = bk.with_bucket_columns(src, cfg)
    out = tmp_path / "out"
    sio.write_files(df, cfg, str(out))
    back = spark.read.parquet(str(out))
    assert back.count() == 200
    assert sorted(d.name for d in out.glob("bucket=*"))  # partition dirs exist
    assert unsorted_files(out) == []  # the sort survives partitionBy


def test_iceberg_read_branch_reaches_datasource_resolution(spark):
    cfg = default_config(input_path="/nonexistent/tbl", table_format="iceberg")
    with pytest.raises(Exception, match="(?i)iceberg"):
        sio.read_files(spark, cfg)


def test_iceberg_write_branch_reaches_datasource_resolution(spark, corpus_pdf):
    cfg = default_config(table_format="iceberg")
    src = spark.createDataFrame(
        corpus_pdf[["repo", "path", "commit", "lang", "content"]].head(5)
    )
    with pytest.raises(Exception, match="(?i)iceberg|catalog|table"):
        sio.write_files(src, cfg, "icecat.db.tbl")


def test_kafka_stream_branch_reaches_datasource_resolution(spark):
    with pytest.raises(Exception, match="(?i)kafka"):
        sio.read_stream_source(
            spark,
            format="kafka",
            bootstrap_servers="localhost:9092",
            topic="files",
        )
