#!/usr/bin/env python
"""Production entry point (SURVEY.md §3.1):

    spark-submit --py-files dist/spardaqus_spark.zip main.py \
        --config conf/pipeline.yaml --input <iceberg-table-or-parquet-dir> \
        --run-dir /runs/2026-08-16 [--resume RUN_ID] [--buckets 0,1,2]

Builds the full DAG (dedup -> fused score+verdict+scrub -> bucket
repartition -> write) and executes with checkpoint/resume + lineage.
Resume is automatic: rerunning against the same --run-dir skips every
bucket a committed attempt lists (the attempt's lineage file is its
commit), with or without --resume, which only names this attempt's run_id
in its lineage file (default: a fresh random id). Under spark-submit the
session keeps the submitted --master and driver memory; standalone it
falls back to local mode.
"""

from __future__ import annotations

import argparse
import dataclasses
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--config", default="conf/pipeline.yaml")
    p.add_argument("--input", default=None, help="overrides config input_path")
    p.add_argument("--run-dir", required=True)
    p.add_argument(
        "--resume",
        default=None,
        metavar="RUN_ID",
        help="run_id recorded for this attempt (resume itself is automatic "
        "from the run dir's committed lineage files)",
    )
    p.add_argument(
        "--buckets",
        default=None,
        help="comma-separated bucket whitelist (targeted rerun)",
    )
    p.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of executing",
    )
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)

    from spardaqus_spark import pipeline
    from spardaqus_spark.config import load_config
    from spardaqus_spark.session import get_spark
    from spardaqus_spark.sources import io

    cfg = load_config(args.config)
    if args.input:
        cfg = dataclasses.replace(cfg, input_path=args.input)
    if not cfg.input_path:
        print("error: no input (--input or config input_path)", file=sys.stderr)
        return 2

    spark = get_spark(app="spardaqus-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    src = io.read_files(spark, cfg)
    buckets = (
        [int(b) for b in args.buckets.split(",")] if args.buckets else None
    )
    if args.explain:
        # the plan run() would execute: same resume / whitelist pruning
        clean = pipeline.build_clean_frame(
            pipeline.build_verdict_frame(
                src, cfg, run_dir=args.run_dir, bucket_whitelist=buckets
            )
        )
        clean.explain("formatted")
        spark.stop()
        return 0
    res = pipeline.run(
        src,
        cfg,
        run_dir=args.run_dir,
        run_id=args.resume,
        bucket_whitelist=buckets,
    )
    print(res)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
