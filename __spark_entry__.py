"""Harness contract for the PySpark package.

entry(spark)   -> flagship: the real quality pipeline over sf0.001 documents.
queries()      -> the pipeline, the corpus build with its sequence packer,
                  and the fingerprint, dedup, near-dup and embedding
                  families over the `documents` / `embeddings` tables,
                  grouped by family.
oracle_sql()   -> DuckDB twins for every SQL-expressible query; the
                  model-backed pipeline verdict is rows-only by design
                  (SURVEY.md §3.2).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from spardaqus_spark import queries_ml as QM  # noqa: E402
from spardaqus_spark import queries_text as QT  # noqa: E402
from spardaqus_spark.session import export_pythonpath  # noqa: E402

# Python workers must import spardaqus_spark too (driver may run from
# any cwd) — export before any Spark action materializes a UDF stage.
export_pythonpath()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QM.q_pipeline_documents(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- the pipeline, the composed corpus build and its packer ---
        "pipeline_documents": QM.q_pipeline_documents,
        "corpus_build": QT.q_corpus_build,
        "sequence_packing": QT.q_sequence_packing,
        # --- fingerprints and exact dedup ---
        "fingerprint": QT.q_fingerprint,
        "rolling_fingerprint": QT.q_rolling_fingerprint,
        "dedup_exact_docs": QT.q_dedup_exact_docs,
        # --- text near-dup ---
        "ngram_jaccard_pairs": QT.q_ngram_jaccard_pairs,
        "dedup_clusters": QT.q_dedup_clusters,
        "near_dedup_keep": QT.q_near_dedup_keep,
        "near_dup_source_stats": QT.q_near_dup_source_stats,
        "minhash_lsh_pairs": QM.q_minhash_lsh_pairs,
        # --- embedding similarity and near-dup ---
        "embedding_norms": QT.q_embedding_norms,
        "cosine_topk": QT.q_cosine_topk,
        "embedding_near_dup": QT.q_embedding_near_dup,
        "embedding_dedup_keep": QT.q_embedding_dedup_keep,
        "ann_ivf_cosine": QM.q_ann_ivf_checked,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # pipeline_documents: intentionally omitted — model-backed, not
        # ANSI-SQL-expressible (SURVEY §3.2).
        "corpus_build": QT.SQL_CORPUS_BUILD,
        "sequence_packing": QT.SQL_SEQUENCE_PACKING,
        "fingerprint": QT.SQL_FINGERPRINT,
        "rolling_fingerprint": QT.SQL_ROLLING_FP,
        "dedup_exact_docs": QT.SQL_DEDUP_EXACT,
        "ngram_jaccard_pairs": QT.SQL_NGRAM_JACCARD,
        "dedup_clusters": QT.SQL_DEDUP_CLUSTERS,
        "near_dedup_keep": QT.SQL_NEAR_DEDUP_KEEP,
        "near_dup_source_stats": QT.SQL_NEAR_DUP_SOURCE_STATS,
        # minhash_lsh_pairs runs LSH candidates through an exact-Jaccard
        # verification join, so the all-pairs exact oracle matches iff it is
        # sound with full recall at sf0.01; the ann entry emits exact-set ∪
        # violations, so the exact-cosine oracle matches iff every
        # approximate pair is sound (one-sided; recall stays gated by
        # tests/test_recall.py).
        "minhash_lsh_pairs": QM.SQL_MINHASH_VERIFIED,
        "embedding_norms": QT.SQL_EMB_NORMS,
        "cosine_topk": QT.SQL_COSINE_TOPK,
        "embedding_near_dup": QT.SQL_EMB_NEAR_DUP,
        "embedding_dedup_keep": QT.SQL_EMB_DEDUP_KEEP,
        "ann_ivf_cosine": QM.SQL_ANN_CHECKED,
    }
