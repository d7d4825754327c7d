"""Mandate lints (BASELINE.json:15 / BASELINE.md 'vectorization
constraint'): the hot path must never contain a per-row Python UDF —
pandas/Arrow UDFs only. Enforced by source scan so a regression cannot
land silently."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "spardaqus_spark"

# Per-row forms: F.udf(...), @udf(...), @F.udf, udf(lambda ...
PER_ROW_UDF = re.compile(
    r"(?<![\w.])(?:F\.)?udf\s*\(|@\s*(?:F\.)?udf\b"
)
# The sanctioned vectorized forms, to prove the lint isn't vacuous
VECTORIZED = re.compile(r"pandas_udf|mapInPandas|applyInPandas|mapInArrow")


def test_no_per_row_python_udfs():
    offenders = []
    vectorized_seen = 0
    for p in sorted(PKG.rglob("*.py")):
        src = p.read_text()
        for i, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            if PER_ROW_UDF.search(code) and "pandas_udf" not in code and "@udtf" not in code:
                offenders.append(f"{p.name}:{i}: {line.strip()}")
        vectorized_seen += len(VECTORIZED.findall(src))
    assert not offenders, "per-row Python UDFs are forbidden:\n" + "\n".join(offenders)
    assert vectorized_seen >= 8, "lint sanity: vectorized UDF usage should exist"


ROW_LOOP = re.compile(
    r"for\s+[\w, ]+\s+in\s+(?:zip\s*\(\s*)?pdf\s*\[|\.iterrows\(\)|\.itertuples\("
)


def test_no_per_row_batch_iteration():
    """Round-2 rule (VERDICT r01 'What's wrong' #3): kernels must not
    iterate Python-side over Arrow batch columns (`for x in pdf[...]`,
    iterrows, itertuples). Flat-array NumPy over the whole batch only —
    see kernels/textnum.py:flatten_codepoints for the sanctioned pattern."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if ROW_LOOP.search(code):
                offenders.append(f"{p.name}:{i}: {line.strip()}")
    assert not offenders, (
        "per-row iteration over batch columns is forbidden:\n"
        + "\n".join(offenders)
    )


def test_no_nondeterministic_expressions():
    """Round-3 rule (VERDICT r02 #2 / ADVICE r02): no Catalyst-
    nondeterministic expressions in the package. monotonically_increasing_id
    and rand() re-evaluate differently on task recompute, which breaks
    retry-safety for anything derived from them (e.g. salts) and blocks
    filter pushdown through their projection. Salts must be content
    hashes (operators/bucketize.py:with_bucket_columns' xxhash64(path))."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(
                r"monotonically_increasing_id|(?<![\w.])F\.(?:rand|randn)\s*\(",
                code,
            ):
                offenders.append(f"{p.name}:{i}: {line.strip()}")
    assert not offenders, (
        "nondeterministic Catalyst expressions are forbidden:\n"
        + "\n".join(offenders)
    )


def test_no_rdd_api_in_hot_path():
    """RDD API bypasses Catalyst/Arrow (SURVEY §1.3), in every module. The
    one sanctioned use is `.rdd.getNumPartitions()` (r6): it is
    metadata-only plan introspection — no data crosses the RDD path — and
    queries_text.spread needs it to decide whether a scan is under-split."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            code = code.replace(".rdd.getNumPartitions()", "")
            if re.search(r"\.rdd\b|parallelize\s*\(|mapPartitions\s*\(", code):
                offenders.append(f"{p.name}:{i}: {line.strip()}")
    assert not offenders, "RDD API in hot path:\n" + "\n".join(offenders)
