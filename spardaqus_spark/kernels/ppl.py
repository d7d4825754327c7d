"""Perplexity: KenLM-style interpolated char-trigram LM, pure NumPy.

Heafield 2011 defines the production tool; the sandbox has no kenlm, so the
LM is rebuilt from scratch as hashed count tables (SURVEY.md §2.5
`perplexity`). Pinned semantics (SURVEY.md §2.9.5, v2 — narrow dtypes for
memory-bandwidth headroom at 32 concurrent workers):

- char-level, text truncated to MAX_CHARS codepoints, NOT lowercased;
- n-gram hash: rolling polynomial, uint32 wraparound, P=1000003
  (kernels/textnum.py); bucket = hash % D_n;
- ppl = exp(-mean(log p(c_i | c_{i-2}, c_{i-1}))) over positions i >= 2;
- p = 0.1*p1 + 0.3*p2 + 0.6*p3, each component clipped to <= 1.0
  (hash-bucket collisions can push raw ratios over 1):
    p1 = (T1[u] + 1) / (N + D1)          add-1 floor on unigrams
    p2 = (T2[b] + 1) / (T1[u_prev] + D1)
    p3 = (T3[t] + 1) / (T2[b_prev] + D2)
- per-POSITION math runs in float32 (elementwise -> deterministic and
  batch-size-independent); the per-row mean accumulates in float64; the
  final ppl is rounded to 6 decimals (pinned grain);
- texts with < 3 codepoints -> ppl = 0.0 (never drops).

Trained deterministically at first use from the frozen seed texts plus the
code-token pool (kernels/seeds.py), cached per process (iterator-UDF model
-load-once pattern). Count tables are float32: <= 180 KB total, L2-resident.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import seeds, textnum
from .textnum import P32

D1, D2, D3 = 1024, 8192, 32768
MAX_CHARS = 8000
_MODEL: tuple[np.ndarray, np.ndarray, np.ndarray, float] | None = None
CHUNK = 1 << 16  # trigram positions per cache block in ``perplexity``


def _train_text() -> str:
    parts = [seeds.seed_text(lang) for lang in sorted(seeds.LANGS)]
    for ext in sorted(seeds.CODE_TOKENS):
        toks = seeds.CODE_TOKENS[ext]
        parts.append("\n".join(" ".join(toks) for _ in range(30)))
    return "\n".join(parts)


def train_model() -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    text = _train_text()
    codes, row_id, _ = textnum.flatten_codepoints(pd.Series([text]))
    u, _ = textnum.ngram_buckets(codes, row_id, 1, D1)
    b, _ = textnum.ngram_buckets(codes, row_id, 2, D2)
    t, _ = textnum.ngram_buckets(codes, row_id, 3, D3)
    T1 = np.bincount(u, minlength=D1).astype(np.float32)
    T2 = np.bincount(b, minlength=D2).astype(np.float32)
    T3 = np.bincount(t, minlength=D3).astype(np.float32)
    return T1, T2, T3, float(T1.sum())


def get_model() -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    global _MODEL
    if _MODEL is None:
        _MODEL = train_model()
    return _MODEL


def perplexity(
    content: pd.Series,
    flat: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
) -> pd.Series:
    """Batch ppl -> float64 Series aligned 0..n-1 (rounded to 6 decimals).

    ``flat`` is the optional shared full-content decode; MAX_CHARS becomes
    a positional mask over it."""
    T1, T2, T3, N = get_model()
    n = len(content)
    if flat is None:
        flat = textnum.flatten_codepoints(content.fillna("").astype(str))
    codes, row_id, _ = textnum.truncate_flat(flat, MAX_CHARS)
    L = len(codes)
    if L < 3:
        return pd.Series(np.zeros(n, dtype=np.float64))
    # Uncompacted per-position bucket arrays (int32) over the flat
    # concatenation; the trigram validity mask guarantees every indexed
    # position lies within one row.
    uni_full = (codes % np.uint32(D1)).astype(np.int32)              # len L
    bi_h = codes[:-1] * P32 + codes[1:]
    bi_full = (bi_h % np.uint32(D2)).astype(np.int32)                # len L-1
    tri_full = (
        (bi_h[:-1] * P32 + codes[2:]) % np.uint32(D3)
    ).astype(np.int32)                                               # len L-2
    valid3 = row_id[: L - 2] == row_id[2:]
    if not valid3.any():
        return pd.Series(np.zeros(n, dtype=np.float64))
    pos_all = np.flatnonzero(valid3).astype(np.int64)
    one = np.float32(1.0)
    inv_n1 = one / np.float32(N + D1)
    sums = np.zeros(n, dtype=np.float64)
    cnts = np.zeros(n, dtype=np.float64)
    # Cache blocking: the per-position pipeline materializes ~10 temp
    # arrays; chunking keeps them cache-resident instead of streaming the
    # whole batch through DRAM 10x (the measured bottleneck at 32 workers).
    # Sized so 32 concurrent workers' working sets fit the SHARED L3:
    # ~10 arrays x CHUNK x 4B x 32 workers.
    #
    # Chunk ends snap to ROW boundaries so a row's log-prob sum always
    # accumulates inside a single bincount partial: `sums[r]` receives
    # exactly one non-zero partial regardless of CHUNK, making CHUNK
    # performance-only BY CONSTRUCTION (§2.9 pinned semantics — a
    # different CHUNK can never drift the float64 accumulation grouping).
    row_of = row_id[pos_all]  # non-decreasing
    Np = len(pos_all)
    bounds = [0]
    while bounds[-1] < Np:
        target = bounds[-1] + CHUNK
        if target >= Np:
            bounds.append(Np)
            break
        r = row_of[target]
        hi = int(np.searchsorted(row_of, r, side="left"))
        if hi <= bounds[-1]:  # single row longer than CHUNK: take it whole
            hi = int(np.searchsorted(row_of, r, side="right"))
        bounds.append(hi)
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        pos = pos_all[lo:hi]
        tri_rows = row_id[pos]
        p1 = (T1[uni_full[pos + 2]] + one) * inv_n1
        p2 = np.minimum(
            (T2[bi_full[pos + 1]] + one) / (T1[uni_full[pos + 1]] + np.float32(D1)),
            one,
        )
        p3 = np.minimum(
            (T3[tri_full[pos]] + one) / (T2[bi_full[pos]] + np.float32(D2)), one
        )
        logp = np.log(
            np.float32(0.1) * p1 + np.float32(0.3) * p2 + np.float32(0.6) * p3
        )
        sums += np.bincount(tri_rows, weights=logp.astype(np.float64), minlength=n)
        cnts += np.bincount(tri_rows, minlength=n).astype(np.float64)
    out = np.where(cnts > 0, np.exp(-sums / np.maximum(cnts, 1.0)), 0.0)
    return pd.Series(np.round(out, 6), dtype="float64")
