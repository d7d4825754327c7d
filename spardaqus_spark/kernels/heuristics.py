"""Fused per-file heuristic metrics kernel (SURVEY.md §2.5 `heuristics`).

Pinned semantics (SURVEY.md §2.9.2-3, v2 — normative for oracle AND Spark):

- Lines are ``content.split("\\n")``. A trailing "" produced by a final
  newline COUNTS as a line for ``n_lines``/``blank_frac``/``avg_line_len``
  but cannot affect ``max_line_len`` (length 0).
- ``alnum_ratio`` = count of ASCII ``[A-Za-z0-9]`` / max(len, 1).
- ``dup_line_frac`` = (n_nonblank - n_distinct_nonblank) / max(n_nonblank,
  1) over non-blank lines, where "distinct" is v2-pinned as equality of a
  deterministic per-line hash: h = sum over line chars of
  mix(c) * (i + 1), mix(c) = (c * 2654435761) mod 2^20, i = offset in
  line capped at 4095, accumulated exactly in float64 (max magnitude
  ~2^44 < 2^53). Hash-equality == string-equality except for engineered
  collisions; both sides of every comparison share this code.
- ``avg_line_len`` = (n_chars - n_newlines) / n_lines (identical to the
  mean over split parts).
- ``autogen`` = regex ``(?i)(do not edit|auto-?generated|generated by)``
  within the first 2048 characters.

v2 implementation: one pass over the batch's flat uint32 codepoint array
(shared with langid/perplexity via ``textnum.flatten_codepoints`` — the
giant content bytes are decoded ONCE per batch for all three kernels).
Line segmentation, lengths, blanks and dup hashes are single NumPy
bincount/ufunc calls; v1's pandas split/explode/groupby materialized every
line as a Python string object, which dominated DRAM traffic at 32 workers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import textnum

AUTOGEN_RE = r"(?i)(?:do not edit|auto-?generated|generated by)"

_MIX = np.uint32(2654435761)
_NL = np.uint32(10)


def _empty_frame() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "n_chars": pd.Series([], dtype="int64"),
            "n_lines": pd.Series([], dtype="int64"),
            "max_line_len": pd.Series([], dtype="int64"),
            "avg_line_len": pd.Series([], dtype="float64"),
            "alnum_ratio": pd.Series([], dtype="float64"),
            "dup_line_frac": pd.Series([], dtype="float64"),
            "blank_frac": pd.Series([], dtype="float64"),
            "autogen": pd.Series([], dtype="bool"),
        }
    )


def compute_metrics(
    content: pd.Series,
    flat: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
) -> pd.DataFrame:
    """Heuristic metric struct for a batch; ``flat`` is the optional
    precomputed ``flatten_codepoints`` triple (shared-decode fast path)."""
    s = content.fillna("").astype(str).reset_index(drop=True)
    n = len(s)
    if n == 0:
        return _empty_frame()
    if flat is None:
        flat = textnum.flatten_codepoints(s)
    codes, row_id, lengths = flat
    L = len(codes)

    n_chars = lengths.astype(np.int64)
    safe_chars = np.maximum(n_chars, 1).astype(np.float64)

    if L == 0:
        # every row empty: 1 blank line each
        out = _empty_frame()
        return pd.DataFrame(
            {
                "n_chars": np.zeros(n, dtype=np.int64),
                "n_lines": np.ones(n, dtype=np.int64),
                "max_line_len": np.zeros(n, dtype=np.int64),
                "avg_line_len": np.zeros(n, dtype=np.float64),
                "alnum_ratio": np.zeros(n, dtype=np.float64),
                "dup_line_frac": np.zeros(n, dtype=np.float64),
                "blank_frac": np.ones(n, dtype=np.float64),
                "autogen": np.zeros(n, dtype=bool),
            }
        )[out.columns]

    # --- alnum ratio: one mask + one bincount -----------------------------
    alnum_mask = (
        ((codes >= 48) & (codes <= 57))
        | ((codes >= 65) & (codes <= 90))
        | ((codes >= 97) & (codes <= 122))
    )
    alnum = np.bincount(row_id[alnum_mask], minlength=n).astype(np.float64)
    alnum_ratio = alnum / safe_chars

    # --- line segmentation over the flat array ----------------------------
    nl = codes == _NL
    n_nl = np.bincount(row_id[nl], minlength=n).astype(np.int64)
    n_lines = n_nl + 1
    avg_line_len = (n_chars - n_nl) / n_lines.astype(np.float64)

    # a segment starts at position 0, after every newline, at every row change
    start_new = np.empty(L, dtype=bool)
    start_new[0] = True
    if L > 1:
        start_new[1:] = nl[:-1] | (row_id[1:] != row_id[:-1])
    seg_id = np.cumsum(start_new) - 1          # per-char segment index
    seg_starts = np.flatnonzero(start_new)
    seg_row = row_id[seg_starts]               # row of each segment
    n_segs = len(seg_starts)
    # segment length excludes the newline terminator char
    seg_len = np.bincount(seg_id[~nl], minlength=n_segs).astype(np.int64)

    max_line_len = np.zeros(n, dtype=np.int64)
    np.maximum.at(max_line_len, seg_row, seg_len)

    # trailing-newline rows own one extra (empty) line not materialized as
    # a segment; empty rows are one blank line
    ends = np.cumsum(lengths) - 1
    nonempty = lengths > 0
    trailing = np.zeros(n, dtype=np.int64)
    trailing[nonempty] = (codes[ends[nonempty]] == _NL).astype(np.int64)
    blank_segs = np.bincount(seg_row[seg_len == 0], minlength=n).astype(np.int64)
    blanks = blank_segs + trailing + (~nonempty).astype(np.int64)
    blank_frac = blanks / n_lines.astype(np.float64)

    # --- dup-line fraction over non-blank segments ------------------------
    # per-line hash: sum(mix(c) * (i_local + 1)) in exact float64
    row_start = np.zeros(n, dtype=np.int64)
    row_start[1:] = np.cumsum(lengths)[:-1]
    i_in_row = np.arange(L, dtype=np.int64) - row_start[row_id]
    seg_start_in_row = i_in_row[seg_starts]
    i_local = np.minimum(i_in_row - seg_start_in_row[seg_id], 4095)
    mixed = ((codes * _MIX) % np.uint32(1 << 20)).astype(np.float64)
    w = mixed * (i_local + 1).astype(np.float64)
    seg_hash = np.bincount(seg_id[~nl], weights=w[~nl], minlength=n_segs)

    nb = seg_len > 0
    nb_count = np.bincount(seg_row[nb], minlength=n).astype(np.float64)
    if nb.any():
        r, h = seg_row[nb], seg_hash[nb]
        order = np.lexsort((h, r))
        rs, hs = r[order], h[order]
        first = np.empty(len(rs), dtype=bool)
        first[0] = True
        first[1:] = (rs[1:] != rs[:-1]) | (hs[1:] != hs[:-1])
        nb_distinct = np.bincount(rs[first], minlength=n).astype(np.float64)
    else:
        nb_distinct = np.zeros(n, dtype=np.float64)
    dup_line_frac = (nb_count - nb_distinct) / np.maximum(nb_count, 1.0)

    # same match set as AUTOGEN_RE ('auto-?generated' = the two literal
    # spellings), but via lowercased memmem scans instead of an (?i)
    # alternation regex — ~10x cheaper per byte
    head = s.str.slice(0, 2048).str.lower()
    autogen = (
        head.str.contains("do not edit", regex=False)
        | head.str.contains("generated by", regex=False)
        | head.str.contains("autogenerated", regex=False)
        | head.str.contains("auto-generated", regex=False)
    ).astype(bool)

    return pd.DataFrame(
        {
            "n_chars": n_chars,
            "n_lines": n_lines,
            "max_line_len": max_line_len,
            "avg_line_len": pd.Series(avg_line_len, dtype="float64"),
            "alnum_ratio": pd.Series(alnum_ratio, dtype="float64"),
            "dup_line_frac": pd.Series(dup_line_frac, dtype="float64"),
            "blank_frac": pd.Series(blank_frac, dtype="float64"),
            "autogen": autogen,
        }
    )
