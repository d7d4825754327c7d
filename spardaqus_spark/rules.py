"""Rule engine: the ONE executable form of the declarative rules.

``apply_rules_pandas`` evaluates a config's Rule objects, in config order,
over a pandas frame of metrics. The oracle (``oracle.run``) and the Spark
scoring kernel (``operators.stages.score_scrub``, in-worker) both call it,
so their verdicts agree by shared code (§2.9.7).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from .config import Rule, parse_verdict


def rule_mask_pandas(rule: Rule, df: pd.DataFrame) -> pd.Series:
    col = df[rule.metric]
    t = rule.threshold
    if rule.op == ">":
        return col > t
    if rule.op == ">=":
        return col >= t
    if rule.op == "<":
        return col < t
    if rule.op == "<=":
        return col <= t
    if rule.op == "==":
        return col == t
    if rule.op == "!=":
        return col != t
    if rule.op == "in":
        return col.isin(list(t))
    if rule.op == "not_in":
        return ~col.isin(list(t))
    if rule.op == "between":
        lo, hi = t
        return (col >= lo) & (col <= hi)
    raise ValueError(rule.op)


def apply_rules_pandas(
    rules: Sequence[Rule], df: pd.DataFrame, verdict: str = "all_pass"
) -> tuple[pd.Series, pd.Series]:
    """Returns (keep: bool Series, rule_hits: Series of list[str]).

    ``verdict='weighted_sum>=tau'``: keep = (no drop rule fires) AND
    Σ weight over fired ``weight:`` rules >= tau. Drop rules stay hard
    vetoes; under ``all_pass`` weight rules are annotation-only."""
    n = len(df)
    tau = parse_verdict(verdict)
    hit_masks = [(r, rule_mask_pandas(r, df).fillna(False).to_numpy()) for r in rules]
    keep = np.ones(n, dtype=bool)
    for r, m in hit_masks:
        if r.action == "drop":
            keep &= ~m
    if tau is not None:
        score = np.zeros(n, dtype=np.float64)
        for r, m in hit_masks:
            w = r.weight
            if w is not None:
                score += np.where(m, w, 0.0)
        keep &= score >= tau
    names = [r.name for r, _ in hit_masks]
    stacked = (
        np.stack([m for _, m in hit_masks], axis=1)
        if hit_masks
        else np.zeros((n, 0), dtype=bool)
    )
    hits = [
        [names[j] for j in np.flatnonzero(stacked[i])] for i in range(n)
    ]
    return pd.Series(keep), pd.Series(hits, dtype=object)
