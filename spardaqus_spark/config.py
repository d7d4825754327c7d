"""Declarative pipeline configuration (Spardaqus-inspired, SURVEY.md §2.6).

YAML -> frozen dataclasses. The rule grammar:

    rules:                      # evaluation order = file order (pinned)
      - name: long_lines
        metric: max_line_len    # any column of files_scored
        op: ">"                 # > >= < <= == != in not_in between
        threshold: 1000
        action: drop            # drop | flag | weight:<float>
    verdict: all_pass           # all_pass | weighted_sum>=<tau>

Verdict semantics (pinned, §2.9.7 + r02 amendment):

- ``all_pass``: a row is kept iff NO ``action: drop`` rule fires;
  ``weight:`` rules behave like ``flag`` (annotation only).
- ``weighted_sum>=tau``: score = Σ weight over FIRED ``weight:`` rules;
  keep iff (no drop rule fires) AND score >= tau — drop rules stay hard
  vetoes, weighted rules are quality votes (write them as positive
  indicators, e.g. ``alnum_ratio >= 0.25  weight:1.0``).

``rule_hits`` lists every fired rule (any action) in config order.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, fields
from pathlib import Path
from typing import Any

import yaml

OPS = {">", ">=", "<", "<=", "==", "!=", "in", "not_in", "between"}


@dataclass(frozen=True)
class Rule:
    name: str
    metric: str
    op: str
    threshold: Any
    action: str = "drop"

    def __post_init__(self) -> None:
        if self.op not in OPS:
            raise ValueError(f"rule {self.name}: unknown op {self.op!r}")
        if self.action not in ("drop", "flag") and self.weight is None:
            raise ValueError(f"rule {self.name}: unknown action {self.action!r}")

    @property
    def weight(self) -> float | None:
        """float for ``action: weight:<float>``, else None."""
        if isinstance(self.action, str) and self.action.startswith("weight:"):
            try:
                return float(self.action.split(":", 1)[1])
            except ValueError:
                return None
        return None


def parse_verdict(verdict: str) -> float | None:
    """-> tau for ``weighted_sum>=<tau>``, None for ``all_pass`` (pinned
    §2.9.7); ValueError for anything else."""
    if verdict == "all_pass":
        return None
    if isinstance(verdict, str) and verdict.startswith("weighted_sum>="):
        try:
            return float(verdict.split(">=", 1)[1])
        except ValueError:
            pass
    raise ValueError(
        f"unknown verdict {verdict!r} (expected all_pass | weighted_sum>=<float>)"
    )


@dataclass(frozen=True)
class PipelineConfig:
    rules: tuple[Rule, ...]
    verdict: str = "all_pass"
    num_buckets: int = 64
    salt_k: int = 8
    # cross-file boilerplate metric (SURVEY §2.9.17, r3): when enabled, a
    # per-file `boilerplate_frac` column is computed BEFORE scoring — the
    # fraction of the file's token occurrences that are repo-boilerplate
    # (tokens present in >= boilerplate_doc_frac of the repo's files, repos
    # with >= boilerplate_min_files files only) — and is referenceable by
    # rules like any other metric. Default OFF: it adds token-grain
    # shuffles to the otherwise 2-shuffle DAG (opt-in cost).
    boilerplate_frac_enabled: bool = False
    boilerplate_doc_frac: float = 0.8
    boilerplate_min_files: int = 2
    lexicon_path: str | None = None
    input_path: str | None = None
    output_path: str | None = None
    table_format: str = "parquet"  # parquet | iceberg (prod)

    def __post_init__(self) -> None:
        parse_verdict(self.verdict)
        # rule names key rule_hit_counts and the lineage ledger's counts
        names = Counter(r.name for r in self.rules)
        dup = sorted(n for n, c in names.items() if c > 1)
        if dup:
            raise ValueError(f"duplicate rule names {dup}")

    @property
    def verdict_tau(self) -> float | None:
        """tau for ``verdict: weighted_sum>=<tau>``, else None."""
        return parse_verdict(self.verdict)


DEFAULT_RULES = (
    Rule("long_lines", "max_line_len", ">", 1000),
    Rule("low_alnum", "alnum_ratio", "<", 0.25),
    Rule("dup_lines", "dup_line_frac", ">", 0.5),
    Rule("autogen", "autogen", "==", True),
    Rule("high_ppl", "ppl", ">", 400.0),
    Rule("langid", "lang_pred", "not_in", ["de", "en", "es", "fr"]),
)


def default_config(**overrides: Any) -> PipelineConfig:
    kw: dict[str, Any] = {"rules": DEFAULT_RULES}
    kw.update(overrides)
    return PipelineConfig(**kw)


def load_config(path: str | Path) -> PipelineConfig:
    raw = yaml.safe_load(Path(path).read_text()) or {}
    rules = tuple(
        Rule(
            name=r["name"],
            metric=r["metric"],
            op=str(r["op"]),
            threshold=r["threshold"],
            action=r.get("action", "drop"),
        )
        for r in raw.get("rules", [])
    ) or DEFAULT_RULES
    # the dataclass is the key list: a typo or a removed key fails loudly
    # instead of silently falling back to its default
    unknown = sorted(set(raw) - {f.name for f in fields(PipelineConfig)})
    if unknown:
        raise ValueError(f"{path}: unknown config keys {unknown}")
    keys = {k: v for k, v in raw.items() if k != "rules"}
    return PipelineConfig(rules=rules, **keys)
