"""Single-process reference oracle (SURVEY.md §0.3).

/root/reference is empty, so "reference labels" are produced by THIS module:
a pure pandas/NumPy pipeline over the pinned semantics of SURVEY.md §2.9,
with zero Spark dependency. The Spark pipeline must reproduce it exactly
(keep/drop F1 >= 0.99 — engineered 1.0 — and per-row sha256 byte equality
of scrubbed content, BASELINE.json:2,14,15).

Both paths call the IDENTICAL kernel functions; the oracle differs only in
executing them single-process over the whole corpus at once.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from .config import PipelineConfig, default_config
from .kernels import heuristics, langid, ppl, scrub
from .rules import apply_rules_pandas


def sha256_hex(s: pd.Series) -> pd.Series:
    return s.fillna("").astype(str).map(
        lambda x: hashlib.sha256(x.encode("utf-8")).hexdigest()
    )


def score(df: pd.DataFrame) -> pd.DataFrame:
    """input (repo,path,commit,lang,content) -> + metrics + langid + ppl.

    Processes in fixed-size slices (the oracle is single-process; slicing
    bounds peak memory at any corpus size) through the SAME shared-decode
    path the Spark stage uses."""
    from .kernels import textnum

    out = df.reset_index(drop=True).copy()
    parts = []
    step = 8192
    for lo in range(0, len(out), step):
        c = (
            out["content"]
            .iloc[lo : lo + step]
            .fillna("")
            .astype(str)
            .reset_index(drop=True)
        )
        flat = textnum.flatten_codepoints(c)
        m = heuristics.compute_metrics(c, flat=flat)
        lid = langid.predict(c, flat=flat)
        m["lang_pred"] = lid["lang_pred"].to_numpy()
        m["lang_conf"] = lid["lang_conf"].to_numpy()
        m["ppl"] = ppl.perplexity(c, flat=flat).to_numpy()
        parts.append(m)
    if parts:
        sc = pd.concat(parts, ignore_index=True)
        for col in sc.columns:
            out[col] = sc[col].to_numpy()
    return out


def boilerplate_frac(
    df: pd.DataFrame, doc_frac: float = 0.8, min_files: int = 2
) -> pd.Series:
    """Pandas twin of stages.with_boilerplate_frac (SURVEY §2.9.17):
    per-file fraction of token occurrences that are repo-boilerplate.
    Pinned identically: lowercase, explicit ASCII whitespace class
    [ \\t\\n\\r\\f\\x0b]+, empty tokens dropped, file = distinct
    (repo, path, commit), repos below min_files contribute none,
    token-less files -> 0.0. int/int double division both engines —
    bit-identical, no rounding. Input contract: (repo, path, commit) are
    NON-NULL (the files table's primary key) — pandas groupby drops
    NaN keys while Spark's groupBy keeps them, so a null key would
    diverge the twins (code-review r3). Returns a POSITIONALLY aligned
    series (RangeIndex) — callers assign via .to_numpy()."""
    key = ["repo", "path", "commit"]
    # ADVICE r03: a concatenated/sliced input with duplicate index labels
    # makes the reindex() token->row alignment below raise ValueError
    # (reindex refuses non-unique targets) even though the Spark stage
    # handles identical data — normalize to a unique RangeIndex first,
    # mirroring score_scrub's reset_index on content.
    df = df.reset_index(drop=True)
    toks = (
        df["content"]
        .fillna("")
        .astype(str)
        .str.lower()
        .str.split(r"[ \t\n\r\f\x0b]+", regex=True)
    )
    ex = toks.explode()
    d = pd.DataFrame(
        {
            "repo": df["repo"].reindex(ex.index).to_numpy(),
            "path": df["path"].reindex(ex.index).to_numpy(),
            "commit": df["commit"].reindex(ex.index).to_numpy(),
            "tok": ex.to_numpy(),
        }
    )
    d = d[d["tok"].notna() & (d["tok"] != "")]
    per_file = (
        d.groupby(key + ["tok"], sort=False).size().rename("occ").reset_index()
    )
    docfreq = (
        per_file.groupby(["repo", "tok"], sort=False)
        .size()
        .rename("n_files")
        .reset_index()
    )
    totals = (
        df[key]
        .drop_duplicates()
        .groupby("repo", sort=False)
        .size()
        .rename("n_total")
        .reset_index()
    )
    m = docfreq.merge(totals, on="repo")
    bp = m[
        (m["n_total"] >= min_files)
        & (m["n_files"] / m["n_total"] >= doc_frac)
    ][["repo", "tok"]]
    occ_all = per_file.groupby(key)["occ"].sum().rename("occ_all")
    occ_bp = (
        per_file.merge(bp, on=["repo", "tok"])
        .groupby(key)["occ"]
        .sum()
        .rename("occ_bp")
    )
    fr = pd.concat([occ_all, occ_bp], axis=1)
    fr["occ_bp"] = fr["occ_bp"].fillna(0)
    fr["boilerplate_frac"] = fr["occ_bp"].astype("int64").astype(
        "float64"
    ) / fr["occ_all"].astype("float64")
    out = df.merge(
        fr["boilerplate_frac"].reset_index(), on=key, how="left"
    )
    return out["boilerplate_frac"].fillna(0.0)


def dedup_flag(df: pd.DataFrame) -> pd.Series:
    """True for rows that LOSE exact dedup (pinned winner: lexicographically
    smallest (repo, path, commit) per content sha256)."""
    sha = sha256_hex(df["content"])
    key = pd.DataFrame(
        {"sha": sha, "repo": df["repo"], "path": df["path"], "commit": df["commit"]}
    )
    order = key.sort_values(["sha", "repo", "path", "commit"], kind="mergesort")
    winner = ~order.duplicated(subset=["sha"], keep="first")
    return ~winner.sort_index()


def run(df: pd.DataFrame, cfg: PipelineConfig | None = None) -> pd.DataFrame:
    """Full oracle pipeline -> golden frame.

    Columns: input + metrics + lang_pred/lang_conf/ppl + dup_loser + keep +
    rule_hits + content_sha256 + content_scrubbed + scrubbed_sha256.
    `keep` is the FINAL verdict (rules AND dedup).
    """
    cfg = cfg or default_config()
    scored = score(df)
    if cfg.boilerplate_frac_enabled:
        scored["boilerplate_frac"] = boilerplate_frac(
            df, cfg.boilerplate_doc_frac, cfg.boilerplate_min_files
        ).to_numpy()
    rule_keep, hits = apply_rules_pandas(cfg.rules, scored, cfg.verdict)
    dup_loser = dedup_flag(scored)
    scored["dup_loser"] = dup_loser.to_numpy()
    scored["keep"] = rule_keep.to_numpy() & ~dup_loser.to_numpy()
    scored["rule_hits"] = hits.to_numpy()
    scored["content_sha256"] = sha256_hex(scored["content"]).to_numpy()
    lex = scrub.load_lexicon(cfg.lexicon_path)
    scrubbed = scrub.scrub_series(scored["content"], lex)
    # dropped rows keep their original bytes (only kept rows are published)
    scored["content_scrubbed"] = scrubbed.where(scored["keep"], scored["content"]).to_numpy()
    scored["scrubbed_sha256"] = sha256_hex(scored["content_scrubbed"]).to_numpy()
    return scored
