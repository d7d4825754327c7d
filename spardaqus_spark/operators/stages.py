"""Pipeline stage operators — the Spark realization of SURVEY.md §2.5.

Each stage is a pure ``DataFrame -> DataFrame`` function. The hot path
follows the mandate exactly (BASELINE.json:15): Arrow-batched pandas
kernels (``mapInPandas``) for text work, whole-stage-codegen Column
expressions for everything else, zero per-row Python UDFs.

Shuffle budget (SURVEY.md §4.2): ``score_scrub`` is NARROW — it pipelines
over the content-hash partitioning of the dedup window, the only shuffle
here (the pipeline's pre-write bucket repartition is the other one).

``score_scrub`` is the ONE scoring kernel, shared by the batch pipeline,
the streaming micro-batch and the pipeline query: heuristic metrics +
langid + perplexity + the rule verdict (``rules.apply_rules_pandas``, the
oracle's own rule engine) + scrub of kept rows, in one ``mapInPandas``
pass, so the giant ``content`` column crosses the JVM<->Python Arrow
boundary exactly twice (in, and scrubbed out). Models are trained/cached
once per Python worker process (iterator pattern).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd

from ..config import PipelineConfig, default_config
from ..kernels import heuristics, langid, ppl, scrub

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

SCORE_FIELDS = (
    "n_chars bigint, n_lines bigint, max_line_len bigint, avg_line_len double, "
    "alnum_ratio double, dup_line_frac double, blank_frac double, autogen boolean, "
    "lang_pred string, lang_conf double, ppl double"
)


def _schema_str(df: "DataFrame") -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)


def score_scrub(
    df: "DataFrame",
    cfg: PipelineConfig | None = None,
    content_col: str = "content",
) -> "DataFrame":
    """Fully-fused Python stage: metrics + langid + ppl + VERDICT + scrub
    in ONE mapInPandas.

    - `content` crosses the JVM<->Python Arrow boundary exactly twice (in
      once, scrubbed out once) for the WHOLE pipeline — vs four crossings
      for separate score and scrub stages;
    - the verdict runs IN-WORKER via the same ``apply_rules_pandas`` the
      oracle uses (identical semantics by shared code), so the scrub regex
      chain touches ONLY rows that both pass the rules and won the dedup —
      no wasted scrubbing, no extra crossing;
    - dropped rows keep their original bytes (content untouched).

    Output: input columns (content := scrubbed where keep), score struct,
    rule_keep, rule_hits, keep, scrubbed_sha256. Requires an upstream
    ``dup_loser`` column: the dedup window's, or ``lit(False)`` where
    there is no dedup (streaming micro-batches, the pipeline query).
    """
    cfg = cfg or default_config()
    lex = scrub.load_lexicon(cfg.lexicon_path)
    rules = cfg.rules
    verdict_mode = cfg.verdict
    out_schema = (
        f"{_schema_str(df)}, {SCORE_FIELDS}, rule_keep boolean, "
        "rule_hits array<string>, keep boolean, scrubbed_sha256 string"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from ..kernels import textnum
        from ..rules import apply_rules_pandas

        for pdf in batches:
            c = pdf[content_col].fillna("").astype(str).reset_index(drop=True)
            flat = textnum.flatten_codepoints(c)
            m = heuristics.compute_metrics(c, flat=flat)
            lid = langid.predict(c, flat=flat)
            m["lang_pred"] = lid["lang_pred"].to_numpy()
            m["lang_conf"] = lid["lang_conf"].to_numpy()
            m["ppl"] = ppl.perplexity(c, flat=flat).to_numpy()
            # pre-joined cross-file metrics (with_boilerplate_frac) are
            # input columns, not in-worker computations — surface them to
            # the rule engine alongside the row-local metrics
            if "boilerplate_frac" in pdf.columns:
                m["boilerplate_frac"] = pdf["boilerplate_frac"].to_numpy()
            rule_keep, hits = apply_rules_pandas(rules, m, verdict_mode)
            keep = rule_keep.to_numpy() & ~pdf["dup_loser"].to_numpy()

            out = pdf.copy()
            for col in m.columns:
                out[col] = m[col].to_numpy()
            out["rule_keep"] = rule_keep.to_numpy()
            out["rule_hits"] = hits.to_numpy()
            out["keep"] = keep

            content = c.to_numpy(dtype=object).copy()
            sha = pd.array([None] * len(c), dtype=object)
            if keep.any():
                kept_idx = keep.nonzero()[0]
                scrubbed = scrub.scrub_series(c.iloc[kept_idx], lex)
                content[kept_idx] = scrubbed.to_numpy()
                sha[kept_idx] = scrubbed.map(
                    lambda x: hashlib.sha256(x.encode("utf-8")).hexdigest()
                ).to_numpy()
            out[content_col] = content
            out["scrubbed_sha256"] = sha
            yield out

    return df.mapInPandas(fn, out_schema)


# pinned tokenizer (SURVEY §2.9.17): explicit ASCII whitespace class —
# identical across this codegen stage, the oracle's pandas twin
# (oracle.boilerplate_frac) and the boilerplate queries (queries_text.py)
BOILERPLATE_WS = "[ \\t\\n\\r\\f\\x0B]+"


def with_boilerplate_frac(
    df: "DataFrame", cfg: PipelineConfig | None = None
) -> "DataFrame":
    """+ boilerplate_frac:double — the CROSS-FILE stage (VERDICT r02 #7):
    fraction of each file's token occurrences that are repo-boilerplate
    (lowercased ASCII-whitespace tokens present in >= cfg.boilerplate_doc_frac
    of the repo's distinct files; repos with < cfg.boilerplate_min_files
    files contribute no boilerplate; token-less files get 0.0).

    Pure codegen, the q_boilerplate_scalable shape generalized to the
    pipeline: explode tokens -> per-(file, token) occurrence counts ->
    doc-frequency per (repo, token) -> boilerplate set -> two sums per
    file -> left join back. Every shuffle key ((repo,path,commit,tok)
    then (repo,tok)) is high-cardinality and near-uniform, so no
    mega-repo can pin a task; the per-repo totals are broadcast (one row
    per repo). Opt-in via cfg.boilerplate_frac_enabled because it adds
    token-grain shuffles to the 2-shuffle default DAG.

    Structure note (r3 A/B, 105k corpus, warm): per_file feeding three
    consumers LOOKS like a tripled subtree (6 Generate nodes, no static
    ReusedExchange) but AQE reuses the shuffle stage at runtime —
    measured 1.3-1.5 s/pass. The "one-pass" rewrite via COUNT over a
    (repo, tok) window measured 3.9-7.6 s (the window SORT of the token
    table costs more than the reused re-reads), so this multi-consumer
    form is the keeper. The dominant cost of the enabled stage is the
    corpus join-back shuffle on the file key — inherent to attaching any
    cross-file metric ahead of scoring.

    Duplicate (repo, path, commit) coordinates merge into one file for
    both the doc-frequency and the per-file sums (pinned; the oracle twin
    groups identically)."""
    from pyspark.sql import functions as F

    cfg = cfg or default_config()
    file_key = ["repo", "path", "commit"]
    toks = df.select(
        *file_key,
        F.explode(
            F.split(F.trim(F.lower(F.col("content"))), BOILERPLATE_WS)
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    per_file = toks.groupBy(*file_key, "tok").agg(F.count("*").alias("occ"))
    docfreq = per_file.groupBy("repo", "tok").agg(
        F.count("*").alias("n_files")
    )
    totals = (
        df.select(*file_key)
        .distinct()
        .groupBy("repo")
        .agg(F.count("*").alias("n_total"))
    )
    bp = (
        docfreq.join(F.broadcast(totals), "repo")
        .filter(
            (F.col("n_total") >= cfg.boilerplate_min_files)
            & (
                F.col("n_files") / F.col("n_total")
                >= cfg.boilerplate_doc_frac
            )
        )
        .select("repo", "tok")
    )
    occ_all = per_file.groupBy(*file_key).agg(F.sum("occ").alias("occ_all"))
    occ_bp = (
        per_file.join(bp, ["repo", "tok"])
        .groupBy(*file_key)
        .agg(F.sum("occ").alias("occ_bp"))
    )
    frac = occ_all.join(occ_bp, file_key, "left").select(
        *file_key,
        (
            F.coalesce(F.col("occ_bp"), F.lit(0)).cast("double")
            / F.col("occ_all")
        ).alias("boilerplate_frac"),
    )
    return df.join(frac, file_key, "left").fillna(
        0.0, subset=["boilerplate_frac"]
    )


def with_sha(df: "DataFrame", content_col: str = "content") -> "DataFrame":
    from pyspark.sql import functions as F

    return df.withColumn("content_sha256", F.sha2(F.col(content_col), 256))


def dedup_exact(df: "DataFrame") -> "DataFrame":
    """+ dup_loser:boolean. Pinned winner = lexicographically smallest
    (repo, path, commit) per content_sha256 (matches oracle.dedup_flag).
    This is shuffle #1 (hash partition by content hash)."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("content_sha256").orderBy("repo", "path", "commit")
    return df.withColumn("dup_loser", F.row_number().over(w) > 1)
