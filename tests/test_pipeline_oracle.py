"""THE correctness gate (SURVEY.md §0.3 / BASELINE.md):

- keep/drop F1 vs oracle labels >= 0.99 (engineered 1.0),
- scrubbed text byte-equality via per-row sha256,
- untouched-content invariant (sha256(content_out) == sha256(content_in)
  for kept rows with no scrub hit),
- partition invariance (same verdicts at any repartition/salt),
- lineage conservation, planted-strata behavior.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spardaqus_spark import oracle, pipeline
from spardaqus_spark.config import default_config


@pytest.fixture(scope="module")
def spark_verdict(spark, corpus_sdf):
    v = pipeline.build_verdict_frame(corpus_sdf, default_config())
    pdf = v.select(
        "repo", "path", "commit", "keep", "rule_hits", "dup_loser",
        "lang_pred", "lang_conf", "ppl", "max_line_len", "alnum_ratio",
        "dup_line_frac", "autogen", "content_sha256",
    ).toPandas()
    return pdf


def _join(golden: pd.DataFrame, got: pd.DataFrame) -> pd.DataFrame:
    key = ["repo", "path", "commit"]
    g = golden.set_index(key)
    s = got.set_index(key)
    assert len(g) == len(s)
    j = g.join(s, how="inner", lsuffix="_o", rsuffix="_s")
    assert len(j) == len(g), "join lost rows — key mismatch"
    return j


def test_keep_drop_f1_is_one(golden, spark_verdict):
    j = _join(
        golden[["repo", "path", "commit", "keep"]],
        spark_verdict[["repo", "path", "commit", "keep"]],
    )
    tp = ((j["keep_o"]) & (j["keep_s"])).sum()
    fp = ((~j["keep_o"]) & (j["keep_s"])).sum()
    fn = ((j["keep_o"]) & (~j["keep_s"])).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 == 1.0, f"F1={f1} (tp={tp} fp={fp} fn={fn})"


def test_scores_and_rule_hits_exact(golden, spark_verdict):
    j = _join(golden, spark_verdict)
    for col in ("lang_pred", "ppl", "lang_conf", "max_line_len"):
        assert (j[f"{col}_o"] == j[f"{col}_s"]).all(), col
    assert (
        j["rule_hits_o"].map(tuple) == j["rule_hits_s"].map(tuple)
    ).all()
    assert (j["dup_loser_o"] == j["dup_loser_s"]).all()


def test_scrub_sha256_byte_equality(spark, corpus_sdf, golden):
    v = pipeline.build_verdict_frame(corpus_sdf, default_config())
    clean = pipeline.build_clean_frame(v)
    got = clean.select("repo", "path", "commit", "scrubbed_sha256").toPandas()
    g = golden[golden["keep"]]
    j = _join(
        g[["repo", "path", "commit", "scrubbed_sha256"]].rename(
            columns={"scrubbed_sha256": "sha_o"}
        ),
        got.rename(columns={"scrubbed_sha256": "sha_s"}),
    )
    assert len(j) == len(g)
    assert (j["sha_o"] == j["sha_s"]).all()


def test_untouched_rows_sha_invariant(golden, corpus_pdf):
    # kept rows with no scrub hit must keep identical bytes (BASELINE.json:15)
    g = golden.copy()
    g["stratum"] = corpus_pdf["stratum"].to_numpy()
    kept = g[g["keep"]]
    untouched = kept[kept["content_scrubbed"] == kept["content"]]
    assert (untouched["scrubbed_sha256"] == untouched["content_sha256"]).all()
    # and the pii/toxic strata really do change bytes
    hit = kept[kept["stratum"].isin(["pii", "toxic"])]
    assert (hit["scrubbed_sha256"] != hit["content_sha256"]).all()


def test_partition_invariance(spark, corpus_sdf, golden):
    # same verdicts regardless of physical partitioning (SURVEY §5.4c)
    cfg = default_config(num_buckets=7, salt_k=3)
    v = pipeline.build_verdict_frame(corpus_sdf.repartition(13), cfg)
    got = v.select("repo", "path", "commit", "keep").toPandas()
    j = _join(golden[["repo", "path", "commit", "keep"]], got)
    assert (j["keep_o"] == j["keep_s"]).all()


def test_planted_strata_behavior(golden, corpus_pdf):
    g = golden.copy()
    g["stratum"] = corpus_pdf["stratum"].to_numpy()
    by = g.groupby("stratum")["keep"].mean()
    for bad in ("long_lines", "low_alnum", "dup_lines", "autogen", "high_ppl", "wrong_lang"):
        assert by[bad] == 0.0, f"{bad}: {by[bad]}"
    assert by["pii"] == 1.0
    assert by["toxic"] == 1.0
    assert by["clean"] > 0.9
    # each defect stratum fires its own rule
    rule_for = {
        "long_lines": "long_lines", "low_alnum": "low_alnum",
        "dup_lines": "dup_lines", "autogen": "autogen",
        "high_ppl": "high_ppl", "wrong_lang": "langid",
    }
    for stratum, rule in rule_for.items():
        rows = g[g["stratum"] == stratum]
        assert rows["rule_hits"].map(lambda h: rule in h).all(), stratum


def test_boilerplate_config_yaml_roundtrip(tmp_path):
    """The r3 config keys must survive the YAML loader (load_config wiring
    is separate code from the dataclass defaults)."""
    from spardaqus_spark.config import load_config

    y = tmp_path / "p.yaml"
    y.write_text(
        "rules:\n"
        "  - {name: bp, metric: boilerplate_frac, op: '>', threshold: 0.5, action: drop}\n"
        "boilerplate_frac_enabled: true\n"
        "boilerplate_doc_frac: 0.7\n"
        "boilerplate_min_files: 3\n"
    )
    cfg = load_config(y)
    assert cfg.boilerplate_frac_enabled is True
    assert cfg.boilerplate_doc_frac == 0.7
    assert cfg.boilerplate_min_files == 3
    assert cfg.rules[0].metric == "boilerplate_frac"


def test_load_config_rejects_unknown_keys(tmp_path):
    """A misspelt or removed top-level key must fail loudly, naming the
    key — never fall back to the field's default without a word."""
    from spardaqus_spark.config import load_config

    y = tmp_path / "p.yaml"
    y.write_text("verdict: all_pass\nnum_bukets: 8\nsalt_k: 4\nsalt: 2\n")
    with pytest.raises(ValueError, match=r"\['num_bukets', 'salt'\]"):
        load_config(y)
    # every shipped config loads
    for shipped in sorted((Path(__file__).parents[1] / "conf").glob("*.yaml")):
        load_config(shipped)


def test_config_rejects_duplicate_rule_names(tmp_path):
    """Rule names key rule_hit_counts and the lineage ledger's per-rule
    counts: two rules sharing a name would merge their counts, so the
    config must refuse them, naming the duplicate."""
    from spardaqus_spark.config import DEFAULT_RULES, Rule, load_config

    y = tmp_path / "p.yaml"
    y.write_text(
        "rules:\n"
        "  - {name: long, metric: max_line_len, op: '>', threshold: 1000}\n"
        "  - {name: long, metric: max_line_len, op: '>', threshold: 500}\n"
    )
    with pytest.raises(ValueError, match=r"duplicate rule names \['long'\]"):
        load_config(y)
    with pytest.raises(ValueError, match=r"\['autogen'\]"):
        default_config(
            rules=DEFAULT_RULES + (Rule("autogen", "ppl", ">", 1.0),)
        )


def test_boilerplate_stage_matches_oracle(spark, corpus_sdf, corpus_pdf):
    """VERDICT r02 #7: the opt-in cross-file boilerplate stage. With
    boilerplate_frac_enabled and a rule over the new metric, the Spark
    pipeline (codegen cross-file stage + in-worker verdict) must agree
    with the oracle (pandas twin) exactly — column values AND keep
    decisions (F1 = 1.0). Threshold 0.2 is calibrated non-vacuous on the
    fixture corpus: ~100 of 840+ rows exceed it."""
    from spardaqus_spark.config import DEFAULT_RULES, Rule

    cfg = default_config(
        rules=DEFAULT_RULES
        + (Rule("boilerplate", "boilerplate_frac", ">", 0.2),),
        boilerplate_frac_enabled=True,
        num_buckets=8,
    )
    inp = corpus_pdf[["repo", "path", "commit", "lang", "content"]]
    g = oracle.run(inp, cfg)
    assert 0 < (g["boilerplate_frac"] > 0.2).sum() < len(g), "vacuous rule"

    v = pipeline.build_verdict_frame(corpus_sdf, cfg)
    got = v.select(
        "repo", "path", "commit", "boilerplate_frac", "keep", "rule_hits"
    ).toPandas()
    j = _join(
        g[["repo", "path", "commit", "boilerplate_frac", "keep", "rule_hits"]],
        got,
    )
    # bit-identical metric (int/int double division in both engines)
    assert (j["boilerplate_frac_o"] == j["boilerplate_frac_s"]).all()
    assert (j["keep_o"] == j["keep_s"]).all()
    assert (
        j["rule_hits_o"].map(tuple) == j["rule_hits_s"].map(tuple)
    ).all()
    # the new rule actually fires somewhere
    assert j["rule_hits_s"].map(lambda h: "boilerplate" in h).any()


def test_boilerplate_stage_tokenizer_edges(spark):
    """The pinned ASCII-whitespace tokenizer at its edges, Spark stage vs
    pandas twin, exact float equality: tokens split only by \\x0b, \\f or
    \\r\\n, leading and trailing newlines, a no-break space that splits
    nothing, upper case. Repo ``b``'s whitespace-only, empty and null
    files hold no token but still count as files, so ``x`` (in 4 of 7)
    is not boilerplate there; repo ``c`` is below boilerplate_min_files."""
    from spardaqus_spark.operators import stages

    rows = [
        ("a", "1", "import os\x0bdef main\fpass\r\nreturn\u00a0x"),
        ("a", "2", "\n\nimport os\ndef helper\n\n"),
        ("a", "3", "IMPORT\tOS\r\ndef\x0bfoo\n"),
        ("a", "4", "import os def"),
        ("b", "1", "x one two"),
        ("b", "2", "x\x0btwo"),
        ("b", "3", "x\ftwo"),
        ("b", "4", "\r\nx\r\n"),
        ("b", "5", " \t\n\x0b\f\r\n "),
        ("b", "6", ""),
        ("b", "7", None),
        ("c", "1", "import os def"),
    ]
    pdf = pd.DataFrame(
        [(r, p, "c0", t) for r, p, t in rows],
        columns=["repo", "path", "commit", "content"],
    )
    cfg = default_config()
    want = pdf[["repo", "path", "commit"]].assign(
        boilerplate_frac=oracle.boilerplate_frac(pdf).to_numpy()
    )
    assert ((want["boilerplate_frac"] > 0) & (want["boilerplate_frac"] < 1)).any()
    sdf = spark.createDataFrame(
        pdf, "repo string, path string, commit string, content string"
    )
    got = (
        stages.with_boilerplate_frac(sdf, cfg)
        .select("repo", "path", "commit", "boilerplate_frac")
        .toPandas()
    )
    j = _join(want, got)
    assert (j["boilerplate_frac_o"] == j["boilerplate_frac_s"]).all(), j


def _lineage(v, cfg, run_id="t"):
    """The run's lineage rows from one ledger over ``v``, write counts
    derived from the ledger (no sink to read back)."""
    from spardaqus_spark.plans import lineage as lin

    rules = [r.name for r in cfg.rules]
    ledger = lin.ledger(v, rules, "bucket")
    rows = lin.lineage_rows(ledger, run_id, rules, lin.kept_per(ledger, "bucket"))
    return v.sparkSession.createDataFrame(rows, lin.LINEAGE_SCHEMA).toPandas()


def test_lineage_conservation(spark, corpus_sdf):
    cfg = default_config()
    v = pipeline.build_verdict_frame(corpus_sdf, cfg).cache()
    total = v.count()
    kept = v.filter(F.col("keep")).count()
    ldf = _lineage(v, cfg)
    verdict = ldf[ldf["stage"] == "verdict"]
    assert verdict["files_in"].sum() == total
    assert verdict["files_out"].sum() == kept
    v.unpersist()


def test_per_stage_lineage_conservation(spark, corpus_sdf):
    """[B:6] 'every stage writes per-partition lineage rows': the ledger
    yields dedup/score/verdict/scrub/write rows whose per-stage sums obey
    the DAG's conservation laws."""
    cfg = default_config()
    v = pipeline.build_verdict_frame(corpus_sdf, cfg).cache()
    total = v.count()
    surv = v.filter(~F.col("dup_loser")).count()
    kept = v.filter(F.col("keep")).count()
    ldf = _lineage(v, cfg)
    sums = {
        stage: (int(g["files_in"].sum()), int(g["files_out"].sum()))
        for stage, g in ldf.groupby("stage")
    }
    assert set(sums) == {"dedup", "score", "verdict", "scrub", "write"}
    assert sums["dedup"] == (total, surv)
    assert sums["score"] == (total, total)
    assert sums["verdict"] == (total, kept)
    assert sums["scrub"] == (kept, kept)
    assert sums["write"] == (kept, kept)
    # rule_hit_counts attach to verdict rows only
    assert ldf[ldf["stage"] != "verdict"]["rule_hit_counts"].isna().all()
    v.unpersist()


def test_weighted_verdict_f1_is_one(spark, corpus_sdf, corpus_pdf):
    """§2.6 full grammar: `action: weight:<float>` + `verdict:
    weighted_sum>=tau` end-to-end. The Spark pipeline's in-worker verdict
    and the pandas oracle must agree exactly (one rule engine, shared),
    and the config must be NON-VACUOUS on this corpus (both kept and
    dropped rows exist)."""
    from spardaqus_spark.config import load_config

    cfg = load_config("conf/pipeline_weighted.yaml")
    assert cfg.verdict_tau == 3.0
    assert [r.weight for r in cfg.rules] == [None, 1.0, 1.0, 1.5, 0.5]

    v = pipeline.build_verdict_frame(corpus_sdf, cfg)
    got = v.select("repo", "path", "commit", "keep").toPandas()
    o = oracle.run(
        corpus_pdf[["repo", "path", "commit", "lang", "content"]], cfg
    )
    j = _join(o[["repo", "path", "commit", "keep"]], got)
    tp = ((j["keep_o"]) & (j["keep_s"])).sum()
    fp = ((~j["keep_o"]) & (j["keep_s"])).sum()
    fn = ((j["keep_o"]) & (~j["keep_s"])).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 == 1.0, f"F1={f1} (tp={tp} fp={fp} fn={fn})"
    kept = int(j["keep_o"].sum())
    assert 0 < kept < len(j), f"vacuous weighted config: kept={kept}/{len(j)}"


def test_weighted_grammar_validation():
    from spardaqus_spark.config import PipelineConfig, Rule

    with pytest.raises(ValueError):
        Rule("bad", "ppl", ">", 1.0, action="weight:abc")
    with pytest.raises(ValueError):
        PipelineConfig(rules=(), verdict="weighted_sum>oops")
    r = Rule("ok", "ppl", "<=", 400.0, action="weight:2.5")
    assert r.weight == 2.5
    # thresholds of the wrong shape: a string is not a value list, and
    # between takes exactly [lo, hi]
    for op, t in (
        ("in", "en"), ("not_in", "en"), ("between", 5), ("between", [1, 2, 3])
    ):
        with pytest.raises(ValueError, match=f"rule x: op {op}"):
            Rule("x", "lang_pred", op, t)
    assert Rule("x", "ppl", "between", (1.0, 2.0)).threshold == (1.0, 2.0)


def test_boilerplate_oracle_accepts_duplicate_index(corpus_pdf):
    """ADVICE r03: a concatenated/sliced input frame with non-unique index
    labels must not crash the pandas twin (reindex raises ValueError on
    duplicate targets) — and must give the same values as the same rows
    with a clean index."""
    import pandas as pd

    from spardaqus_spark.oracle import boilerplate_frac

    inp = corpus_pdf[["repo", "path", "commit", "lang", "content"]].head(200)
    dup = pd.concat([inp.head(100), inp.tail(100)])
    dup.index = [0] * 100 + list(range(100))  # heavily duplicated labels
    got = boilerplate_frac(dup)
    ref = boilerplate_frac(inp.reset_index(drop=True))
    assert (got.to_numpy() == ref.to_numpy()).all()
