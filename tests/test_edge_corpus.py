"""Edge-corpus parity for the tokenizer users among the queries: run
`sequence_packing` and `corpus_build` on Spark AND through their DuckDB
oracles over a hand-built pathological `documents` table (empty text,
whitespace-only text, a single token, all-equal tokens, sub-8-token
docs, an unknown lang, a zero-token source) and require the strict
canonical match of test_queries.

The sf0.01 parity test (test_queries.py) proves the twins agree on the
REAL corpus; this proves they agree where the edge semantics live — the
pinned ASCII-whitespace split, the removal of empty tokens and the
packer's exclusive running sum over zero-token docs."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

from test_queries import _canon

_DOCS = pd.DataFrame(
    {
        "doc_id": [0, 1, 2, 3, 4, 5, 6, 11],
        "text": [
            "q w e r t y u i o p",          # 10 tokens
            "z z q w e r t y u i",           # 10 tokens, shares a run with doc 0
            "",                               # empty text
            " \t\n ",                         # whitespace-only -> 0 tokens
            "lonely",                         # single token
            "a a a a a a",                    # all-equal tokens
            "seven short tokens only here now x",  # 7 tokens
            "unique words entirely here believe me truly",
        ],
        "lang": ["en", "en", "xx", "fr", "en", "es", "en", "de"],
        "source": ["s1", "s1", "s_empty", "s_empty", "s2", "s2", "s2", "s2"],
    }
)
_DOCS["n_chars"] = _DOCS["text"].str.len().astype("int64")

_OPS = ["sequence_packing", "corpus_build"]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_corpus")
    _DOCS.to_parquet(d / "documents.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", _OPS)
def test_edge_corpus_parity(spark, edge_dir, name):
    got = entrymod.queries()[name](spark, edge_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{edge_dir}/documents.parquet')"
    )
    exp = con.execute(entrymod.oracle_sql()[name]).df()
    assert sorted(got.columns) == sorted(exp.columns)
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    assert _canon(got) == _canon(exp)


def test_edge_corpus_semantics(spark, edge_dir):
    """Spot-check the intended edge behaviors (not just parity): the
    empty and whitespace-only docs still count as docs but add no
    phantom token, so a one-token drift cannot shift later bins."""
    pk = (
        entrymod.queries()["sequence_packing"](spark, edge_dir)
        .toPandas()
        .set_index("source")
    )
    assert pk.loc["s_empty", "n_docs"] == 2
    assert pk.loc["s_empty", "tot_tokens"] == 0
    assert pk.loc["s1", "tot_tokens"] == 20


def test_sequence_packing_budget_invariant(spark):
    """Offset-based packing (bin = floor(exclusive_cumsum / B)) lets a
    bin's LAST doc spill past the boundary, so the tight algebraic
    invariant is tot_tokens < B + last_doc_tokens per bin (derivation:
    the bin's first doc starts at offset >= b*B and its last doc starts
    < (b+1)*B). Checked at sf0.1 where 70 of 140 bins genuinely spill —
    a naive "tot <= B unless single doc" assertion would pass sf0.01
    only by accident (per-source totals fit one bin) and is WRONG."""
    out = (
        entrymod.queries()["sequence_packing"](spark, "/root/testdata/sf0.1")
        .toPandas()
    )
    con = duckdb.connect()
    doc = con.execute(
        r"""
      WITH t AS (
        SELECT source, doc_id,
               len(list_filter(regexp_split_to_array(text, '[ \t\n\r\f\x0B]+'),
                               x -> x <> '')) AS n_tok
        FROM read_parquet('/root/testdata/sf0.1/documents.parquet')
      )
      SELECT source, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
               AS bin
      FROM t
    """
    ).df()
    last_tok = (
        doc.sort_values(["source", "doc_id"])
        .groupby(["source", "bin"])["n_tok"]
        .last()
        .rename("last_tok")
        .reset_index()
    )
    m = out.merge(last_tok, on=["source", "bin"], how="left")
    assert m["last_tok"].notna().all()
    assert (m["tot_tokens"] < 2048 + m["last_tok"]).all()
    # spill really happens at this sf — the bound is non-vacuous
    assert (m["tot_tokens"] > 2048).any()


def test_minhash_survives_null_text(spark, tmp_path):
    """code-review r4: a NULL `text` row must be DROPPED by the kernel
    signature stage (matching the r1-r3 explode form and the _shingles
    verification side) — not crash the python worker with
    NoneType.encode. Two identical docs are planted so the candidate
    path stays non-vacuous."""
    d = tmp_path / "nulls"
    d.mkdir()
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the same text body repeated here for a near dup pair " * 4,
                "the same text body repeated here for a near dup pair " * 4,
                None,
            ],
            "lang": ["en", "en", "en"],
            "source": ["s1", "s1", "s1"],
            "n_chars": [212, 212, 0],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    from spardaqus_spark import queries_ml as QM

    sigs = QM.minhash_signatures(
        spark.read.parquet(str(d / "documents.parquet")).select("doc_id", "text")
    ).toPandas()
    assert sorted(sigs["doc_id"]) == [1, 2]  # null doc dropped, not crashed
    cand = QM.q_minhash_lsh_candidates(spark, str(d)).toPandas()
    assert set(zip(cand["d1"], cand["d2"])) == {(1, 2)}
    verified = QM.q_minhash_lsh_pairs(spark, str(d)).toPandas()
    assert set(zip(verified["d1"], verified["d2"])) == {(1, 2)}
