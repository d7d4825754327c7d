"""Streaming smoke (SURVEY.md §5.6): file-source stream through the
foreachBatch pipeline reuse, equivalence of the streamed scrub output with
the batch pipeline, and the stateful MinHash candidate stream."""

from __future__ import annotations

import os
import re
from collections import Counter
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spardaqus_spark.config import default_config
from spardaqus_spark.operators import stages
from spardaqus_spark.streaming import pipeline as spipe

CFG = default_config()

FILES_SCHEMA = "repo string, path string, commit string, lang string, content string"


@pytest.fixture(scope="module")
def stream_src_dir(corpus_pdf, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    pdf = corpus_pdf[["repo", "path", "commit", "lang", "content"]].head(300)
    # two "arriving" files
    pdf.iloc[:150].to_parquet(d / "part1.parquet", index=False)
    pdf.iloc[150:].to_parquet(d / "part2.parquet", index=False)
    return d


def test_scrub_stream_matches_batch(spark, stream_src_dir, tmp_path, corpus_pdf):
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    stream = (
        spark.readStream.schema(FILES_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force >1 micro-batch
        .parquet(str(stream_src_dir))
    )
    q = spipe.scrub_stream(stream, str(out), str(ckpt), CFG)
    q.awaitTermination(120)

    got = spark.read.parquet(str(out))
    # oracle reference over the same 300 rows: the stream path applies the
    # RULE verdict only (no cross-batch dedup stage)
    from spardaqus_spark import oracle
    from spardaqus_spark.rules import apply_rules_pandas

    pdf = corpus_pdf[["repo", "path", "commit", "lang", "content"]].head(300)

    scored = oracle.score(pdf)
    rule_keep, _ = apply_rules_pandas(CFG.rules, scored)
    exp = scored[rule_keep.to_numpy()]
    assert got.count() == len(exp)
    # byte equality on the streamed scrub
    gp = got.select("repo", "path", "commit", "scrubbed_sha256").toPandas()
    from spardaqus_spark.kernels import scrub
    import hashlib

    lex = scrub.load_lexicon(CFG.lexicon_path)
    exp_sha = scrub.scrub_series(exp["content"], lex).map(
        lambda x: hashlib.sha256(x.encode()).hexdigest()
    )
    ref = exp[["repo", "path", "commit"]].copy()
    ref["sha_o"] = exp_sha.to_numpy()
    m = ref.merge(gp, on=["repo", "path", "commit"])
    assert len(m) == len(ref)
    assert (m["sha_o"] == m["scrubbed_sha256"]).all()
    # multiple micro-batches actually happened
    assert got.select("batch_id").distinct().count() > 1


def test_stream_source_seam(spark, tmp_path):
    from spardaqus_spark.sources import io as sio

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = tmp_path / "ev5"
    ev.write.parquet(str(src))
    stream = sio.read_stream_source(
        spark, path=str(src), schema=ev.schema,
        max_files_per_trigger=1,
    )
    assert stream.isStreaming


def test_micro_batch_retry_is_idempotent(spark, corpus_pdf, tmp_path):
    """ADVICE r01: a Structured Streaming retry re-runs a micro-batch whose
    write already landed. The batch_id-partitioned dynamic-overwrite sink
    must absorb the replay with zero duplicate rows."""
    out = tmp_path / "retry_out"
    pdf = corpus_pdf[["repo", "path", "commit", "lang", "content"]].head(120)
    bdf = spark.createDataFrame(pdf)
    spipe.score_micro_batch(bdf, 7, CFG, str(out))
    first = spark.read.parquet(str(out)).toPandas()
    spipe.score_micro_batch(bdf, 7, CFG, str(out))  # the retry
    second = spark.read.parquet(str(out)).toPandas()
    assert len(second) == len(first)
    key = ["repo", "path", "commit"]
    a = first.sort_values(key).reset_index(drop=True)
    b = second.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[key + ["scrubbed_sha256"]], b[key + ["scrubbed_sha256"]]
    )
    # a DIFFERENT batch id appends alongside, untouched
    spipe.score_micro_batch(bdf, 8, CFG, str(out))
    n = spark.read.parquet(str(out)).count()
    assert n == 2 * len(first)

    # streaming lineage parity (VERDICT r02 #4): per-stage lineage landed
    # per micro-batch, idempotent under the SAME retry — batch 7 ran twice
    # but its lineage rows exist exactly once, and conservation holds per
    # batch: score in == 120 batch rows, verdict out == kept == scrub out
    # == rows the data sink holds for that batch; the verdict rows' rule
    # hit counts sum to the rule_hits of the batch's scored rows.
    want_hits = {
        r["rule"]: r["count"]
        for r in stages.score_scrub(
            stages.with_sha(bdf).withColumn("dup_loser", F.lit(False)), CFG
        )
        .select(F.explode("rule_hits").alias("rule"))
        .groupBy("rule")
        .count()
        .collect()
    }
    assert want_hits
    lin = spark.read.parquet(str(out) + "_lineage").toPandas()
    assert sorted(lin["batch_id"].unique()) == [7, 8]
    dupes = lin.groupby(["batch_id", "stage", "partition_id"]).size()
    assert (dupes == 1).all()
    for bid in (7, 8):
        lb = lin[lin["batch_id"] == bid]
        kept_rows = (
            spark.read.parquet(str(out))
            .filter(F.col("batch_id") == bid)
            .count()
        )
        by_stage = lb.groupby("stage")[["files_in", "files_out"]].sum()
        assert by_stage.loc["score", "files_in"] == len(pdf)
        assert by_stage.loc["score", "files_out"] == len(pdf)
        assert by_stage.loc["verdict", "files_out"] == kept_rows
        assert by_stage.loc["scrub", "files_in"] == kept_rows
        assert by_stage.loc["scrub", "files_out"] == kept_rows
        # sink-observed write stage (code-review r3): one sink-grain row
        # whose files_out is counted from the written batch partition
        assert by_stage.loc["write", "files_in"] == kept_rows
        assert by_stage.loc["write", "files_out"] == kept_rows
        assert (lb[lb["stage"] == "write"]["partition_id"] == -1).all()
        hits = Counter()
        for m in lb[lb["stage"] == "verdict"]["rule_hit_counts"].dropna():
            hits.update(dict(m))
        assert dict(hits) == want_hits
        assert lb[lb["stage"] != "verdict"]["rule_hit_counts"].isna().all()


def test_micro_batch_job_budget(spark, corpus_sdf, tmp_path):
    """One micro-batch = the scored write (scoring into the cache) and ONE
    collected ledger aggregate (two jobs): 3 Spark jobs on 120 rows. The
    batch dir is counted from its parquet footers and the lineage file is
    published by the driver, neither by a Spark job. No Spark read-back,
    lineage write, extra kept count or second aggregate may creep back
    in."""
    sc = spark.sparkContext
    bdf = corpus_sdf.limit(120)
    sc.setJobGroup("micro_batch", "score_micro_batch job budget")
    try:
        spipe.score_micro_batch(bdf, 3, CFG, str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("micro_batch")) == 3


def test_stream_refuses_a_uri_sink(spark, corpus_sdf, stream_src_dir, tmp_path):
    """The sink is counted from its footers and its lineage published by
    ``os.replace``, so it must be a local path: a ``scheme://`` sink,
    even ``file://``, is refused naming it, before anything is written
    or a query starts."""
    uri = f"file://{tmp_path}/out"
    with pytest.raises(ValueError, match=re.escape(uri)):
        spipe.score_micro_batch(corpus_sdf.limit(10), 0, CFG, uri)
    stream = spark.readStream.schema(FILES_SCHEMA).parquet(str(stream_src_dir))
    with pytest.raises(ValueError, match=re.escape(uri)):
        spipe.scrub_stream(stream, uri, str(tmp_path / "ckpt"), CFG)
    assert list(tmp_path.iterdir()) == []
    assert not spark.streams.active


class Crash(Exception):
    """The driver dies at the patched call."""


def test_micro_batch_killed_at_publish_then_retried(
    spark, corpus_pdf, tmp_path, monkeypatch
):
    """A ``foreachBatch`` killed at its lineage publish's ``os.replace``
    (its data written, its lineage rows only in a ``.tmp-`` file) and
    then retried under the same batch_id ends as a clean run does: every
    data and lineage row exists once, the lineage totals are the clean
    run's, and no ``.tmp-`` file is left: the retry's publish writes the
    same ``.tmp-<name>`` file and its rename consumes it."""
    bdf = spark.createDataFrame(
        corpus_pdf[["repo", "path", "commit", "lang", "content"]].head(120)
    )
    clean, out = tmp_path / "clean", tmp_path / "out"
    spipe.score_micro_batch(bdf, 5, CFG, str(clean))

    def crash(*a, **k):
        raise Crash("replace")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(Crash):
            spipe.score_micro_batch(bdf, 5, CFG, str(out))
    batch_lin = Path(f"{out}_lineage") / "batch_id=5"
    [stale] = batch_lin.iterdir()
    assert stale.name.startswith(".tmp-")
    spipe.score_micro_batch(bdf, 5, CFG, str(out))  # the retry
    assert [p.name for p in batch_lin.iterdir()] == ["lineage.parquet"]

    key = ["repo", "path", "commit"]
    got = spark.read.parquet(str(out)).toPandas()
    want = spark.read.parquet(str(clean)).toPandas()
    assert len(got) == len(want) > 0
    assert not got.duplicated(key).any()
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True)[key + ["scrubbed_sha256"]],
        want.sort_values(key).reset_index(drop=True)[key + ["scrubbed_sha256"]],
    )

    def totals(lin):
        assert not lin.duplicated(["batch_id", "stage", "partition_id"]).any()
        return lin.groupby("stage")[["files_in", "files_out"]].sum()

    clean_totals = totals(pd.read_parquet(f"{clean}_lineage"))
    assert clean_totals.loc["write", "files_out"] == len(want)
    for lin in (
        spark.read.parquet(f"{out}_lineage").toPandas(),
        pd.read_parquet(f"{out}_lineage"),
    ):
        pd.testing.assert_frame_equal(totals(lin), clean_totals)


def test_minhash_candidate_stream_matches_batch(spark, tmp_path):
    """r4 streaming near-dup: replaying the corpus through the stateful
    band-bucket operator in two micro-batches must surface EXACTLY the
    batch path's candidate pair set (after the documented per-band
    dedup), with identical est_jaccard values — arrival order must not
    matter because every pair eventually meets in its shared bucket."""
    import pandas as pd

    from spardaqus_spark import queries_ml as QM

    sf = "/root/testdata/sf0.01"
    batch = (
        QM.q_minhash_lsh_candidates(spark, sf)
        .toPandas()
        .sort_values(["d1", "d2"])
        .reset_index(drop=True)
    )
    assert len(batch) > 0, "vacuous: no candidate pairs at sf0.01"

    src = tmp_path / "mh_src"
    src.mkdir()
    docs = pd.read_parquet(f"{sf}/documents.parquet")[["doc_id", "text"]]
    docs.iloc[: len(docs) // 2].to_parquet(src / "a.parquet", index=False)
    docs.iloc[len(docs) // 2 :].to_parquet(src / "b.parquet", index=False)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        spipe.minhash_candidate_stream(stream)
        .writeStream.format("memory")
        .queryName("m_mh")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.sql(
            "SELECT DISTINCT d1, d2, est_jaccard FROM m_mh"
        )  # per-band multi-emission: documented consumer-side dedup
        .toPandas()
        .sort_values(["d1", "d2"])
        .reset_index(drop=True)
    )
    assert list(map(tuple, got.to_numpy())) == list(
        map(tuple, batch[["d1", "d2", "est_jaccard"]].to_numpy())
    )

    # --- at-least-once redelivery is a no-op (ADVICE r04) ---
    # Replay the same corpus with a THIRD file duplicating the first half:
    # redelivered doc_ids must neither grow bucket state nor re-emit their
    # pairs, so the RAW (pre-dedup) emission multiset is identical to the
    # clean run's — not just the DISTINCT set.
    raw_clean = (
        spark.sql("SELECT d1, d2, est_jaccard FROM m_mh")
        .toPandas()
        .sort_values(["d1", "d2", "est_jaccard"])
        .reset_index(drop=True)
    )
    src2 = tmp_path / "mh_src_redeliver"
    src2.mkdir()
    docs.iloc[: len(docs) // 2].to_parquet(src2 / "a.parquet", index=False)
    docs.iloc[len(docs) // 2 :].to_parquet(src2 / "b.parquet", index=False)
    docs.iloc[: len(docs) // 2].to_parquet(src2 / "c_redelivered.parquet", index=False)
    stream2 = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src2))
    )
    q2 = (
        spipe.minhash_candidate_stream(stream2)
        .writeStream.format("memory")
        .queryName("m_mh_redeliver")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    raw_redelivered = (
        spark.sql("SELECT d1, d2, est_jaccard FROM m_mh_redeliver")
        .toPandas()
        .sort_values(["d1", "d2", "est_jaccard"])
        .reset_index(drop=True)
    )
    assert raw_redelivered.equals(raw_clean), (
        f"redelivery changed raw emissions: {len(raw_clean)} clean rows "
        f"vs {len(raw_redelivered)} with a duplicated file"
    )


TTL_X = "the quick brown fox jumps over the lazy dog repeatedly for tests"
TTL_Z = "completely different content about structured streaming state"


def _ttl_protocol(spark, tmp_path, name: str, ttl_ms, steps) -> pd.DataFrame:
    """Run ``minhash_candidate_stream`` over one source dir + checkpoint as
    a series of restarted availableNow queries, so band-bucket state
    persists between steps. A ``(file, doc_id, text)`` step adds one file
    and runs the query on it; a number step sleeps that many seconds when
    the TTL is on. Returns every emitted (d1, d2)."""
    import time

    src = tmp_path / f"ttl_src_{name}"
    src.mkdir()
    ckpt = str(tmp_path / f"ttl_ckpt_{name}")
    out = str(tmp_path / f"ttl_out_{name}")
    for step in steps:
        if not isinstance(step, tuple):
            if ttl_ms is not None:
                time.sleep(step)
            continue
        fname, doc_id, text = step
        # file sink (memory sink cannot recover from a checkpoint); the
        # output dir accumulates every step's emitted pairs
        pd.DataFrame({"doc_id": [doc_id], "text": [text]}).to_parquet(
            src / fname, index=False
        )
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            spipe.minhash_candidate_stream(stream, state_ttl_ms=ttl_ms)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # stop once the file's batch is done: with a ProcessingTimeTimeout
        # the query runs no-data batches forever (processAllAvailable
        # never returns either), and left running they would expire
        # state while later steps run
        deadline = time.monotonic() + 120
        while q.isActive and not any(p["numInputRows"] for p in q.recentProgress):
            assert time.monotonic() < deadline, "step's batch never ran"
            time.sleep(0.1)
        q.stop()
    return spark.read.parquet(out).select("d1", "d2").toPandas()


def test_minhash_stream_state_ttl_expires(spark, tmp_path):
    """r6 (VERDICT r05 #3): the config-gated ProcessingTimeTimeout TTL
    actually DROPS idle bucket state — no stale pairs after expiry.

    Protocol (same source dir + checkpoint across three restarted
    queries, so band-bucket state persists between phases):
      phase 1: doc 1 ("X") seeds its band buckets, TTL timer armed;
      sleep past the TTL;
      phase 2: doc 3 ("Z", unrelated text -> disjoint buckets) arrives —
        its batch sweeps expired timers, removing X's idle buckets;
      phase 3: doc 2 ("Y", X's exact text -> identical signature, same
        buckets) arrives — the buckets are EMPTY again, so NO pair
        emits.
    Control: the identical protocol with state_ttl_ms=None emits the
    (1,2) pair in phase 3 (proves the expiry assertion is non-vacuous
    and the default path is byte-for-byte the r5 behavior)."""
    ttl_ms = 1500
    steps = [
        ("a.parquet", 1, TTL_X),
        ttl_ms / 1000 + 1.5,  # idle past the TTL
        ("b.parquet", 3, TTL_Z),
        ("c.parquet", 2, TTL_X),
    ]
    control = _ttl_protocol(spark, tmp_path, "off", None, steps)
    assert {(r.d1, r.d2) for r in control.itertuples()} == {(1, 2)}, (
        "control (no TTL) must emit the (1,2) pair — protocol is vacuous "
        f"otherwise; got {control.to_dict('records')}"
    )
    expired = _ttl_protocol(spark, tmp_path, "on", ttl_ms, steps)
    assert len(expired) == 0, (
        "bucket state survived past the TTL: stale pair(s) "
        f"{expired.to_dict('records')} emitted after expiry"
    )


def test_minhash_stream_ttl_rearmed_by_redelivery(spark, tmp_path):
    """A batch that only redelivers an already-stored doc takes the early
    no-op exit. GroupState's contract is that a processing-time timeout
    holds only if every invocation of the group sets it, so that exit
    must re-arm the timer: the bucket still expires after an idle TTL
    instead of living forever. The TTL is long enough for the redelivery
    to land before the first timer runs out."""
    ttl_ms = 8000
    stale = _ttl_protocol(spark, tmp_path, "redeliver", ttl_ms, [
        ("a.parquet", 1, TTL_X),
        ("a_again.parquet", 1, TTL_X),  # redelivery only: no fresh doc
        ttl_ms / 1000 + 1.5,  # idle past the TTL
        ("b.parquet", 3, TTL_Z),  # sweeps expired timers
        ("c.parquet", 2, TTL_X),
    ])
    assert len(stale) == 0, (
        "a redelivery-only batch disarmed the TTL: stale pair(s) "
        f"{stale.to_dict('records')} emitted after the idle window"
    )
