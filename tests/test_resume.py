"""Checkpoint/resume (BASELINE.json:6,14; SURVEY.md §5.5): run half the
buckets, 'crash', resume, assert the union equals an uninterrupted run
byte-for-byte, and that resume reprocesses only the missing buckets."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spardaqus_spark import pipeline
from spardaqus_spark.config import default_config
from spardaqus_spark.operators import bucketize as bk
from spardaqus_spark.plans import checkpoint as ckpt

CFG = default_config(num_buckets=8)


def _read_clean(spark, run_dir):
    df = spark.read.parquet(str(run_dir / "files_clean"))
    return (
        df.select("repo", "path", "commit", "scrubbed_sha256", "bucket")
        .toPandas()
        .sort_values(["repo", "path", "commit"])
        .reset_index(drop=True)
    )


def test_kill_and_resume_matches_uninterrupted(spark, corpus_sdf, tmp_path):
    full_dir = tmp_path / "full"
    part_dir = tmp_path / "part"

    r_full = pipeline.run(corpus_sdf, CFG, run_dir=full_dir, run_id="full")
    assert r_full["buckets"] == 8

    # first attempt: only buckets 0..3 land before the "crash"
    r1 = pipeline.run(
        corpus_sdf, CFG, run_dir=part_dir, run_id="a1", bucket_whitelist=[0, 1, 2, 3]
    )
    assert r1["buckets"] == 4
    assert sorted(ckpt.done_buckets(part_dir)) == [0, 1, 2, 3]

    # resume: done buckets are pruned before scoring; remainder processes
    r2 = pipeline.run(corpus_sdf, CFG, run_dir=part_dir, run_id="a2")
    assert r2["buckets"] == 4  # ONLY the unprocessed fraction (overhead target)
    assert sorted(ckpt.done_buckets(part_dir)) == list(range(8))

    a = _read_clean(spark, full_dir)
    b = _read_clean(spark, part_dir)
    pd.testing.assert_frame_equal(a, b)


PAIR = ("boundary/r0", "boundary/pair.py", "c0")  # the pinned dedup winner


@pytest.fixture(scope="module")
def boundary_frame(spark, golden):
    """Hand-made input: one exact-dup pair whose repos hash to different
    buckets, plus a few unrelated rows. The winner is ``PAIR`` (smallest
    (repo, path, commit)); the loser differs only in its repo. Returns the
    frame and the winner's and loser's buckets."""
    names = spark.createDataFrame(
        [(f"boundary/r{i}", PAIR[1]) for i in range(16)], "repo string, path string"
    )
    bucket_of = {
        r["repo"]: r["bucket"] for r in bk.with_bucket_columns(names, CFG).collect()
    }
    winner = PAIR[0]
    loser = next(r for r in sorted(bucket_of) if bucket_of[r] != bucket_of[winner])
    cols = ["repo", "path", "commit", "lang", "content"]
    base = golden[~golden["dup_loser"]]
    kept = base[base["keep"]].iloc[0]
    pair = pd.DataFrame(
        [[repo, PAIR[1], PAIR[2], kept["lang"], kept["content"]] for repo in (winner, loser)],
        columns=cols,
    )
    pdf = pd.concat([pair, base.drop(index=kept.name).head(8)[cols]], ignore_index=True)
    return spark.createDataFrame(pdf), {
        "winner": bucket_of[winner], "loser": bucket_of[loser]
    }


@pytest.mark.parametrize("committed", ["winner", "loser"])
def test_resume_dedups_across_the_bucket_boundary(
    spark, boundary_frame, tmp_path, committed
):
    """Dedup is global, resume is per bucket: whichever copy of an exact
    dup sits in a committed bucket, the resumed run must still see it in
    the dedup window. A committed winner keeps its open-bucket copy a
    loser (never written); a committed loser leaves the open-bucket winner
    kept. Either way the union equals the uninterrupted run."""
    sdf, pair_buckets = boundary_frame
    done = pair_buckets[committed]
    full_dir, part_dir = tmp_path / "full", tmp_path / "part"
    pipeline.run(sdf, CFG, run_dir=full_dir, run_id="full")
    pipeline.run(sdf, CFG, run_dir=part_dir, run_id="a1", bucket_whitelist=[done])
    pipeline.run(sdf, CFG, run_dir=part_dir, run_id="a2")

    a = _read_clean(spark, full_dir)
    b = _read_clean(spark, part_dir)
    pd.testing.assert_frame_equal(a, b)
    pair_rows = b[(b["path"] == PAIR[1]) & (b["commit"] == PAIR[2])]
    assert list(pair_rows["repo"]) == [PAIR[0]]

    # the resumed attempt's dedup lineage counts the open buckets' rows only
    buckets = [
        r["bucket"]
        for r in bk.with_bucket_columns(sdf, CFG).select("bucket").collect()
    ]
    lin = spark.read.parquet(str(part_dir / "lineage")).filter(
        (F.col("run_id") == "a2") & (F.col("stage") == "dedup")
    )
    assert lin.agg(F.sum("files_in")).first()[0] == sum(b != done for b in buckets)


def test_resume_noop_when_all_done(spark, corpus_sdf, tmp_path):
    d = tmp_path / "r"
    pipeline.run(corpus_sdf, CFG, run_dir=d, run_id="x")
    r = pipeline.run(corpus_sdf, CFG, run_dir=d, run_id="y")
    assert r["buckets"] == 0
    assert r["files_out"] == 0


def test_crash_between_write_and_manifest_no_duplicates(spark, corpus_sdf, tmp_path):
    """ADVICE r01 (medium): data lands (append) before manifests commit, so
    a crash in that window leaves visible bucket partitions with no
    manifest. Simulate it by deleting committed manifests post-run; the
    resumed run must sweep the orphan partitions before its append write
    so the final output has NO duplicate rows."""
    d = tmp_path / "crash"
    pipeline.run(corpus_sdf, CFG, run_dir=d, run_id="a1")
    full = _read_clean(spark, d)

    # "crash window": buckets 5..7 wrote data but never got a manifest
    for b in (5, 6, 7):
        (ckpt.manifest_dir(d) / f"bucket-{b:05d}.json").unlink()
    assert sorted(ckpt.done_buckets(d)) == [0, 1, 2, 3, 4]

    r = pipeline.run(corpus_sdf, CFG, run_dir=d, run_id="a2")
    assert r["buckets"] == 3  # only the orphaned fraction reprocessed
    after = _read_clean(spark, d)
    # byte-identical to the uninterrupted result — no appended duplicates
    pd.testing.assert_frame_equal(full, after)
    # lineage sink swept + rewritten at the same grain: per-bucket rows
    # exist exactly once per (stage, partition, bucket)
    lin = spark.read.parquet(str(d / "lineage"))
    dupes = (
        lin.groupBy("stage", "partition_id", "bucket")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


def test_write_lineage_matches_manifests(spark, corpus_sdf, tmp_path):
    """VERDICT r02 #3: write-stage lineage files_out must be the OBSERVED
    committed count per bucket — exactly the number each bucket manifest
    carries — not the derived n_keep. Write rows are sink-grained
    (partition_id = -1, one per bucket), and files_in (kept rows entering
    the write) equals files_out on a healthy run."""
    import json

    d = tmp_path / "wl"
    pipeline.run(corpus_sdf, CFG, run_dir=d, run_id="w1")
    manifest = {
        json.loads(f.read_text())["bucket"]: json.loads(f.read_text())["files_out"]
        for f in ckpt.manifest_dir(d).glob("bucket-*.json")
    }
    lin = (
        spark.read.parquet(str(d / "lineage"))
        .filter(F.col("stage") == "write")
        .toPandas()
    )
    assert (lin["partition_id"] == -1).all()
    got = dict(zip(lin["bucket"].astype(int), lin["files_out"].astype(int)))
    # manifests also record zero-kept buckets; lineage only has buckets
    # that had input rows — every lineage write row must match its manifest
    assert got == {b: n for b, n in manifest.items() if b in got}
    assert sum(got.values()) == sum(manifest.values())
    assert (lin["files_in"].astype(int) == lin["files_out"].astype(int)).all()


def test_write_lineage_surfaces_loss(spark, corpus_sdf):
    """The point of sink-observed write counts (code-review r3): if the
    write job committed FEWER rows than entered it, the write-stage
    lineage row must show files_in != files_out — the detection signal
    the derived form could never produce. Simulated by feeding
    lineage_rows observed counts one row short (the counts come from the
    sink read-back in pipeline.run, the only caller)."""
    from spardaqus_spark import pipeline as pl
    from spardaqus_spark.plans import lineage as lin

    v = pl.build_verdict_frame(corpus_sdf, CFG)
    rules = [r.name for r in CFG.rules]
    ledger = lin.ledger(v, rules)
    kept = lin.kept_per_bucket(ledger)
    lost_bucket = max(kept, key=kept.get)
    observed = dict(kept)
    observed[lost_bucket] -= 1  # one row never made it to the sink
    w = (
        spark.createDataFrame(
            lin.lineage_rows(ledger, "loss", rules, write_counts=observed),
            lin.LINEAGE_SCHEMA,
        )
        .filter(F.col("stage") == "write")
        .toPandas()
        .set_index("bucket")
    )
    mismatched = w[w["files_in"] != w["files_out"]]
    assert list(mismatched.index) == [lost_bucket]
    assert (
        mismatched.loc[lost_bucket, "files_in"]
        - mismatched.loc[lost_bucket, "files_out"]
        == 1
    )


@pytest.fixture(scope="module")
def counted_run(spark, corpus_sdf, tmp_path_factory):
    """One fresh 8-bucket ``pipeline.run`` under its own Spark job group:
    (run dir, number of Spark jobs the run launched)."""
    sc = spark.sparkContext
    d = tmp_path_factory.mktemp("counted")
    sc.setJobGroup("counted_run", "pipeline.run job budget")
    try:
        pipeline.run(corpus_sdf, CFG, run_dir=d, run_id="c1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return d, len(sc.statusTracker().getJobIdsForGroup("counted_run"))


def test_run_requires_run_dir(corpus_sdf):
    """``run`` has one path, the committing one: there is no run-dir-less
    count-only mode to fall into."""
    with pytest.raises(TypeError, match="run_dir"):
        pipeline.run(corpus_sdf, CFG)


def test_run_job_budget(counted_run):
    """One run = the write (dedup shuffle, scoring into the cache, the
    bucket repartition), ONE collected ledger aggregate, the sink
    read-back and the lineage write: 10 Spark jobs on this corpus. No
    per-consumer ``distinct().collect()`` and no second lineage aggregate
    or join may creep back in."""
    assert counted_run[1] == 10


def test_run_files_follow_buckets(counted_run):
    """The write exchange is sized by AQE from the data, not by the core
    count: an 8-bucket run over the 1,200-row corpus writes at most two
    data files per kept bucket (a fixed 2 x cores repartition wrote 45)."""
    run_dir = counted_run[0] / "files_clean"
    buckets = list(run_dir.glob("bucket=*"))
    assert len(buckets) == 8
    files = list(run_dir.glob("bucket=*/*.parquet"))
    assert 0 < len(files) <= 2 * len(buckets), len(files)


def test_run_files_sorted(counted_run, unsorted_files):
    """Rows in every sink file are ordered by (repo, path, commit): the
    run's sort survives the writer's own partition sort."""
    assert unsorted_files(counted_run[0] / "files_clean") == []


def test_rule_hit_counts_match_verdict_frame(spark, corpus_sdf, counted_run):
    """Σ rule_hit_counts[r] over a run's verdict lineage rows == the
    number of verdict-frame rows whose rule_hits contain r, for every
    configured rule (zero where it never fires)."""
    hits = (
        pipeline.build_verdict_frame(corpus_sdf, CFG)
        .select("rule_hits")
        .toPandas()["rule_hits"]
    )
    want = {
        r.name: int(hits.map(lambda h, n=r.name: n in h).sum())
        for r in CFG.rules
    }
    assert sum(want.values()) > 0, "vacuous: no rule fires on the corpus"
    verdict = (
        spark.read.parquet(str(counted_run[0] / "lineage"))
        .filter(F.col("stage") == "verdict")
        .select("rule_hit_counts")
        .collect()
    )
    got = dict.fromkeys(want, 0)
    for row in verdict:
        for name, n in (row["rule_hit_counts"] or {}).items():
            got[name] = got.get(name, 0) + n
    assert got == want
