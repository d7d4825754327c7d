"""Checkpoint/resume (BASELINE.json:6,14; SURVEY.md §5.5): run half the
buckets, 'crash', resume, assert the union equals an uninterrupted run
byte-for-byte, and that resume reprocesses only the missing buckets."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spardaqus_spark import pipeline
from spardaqus_spark.config import default_config
from spardaqus_spark.operators import bucketize as bk
from spardaqus_spark.plans import checkpoint as ckpt
from spardaqus_spark.plans import lineage as lin

CFG = default_config(num_buckets=8)
REPO = Path(__file__).resolve().parents[1]


def _lineage_files(run_dir, run_id="*"):
    return sorted((run_dir / "lineage").glob(f"attempt-{run_id}-*.parquet"))


def _write_rows(run_id, buckets):
    """Write-stage lineage rows, one per bucket: enough to commit them."""
    return [(run_id, 1, "write", -1, b, 0, 0, None) for b in buckets]


def _lineage_totals(spark, run_dir):
    """(stage, bucket) -> (Σ files_in, Σ files_out) over every lineage row
    the run dir holds."""
    rows = (
        spark.read.parquet(str(run_dir / "lineage"))
        .groupBy("stage", "bucket")
        .agg(F.sum("files_in").alias("i"), F.sum("files_out").alias("o"))
        .collect()
    )
    return {(r["stage"], r["bucket"]): (r["i"], r["o"]) for r in rows}


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


class Crash(Exception):
    """The driver dies at the patched call."""


def _crashed_run(monkeypatch, sdf, run_dir, run_id, target, name, **kw):
    """A ``pipeline.run`` killed on reaching ``target.name``: what the run
    wrote before that call is on disk, nothing after it is."""
    def crash(*a, **k):
        raise Crash(name)

    with monkeypatch.context() as m:
        m.setattr(target, name, crash)
        with pytest.raises(Crash):
            pipeline.run(sdf, CFG, run_dir=run_dir, run_id=run_id, **kw)


def _assert_resumed(spark, run_dir, counted_run):
    """The run dir equals an uninterrupted run's: the same rows and
    scrubbed sha256, the same lineage totals per (stage, bucket), no
    lineage row twice, and no ``_manifest/`` dir."""
    full = _read_clean(spark, counted_run[0])
    pd.testing.assert_frame_equal(full, _read_clean(spark, run_dir))
    dupes = (
        spark.read.parquet(str(run_dir / "lineage"))
        .groupBy("stage", "partition_id", "bucket")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dupes == 0
    assert _lineage_totals(spark, run_dir) == _lineage_totals(spark, counted_run[0])
    assert not (run_dir / "_manifest").exists()


def test_crash_before_the_publish_no_duplicates(
    spark, corpus_sdf, tmp_path, counted_run, monkeypatch
):
    """ADVICE r01 (medium): data lands (append) before the attempt
    commits, so a kill after the data write and before the lineage
    publish leaves visible bucket partitions that no attempt file owns.
    The resumed run must sweep them before its append write, so the final
    output has NO duplicate rows."""
    d = tmp_path / "crash"
    _crashed_run(monkeypatch, corpus_sdf, d, "a1", ckpt, "commit_bucket")
    assert len(list((d / "files_clean").glob("bucket=*"))) == 8
    assert not (d / "lineage").exists()
    assert ckpt.done_buckets(d) == []

    r = pipeline.run(corpus_sdf, CFG, run_dir=d, run_id="a2")
    assert r["buckets"] == 8
    _assert_resumed(spark, d, counted_run)


def test_crash_at_the_publish_sweeps_its_temp_file(
    spark, corpus_sdf, tmp_path, counted_run, monkeypatch
):
    """A kill at the publish's ``os.replace`` leaves the attempt's whole
    lineage rows in a ``.tmp-`` file that no reader sees, next to bucket
    dirs that no attempt file owns: nothing is committed, the resume
    deletes both and equals an uninterrupted run."""
    d = tmp_path / "crash0"
    _crashed_run(monkeypatch, corpus_sdf, d, "a1", os, "replace")
    assert [p.name[:5] for p in (d / "lineage").iterdir()] == [".tmp-"]
    assert len(list((d / "files_clean").glob("bucket=*"))) == 8
    assert ckpt.done_buckets(d) == []

    r = pipeline.run(corpus_sdf, CFG, run_dir=d, run_id="a2")
    assert r["buckets"] == 8
    assert list((d / "lineage").glob(".tmp-*")) == []
    assert _lineage_files(d, "a1") == []
    _assert_resumed(spark, d, counted_run)


def test_crash_after_a_committed_attempt(
    spark, corpus_sdf, tmp_path, counted_run, monkeypatch
):
    """A whitelisted attempt commits buckets 0-3, the next attempt is
    killed at its publish: the resume keeps the first attempt's buckets
    and lineage, drops the killed attempt's output and reprocesses only
    buckets 4-7."""
    d = tmp_path / "crash1"
    pipeline.run(corpus_sdf, CFG, run_dir=d, run_id="a1", bucket_whitelist=[0, 1, 2, 3])
    [first] = _lineage_files(d, "a1")
    _crashed_run(monkeypatch, corpus_sdf, d, "a2", os, "replace")
    assert ckpt.done_buckets(d) == [0, 1, 2, 3]

    r = pipeline.run(corpus_sdf, CFG, run_dir=d, run_id="a3")
    assert r["buckets"] == 4
    assert _lineage_files(d, "a1") == [first]
    assert _lineage_files(d, "a2") == []
    assert set(pd.read_parquet(_lineage_files(d, "a3")[0])["bucket"]) == {4, 5, 6, 7}
    _assert_resumed(spark, d, counted_run)


def test_attempts_sharing_a_run_id_keep_their_lineage(
    spark, corpus_sdf, tmp_path, counted_run
):
    """Two attempts under one run_id (a whitelisted first half, then the
    resume) each publish their own lineage file; neither replaces the
    other, so the union counts every bucket once."""
    d = tmp_path / "same"
    pipeline.run(corpus_sdf, CFG, run_dir=d, run_id="x", bucket_whitelist=[0, 1, 2, 3])
    pipeline.run(corpus_sdf, CFG, run_dir=d, run_id="x")
    assert len(_lineage_files(d, "x")) == 2
    assert _lineage_totals(spark, d) == _lineage_totals(spark, counted_run[0])


def test_clean_orphans_sweeps_stale_lineage_temp(tmp_path):
    """A publish that died before its rename leaves a ``.tmp-*`` file in
    the lineage sink, and the data its attempt wrote leaves bucket dirs
    that no committed attempt lists; the next start removes those and
    keeps the committed attempt's file and buckets."""
    sink = tmp_path / "files_clean"
    for b in (3, 5):
        (sink / f"bucket={b}").mkdir(parents=True)
    kept = ckpt.commit_bucket(tmp_path, "a1", _write_rows("a1", [3]))
    stale = tmp_path / "lineage" / ".tmp-deadbeef"
    stale.write_bytes(b"torn")
    assert ckpt.clean_orphans(tmp_path, sink) == sorted([sink / "bucket=5", stale])
    assert list((tmp_path / "lineage").iterdir()) == [kept]
    assert [p.name for p in sink.iterdir()] == ["bucket=3"]


def test_unreadable_attempt_file_is_not_committed(tmp_path):
    """An attempt file that pyarrow cannot read commits nothing: its
    buckets are not done (they rerun), and ``clean_orphans`` removes it
    with the bucket dirs only it listed. A readable attempt stays
    committed."""
    sink = tmp_path / "files_clean"
    for b in (3, 5):
        (sink / f"bucket={b}").mkdir(parents=True)
    kept = ckpt.commit_bucket(tmp_path, "a1", _write_rows("a1", [3]))
    torn = ckpt.commit_bucket(tmp_path, "a2", _write_rows("a2", [5]))
    torn.write_bytes(torn.read_bytes()[:-12])  # footer and magic gone
    assert ckpt.done_buckets(tmp_path) == [3]
    assert ckpt.clean_orphans(tmp_path, sink) == sorted([sink / "bucket=5", torn])
    assert list((tmp_path / "lineage").iterdir()) == [kept]
    assert ckpt.done_buckets(tmp_path) == [3]


def _assert_refused(sdf, run_dir, old_dir):
    """``run_dir`` is refused at start, naming ``old_dir``, before
    anything is written: by ``run()``, and by ``build_verdict_frame``,
    whose plan ``main.py --explain`` prints."""
    before = sorted(run_dir.rglob("*"))
    with pytest.raises(ValueError, match=re.escape(str(old_dir))):
        pipeline.build_verdict_frame(sdf, CFG, run_dir=run_dir)
    with pytest.raises(ValueError, match=re.escape(str(old_dir))):
        pipeline.run(sdf, CFG, run_dir=run_dir, run_id="new")
    assert sorted(run_dir.rglob("*")) == before


def test_old_bucket_partitioned_lineage_is_rejected(corpus_sdf, tmp_path):
    """A run dir whose lineage sink still holds ``bucket=<b>`` dirs (the
    old layout) is refused at start, naming the dir; it is not migrated."""
    (tmp_path / "lineage" / "bucket=3").mkdir(parents=True)
    _assert_refused(corpus_sdf, tmp_path, tmp_path / "lineage")


def test_old_per_bucket_manifests_are_rejected(corpus_sdf, tmp_path):
    """A run dir committed with per-bucket manifests (the old layout) is
    refused at start, naming the dir, before anything is written."""
    old = tmp_path / "_manifest" / "bucket-00003.json"
    old.parent.mkdir()
    old.write_text(json.dumps({"run_id": "old", "bucket": 3, "status": "done"}))
    _assert_refused(corpus_sdf, tmp_path, old.parent)


def test_old_attempt_manifests_are_rejected(corpus_sdf, tmp_path):
    """A run dir committed with one JSON manifest per attempt (the layout
    before the attempt's lineage file became its commit) is refused at
    start, naming the dir, before anything is written; it is not
    migrated."""
    old = tmp_path / "_manifest" / "attempt-old-0000abcd.json"
    old.parent.mkdir()
    old.write_text(json.dumps({
        "run_id": "old", "buckets": {"3": 7},
        "output_path": str(tmp_path / "files_clean"), "schema_version": 2,
    }))
    _assert_refused(corpus_sdf, tmp_path, old.parent)


def test_explain_prints_the_resumed_plan(corpus_pdf, tmp_path):
    """``main.py --explain`` prints the plan ``run()`` writes: on a run dir
    with a committed attempt and a ``--buckets`` whitelist, the plan
    prunes both right after the dedup window, and it ends in the write's
    sort on (bucket, repo, path, commit). ``main`` starts and stops its
    own session, so it runs in a subprocess."""
    src = tmp_path / "files.parquet"
    corpus_pdf[["repo", "path", "commit", "lang", "content"]].head(60).to_parquet(
        src, index=False
    )
    run_dir = tmp_path / "run"
    ckpt.commit_bucket(run_dir, "old", _write_rows("old", [0, 3]))
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env.update(SPARK_GRAFT_MASTER="local[1]", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [
            sys.executable, str(REPO / "main.py"),
            "--config", str(REPO / "conf" / "pipeline.yaml"),
            "--input", str(src),
            "--run-dir", str(run_dir),
            "--buckets", "3,5",
            "--explain",
        ],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert re.search(r"NOT bucket#\d+ IN \(0,3\)", proc.stdout), proc.stdout
    assert re.search(r"\bbucket#\d+ IN \(3,5\)", proc.stdout), proc.stdout
    sort_keys = ", ".join(
        rf"{k}#\d+ ASC NULLS FIRST" for k in ("bucket", "repo", "path", "commit")
    )
    assert re.search(
        rf"\(\d+\) Sort\n.*\nArguments: \[{sort_keys}\], false", proc.stdout
    ), proc.stdout


def test_write_lineage_surfaces_loss(spark, corpus_sdf):
    """The point of sink-observed write counts (code-review r3): if the
    write job committed FEWER rows than entered it, the write-stage
    lineage row must show files_in != files_out — the detection signal
    the derived form could never produce. Simulated by feeding
    lineage_rows observed counts one row short (the counts come from the
    sink's parquet footers in pipeline.run, the only caller)."""
    v = pipeline.build_verdict_frame(corpus_sdf, CFG)
    rules = [r.name for r in CFG.rules]
    ledger = lin.ledger(v, rules, "bucket")
    kept = lin.kept_per(ledger, "bucket")
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


# the two sinks ``committed_counts`` serves: the batch run's bucket dirs
# and the stream's micro-batch dirs
COLUMNS = ("bucket", "batch_id")


@pytest.fixture
def three_bucket_sink(spark, tmp_path):
    """column -> a sink of 100 rows partitioned into ``<column>=0..2``
    (34/33/33)."""
    def make(column):
        root = tmp_path / column
        spark.range(100).withColumn(column, F.col("id") % 3).write.partitionBy(
            column
        ).parquet(str(root))
        return root

    return make


def _zero_row_parquet(path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"id": pa.array([], pa.int64())}), path)


def test_committed_counts_counts_present_dirs(three_bucket_sink):
    """Exactly the requested dirs are counted; no values read nothing."""
    for col in COLUMNS:
        root = three_bucket_sink(col)
        assert pipeline.committed_counts(root, col, [0, 1, 2]) == {
            0: 34, 1: 33, 2: 33,
        }
        assert pipeline.committed_counts(root, col, [2]) == {2: 33}
        assert pipeline.committed_counts(root, col, []) == {}


def test_committed_counts_skip_hidden_and_empty_files(three_bucket_sink):
    """Names starting with ``.`` or ``_`` are not data files (Hadoop input
    formats skip them too), and a zero-row data file adds nothing: none
    of them changes a count. A dir holding only a zero-row file holds no
    rows, which is a write loss."""
    for col in COLUMNS:
        root = three_bucket_sink(col)
        one = root / f"{col}=1"
        (one / ".part-x.parquet.crc").write_bytes(b"not parquet")
        (one / "_tmp").write_bytes(b"not parquet")
        _zero_row_parquet(one / "part-empty.parquet")
        assert pipeline.committed_counts(root, col, [0, 1, 2]) == {
            0: 34, 1: 33, 2: 33,
        }
        _zero_row_parquet(root / f"{col}=3" / "part-empty.parquet")
        with pytest.raises(RuntimeError, match=f"{col}=3"):
            pipeline.committed_counts(root, col, [0, 1, 2, 3])


@pytest.mark.parametrize("loss", ["missing", "emptied"])
def test_committed_counts_fails_on_write_loss(three_bucket_sink, loss):
    """A kept dir that is gone, or that lost its data files (only the
    writer's ``.crc`` files remain), is a write loss: the count raises
    naming the dir instead of counting it as absent (which would commit
    it with files_out 0)."""
    for col in COLUMNS:
        root = three_bucket_sink(col)
        lost = root / f"{col}=2"
        if loss == "missing":
            shutil.rmtree(lost)
        else:
            for f in lost.glob("*.parquet"):
                f.unlink()
        with pytest.raises(RuntimeError, match=f"{col}=2"):
            pipeline.committed_counts(root, col, [0, 1, 2])


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


def test_run_refuses_a_uri_run_dir(spark, corpus_sdf, tmp_path, monkeypatch):
    """The committed counts come from the sink's footers and the attempt
    commits by ``os.replace``, so a run dir must be a local path: a
    ``scheme://`` one, even ``file://``, is refused naming it, before any
    Spark job and before anything is written (under it, or under a
    relative ``file:`` dir that ``Path`` would make of it)."""
    monkeypatch.chdir(tmp_path)
    uri = f"file://{tmp_path}/run"
    sc = spark.sparkContext
    sc.setJobGroup("uri_run", "pipeline.run on a URI run dir")
    try:
        with pytest.raises(ValueError, match=re.escape(uri)):
            pipeline.run(corpus_sdf, CFG, run_dir=uri, run_id="u1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("uri_run") == []
    assert list(tmp_path.iterdir()) == []


def test_run_job_budget(counted_run):
    """One run = the write (dedup shuffle, scoring into the cache, the
    bucket repartition) and ONE collected ledger aggregate: 6 Spark jobs
    on this corpus. There is no sink read-back: the committed counts come
    from the parquet footers, and the lineage rows are written by the
    driver, neither by a Spark job. No per-consumer
    ``distinct().collect()`` and no second lineage aggregate or join may
    creep back in."""
    assert counted_run[1] == 6


def test_committed_counts_match_spark_read(spark, counted_run):
    """The footer counts of a real run's sink equal what Spark reads
    back from it, bucket by bucket."""
    sink = counted_run[0] / "files_clean"
    want = {
        int(r["bucket"]): r["count"]
        for r in spark.read.parquet(str(sink)).groupBy("bucket").count().collect()
    }
    assert want
    assert pipeline.committed_counts(sink, "bucket", sorted(want)) == want


def test_run_writes_one_lineage_file(spark, counted_run):
    """A run publishes its lineage as exactly one visible parquet file,
    and Spark reads the sink back with ``LINEAGE_SCHEMA``'s fields and
    types (``bucket`` a data column, not a partition dir)."""
    sink = counted_run[0] / "lineage"
    visible = [p for p in sink.iterdir() if not p.name.startswith((".", "_"))]
    assert [p.name for p in visible] == [_lineage_files(counted_run[0])[0].name]
    got = spark.read.parquet(str(sink)).schema
    assert [(f.name, f.dataType) for f in got] == [
        (f.name, f.dataType) for f in lin.LINEAGE_SCHEMA
    ]


def test_run_commits_one_manifest(counted_run):
    """A run commits exactly one attempt, and its commit record is the
    published lineage file itself: there is no ``_manifest/`` dir, the
    file carries the run id, and ``done_buckets`` reads every bucket back
    from its write rows, one row per bucket."""
    run_dir = counted_run[0]
    assert not (run_dir / "_manifest").exists()
    [f] = _lineage_files(run_dir)
    assert f.name.startswith("attempt-c1-")
    lin = pd.read_parquet(f)
    assert set(lin["run_id"]) == {"c1"}
    write = lin[lin["stage"] == "write"]
    assert sorted(write["bucket"].astype(int)) == list(range(8))
    assert ckpt.done_buckets(run_dir) == list(range(8))


def test_write_lineage_matches_manifests(counted_run):
    """VERDICT r02 #3: the committed lineage file's write rows carry the
    OBSERVED committed count of every bucket, zero-kept ones included —
    the rows each ``bucket=<b>`` dir of files_clean holds, not the derived
    n_keep. Write rows are sink-grained (partition_id = -1, one per
    bucket), and files_in (kept rows entering the write) equals files_out
    on a healthy run."""
    run_dir = counted_run[0]
    [f] = _lineage_files(run_dir, "c1")
    lin = pd.read_parquet(f)
    lin = lin[lin["stage"] == "write"]
    assert (lin["partition_id"] == -1).all()
    assert (lin["files_in"] == lin["files_out"]).all()
    written = pd.read_parquet(run_dir / "files_clean", columns=["bucket"])
    counts = written["bucket"].astype(int).value_counts().to_dict()
    assert dict(zip(lin["bucket"].astype(int), lin["files_out"].astype(int))) == {
        b: counts.get(b, 0) for b in range(8)
    }


def test_run_metrics_record_phase_seconds(counted_run, corpus_pdf):
    """Each run_metrics.jsonl record carries the wall seconds of every
    phase of the run, and the rows it scored and kept: on a fresh run
    every input row is scored, and every kept row is written."""
    [rec] = [
        json.loads(line)
        for line in (counted_run[0] / "run_metrics.jsonl").read_text().splitlines()
    ]
    phases = rec["phase_s"]
    assert set(phases) == {"write", "ledger", "readback", "commit"}
    assert all(v >= 0 for v in phases.values())
    assert rec["rows_scored"] == len(corpus_pdf)
    assert rec["rows_kept"] == rec["files_out"] > 0


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
