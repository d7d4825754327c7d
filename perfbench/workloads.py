"""The four benchmark workloads. Each drives the package's public API
from outside over inputs generated from the workload seed, times one
operation at a time and checks every operation's output against the
single-process oracle (files workloads) or the DuckDB twins (near-dup
queries).

An operation is a ``pipeline.run`` (batch_clean, resume_half), a
micro-batch (stream_microbatch) or one pass of the two near-dup queries
(near_dedup). ``window`` runs operations until ``seconds`` have passed
(at least one) and returns them with the rows they processed per second;
the benchmark's own checking and restoring is not timed.

BENCHMARK.json lists batch_clean and resume_half. The other two also
run, on small inputs, as the side passes of every traced run
(``run.side_passes``), so their layers are measured there.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

from spardaqus_spark import pipeline
from spardaqus_spark.config import default_config
from spardaqus_spark.plans import checkpoint as ckpt

from . import corpus

N_FILES = 4_000  # base rows; the corpus adds 5% exact duplicates
N_PARTS = 32  # scan parallelism of the batch input
N_STREAM_PARTS = 64  # one micro-batch per file
STREAM_CHUNK = 4  # files made visible to each availableNow stream run
N_WARM = 256  # rows of the set-up pass
N_DOCS = 4_000  # documents sampled per seed for near_dedup
# The near-dup pass of a traced run samples PROBE_DOCS documents with
# PROBE_SEED, whatever the run's seed: the DuckDB twin of corpus_build
# takes ~30 s at this size, so its expected output is built once per
# checkout and code version, by the first run, not once per seed.
PROBE_DOCS = 600
PROBE_SEED = 0
HALF_BUCKETS = 32  # buckets committed in the resume_half starting state

DOCS_POOL = Path(__file__).resolve().parent / "data" / "documents.parquet"


@dataclass
class Op:
    latency_s: float
    rows: int
    ok: bool
    note: str = ""
    detail: dict = field(default_factory=dict)


@dataclass
class Window:
    ops: list[Op]
    rows_per_s: float


def _fresh(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def _op_loop(seconds: float, op) -> Window:
    """Operations until ``seconds`` have passed, at least one; the rate is
    the median of the operations' rates."""
    ops: list[Op] = []
    t0 = time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds:
        ops.append(op(len(ops)))
    return Window(ops, statistics.median(o.rows / o.latency_s for o in ops))


def _read_sink(path: Path, cols: list[str]) -> pd.DataFrame:
    if not path.exists():
        return pd.DataFrame(columns=cols)
    return pd.read_parquet(path, columns=cols)


def _same_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> bool:
    g = sorted(map(tuple, got[cols].astype(str).to_numpy()))
    w = sorted(map(tuple, want[cols].astype(str).to_numpy()))
    return g == w


class FilesWorkload:
    """Shared inputs of the three workloads over the files corpus."""

    name = ""

    def __init__(self, cache: corpus.SeedCache, work: Path, procs: int):
        self.cache = cache
        self.work = work
        self.procs = procs
        self.cfg = default_config()

    def prepare(self) -> None:
        files = None

        def frame():
            nonlocal files
            if files is None:
                files = corpus.gen_files(N_FILES, self.cache.seed)
            return files

        self.files_dir = self.cache.item(
            "files", lambda d: corpus.write_parts(frame()[corpus.INPUT_COLS], d, N_PARTS)
        )
        self.warm_dir = self.cache.item(
            "warm", lambda d: corpus.write_parts(frame()[corpus.INPUT_COLS].head(N_WARM), d, 4)
        )
        self.labels_dir = self.cache.item(
            "labels",
            lambda d: corpus.oracle_labels(frame(), self.cfg, self.procs).to_parquet(
                d / "labels.parquet", index=False
            ),
        )
        self.labels = pd.read_parquet(self.labels_dir / "labels.parquet")
        self.n_rows = len(self.labels)

    def prepare_spark(self, spark) -> None:
        pass

    def restore(self) -> None:
        pass

    def replay_texts(self) -> pd.Series:
        return pd.read_parquet(self.files_dir, columns=["content"])["content"]

    def expected_batch(self) -> pd.DataFrame:
        return self.labels.loc[self.labels["keep"], corpus.KEY + ["scrubbed_sha256"]]

    def warm_up(self, spark) -> None:
        pipeline.run(spark.read.parquet(str(self.warm_dir)), self.cfg, run_dir=_fresh(self.work / "warm"))

    def lineage_summary(self, run_dir: Path, run_id: str) -> dict:
        lin = _read_sink(run_dir / "lineage", ["run_id", "stage", "files_in", "files_out"])
        d = lin[(lin["run_id"] == run_id) & (lin["stage"] == "dedup")]
        return {
            "lineage_rows": int((lin["run_id"] == run_id).sum()),
            "dedup_in": int(d["files_in"].sum()),
            "dedup_out": int(d["files_out"].sum()),
        }

    def check_run(self, run_dir: Path, res: dict) -> tuple[bool, str]:
        got = _read_sink(run_dir / "files_clean", corpus.KEY + ["scrubbed_sha256"])
        want = self.expected_batch()
        if not _same_rows(got, want, corpus.KEY + ["scrubbed_sha256"]):
            return False, f"sink holds {len(got)} rows, oracle keeps {len(want)}"
        if "files_out" in res and res["files_out"] != len(want):
            return False, f"run reports {res['files_out']} rows written"
        return True, ""


class BatchClean(FilesWorkload):
    """pipeline.run over the whole corpus into a fresh run dir."""

    name = "batch_clean"

    def window(self, spark, seconds: float) -> Window:
        src = spark.read.parquet(str(self.files_dir))

        def op(k: int) -> Op:
            run_dir = _fresh(self.work / "runs" / f"op{k}")
            t0 = time.perf_counter()
            res = pipeline.run(src, self.cfg, run_dir=run_dir, run_id=f"op{k}")
            dt = time.perf_counter() - t0
            ok, note = self.check_run(run_dir, res)
            detail = {"rows_todo": self.n_rows, **self.lineage_summary(run_dir, f"op{k}")}
            shutil.rmtree(run_dir, ignore_errors=True)
            return Op(dt, self.n_rows, ok, note, detail)

        return _op_loop(seconds, op)


class ResumeHalf(FilesWorkload):
    """The resumed pipeline.run that finishes a run dir in which half the
    buckets were committed by an earlier attempt.

    That first attempt is the set-up pass: it warms the same code path
    a warm-up would, and the state it leaves is written by the code under
    test in this run, so a change to the bucket assignment, the manifest
    or the sink layout is never resumed from state older code wrote."""

    name = "resume_half"

    def warm_up(self, spark) -> None:
        self.half_dir = _fresh(self.work / "half")
        pipeline.run(
            spark.read.parquet(str(self.files_dir)), self.cfg, run_dir=self.half_dir,
            run_id="first-half", bucket_whitelist=list(range(HALF_BUCKETS)),
        )

    def prepare_spark(self, spark) -> None:
        from pyspark.sql import functions as F

        from spardaqus_spark.operators import bucketize as bk

        src = spark.read.parquet(str(self.files_dir))
        buckets = bk.with_bucket_columns(src, self.cfg)
        self.rows_todo = int(buckets.filter(F.col("bucket") >= HALF_BUCKETS).count())

    def restore(self) -> Path:
        run_dir = self.work / "runs" / "resume"
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.copytree(self.half_dir, run_dir)
        return run_dir

    def window(self, spark, seconds: float) -> Window:
        src = spark.read.parquet(str(self.files_dir))

        def op(k: int) -> Op:
            run_dir = self.restore()
            t0 = time.perf_counter()
            res = pipeline.run(src, self.cfg, run_dir=run_dir, run_id=f"op{k}")
            dt = time.perf_counter() - t0
            # the union of both attempts must equal one uninterrupted run
            ok, note = self.check_run(run_dir, {})
            buckets = set(ckpt.done_buckets(run_dir))
            if ok and len(buckets) != self.cfg.num_buckets:
                ok, note = False, f"{len(buckets)} buckets committed"
            detail = {"rows_todo": self.rows_todo, **self.lineage_summary(run_dir, f"op{k}")}
            return Op(dt, self.rows_todo, ok, note, detail)

        return _op_loop(seconds, op)


class StreamMicrobatch(FilesWorkload):
    """streaming.pipeline.scrub_stream over the corpus split into files,
    one file per micro-batch. Files are made visible STREAM_CHUNK at a
    time; each chunk is one availableNow run of the stream on the same
    checkpoint, so the window can stop between chunks."""

    name = "stream_microbatch"

    def prepare(self) -> None:
        super().prepare()
        self.stream_dir = self.cache.item(
            "stream",
            lambda d: corpus.write_parts(pd.read_parquet(self.files_dir), d, N_STREAM_PARTS),
        )
        self.parts = sorted(self.stream_dir.glob("part-*.parquet"))
        self.part_of = {}
        for idx, p in enumerate(self.parts):
            for key in pd.read_parquet(p, columns=corpus.KEY).itertuples(index=False, name=None):
                self.part_of[key] = idx
        lab = self.labels.copy()
        lab["part"] = [self.part_of[k] for k in lab[corpus.KEY].itertuples(index=False, name=None)]
        self.stream_labels = lab

    def _run_stream(self, spark, src: Path, out: Path, chk: Path):
        from spardaqus_spark.streaming import pipeline as spipe

        stream = (
            spark.readStream.schema(corpus.FILES_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = spipe.scrub_stream(stream, str(out), str(chk), self.cfg)
        q.awaitTermination(120)
        return q

    def _expose(self, src: Path, parts: list[Path], first: int) -> None:
        # modification times order the files for the stream source
        base = time.time() - 3600
        for i, p in enumerate(parts):
            dst = src / p.name
            shutil.copyfile(p, dst)
            os.utime(dst, (base + first + i, base + first + i))

    def warm_up(self, spark) -> None:
        root = _fresh(self.work / "warm-stream")
        src = _fresh(root / "src")
        self._expose(src, sorted(self.warm_dir.glob("part-*.parquet")), 0)
        self._run_stream(spark, src, root / "out", root / "chk")

    def window(self, spark, seconds: float) -> Window:
        root = _fresh(self.work / "stream")
        src, out, chk = _fresh(root / "src"), root / "out", root / "chk"
        progress: list[dict] = []
        wall = 0.0
        errors = []
        t_start = time.perf_counter()
        nxt = 0
        while nxt < len(self.parts) and (not progress or time.perf_counter() - t_start < seconds):
            chunk = self.parts[nxt : nxt + STREAM_CHUNK]
            self._expose(src, chunk, nxt)
            nxt += len(chunk)
            t0 = time.perf_counter()
            q = self._run_stream(spark, src, out, chk)
            wall += time.perf_counter() - t0
            if q.exception() is not None:
                errors.append(str(q.exception()))
            progress.extend(p for p in q.recentProgress if p["numInputRows"] > 0)
        ops = self._check(out, progress, set(range(nxt)))
        if errors:
            ops.append(Op(0.0, 0, False, errors[0][:200]))
        # each availableNow run also starts and stops the query: count it
        return Window(ops, sum(o.rows for o in ops) / wall)

    def _check(self, out: Path, progress: list[dict], exposed: set[int]) -> list[Op]:
        lab = self.stream_labels
        want = lab[lab["rule_keep"]]
        cols = corpus.KEY + ["scrubbed_sha256"]
        ops = []
        matched: set[int] = set()
        empty = []
        for p in progress:
            got = _read_sink(out / f"batch_id={p['batchId']}", cols)
            rows = int(p["numInputRows"])
            lat = p["batchDuration"] / 1000.0
            detail = {"duration_ms": dict(p["durationMs"])}
            if got.empty:
                empty.append((lat, rows, detail))
                continue
            parts = {self.part_of.get(k) for k in got[corpus.KEY].itertuples(index=False, name=None)}
            ok = len(parts) == 1 and not (parts & matched)
            if ok:
                part = parts.pop()
                matched.add(part)
                ok = _same_rows(got, want[want["part"] == part], cols)
                ok = ok and rows == int((lab["part"] == part).sum())
            ops.append(Op(lat, rows, ok, "" if ok else f"batch {p['batchId']} differs", detail))
        # a batch may write nothing only if its file has no rule-kept row
        unkept = {i for i in exposed - matched if not (want["part"] == i).any()}
        for k, (lat, rows, detail) in enumerate(empty):
            ok = k < len(unkept)
            ops.append(Op(lat, rows, ok, "" if ok else "batch wrote nothing", detail))
        if matched | unkept != exposed:
            ops.append(Op(0.0, 0, False, f"{len(exposed - matched - unkept)} files never processed"))
        return ops


class NearDedup:
    """The registered corpus_build and minhash_lsh_pairs queries over a
    seeded sample of the documents table."""

    name = "near_dedup"

    def __init__(self, cache: corpus.SeedCache, work: Path, procs: int, n_docs: int = N_DOCS):
        self.cache = cache
        self.work = work
        self.n_docs = n_docs
        self.cfg = default_config()

    def prepare(self) -> None:
        pool = pd.read_parquet(DOCS_POOL)

        def sample(d: Path, n: int) -> None:
            docs = pool.sample(n=n, random_state=self.cache.seed).sort_values("doc_id")
            docs.to_parquet(d / "documents.parquet", index=False)

        n = self.n_docs
        self.docs_dir = self.cache.item(f"docs{n}", lambda d: sample(d, n))
        self.warm_dir = self.cache.item("docs-warm", lambda d: sample(d, 300))
        self.expected_dir = self.cache.item(f"docs{n}-expected", self._duckdb_twins)
        self.expected = {
            q: pd.read_parquet(self.expected_dir / f"{q}.parquet")["row"].tolist()
            for q in ("corpus_build", "minhash_lsh_pairs")
        }
        self.n_rows = len(pd.read_parquet(self.docs_dir / "documents.parquet", columns=["doc_id"]))
        self.expected_pairs = len(self.expected["minhash_lsh_pairs"])

    def _duckdb_twins(self, d: Path) -> None:
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{self.docs_dir / 'documents.parquet'}')"
            )
            for q in ("corpus_build", "minhash_lsh_pairs"):
                rows = canon(con.execute(sql[q]).df())
                pd.DataFrame({"row": rows}).to_parquet(d / f"{q}.parquet", index=False)
        finally:
            con.close()

    def prepare_spark(self, spark) -> None:
        pass

    def restore(self) -> None:
        pass

    def replay_texts(self) -> pd.Series:
        return pd.read_parquet(self.docs_dir / "documents.parquet", columns=["text"])["text"]

    def probes(self, spark) -> dict[str, float]:
        """Timed calls into the query layer's building blocks: LSH
        candidate generation and sequence packing."""
        from spardaqus_spark import queries_ml as QM, queries_text as QT

        d = str(self.docs_dir)
        t0 = time.perf_counter()
        candidates = QM.q_minhash_lsh_candidates(spark, d).count()
        t1 = time.perf_counter()
        QT.q_sequence_packing(spark, d).collect()
        t2 = time.perf_counter()
        spark.catalog.clearCache()
        verified = self.expected_pairs
        return {
            "queries.minhash_candidates_s": t1 - t0,
            "queries.packing_s": t2 - t1,
            "queries.candidate_pairs": float(candidates),
            "queries.verified_ratio": verified / candidates if candidates else 0.0,
        }

    def queries(self):
        import __spark_entry__ as entry

        reg = entry.queries()
        return reg["corpus_build"], reg["minhash_lsh_pairs"]

    def warm_up(self, spark) -> None:
        for q in self.queries():
            q(spark, str(self.warm_dir)).toPandas()
        spark.catalog.clearCache()

    def window(self, spark, seconds: float) -> Window:
        build, pairs = self.queries()

        def op(k: int) -> Op:
            t0 = time.perf_counter()
            got_build = build(spark, str(self.docs_dir)).toPandas()
            t1 = time.perf_counter()
            got_pairs = pairs(spark, str(self.docs_dir)).toPandas()
            dt = time.perf_counter() - t0
            # the queries cache subtrees by plan; drop them so every pass
            # computes from the input
            spark.catalog.clearCache()
            ok = canon(got_build) == self.expected["corpus_build"]
            ok_pairs = canon(got_pairs) == self.expected["minhash_lsh_pairs"]
            note = "" if ok and ok_pairs else "query result differs from the DuckDB twin"
            detail = {"corpus_build_s": t1 - t0, "verified_pairs": len(got_pairs)}
            return Op(dt, self.n_rows, ok and ok_pairs, note, detail)

        return _op_loop(seconds, op)


def _canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.4f}"
    return str(v)


def canon(pdf: pd.DataFrame) -> list[str]:
    """Order-insensitive value rows, floats to 4 decimals: the comparison
    tests/test_queries.py makes between a query and its DuckDB twin."""
    cols = sorted(pdf.columns)
    return sorted(
        "|".join(_canon_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


WORKLOADS = {
    w.name: w for w in (BatchClean, ResumeHalf, StreamMicrobatch, NearDedup)
}
