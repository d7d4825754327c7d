"""Seeded benchmark inputs: the files corpus, its oracle labels, the
stream layout of the same corpus and the near-dup documents sample.

Every input is a pure function of the workload seed and is built into a
per-seed cache under the benchmark's work dir before Spark starts, so
input generation and labelling never land in a timed window or in
``setup_s``. The program under test only ever sees the generated files.
"""

from __future__ import annotations

import hashlib
import math
import multiprocessing
import os
import shutil
from pathlib import Path

import pandas as pd

from spardaqus_spark import fixtures, oracle
from spardaqus_spark.config import PipelineConfig
from spardaqus_spark.kernels import seeds
from spardaqus_spark.rules import apply_rules_pandas

INPUT_COLS = ["repo", "path", "commit", "lang", "content"]
KEY = ["repo", "path", "commit"]
FILES_SCHEMA = "repo string, path string, commit string, lang string, content string"

ROOT = Path(__file__).resolve().parents[1]

# Row ids of seed s start at (s - 42) * ID_STRIDE: seed 42 is the pinned
# fixture corpus, and corpora of different seeds never share a row id.
ID_STRIDE = 10**9


def row_offset(seed: int) -> int:
    return (seed - fixtures.SEED) * ID_STRIDE


def gen_files(n: int, seed: int) -> pd.DataFrame:
    """``fixtures.gen_files(n)`` over row ids shifted by ``row_offset(seed)``.

    ``fixtures.gen_files`` is pinned to seed 42, so this repeats its row
    loop around the fixture's own per-row builders (``_ints``,
    ``_stratum``, ``_gen_content``): same strata, same two mega-repos
    owning ~30% of rows, same +5% exact-duplicate rows. Seed 42 yields
    exactly ``fixtures.gen_files(n)``."""
    off = row_offset(seed)
    rows = []
    clean_contents: list[tuple[str, str]] = []
    for i in range(off, off + n):
        r = fixtures._ints(i, "row", 6)
        stratum = fixtures._stratum(i)
        if r[0] % 10 < 3:
            repo = f"mega/repo{r[0] % 2}"
        else:
            repo = f"org{r[1] % 50}/repo{r[1] % 400}"
        ext = fixtures.EXTS[r[2] % len(fixtures.EXTS)]
        path = f"src/dir{r[3] % 20}/file{i}.{ext}"
        commit = hashlib.sha256(f"{fixtures.SEED}:commit:{i}".encode()).hexdigest()[:40]
        claimed_lang = seeds.LANGS[r[4] % len(seeds.LANGS)]
        content_lang = "zh" if stratum == "wrong_lang" else seeds.ALLOWED_LANGS[r[5] % 4]
        content = fixtures._gen_content(i, ext, content_lang, stratum)
        rows.append((repo, path, commit, claimed_lang, content, stratum))
        if stratum == "clean":
            clean_contents.append((content, claimed_lang))
    for j in range(n // 20):
        if not clean_contents:
            break
        i = off + n + j
        r = fixtures._ints(i, "dup", 4)
        content, lang = clean_contents[r[0] % len(clean_contents)]
        repo = f"org{r[1] % 50}/repo{r[1] % 400}"
        path = f"src/dir{r[2] % 20}/file{i}.{fixtures.EXTS[r[3] % len(fixtures.EXTS)]}"
        commit = hashlib.sha256(f"{fixtures.SEED}:commit:{i}".encode()).hexdigest()[:40]
        rows.append((repo, path, commit, lang, content, "exact_dup"))
    return pd.DataFrame(rows, columns=INPUT_COLS + ["stratum"])


def write_parts(df: pd.DataFrame, out: Path, n_parts: int) -> list[Path]:
    """Split ``df`` into ``n_parts`` contiguous parquet files: one file is
    one scan task, so a single file would serialize the scan."""
    out.mkdir(parents=True, exist_ok=True)
    step = math.ceil(len(df) / n_parts)
    paths = []
    for k in range(n_parts):
        part = df.iloc[k * step : (k + 1) * step]
        if len(part):
            p = out / f"part-{k:04d}.parquet"
            part.to_parquet(p, index=False)
            paths.append(p)
    return paths


def _oracle_chunk(args: tuple[pd.DataFrame, PipelineConfig]) -> pd.DataFrame:
    pdf, cfg = args
    return oracle.run(pdf, cfg)


def oracle_labels(files: pd.DataFrame, cfg: PipelineConfig, procs: int) -> pd.DataFrame:
    """Per-row reference labels from ``oracle.run``.

    The corpus is split by content sha256 so every exact-duplicate group
    lands in one chunk: dedup winners are picked inside a group and every
    other oracle step is row-local (the cross-file boilerplate stage is
    off in the benchmark config), so the union of the chunk results is
    ``oracle.run`` over the whole corpus, computed on ``procs`` cores.
    The pool forks, so call it before Spark starts: the children then
    skip re-importing the package.

    Columns: the file key, ``keep`` (final verdict: rules and dedup),
    ``rule_keep`` (rules only: what the streaming path keeps, as it does
    no cross-batch dedup), ``scrubbed_sha256`` of every rule-kept row."""
    if cfg.boilerplate_frac_enabled:
        raise ValueError("oracle chunking needs the row-local verdict")
    inp = files[INPUT_COLS].reset_index(drop=True)
    shard = oracle.sha256_hex(inp["content"]).map(lambda h: int(h[:8], 16) % procs)
    chunks = [(inp[shard == k], cfg) for k in range(procs)]
    if procs > 1:
        with multiprocessing.get_context("fork").Pool(procs) as pool:
            parts = pool.map(_oracle_chunk, chunks)
    else:
        parts = [_oracle_chunk(c) for c in chunks]
    full = pd.concat(parts, ignore_index=True)
    rule_keep, _ = apply_rules_pandas(cfg.rules, full, cfg.verdict)
    out = full[KEY + ["keep", "dup_loser", "content_sha256"]].copy()
    out["rule_keep"] = rule_keep.to_numpy()
    # The rule verdict and the scrub output depend on content alone, so a
    # rule-kept dedup loser scrubs to the same bytes as its kept winner.
    by_content = (
        full.loc[full["keep"], ["content_sha256", "scrubbed_sha256"]]
        .drop_duplicates("content_sha256")
        .set_index("content_sha256")["scrubbed_sha256"]
    )
    out["scrubbed_sha256"] = out["content_sha256"].map(by_content)
    out.loc[~out["rule_keep"], "scrubbed_sha256"] = None
    if out.loc[out["rule_keep"], "scrubbed_sha256"].isna().any():
        raise AssertionError("rule-kept row without a kept content twin")
    return out


def cpu_count() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def source_key() -> str:
    """Short hash of the code every cached input is derived from: the
    package (fixtures, oracle, the pipeline that writes its own run-dir
    formats), the DuckDB twins and the benchmark's own generator and
    sizes. A commit that changes any of them never reuses inputs or
    labels another commit built."""
    h = hashlib.sha256()
    files = sorted((ROOT / "spardaqus_spark").rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", *sorted(Path(__file__).parent.glob("*.py"))]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


class SeedCache:
    """Per-seed input directory. Each item is built once into a temp dir
    and renamed into place, so an interrupted build is rebuilt."""

    def __init__(self, root: Path, seed: int):
        self.dir = root / f"seed-{seed}"
        self.seed = seed

    def item(self, name: str, build) -> Path:
        final = self.dir / name
        if not final.exists():
            tmp = self.dir / f".tmp-{name}-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            tmp.mkdir(parents=True)
            build(tmp)
            os.rename(tmp, final)
        return final
