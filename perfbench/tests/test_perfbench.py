"""Tests of the benchmark's own code: the seeded generator, the latency
tail rule, and event-log parsing with layer attribution.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shlex
import subprocess
import sys
import textwrap
from pathlib import Path

import pandas as pd
import pytest

from perfbench import corpus, eventlog, measure
from spardaqus_spark import fixtures

ROOT = Path(__file__).resolve().parents[2]


def test_seed_42_is_the_fixture_corpus():
    assert corpus.gen_files(400, 42).equals(fixtures.gen_files(400))


def test_generator_is_deterministic_per_seed():
    a, b = corpus.gen_files(200, 7), corpus.gen_files(200, 7)
    assert a.equals(b)
    other = corpus.gen_files(200, 8)
    assert not set(a["commit"]) & set(other["commit"])
    assert not set(a["commit"]) & set(fixtures.gen_files(200)["commit"])


def test_generator_keeps_the_fixture_shape():
    df = corpus.gen_files(2000, 3)
    assert len(df) == 2000 + 100  # +5% exact duplicates
    mega = df["repo"].str.startswith("mega/").mean()
    assert 0.2 < mega < 0.4
    assert df["content"].duplicated().sum() >= 100


def test_write_parts_splits_evenly(tmp_path):
    df = corpus.gen_files(300, 5)[corpus.INPUT_COLS]
    paths = corpus.write_parts(df, tmp_path, 32)
    assert len(paths) == 32
    back = pd.concat([pd.read_parquet(p) for p in paths], ignore_index=True)
    assert back.equals(df.reset_index(drop=True))


def test_chunked_oracle_labels_equal_single_process():
    from spardaqus_spark import oracle
    from spardaqus_spark.config import default_config

    df = corpus.gen_files(600, 9)
    cfg = default_config()
    lab = corpus.oracle_labels(df, cfg, 3).set_index(corpus.KEY).sort_index()
    ref = oracle.run(df[corpus.INPUT_COLS], cfg).set_index(corpus.KEY).sort_index()
    assert (lab["keep"] == ref["keep"]).all()
    kept = ref["keep"]
    assert (lab.loc[kept, "scrubbed_sha256"] == ref.loc[kept, "scrubbed_sha256"]).all()
    assert lab["rule_keep"].sum() >= lab["keep"].sum()


@pytest.mark.parametrize(
    "n, pct",
    [(1, None), (10, None), (11, 100 * 1 / 11), (20, 50.0), (100, 90.0), (1000, 99.0)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    got = measure.tail_percentile(n)
    if pct is None:
        assert got is None
    else:
        assert got == pytest.approx(pct)
        beyond = sum(1 for v in range(1, n + 1) if v > measure.percentile(list(range(1, n + 1)), got))
        assert beyond == 10


def test_latency_summary_falls_back_to_max():
    s = measure.latency_summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail_pct": None, "tail": 3.0}
    s = measure.latency_summary([float(v) for v in range(1, 101)])
    assert s["tail_pct"] == pytest.approx(90.0) and s["tail"] == 90.0


_TINY_RUN = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {root!r})
    from spardaqus_spark import pipeline
    from spardaqus_spark.config import default_config
    from spardaqus_spark.session import get_spark
    from spardaqus_spark.operators.graphops import connected_components
    from perfbench import corpus
    spark = get_spark(master="local[2]", shuffle_partitions=4)
    df = corpus.gen_files(120, 11)[corpus.INPUT_COLS]
    res = pipeline.run(spark.createDataFrame(df), default_config(), run_dir={run!r}, run_id="t")
    spark.read.parquet({run!r} + "/files_clean").count()
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "d1 long, d2 long")
    connected_components(pairs).collect()
    print("ROWS", len(df), res["files_out"])
    spark.stop()
    """
)


@pytest.fixture(scope="module")
def tiny_log(tmp_path_factory):
    """A pipeline run at local[2] with the event log enabled from the
    launch environment, in its own process so the log covers one app."""
    d = tmp_path_factory.mktemp("evlog")
    script = d / "run.py"
    script.write_text(_TINY_RUN.format(root=str(ROOT), run=str(d / "run")))
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": (d / "log").as_uri(),
        "spark.eventLog.compress": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    (d / "log").mkdir()
    args = [x for k, v in confs.items() for x in ("--conf", f"{k}={v}")]
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=shlex.join(args + ["pyspark-shell"]), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, str(script)], env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows, kept = (int(x) for x in out.stdout.split("ROWS", 1)[1].split())
    return eventlog.read_events(d / "log"), rows, kept


def test_event_log_attributes_pipeline_layers(tiny_log):
    events, rows, kept = tiny_log
    t = eventlog.parse(events)
    assert t.jobs > 0 and t.tasks > 0
    roles = {eventlog.execution_role(ex) for ex in t.executions.values()}
    assert {"pipeline.write", "plans.lineage", "pipeline.readback"} <= roles
    score = lambda n: eventlog.python_role(n) == "operators.stages.score_scrub"  # noqa: E731
    # every input row crosses into the fused scoring kernel exactly once
    assert t.total("number of output rows", score) == rows
    assert t.total("time to run Python workers", score) > 0
    assert t.total("shuffle bytes written", eventlog.is_dedup_exchange) > 0
    assert t.total("shuffle bytes written", eventlog.is_bucket_exchange) > 0
    data_write = lambda n: eventlog.is_write(n) and not eventlog.is_lineage_write(n)  # noqa: E731
    assert t.total("number of output rows", data_write) == kept
    assert t.total("number of output rows", eventlog.is_lineage_write) > 0


def test_event_log_call_sites_name_the_module(tiny_log):
    events, _, _ = tiny_log
    t = eventlog.parse(events)
    sites = [ex.description for ex in t.executions.values()]
    assert any("spardaqus_spark/pipeline.py:" in s for s in sites)


def test_event_log_finds_graphops_rounds(tiny_log):
    events, _, _ = tiny_log
    t = eventlog.parse(events)
    cc = [ex for ex in t.executions.values() if eventlog.is_graphops(ex)]
    rounds = [ex for ex in cc if ex.description.startswith("count at")]
    assert rounds and len(cc) > len(rounds)
    # the pipeline's own executions are never taken for graphops
    assert not any(eventlog.execution_role(ex) != "other" for ex in cc)


def test_parse_window_drops_earlier_events(tiny_log):
    events, _, _ = tiny_log
    last = max(
        max(e.get("Submission Time", 0), e.get("time", 0), (e.get("Task Info") or {}).get("Launch Time", 0))
        for e in events
    )
    t = eventlog.parse(events, since_ms=last + 1)
    assert t.jobs == 0 and t.tasks == 0 and not t.executions
