"""BASELINE's run contract (SURVEY.md §3.1): the shipped job runs through
``spark-submit --py-files dist/spardaqus_spark.zip main.py`` on real
executor JVMs, with ``PYTHONPATH`` unset so the executors' Python workers
can import the package only from ``package.sh``'s zip, and still meets the
oracle floor (kept set equal to ``oracle.run``'s, F1 = 1.0, and per-row
scrubbed sha256 equality).

``local-cluster[2,1,1024]`` starts 2 executor JVMs of 1 core and 1 GB.
Their workers write executor dirs under ``$SPARK_HOME/work`` whatever
``SPARK_WORKER_DIR`` says, so the job runs against an overlay
``SPARK_HOME`` in ``tmp_path``: a symlink to each entry of the real one
plus its own ``work/``. Nothing is written into the Spark install.
"""

from __future__ import annotations

import json
import os
import subprocess
from pathlib import Path

import pandas as pd
import pytest
import yaml

from spardaqus_spark import fixtures, oracle
from spardaqus_spark.config import load_config

REPO = Path(__file__).resolve().parents[1]
KEY = ["repo", "path", "commit"]


def _spark_overlay(tmp_path: Path) -> Path:
    home = Path(os.environ.get("SPARK_HOME", ""))
    if not (home / "bin" / "spark-submit").is_file():
        pytest.skip("needs a Spark distribution at $SPARK_HOME")
    overlay = tmp_path / "spark_home"
    overlay.mkdir()
    for entry in home.iterdir():
        if entry.name != "work":
            (overlay / entry.name).symlink_to(entry)
    (overlay / "work").mkdir()
    return overlay


def test_spark_submit_on_two_executors_meets_the_oracle(tmp_path):
    overlay = _spark_overlay(tmp_path)
    subprocess.run(["sh", "package.sh"], cwd=REPO, check=True,
                   capture_output=True)

    inp = fixtures.gen_files(300)[KEY + ["lang", "content"]]
    src = tmp_path / "files.parquet"
    inp.to_parquet(src, index=False)
    conf = yaml.safe_load((REPO / "conf" / "pipeline.yaml").read_text())
    conf["num_buckets"] = 8
    cfg_path = tmp_path / "pipeline.yaml"
    cfg_path.write_text(yaml.safe_dump(conf))
    events = tmp_path / "events"
    events.mkdir()
    run_dir = tmp_path / "run"

    # a SPARK_GRAFT_MASTER would make get_spark override the submitted master
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_MASTER")}
    env["SPARK_HOME"] = str(overlay)
    proc = subprocess.run(
        [
            str(overlay / "bin" / "spark-submit"),
            "--master", "local-cluster[2,1,1024]",
            "--driver-memory", "2g",
            "--py-files", str(REPO / "dist" / "spardaqus_spark.zip"),
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir={events.as_uri()}",
            str(REPO / "main.py"),
            "--config", str(cfg_path),
            "--input", str(src),
            "--run-dir", str(run_dir),
        ],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    # Spark 4 rolls event logs by default: one dir of events_<n>_<app> parts
    added = [
        line for part in events.rglob("events_*")
        for line in part.read_text().splitlines()
        if json.loads(line)["Event"] == "SparkListenerExecutorAdded"
    ]
    assert len(added) == 2, added

    got = pd.read_parquet(
        run_dir / "files_clean", columns=KEY + ["scrubbed_sha256"]
    )
    gold = oracle.run(inp, load_config(str(cfg_path)))
    want = gold.loc[gold["keep"], KEY + ["scrubbed_sha256"]]
    assert 0 < len(want) < len(gold)
    assert set(got[KEY].itertuples(index=False)) == set(
        want[KEY].itertuples(index=False)
    )
    j = want.merge(got, on=KEY, suffixes=("_o", "_s"), validate="1:1")
    assert (j["scrubbed_sha256_o"] == j["scrubbed_sha256_s"]).all()
