"""Read a Spark event log and attribute its costs to the package's layers.

The log is enabled from outside the program (Spark confs set before the
JVM starts), uncompressed, and may roll over several files. Costs are
attributed through the SQL plans the log records: every plan node lists
the accumulator ids of its metrics, and task-end events carry the
per-task updates of those accumulators. A node is mapped to a layer by
what it is (a Python map over the dedup-flagged frame is
``operators.stages.score_scrub``; an exchange hashed on ``content_sha256``
is the dedup shuffle; a write into a ``lineage`` directory is
``plans.lineage``), so the attribution survives line moves in the
program. Executions started from a Python call site (collects, counts)
also carry that call site as their description.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

_EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_EXEC_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_EXEC_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def event_files(log_dir: Path) -> list[Path]:
    """Event files under ``log_dir`` in write order (rolling logs number
    their parts ``events_<n>_<app>``)."""

    def order(p: Path) -> tuple:
        m = re.match(r"events_(\d+)_", p.name)
        return (str(p.parent), int(m.group(1)) if m else 0, p.name)

    return sorted(log_dir.rglob("events_*"), key=order)


def read_events(log_dir: Path) -> list[dict]:
    out = []
    for f in event_files(log_dir):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
    return out


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, tuple[int, str]]  # metric name -> (accumulator id, type)


@dataclass
class Execution:
    id: int
    description: str
    start_ms: int
    end_ms: int = 0
    write_task_s: float = 0.0  # run time of this execution's file-writing tasks
    nodes: dict[str, Node] = field(default_factory=dict)  # first accumulator id -> node

    @property
    def seconds(self) -> float:
        return max(self.end_ms - self.start_ms, 0) / 1000.0


@dataclass
class Trace:
    executions: dict[int, Execution]
    acc: dict[int, int]  # accumulator id -> summed task and driver updates
    jobs: int
    tasks: int
    task_totals: dict[str, float]  # summed task metrics
    peak_task_exec_mem: int

    def nodes(self, pred=lambda n: True):
        """Distinct plan nodes: a persisted subtree reappears in the plan
        of every execution that reads it, with the same accumulators."""
        seen: set[str] = set()
        for ex in self.executions.values():
            for key, node in ex.nodes.items():
                if key not in seen and pred(node):
                    seen.add(key)
                    yield node

    def value(self, node: Node, metric: str) -> float:
        """A node metric in base units: seconds for timings, else as
        counted (bytes, rows)."""
        if metric not in node.metrics:
            return 0.0
        aid, kind = node.metrics[metric]
        v = float(self.acc.get(aid, 0))
        if kind == "timing":
            return v / 1e3
        if kind == "nsTiming":
            return v / 1e9
        return v

    def total(self, metric: str, pred=lambda n: True) -> float:
        return sum(self.value(n, metric) for n in self.nodes(pred))


def _walk(info: dict, into: dict[str, Node]) -> None:
    metrics = {m["name"]: (int(m["accumulatorId"]), m["metricType"]) for m in info.get("metrics", [])}
    if metrics:
        key = str(min(a for a, _ in metrics.values()))
        into.setdefault(key, Node(info["nodeName"], info.get("simpleString", ""), metrics))
    for child in info.get("children", []):
        _walk(child, into)


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse(events: list[dict], since_ms: int = 0, until_ms: int | None = None) -> Trace:
    """Aggregate the events of SQL executions and tasks that started in
    [since_ms, until_ms] (epoch milliseconds)."""
    until = until_ms if until_ms is not None else 1 << 62
    execs: dict[int, Execution] = {}
    acc: dict[int, int] = defaultdict(int)
    totals: dict[str, float] = defaultdict(float)
    jobs = tasks = peak = 0
    stage_exec: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == _EXEC_START:
            if since_ms <= e["time"] <= until:
                ex = Execution(e["executionId"], e.get("description") or "", e["time"])
                _walk(e["sparkPlanInfo"], ex.nodes)
                execs[ex.id] = ex
        elif kind == _EXEC_UPDATE:
            if e["executionId"] in execs:
                _walk(e["sparkPlanInfo"], execs[e["executionId"]].nodes)
        elif kind == _EXEC_END:
            if e["executionId"] in execs:
                execs[e["executionId"]].end_ms = e["time"]
        elif kind == _DRIVER_ACCUM:
            if e["executionId"] in execs:
                for aid, v in e["accumUpdates"]:
                    acc[int(aid)] += _num(v)
        elif kind == "SparkListenerJobStart":
            if since_ms <= e["Submission Time"] <= until:
                jobs += 1
                ex_id = _num((e.get("Properties") or {}).get("spark.sql.execution.id", -1))
                for sid in e["Stage IDs"]:
                    stage_exec[sid] = ex_id
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if not since_ms <= info["Launch Time"] <= until:
                continue
            tasks += 1
            for a in info.get("Accumulables", []):
                acc[int(a["ID"])] += _num(a.get("Update"))
            m = e.get("Task Metrics") or {}
            totals["run_ms"] += m.get("Executor Run Time", 0)
            totals["gc_ms"] += m.get("JVM GC Time", 0)
            totals["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            written = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            ex = execs.get(stage_exec.get(e["Stage ID"], -1))
            if written and ex is not None:
                ex.write_task_s += m.get("Executor Run Time", 0) / 1e3
            peak = max(peak, m.get("Peak Execution Memory", 0))
    return Trace(execs, dict(acc), jobs, tasks, dict(totals), peak)


# --- node roles ------------------------------------------------------------

def python_role(node: Node) -> str | None:
    """Which package function a Python map node runs, from its inputs."""
    if "time to run Python workers" not in node.metrics:
        return None
    args = node.desc.split(")", 1)[0]
    if "dup_loser#" in args:
        return "operators.stages.score_scrub"
    if "rule_keep#" in args:
        return "operators.stages.scrub_stage"
    if "content#" in args:
        return "operators.stages.score"
    if "doc_id#" in args:
        return "kernels.minhash"
    return "other"


def is_dedup_exchange(node: Node) -> bool:
    return node.name == "Exchange" and "hashpartitioning(content_sha256" in node.desc


def is_bucket_exchange(node: Node) -> bool:
    return node.name == "Exchange" and "hashpartitioning(bucket" in node.desc


def is_write(node: Node) -> bool:
    return node.name.startswith("Execute InsertIntoHadoopFsRelationCommand")


def is_lineage_write(node: Node) -> bool:
    return is_write(node) and node.desc.split(",", 1)[0].endswith("lineage")


def is_scan(node: Node) -> bool:
    return "scan time" in node.metrics


def is_count_scan(node: Node) -> bool:
    """A scan that reads no data column: the sink read-backs count rows
    per partition directory. Every input scan reads the file columns.
    (Scan locations are cut at 100 characters, so paths cannot tell.)"""
    return is_scan(node) and node.desc.endswith("ReadSchema: struct<>")


def is_source_scan(node: Node) -> bool:
    return is_scan(node) and not is_count_scan(node)


def is_graphops(ex: Execution) -> bool:
    """An execution of ``operators.graphops.connected_components``: its
    edge and label checkpoints (the package's only ``localCheckpoint``)
    and each round's convergence count over ``old_lbl``. DataFrame
    actions carry a JVM call site, so the Python module cannot tell."""
    if ex.description.startswith("localCheckpoint at"):
        return True
    return ex.description.startswith("count at") and any("old_lbl" in n.desc for n in ex.nodes.values())


def execution_role(ex: Execution) -> str:
    """pipeline.write / plans.lineage / pipeline.readback / other."""
    writes = [n for n in ex.nodes.values() if is_write(n)]
    if any(is_lineage_write(n) for n in writes):
        return "plans.lineage"
    if writes:
        return "pipeline.write"
    if any(is_count_scan(n) for n in ex.nodes.values()):
        return "pipeline.readback"
    return "other"
