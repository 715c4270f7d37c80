"""Read a Spark event log and attribute its stages to the package's layers.

Each stage is tied to the physical-plan nodes its tasks updated metrics for
(accumulator ids in ``SparkListenerTaskEnd`` matched against every plan
``SparkListenerSQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate``
announced) plus the RDD scopes it ran. A stage's executor run time is then
split between layers:

- Python time of ``ArrowEvalPython`` nodes -> ``stages``;
- Python time of ``FlatMapGroupsInPandas`` -> ``merge``;
- the remaining JVM time -> the first rule that matches the stage:
  a file write, an aggregate on ``partition_id``, a left-anti join or a
  scan of the store's ``runs/`` directory -> ``checkpoint``; any node on
  ``__content_key`` -> ``dedup``; a ``_bucket`` exchange -> ``merge``; a
  Python node -> its layer; a parquet scan -> ``sources``; otherwise the
  layer of the stage on the other side of a shared exchange, or ``spark``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    id: int
    start: float
    end: float
    scopes: set = field(default_factory=set)
    nodes: set = field(default_factory=set)  # node ids (plan accumulator owners)
    task_ms: list = field(default_factory=list)  # executor run time per task
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    python_ms: dict = field(default_factory=dict)  # layer -> ms
    layer_shares: dict = field(default_factory=dict)
    node_metrics: dict = field(default_factory=dict)  # (node, metric) -> sum
    node_tasks: dict = field(default_factory=dict)  # node -> tasks updating it


@dataclass
class Node:
    id: int
    name: str
    text: str


@dataclass
class EventLog:
    stages: list
    nodes: dict  # node id -> Node
    job_starts: list  # submission time (epoch s) of every job

    def _match(self, nid: int, name: str, text_has: str) -> bool:
        node = self.nodes[nid]
        return node.name == name and text_has in node.text

    def metric(self, stages, name: str, metric: str, text_has: str = "") -> float:
        """Sum of a plan-node metric over ``stages``, for nodes called
        ``name`` whose plan text contains ``text_has``."""
        return sum(
            v
            for st in stages
            for (nid, m), v in st.node_metrics.items()
            if m == metric and self._match(nid, name, text_has)
        )

    def node_tasks(self, stages, name: str, text_has: str = "") -> int:
        return sum(
            c
            for st in stages
            for nid, c in st.node_tasks.items()
            if self._match(nid, name, text_has)
        )

    def runs_node(self, st: Stage, name: str, text_has: str = "") -> bool:
        return any(self._match(nid, name, text_has) for nid in st.nodes)


_PYTHON_LAYER = {"ArrowEvalPython": "stages", "FlatMapGroupsInPandas": "merge"}


def read_event_log(directory: str) -> EventLog:
    files = [f for f in glob.glob(os.path.join(directory, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    acc_owner: dict[int, tuple[int, str]] = {}  # accumulator id -> (node, metric)
    nodes: dict[int, Node] = {}
    stages: dict[int, Stage] = {}
    job_starts = []

    def walk(plan: dict) -> None:
        metrics = plan.get("metrics", [])
        if metrics:
            nid = metrics[0]["accumulatorId"]
            node = nodes.setdefault(
                nid, Node(nid, plan["nodeName"], plan.get("simpleString", ""))
            )
            for m in metrics:
                acc_owner[m["accumulatorId"]] = (node.id, m["name"])
        for child in plan.get("children", []):
            walk(child)

    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                walk(ev["sparkPlanInfo"])
            elif kind == "SparkListenerJobStart":
                job_starts.append(ev["Submission Time"] / 1000)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], 0, 0))
                st.start = info.get("Submission Time", 0) / 1000
                st.end = info.get("Completion Time", 0) / 1000
                for rdd in info.get("RDD Info", []):
                    scope = rdd.get("Scope")
                    if scope:
                        st.scopes.add(json.loads(scope)["name"])
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, Stage(sid, 0, 0))
                tm = ev.get("Task Metrics") or {}
                st.task_ms.append(tm.get("Executor Run Time", 0))
                st.cpu_ns += tm.get("Executor CPU Time", 0)
                st.gc_ms += tm.get("JVM GC Time", 0)
                st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                seen = set()
                for acc in ev["Task Info"].get("Accumulables", []):
                    owner = acc_owner.get(acc["ID"])
                    if owner is None:
                        continue
                    nid, metric = owner
                    st.nodes.add(nid)
                    if nid not in seen:
                        seen.add(nid)
                        st.node_tasks[nid] = st.node_tasks.get(nid, 0) + 1
                    try:
                        value = float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    key = (nid, metric)
                    st.node_metrics[key] = st.node_metrics.get(key, 0) + value
                    name = nodes[nid].name
                    if metric == "time to run Python workers" and name in _PYTHON_LAYER:
                        layer = _PYTHON_LAYER[name]
                        st.python_ms[layer] = st.python_ms.get(layer, 0) + value
    log = EventLog(sorted(stages.values(), key=lambda s: s.id), nodes, job_starts)
    _assign_layers(log)
    return log


PARTITION_AGG = re.compile(r"keys?=\[partition_id")


def _jvm_layer(st: Stage, log: EventLog) -> str:
    named = [(log.nodes[n].name, log.nodes[n].text) for n in st.nodes]
    names = {n for n, _ in named} | st.scopes
    if (
        any(s.startswith(("WriteFiles", "Execute InsertInto")) for s in names)
        or any(PARTITION_AGG.search(t) or "LeftAnti" in t for _, t in named)
        or any(n.startswith("Scan") and "/runs/" in t for n, t in named)
    ):
        return "checkpoint"
    if any("__content_key" in t for _, t in named):
        return "dedup"
    if any(n == "Exchange" and "_bucket" in t for n, t in named):
        return "merge"
    for name, layer in _PYTHON_LAYER.items():
        if name in names:
            return layer
    if any(s.startswith("Scan") for s in names):
        return "sources"
    return "spark"


def _assign_layers(log: EventLog) -> None:
    """JVM layer per stage; a stage no rule places (say, the reduce side of
    an aggregate) takes the layer of a stage it shares an exchange with."""
    base = {st.id: _jvm_layer(st, log) for st in log.stages}
    by_exchange: dict[int, set] = {}
    for st in log.stages:
        for nid in st.nodes:
            if log.nodes[nid].name == "Exchange" and base[st.id] != "spark":
                by_exchange.setdefault(nid, set()).add(base[st.id])
    for st in log.stages:
        layer = base[st.id]
        if layer == "spark":
            inherited = sorted(
                set().union(*(by_exchange.get(nid, set()) for nid in st.nodes))
            )
            layer = inherited[0] if len(inherited) == 1 else layer
        st.layer_shares = _shares(st, layer)


def _shares(st: Stage, jvm_layer: str) -> dict[str, float]:
    total = sum(st.task_ms)
    if total <= 0:
        return {jvm_layer: 1.0}
    py = {k: min(v, total) for k, v in st.python_ms.items()}
    py_total = sum(py.values())
    if py_total > total:  # overlapping python nodes in one task: rescale
        py = {k: v * total / py_total for k, v in py.items()}
        py_total = total
    shares = {k: v / total for k, v in py.items() if v > 0}
    rest = 1.0 - py_total / total
    if rest > 0:
        shares[jvm_layer] = shares.get(jvm_layer, 0.0) + rest
    return shares


def layer_task_seconds(log: EventLog, stages=None) -> dict[str, float]:
    """Executor run time per layer, split by each stage's shares."""
    out: dict[str, float] = {}
    for st in stages if stages is not None else log.stages:
        t = sum(st.task_ms) / 1000
        for layer, frac in st.layer_shares.items():
            out[layer] = out.get(layer, 0.0) + t * frac
    return out


def task_skew(st: Stage) -> float:
    """Slowest task over the median task of one stage."""
    med = statistics.median(st.task_ms) if st.task_ms else 0
    return max(st.task_ms) / med if med else 0.0


def stages_within(log: EventLog, start: float, end: float) -> list[Stage]:
    """Stages that ran inside [start, end] (epoch seconds)."""
    return [s for s in log.stages if s.start >= start and s.end <= end]
