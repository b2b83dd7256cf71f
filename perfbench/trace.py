"""Spans and per-layer counters, read from outside the program.

Sources, all public: wall-clock spans around calls into the package, the
SparkContext status tracker (one job group per phase of an operation),
and the SQL metrics of each operation's final executed plan, including
the Python-UDF metrics (pythonTotalTime, pythonBootTime, pythonDataSent,
pythonDataReceived).  Spans are kept in memory and written out once, when
the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time

# physical operators that evaluate Python code
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF")


class Tracer:
    """In-memory span log: (op_id, name, start, end, parent)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: int):
        if not self.enabled:
            yield
            return
        rec = {"op_id": op_id, "name": name, "start": time.time(),
               "end": None,
               "parent": self.spans[self._stack[-1]]["name"] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str):
        with open(path, "w") as f:
            json.dump(self.spans, f)


def job_group_stats(sc, group: str) -> dict:
    """Jobs, stages and tasks the status tracker recorded for a job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stages += 1
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if "QueryStage" in cls:
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def plan_nodes(df) -> list[dict]:
    """Flattened final executed plan of df (run after its action):
    [{name, desc, metrics, children: [indices]}] in pre-order."""
    nodes: list[dict] = []

    def visit(node) -> int:
        idx = len(nodes)
        name = node.nodeName()
        desc = node.simpleString(400) if ("Join" in name or name in PYTHON_NODES) else ""
        nodes.append({"name": name, "desc": desc, "metrics": _metrics(node),
                      "children": []})
        nodes[idx]["children"] = [visit(c) for c in _children(node)]
        return idx

    visit(df._jdf.queryExecution().executedPlan())
    return nodes


def _first_rows(nodes, idx):
    """(index, numOutputRows) of the first node at or below idx, following
    first children, that reports output rows."""
    while True:
        n = nodes[idx]
        if "numOutputRows" in n["metrics"]:
            return idx, n["metrics"]["numOutputRows"]
        if not n["children"]:
            return idx, 0
        idx = n["children"][0]


def plan_counters(nodes: list[dict]) -> dict:
    """Per-layer counters from a flattened plan (see plan_nodes)."""
    c = {"plan_nodes": len(nodes), "shuffles": 0, "broadcasts": 0,
         "shuffle_bytes": 0, "broadcast_bytes": 0, "spill_bytes": 0,
         "udf_nodes": 0, "udf_rows_in": 0, "udf_bytes_sent": 0,
         "udf_bytes_received": 0, "udf_python_ms": 0, "udf_boot_ms": 0,
         "candidates": 0, "refined": 0, "mention_rows": 0}
    for i, n in enumerate(nodes):
        m, name, desc = n["metrics"], n["name"], n["desc"]
        c["spill_bytes"] += m.get("spillSize", 0)
        if name == "Exchange":
            c["shuffles"] += 1
            c["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        elif name == "BroadcastExchange":
            c["broadcasts"] += 1
            c["broadcast_bytes"] += m.get("dataSize", 0)
        elif name in PYTHON_NODES:
            c["udf_nodes"] += 1
            c["udf_bytes_sent"] += m.get("pythonDataSent", 0)
            c["udf_bytes_received"] += m.get("pythonDataReceived", 0)
            c["udf_python_ms"] += m.get("pythonTotalTime", 0)
            c["udf_boot_ms"] += m.get("pythonBootTime", 0)
            if n["children"]:
                j, rows = _first_rows(nodes, n["children"][0])
                c["udf_rows_in"] += rows
                # a Python node fed straight by a cell-key join is the
                # spatial refine: its input rows are the refined candidates
                if "Join" in nodes[j]["name"] and "_ck" in nodes[j]["desc"]:
                    c["refined"] += rows
        elif "Join" in name:
            if "_ck" in desc:
                c["candidates"] += m.get("numOutputRows", 0)
            elif "city_k" in desc:
                c["mention_rows"] += m.get("numOutputRows", 0)
    return c


def persisted_bytes(sc) -> int:
    """Memory + disk bytes of every RDD Spark's block manager holds."""
    total = 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        total += info.memSize() + info.diskSize()
    return total
