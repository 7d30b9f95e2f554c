"""Reader for the driver's status REST API (``<uiWebUrl>/api/v1``): the
jobs, stages and SQL executions a traced run launched, reduced to the
figures a span carries."""

from __future__ import annotations

import datetime as dt
import json
import re
import time
import urllib.request

from perfbench.procstat import parse_metric

MB = 2.0**20


def _ts(s: str) -> float:
    """REST timestamp (``2026-10-17T04:12:34.567GMT``) → epoch seconds."""
    return dt.datetime.strptime(s.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def settled_jobs(self, timeout_s: float = 30.0) -> list[dict]:
        """All jobs, once the listener has recorded every one as ended
        (the REST view lags the action that launched a job)."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = self.get("jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)

    def job_spans(self) -> list[dict]:
        """One record per job: id, group, start/end (epoch s) and the
        run/cpu/shuffle/spill totals of the stages it actually ran (a
        stage a later job reuses is charged to the first job)."""
        jobs = sorted(self.settled_jobs(), key=lambda j: j["jobId"])
        stages = {}
        for s in self.get("stages"):
            if s["status"] == "COMPLETE":
                stages.setdefault(s["stageId"], s)
        charged: set[int] = set()
        out = []
        for j in jobs:
            own = [stages[i] for i in j["stageIds"] if i in stages and i not in charged]
            charged.update(s["stageId"] for s in own)
            out.append({
                "job_id": j["jobId"],
                "group": j.get("jobGroup"),
                "start": _ts(j["submissionTime"]),
                "end": _ts(j["completionTime"]) if j.get("completionTime") else None,
                "run_s": sum(s["executorRunTime"] for s in own) / 1e3,
                "cpu_s": sum(s["executorCpuTime"] for s in own) / 1e9,
                "shuffle_mb": sum(s["shuffleWriteBytes"] for s in own) / MB,
                "spill_mb": sum(s["diskBytesSpilled"] for s in own) / MB,
            })
        return out

    def driver_peaks(self) -> dict:
        """Peak memory figures of the driver's executor (bytes), as
        Spark's executor-metrics poller recorded them."""
        return next(e for e in self.get("executors") if e["id"] == "driver")["peakMemoryMetrics"]

    def python_nodes(self) -> list[dict]:
        """Every MapInPandas node of every SQL execution, with the Python
        kernel's function name (``"?"`` if the plan text cannot name
        it), its Python metrics in base units and ``rows_in``, the rows
        its child fed it (``None`` if the graph shows no row count)."""
        out = []
        for ex in self.get("sql?details=true&planDescription=true&length=100000"):
            graph = ex.get("nodes", [])
            nodes = sorted((n for n in graph if n["nodeName"] == "MapInPandas"),
                           key=lambda n: n["nodeId"])
            names = kernel_names(ex.get("planDescription", ""), len(nodes))
            for node, kernel in zip(nodes, names):
                m = {x["name"]: x["value"] for x in node.get("metrics", [])}
                out.append({
                    "jobs": ex.get("successJobIds", []) + ex.get("failedJobIds", []),
                    "kernel": kernel,
                    "python_s": _metric(m, "time to run Python workers"),
                    "sent_mb": _metric(m, "data sent to Python workers") / MB,
                    "rows_in": rows_into(node["nodeId"], graph, ex.get("edges", [])),
                })
        return out


ROWS = "number of output rows"


def rows_into(node_id: int, nodes: list[dict], edges: list[dict]) -> float | None:
    """Rows a SQL-graph node consumed: the row count of the nearest node
    below it, down its first-child chain, that counts rows (projections
    and codegen wrappers do not). ``None`` if no such node exists."""
    metrics = {n["nodeId"]: {x["name"]: x["value"] for x in n.get("metrics", [])}
               for n in nodes}
    children: dict[int, list[int]] = {}
    for e in edges:
        children.setdefault(e["toId"], []).append(e["fromId"])
    node = node_id
    while children.get(node):
        node = min(children[node])
        if ROWS in metrics.get(node, {}):
            return parse_metric(metrics[node][ROWS])
    return None


def _metric(m: dict, name: str) -> float:
    return parse_metric(m[name]) if name in m else 0.0


_TREE_NODE = re.compile(r"MapInPandas \((\d+)\)")
_ARGS = re.compile(r"^\((\d+)\) MapInPandas\n(?:.*\n)*?Arguments: (\w+)\(", re.M)


def _executed_tree(plan: str) -> list[str]:
    """Lines of a formatted plan's tree with every adaptive plan's
    ``== Initial Plan ==`` section cut out, nested ones (the plans of
    cached relations) included: what is left is the plan that ran."""
    lines, cut = [], None
    for line in plan.split("\n\n", 1)[0].splitlines():
        pos = len(line) - len(line.lstrip(" :|"))
        if cut is not None and pos > cut:
            continue
        cut = pos if "== Initial Plan ==" in line else None
        lines.append(line)
    return lines


def kernel_names(plan: str, n_nodes: int) -> list[str]:
    """Kernel function names of a formatted plan's MapInPandas nodes in
    tree pre-order, which is the order of the SQL graph's node ids. A
    cached relation used twice is printed twice, and the graph may hold
    it once: the names are taken with or without repeats, whichever
    gives the graph's node count. If neither does, every name is
    ``"?"``."""
    args = dict(_ARGS.findall(plan))
    ids = [m for line in _executed_tree(plan) for m in _TREE_NODE.findall(line)]
    for order in (ids, list(dict.fromkeys(ids))):
        if len(order) == n_nodes:
            return [args.get(i, "?") for i in order]
    return ["?"] * n_nodes
