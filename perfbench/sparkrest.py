"""Spark SQL and stage metrics, read from the session's REST endpoint.

``/api/v1/applications/<id>/sql/<execution>?details=true`` gives each
physical operator's SQL metrics as display strings; ``/jobs/<id>`` and
``/stages`` give the task metrics of the stages an execution ran.

Operator metrics are totals over tasks, and tasks run in parallel, so
they overlap: a Python-worker init time can exceed the job's wall time.
They are reported as read, never as shares of wall time.
"""

from __future__ import annotations

import json
import time
import urllib.request

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30, "TiB": 2.0 ** 40,
}
TIMEOUT_S = 10.0            # one REST request
WAIT_S = 10.0               # for the listener to mark executions finished
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def metric_total(value: str) -> float:
    """The task total of one SQL metric display string, in seconds for
    times and bytes for sizes.  Accepts both the one-task form
    (``"64.2 MiB"``) and the summary form (``"total (min, med, max
    (stageId: taskId))\\n17 ms (1 ms, 5 ms, 9 ms (stage 3.0: task 8))"``)."""
    head = value.strip().splitlines()[-1].split(" (")[0].split()
    num = float(head[0].replace(",", ""))
    return num * _UNITS[head[1]] if len(head) > 1 else num


class SparkRest:
    """REST client for the metrics of one running SparkSession."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=TIMEOUT_S) as r:
            return json.load(r)

    def last_execution_id(self) -> int:
        ids = [e["id"] for e in self._get("/sql?details=false&offset=0&length=1000000")]
        return max(ids, default=-1)

    def executions_after(self, marker: int) -> list[dict]:
        """Every SQL execution with an id above ``marker``, with node
        details, once the listener has marked all of them finished (or
        after ``WAIT_S``)."""
        deadline = time.monotonic() + WAIT_S
        while True:
            listed = [e for e in self._get("/sql?details=false&offset=0&length=1000000")
                      if e["id"] > marker]
            done = all(e["status"] != "RUNNING" for e in listed)
            if done or time.monotonic() > deadline:
                return [self._get(f"/sql/{e['id']}?details=true") for e in listed]
            time.sleep(0.2)

    def stages_of(self, executions: list[dict]) -> list[dict]:
        ids = set()
        for e in executions:
            for j in e["successJobIds"] + e["failedJobIds"]:
                ids.update(self._get(f"/jobs/{j}")["stageIds"])
        return [s for s in self._get("/stages")
                if s["stageId"] in ids and s["status"] == "COMPLETE"]

    def layer_metrics(self, marker: int) -> dict[str, float]:
        """Operator and stage metrics of every execution after ``marker``,
        summed into the benchmark's per-layer names."""
        execs = self.executions_after(marker)
        out = {k: 0.0 for k in (
            "sources.scan_bytes",
            "udfs.arrow_sent_bytes", "udfs.arrow_received_bytes",
            "udfs.python_run_task_s", "udfs.python_init_task_s",
            "windows.sort_peak_bytes", "windows.spill_bytes",
            "asof.pandas_sent_bytes", "asof.pandas_received_bytes",
            "asof.python_run_task_s", "asof.cogroup_tasks",
            "pipeline.exchanges", "pipeline.python_nodes", "pipeline.cached_rows")}
        for e in execs:
            _add_plan_metrics(out, e, self.shuffle_partitions)
        stages = self.stages_of(execs)
        out["pipeline.shuffle_write_bytes"] = float(sum(s["shuffleWriteBytes"] for s in stages))
        out["pipeline.executor_run_task_s"] = sum(s["executorRunTime"] for s in stages) / 1e3
        out["pipeline.jvm_gc_s"] = sum(s["jvmGcTime"] for s in stages) / 1e3
        return out


def _nodes(execution: dict) -> tuple[dict[int, dict], set[int]]:
    """Operators of one execution by id, and the ids that count each
    operator once.  A cached plan is shown under every scan of the
    cache; its copies carry identical metric strings, so (name,
    metrics) identifies an operator."""
    seen, nodes, unique = set(), {}, set()
    for n in execution["nodes"]:
        m = {x["name"]: x["value"] for x in n["metrics"]}
        key = (n["nodeName"].strip(), json.dumps(m, sort_keys=True))
        nodes[n["nodeId"]] = {"name": key[0], "metrics": m}
        if not m or key not in seen:
            unique.add(n["nodeId"])
        seen.add(key)
    return nodes, unique


def _add_plan_metrics(out: dict, execution: dict, shuffle_partitions: int) -> None:
    nodes, unique = _nodes(execution)
    parent = {ed["fromId"]: ed["toId"] for ed in execution["edges"]}
    children: dict[int, list[int]] = {}
    for child, par in parent.items():
        children.setdefault(par, []).append(child)

    def total(node, name):
        v = node["metrics"].get(name)
        return metric_total(v) if v is not None else 0.0

    for nid in unique:
        n = nodes[nid]
        name = n["name"]
        up = nodes.get(parent.get(nid), {}).get("name")
        if name.startswith("Scan "):
            out["sources.scan_bytes"] += total(n, "size of files read")
        elif name == "Exchange":
            out["pipeline.exchanges"] += 1
        elif name == "InMemoryTableScan":
            out["pipeline.cached_rows"] += total(n, "number of output rows")
        elif name == "Sort" and up == "Window":
            out["windows.sort_peak_bytes"] += total(n, "peak memory")
            out["windows.spill_bytes"] += total(n, "spill size")
        elif name == "Window":
            out["windows.spill_bytes"] += total(n, "spill size")
        if PY_RUN not in n["metrics"]:
            continue
        out["pipeline.python_nodes"] += 1
        layer = "asof" if name == "FlatMapCoGroupsInPandas" else "udfs"
        io = "pandas" if layer == "asof" else "arrow"
        out[f"{layer}.{io}_sent_bytes"] += total(n, PY_SENT)
        out[f"{layer}.{io}_received_bytes"] += total(n, PY_RECV)
        out[f"{layer}.python_run_task_s"] += total(n, PY_RUN)
        if layer == "udfs":
            out["udfs.python_init_task_s"] += total(n, PY_INIT)
        else:
            out["asof.cogroup_tasks"] += _cogroup_tasks(nid, nodes, children,
                                                        shuffle_partitions)


def _cogroup_tasks(nid: int, nodes: dict, children: dict, default: int) -> float:
    """Tasks of a cogroup: the partition count of the AQE shuffle read
    that feeds it, or the configured shuffle partitions without one."""
    stack = list(children.get(nid, []))
    while stack:
        c = stack.pop()
        n = nodes[c]
        if n["name"] == "AQEShuffleRead":
            return metric_total(n["metrics"]["number of partitions"])
        if n["name"] == "Exchange":
            continue
        stack.extend(children.get(c, []))
    return float(default)
