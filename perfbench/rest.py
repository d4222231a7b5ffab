"""Per-operation Spark counters read from the application's REST API.

Each traced operation runs under its own job group; after it returns,
:class:`SparkRest` collects that group's jobs from ``/jobs``, their
stages from ``/stages`` and the SQL executions that ran them from
``/sql?details=true``.  Needs ``spark.ui.enabled=true`` (traced runs
only).  The two ``*_counters`` functions are pure, so the unit tests
feed them canned JSON.
"""

from __future__ import annotations

import json
import time
import urllib.request

from stats import parse_metric

PYTHON_NODES = {
    "AggregateInPandas",
    "ArrowAggregatePython",
    "ArrowEvalPython",
    "ArrowWindowPython",
    "BatchEvalPython",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapGroupsInPandas",
    "MapInArrow",
    "MapInPandas",
    "WindowInPandas",
}

#: Longest wait for a job group's jobs and stages to be reported done.
SETTLE_S = 5.0

STAGE_FIELDS = {
    # counter name: (stage field, scale to the reported unit)
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
}


def stage_counters(stages: list[dict]) -> dict[str, float]:
    """Totals over the stages that ran (skipped stages did no work)."""
    ran = [s for s in stages if s.get("status") == "COMPLETE"]
    out = {"stages": float(len(ran)), "tasks": float(sum(s["numCompleteTasks"] for s in ran))}
    for name, (field, scale) in STAGE_FIELDS.items():
        out[name] = sum(s.get(field, 0) for s in ran) * scale
    out["spill_bytes"] += out.pop("disk_spill_bytes")
    return out


def _metric(node: dict, name: str) -> float:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return parse_metric(m["value"])
    return 0.0


def plan_counters(executions: list[dict]) -> dict[str, float]:
    """Exchange, scan and Python-worker counters from SQL executions'
    final (post-AQE) plan nodes."""
    out = dict.fromkeys(
        ("exchanges", "scan_files", "python_eval_s", "python_rows", "python_nodes"), 0.0
    )
    for e in executions:
        for node in e.get("nodes", []):
            name = node["nodeName"]
            if name in ("Exchange", "BroadcastExchange"):
                out["exchanges"] += 1
            elif name.startswith("Scan "):
                out["scan_files"] += _metric(node, "number of files read")
            elif name in PYTHON_NODES:
                out["python_nodes"] += 1
                out["python_eval_s"] += _metric(node, "time to run Python workers")
                out["python_rows"] += _metric(node, "number of output rows")
    return out


class SparkRest:
    """Job-group scoped reads of one SparkContext's REST API."""

    def __init__(self, sc) -> None:
        if not sc.uiWebUrl:
            raise RuntimeError("traced runs need spark.ui.enabled=true")
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_offset = 0

    def _get(self, route: str):
        with urllib.request.urlopen(self._base + route, timeout=30) as r:
            return json.loads(r.read().decode())

    def group_counters(self, groups: set[str]) -> dict[str, dict]:
        """``{group: counters}`` for jobs already submitted under
        ``groups``.  Waits (up to SETTLE_S) for their jobs and
        stages to be reported finished, because the listener that feeds
        the REST store runs behind the action that returned."""
        deadline = time.monotonic() + SETTLE_S
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            stage_ids = {sid for j in jobs for sid in j["stageIds"]}
            stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids]
            busy = any(j["status"] == "RUNNING" for j in jobs) or any(
                s["status"] == "ACTIVE" for s in stages
            )
            if not busy or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        execs = self._get(
            f"/sql?details=true&planDescription=false&offset={self._sql_offset}&length=100000"
        )
        self._sql_offset += len(execs)
        out = {}
        for g in groups:
            gjobs = [j for j in jobs if j.get("jobGroup") == g]
            ids = {j["jobId"] for j in gjobs}
            gstage_ids = {sid for j in gjobs for sid in j["stageIds"]}
            gexecs = [
                e
                for e in execs
                if ids & set(e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"])
            ]
            c = {"jobs": float(len(gjobs))}
            c.update(stage_counters([s for s in stages if s["stageId"] in gstage_ids]))
            c.update(plan_counters(gexecs))
            out[g] = c
        return out
