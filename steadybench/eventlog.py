"""Fold an uncompressed Spark event log into per-job-group totals.

The benchmark sets a job group around each layer call
(``SparkContext.setJobGroup``); every job start carries it in
``Properties['spark.jobGroup.id']``. Stages are attributed to the group of
the first job that lists them. Per stage the fold keeps its wall time, its
task metrics (run time, GC, peak execution memory, shuffle bytes written)
and the Python-boundary SQL metrics of its ``mapInPandas``/Arrow UDF
operators (``time to run Python workers``, ``data sent to`` / ``returned
from Python workers``), which Spark reports as stage accumulables.

Spark 4 writes a rolling zstd log by default; the session must set
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``
for this plain-JSON reader.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

_PY_RUN = "time to run Python workers"
_PY_TO = "data sent to Python workers"
_PY_FROM = "data returned from Python workers"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold(lines: Iterable[str]) -> dict:
    """{'jobs': {job_id: group}, 'stages': {stage_id: stage dict}}.

    A stage dict has group, duration_ms, tasks, task_ms (list),
    run_ms, gc_ms, peak_mem, shuffle_write, py_run_ms, to_python,
    from_python. Stages that never completed are dropped."""
    jobs: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    tasks: dict[int, list[dict]] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[e["Job ID"]] = group
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif ev == "SparkListenerTaskEnd":
            info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
            if info.get("Failed") or info.get("Killed"):
                continue
            tasks.setdefault(e["Stage ID"], []).append({
                "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "peak_mem": m.get("Peak Execution Memory", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
            })
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si.get("Failure Reason") or "Completion Time" not in si:
                continue
            acc: dict[str, float] = {}
            for a in si.get("Accumulables", []):
                name = a.get("Name")
                if name in (_PY_RUN, _PY_TO, _PY_FROM):
                    acc[name] = acc.get(name, 0.0) + _num(a.get("Value"))
            stages[si["Stage ID"]] = {
                "duration_ms": si["Completion Time"] - si.get("Submission Time", 0),
                "py_run_ms": acc.get(_PY_RUN, 0.0),
                "to_python": acc.get(_PY_TO, 0.0),
                "from_python": acc.get(_PY_FROM, 0.0),
            }
    for sid, st in stages.items():
        ts = tasks.get(sid, [])
        st.update(
            group=stage_group.get(sid),
            tasks=len(ts),
            task_ms=[t["ms"] for t in ts],
            run_ms=sum(t["run_ms"] for t in ts),
            gc_ms=sum(t["gc_ms"] for t in ts),
            peak_mem=max((t["peak_mem"] for t in ts), default=0),
            shuffle_write=sum(t["shuffle_write"] for t in ts),
        )
    return {"jobs": jobs, "stages": stages}


def group_totals(folded: dict, group: str) -> dict:
    """Sums over one job group: jobs, stages, tasks, run_s, gc_s, py_run_s,
    to_python, from_python, shuffle_write, peak_mem (max over stages)."""
    sts = [s for s in folded["stages"].values() if s["group"] == group]
    return {
        "jobs": sum(1 for g in folded["jobs"].values() if g == group),
        "stages": len(sts),
        "tasks": sum(s["tasks"] for s in sts),
        "run_s": sum(s["run_ms"] for s in sts) / 1000.0,
        "gc_s": sum(s["gc_ms"] for s in sts) / 1000.0,
        "py_run_s": sum(s["py_run_ms"] for s in sts) / 1000.0,
        "to_python": sum(s["to_python"] for s in sts),
        "from_python": sum(s["from_python"] for s in sts),
        "shuffle_write": sum(s["shuffle_write"] for s in sts),
        "peak_mem": max((s["peak_mem"] for s in sts), default=0),
        "stage_s": sum(s["duration_ms"] for s in sts) / 1000.0,
    }


def python_stages(folded: dict, group: str) -> list[dict]:
    """Stages of ``group`` that ran Python workers."""
    return [s for s in folded["stages"].values()
            if s["group"] == group and s["py_run_ms"] > 0]
