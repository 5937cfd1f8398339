"""Roll a Spark event log up per job description (stdlib only).

The log must be uncompressed (``spark.eventLog.compress=false``).
Every job, stage and task is charged to the description of the job
that submitted it; descriptions read ``<layer>#<op>`` (layers.py).
"""

from __future__ import annotations

import json
from collections import defaultdict

# SQL metric names of the Arrow Python runners (PythonSQLMetrics)
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
PY_RUN_MS = "time to run Python workers"


def _new() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "cpu_s": 0.0,
        "shuffle_bytes": 0,
        "python_bytes": 0,
        "python_s": 0.0,
        "intervals": [],
    }


def read_events(path: str) -> dict[str, dict]:
    """Return ``{description: counters}``; ``intervals`` holds the
    (submit_ms, end_ms) of each job."""
    out: dict[str, dict] = defaultdict(_new)
    job_desc: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_desc: dict[int, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                jid = ev["Job ID"]
                job_desc[jid] = desc
                job_start[jid] = ev["Submission Time"]
                out[desc]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    out[job_desc[jid]]["intervals"].append(
                        (job_start[jid], ev["Completion Time"])
                    )
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stage_desc[sid] = props.get("spark.job.description", "")
                out[stage_desc[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                rec = out[stage_desc.get(ev["Stage ID"], "")]
                rec["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name in PY_BYTES:
                        rec["python_bytes"] += int(acc.get("Update", 0))
                    elif name == PY_RUN_MS:
                        rec["python_s"] += int(acc.get("Update", 0)) / 1e3
    return dict(out)


def by_layer(events: dict[str, dict]) -> dict[str, dict]:
    """Merge descriptions ``<layer>#<op>`` into ``<layer>``."""
    out: dict[str, dict] = defaultdict(_new)
    for desc, rec in events.items():
        agg = out[desc.split("#", 1)[0]]
        for k, v in rec.items():
            agg[k] = agg[k] + v
    return dict(out)


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

