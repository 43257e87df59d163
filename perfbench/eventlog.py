"""Per-span and per-stage Spark metrics from an uncompressed event log.

Jobs and stages are attributed to spans through the job description
each span sets (``spans.description``).  Parquet scans are counted from
the SQL plans in the log: every ``Scan parquet`` node whose location is
one of the watched directories carries a ``number of output rows``
accumulator, and a node counts as one scan when a task reported rows
for it.  A scan under a cached relation therefore counts once, in the
span whose job filled the cache.
"""

from __future__ import annotations

import json
from collections import defaultdict

from spans import span_id_of

SPAN_FIELDS = (
    "jobs",
    "stages",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "executor_cpu_s",
    "gc_s",
)


def _walk(node: dict):
    yield node
    for c in node.get("children", ()):
        yield from _walk(c)


def _scan_accumulators(plan: dict, paths: dict[str, str]) -> dict[int, str]:
    """accumulator id -> watched-path kind, for parquet scan nodes."""
    out = {}
    for n in _walk(plan):
        if not n.get("nodeName", "").startswith("Scan parquet"):
            continue
        loc = n.get("metadata", {}).get("Location", "")
        kind = next((k for k, p in paths.items() if p in loc), None)
        if kind is None:
            continue
        for m in n.get("metrics", ()):
            if m.get("name") == "number of output rows":
                out[int(m["accumulatorId"])] = kind
    return out


def parse(lines, scan_paths: dict[str, str] | None = None) -> dict:
    """Reduce event-log lines to ``{"spans": {span_id: {...}},
    "stages": [...]}``.  ``scan_paths`` maps a scan kind (e.g.
    ``"input"``) to a directory; each span then gets ``<kind>_scans``."""
    scan_paths = scan_paths or {}
    spans: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stage_span: dict[int, int | None] = {}
    stages: dict[int, dict] = {}
    scan_acc: dict[int, str] = {}
    scans: dict[int, set[tuple[str, int]]] = defaultdict(set)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            sid = span_id_of(ev.get("Properties", {}).get("spark.job.description"))
            if sid is not None:
                spans[sid]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = span_id_of(ev.get("Properties", {}).get("spark.job.description"))
            stage_span[info["Stage ID"]] = sid
            stages[info["Stage ID"]] = {
                "stage": info["Stage ID"],
                "span": sid,
                "name": info.get("Stage Name", ""),
                "tasks": 0,
                "shuffle_write_bytes": 0,
                "shuffle_read_bytes": 0,
                "spill_bytes": 0,
                "executor_cpu_s": 0.0,
                "gc_s": 0.0,
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            if sid is not None:
                spans[sid]["stages"] += 1
            st = stages.get(info["Stage ID"])
            if st is not None and info.get("Completion Time"):
                st["wall_s"] = (
                    info["Completion Time"] - info.get("Submission Time", 0)
                ) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            stage_id = ev["Stage ID"]
            sid = stage_span.get(stage_id)
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            vals = {
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
                "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
            }
            st = stages.get(stage_id)
            if st is not None:
                st["tasks"] += 1
                for k, v in vals.items():
                    st[k] += v
            if sid is None:
                continue
            for k, v in vals.items():
                spans[sid][k] += v
            for acc in ev.get("Task Info", {}).get("Accumulables", ()):
                acc_id = int(acc.get("ID", -1))
                if acc_id in scan_acc and int(acc.get("Update") or 0) > 0:
                    scans[sid].add((scan_acc[acc_id], acc_id))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            scan_acc.update(_scan_accumulators(ev["sparkPlanInfo"], scan_paths))
    out = {}
    for sid, vals in spans.items():
        rec = {k: vals.get(k, 0) for k in SPAN_FIELDS}
        out[sid] = rec
    for sid, found in scans.items():
        rec = out.setdefault(sid, {k: 0 for k in SPAN_FIELDS})
        for kind in scan_paths:
            rec[f"{kind}_scans"] = sum(1 for k, _ in found if k == kind)
    return {"spans": out, "stages": sorted(stages.values(), key=lambda s: s["stage"])}
