"""Per-layer Spark figures from an event log.

Every Spark job is attributed to a span: to the job group the benchmark set
on the submitting thread, or, for jobs the engine submits from threads of
its own (``job.run``'s sink pool), to the innermost span open when the job
was submitted. Task metrics then roll up per span name.
"""

from __future__ import annotations

import collections
import glob
import json
import os

MB = 1024.0 * 1024.0


def _log_files(logdir: str) -> list[str]:
    files = []
    for entry in glob.glob(os.path.join(logdir, "*")):
        if os.path.isdir(entry):
            files.extend(f for f in glob.glob(os.path.join(entry, "events_*"))
                         if not f.endswith(".inprogress"))
        elif not os.path.basename(entry).startswith("appstatus_"):
            files.append(entry)
    return files


def read_events(logdir: str) -> list[dict]:
    keep = {"SparkListenerJobStart", "SparkListenerTaskEnd",
            "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"}
    events = []
    for path in _log_files(logdir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") in keep:
                    events.append(ev)
    return events


def _owner(group: str | None, submitted_s: float, spans: list[dict]) -> str | None:
    if group:
        return group
    inner = None
    for s in spans:
        if s["start"] <= submitted_s <= s["end"] and (
                inner is None or s["start"] >= inner["start"]):
            inner = s
    return inner["name"] if inner else None


def layer_metrics(events: list[dict], spans: list[dict]) -> dict[str, dict]:
    """{span name: {task_s, gc_s, shuffle_write_mb, spill_mb, jobs}}; the
    key ``"*"`` holds the whole session's totals."""
    stage_owner: dict[int, str | None] = {}
    out: dict[str, dict] = collections.defaultdict(lambda: collections.Counter())
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            name = _owner(props.get("spark.jobGroup.id"),
                          ev.get("Submission Time", 0) / 1000.0, spans)
            for sid in ev.get("Stage IDs", []):
                stage_owner[sid] = name
            if name:
                out[name]["jobs"] += 1
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd":
            continue
        m = ev.get("Task Metrics") or {}
        vals = {
            "task_s": m.get("Executor Run Time", 0) / 1000.0,
            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
            "shuffle_write_mb": (m.get("Shuffle Write Metrics") or {})
            .get("Shuffle Bytes Written", 0) / MB,
            "spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
        }
        for key in ("*", stage_owner.get(ev["Stage ID"])):
            if key:
                out[key].update(vals)
    return {k: dict(v) for k, v in out.items()}


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def fact_scans(events: list[dict], path_fragment: str, spans: list[dict],
               span_name: str) -> tuple[int, int]:
    """(scans, rows read) of the files under ``path_fragment`` inside the
    spans called ``span_name``. A scan is a distinct parquet-scan plan node
    whose output-row metric received rows; one inside a cached relation
    counts once, however many plans read the cache."""
    windows = [(s["start"], s["end"]) for s in spans if s["name"] == span_name]
    acc_ids: set[int] = set()
    for ev in events:
        info = ev.get("sparkPlanInfo")
        if info is None:
            continue
        for node in _plan_nodes(info):
            if (node.get("nodeName", "").startswith("Scan parquet")
                    and path_fragment in node.get("simpleString", "")
                    + json.dumps(node.get("metadata", {}))):
                for metric in node.get("metrics", []):
                    if metric.get("name") == "number of output rows":
                        acc_ids.add(metric["accumulatorId"])
    hit: set[int] = set()
    rows = 0
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd":
            continue
        launched = (ev.get("Task Info") or {}).get("Launch Time", 0) / 1000.0
        if not any(a <= launched <= b for a, b in windows):
            continue
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("ID") in acc_ids and int(acc.get("Update") or 0) > 0:
                hit.add(acc["ID"])
                rows += int(acc["Update"])
    return len(hit), rows
