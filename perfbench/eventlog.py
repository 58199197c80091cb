"""Offline reducer for an uncompressed Spark event log.

The benchmark runs every timed call under its own ``sc.setJobGroup``; this
module maps each job, stage and task in the log back to that group through
the ``spark.jobGroup.id`` property and reduces it to one record per call:

- ``jobs``, ``in_job_s`` (union of the call's job intervals) and
  ``driver_s`` (the call's wall time minus ``in_job_s``);
- executor work summed over the call's tasks: ``executor_run_s``,
  ``executor_cpu_s``, ``gc_s``, ``shuffle_write_mb``, ``shuffle_read_mb``,
  ``spill_mb`` (disk bytes spilled);
- ``task_skew``: max / median task time in the call's longest stage;
- ``plans.iterate`` job classes by the call site of the job's result stage
  (a job that adaptive execution submits has no call site of its own and
  takes the one of another job of its SQL execution, if any):
  ``pin`` (``localCheckpoint at ...``), ``save`` (``parquet at ...``, the
  ``IterationState.save`` write), ``check`` (a ``first``/``collect``/
  ``count``/``take``/``head`` issued from an ``algorithms/`` module by a
  call that pins or saves, i.e. a loop: its convergence checks plus its own
  size counts), ``other``.

MB here is 2**20 bytes.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from typing import Iterable, Iterator

MB = float(1 << 20)
CHECK_ACTIONS = ("first", "collect", "count", "take", "head")


def event_files(path: str) -> list[str]:
    """The log's files in order: ``path`` itself, or for a directory
    (Spark's rolling ``eventlog_v2_<app>`` layout, possibly nested one
    level) its ``events_<n>_<app>`` parts by ``n``."""
    if os.path.isfile(path):
        return [path]
    found = []
    for dirpath, _, names in os.walk(path):
        found += [os.path.join(dirpath, n) for n in names if n.startswith("events_")]
    return sorted(found, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_events(path: str) -> Iterator[dict]:
    for name in event_files(path):
        with open(name) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _python_site(site: str) -> bool:
    return not site.startswith("$anonfun")


def classify(call_site: str) -> str:
    """pin / save / check / other, from a call site such as
    ``localCheckpoint at /x/graph_python_spark/plans/iterate.py:29``."""
    action, _, where = call_site.partition(" at ")
    if action == "localCheckpoint":
        return "pin"
    if action == "parquet":
        return "save"
    if action in CHECK_ACTIONS and "/algorithms/" in where:
        return "check"
    return "other"


def interval_union(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def _empty() -> dict:
    rec = {"jobs": 0, "in_job_s": 0.0, "executor_run_s": 0.0,
           "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
           "shuffle_read_mb": 0.0, "spill_mb": 0.0, "task_skew": 0.0}
    for cls in ("pin", "check", "save", "other"):
        rec[f"{cls}_jobs"] = 0
        rec[f"{cls}_s"] = 0.0
    return rec


def reduce_events(events: Iterable[dict], wall_s: dict[str, float]) -> dict[str, dict]:
    """One record per job group named in ``wall_s`` ({group: call wall
    seconds}).  Jobs and tasks of other groups are ignored."""
    job_group: dict[int, str] = {}
    job_site: dict[int, str] = {}
    job_exec: dict[int, str] = {}
    exec_site: dict[str, str] = {}
    job_start: dict[int, float] = {}
    job_end: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    stage_span: dict[tuple[str, int], float] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    recs = {g: _empty() for g in wall_s}

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group not in recs:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"] / 1000.0
            infos = ev.get("Stage Infos") or []
            result = max(infos, key=lambda s: s["Stage ID"]) if infos else {}
            site = result.get("Stage Name", "")
            job_site[jid] = site
            job_exec[jid] = props.get("spark.sql.execution.id")
            if job_exec[jid] is not None and _python_site(site):
                exec_site.setdefault(job_exec[jid], site)
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_group:
                job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in recs:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is not None and "Completion Time" in info:
                stage_span[(group, info["Stage ID"])] = (
                    info["Completion Time"] - info["Submission Time"]) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            rec = recs[group]
            tm = ev.get("Task Metrics") or {}
            ti = ev["Task Info"]
            stage_tasks[ev["Stage ID"]].append(
                (ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
            rec["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            rec["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            sr = tm.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / MB
            rec["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB

    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for jid, group in job_group.items():
        rec = recs[group]
        lo = job_start[jid]
        hi = job_end.get(jid, lo)
        intervals[group].append((lo, hi))
        site = job_site[jid]
        if not _python_site(site):
            site = exec_site.get(job_exec[jid], site)
        cls = classify(site)
        rec["jobs"] += 1
        rec[f"{cls}_jobs"] += 1
        rec[f"{cls}_s"] += hi - lo
    for group, rec in recs.items():
        if rec["pin_jobs"] == rec["save_jobs"] == 0:
            # no loop: the result action of a one-pass call is no check
            rec["other_jobs"] += rec["check_jobs"]
            rec["other_s"] += rec["check_s"]
            rec["check_jobs"], rec["check_s"] = 0, 0.0
        rec["in_job_s"] = interval_union(intervals[group])
        rec["driver_s"] = wall_s[group] - rec["in_job_s"]
        spans = {sid: d for (g, sid), d in stage_span.items() if g == group}
        if spans:
            longest = max(spans, key=spans.get)
            times = stage_tasks.get(longest) or [0.0]
            med = statistics.median(times)
            rec["task_skew"] = max(times) / med if med > 0 else 1.0
    return recs
