"""Fold a Spark event log into per-span layer metrics.

Dependency-free: the standard library only.  Spans come from the caller
(name, job group id, start, end in epoch seconds); the benchmark sets the
span's id as the Spark job group around each library call, so every job,
stage, task and SQL execution the call caused carries that id.

Per span this yields:

- ``s``: wall time of the span (spans do not nest, so this is self time);
- ``jobs``: Spark jobs in the span's job group;
- ``driver_s``: wall time not covered by the union of those jobs'
  [submission, completion] intervals -- planning, Python orchestration
  and scheduling gaps;
- ``executor_run_s`` / ``gc_s``: summed task executor run time / JVM GC
  time;
- ``shuffle_mb``: shuffle bytes read plus written, in MB (10^6 bytes);
- ``aqe_replans``: ``SparkListenerSQLAdaptiveExecutionUpdate`` events of
  the span's SQL executions;
- ``task_skew``: the largest max-over-median task run time of any stage
  with at least two tasks and a non-zero median (1.0 when there is no
  such stage, 0.0 when the span ran no task).

``count_plans`` counts, per job group, the SQL executions whose physical
plan contains a given text: the number of times a call ran a particular
kind of query, such as a fixpoint loop's stop test.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def _log_files(path: str) -> list[str]:
    """Event-log files under ``path``: a plain log file, a rolling
    ``eventlog_v2_*`` directory (``events_<n>_*`` parts in order; Spark 4
    writes these by default, ``spark.eventLog.rolling.enabled``), or a
    directory holding any number of either."""
    if os.path.isfile(path):
        return [path]
    names = os.listdir(path)
    parts = [n for n in names if n.startswith("events_")]
    if parts:
        parts.sort(key=lambda n: int(n.split("_")[1]))
        return [os.path.join(path, n) for n in parts]
    out = []
    for n in sorted(names):
        if not n.startswith(".") and not n.endswith(".inprogress"):
            out.extend(_log_files(os.path.join(path, n)))
    return out


def read_events(path: str):
    """Yield every event (a dict) of the log(s) at ``path``."""
    for f in _log_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold(events, spans: list[dict]) -> dict[str, dict[str, float]]:
    """{span id: {metric: value}} for ``spans`` (dicts with ``id``,
    ``start`` and ``end``) over the event stream ``events``."""
    job_group, job_start, job_end, stage_job = {}, {}, {}, {}
    stage_tasks = defaultdict(list)  # stage -> [(run_ms, gc_ms, shuffle_bytes)]
    exec_group, exec_replans = {}, defaultdict(int)
    app = 0  # job, stage and execution ids restart in every application
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerLogStart":
            app += 1
        elif kind == "SparkListenerJobStart":
            jid = (app, e["Job ID"])
            job_group[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_start[jid] = e["Submission Time"] / 1000.0
            for sid in e.get("Stage IDs", []):
                stage_job[(app, sid)] = jid
        elif kind == "SparkListenerJobEnd":
            job_end[(app, e["Job ID"])] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            shuffle = (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                       + wr.get("Shuffle Bytes Written", 0))
            stage_tasks[(app, e["Stage ID"])].append(
                (m.get("Executor Run Time", 0), m.get("JVM GC Time", 0), shuffle)
            )
        elif kind == SQL_START:
            exec_group[(app, e["executionId"])] = e.get("jobGroupId")
        elif kind == AQE_UPDATE:
            exec_replans[(app, e["executionId"])] += 1

    jobs_of, stages_of = defaultdict(list), defaultdict(list)
    for jid, g in job_group.items():
        jobs_of[g].append(jid)
    for sid, jid in stage_job.items():
        stages_of[job_group.get(jid)].append(sid)
    replans_of = defaultdict(int)
    for xid, n in exec_replans.items():
        replans_of[exec_group.get(xid)] += n

    out = {}
    for sp in spans:
        gid, a, b = sp["id"], sp["start"], sp["end"]
        jobs = jobs_of.get(gid, [])
        intervals = [
            (max(a, job_start[j]), min(b, job_end.get(j, b)))
            for j in jobs
        ]
        tasks = [t for sid in stages_of.get(gid, []) for t in stage_tasks.get(sid, [])]
        skews = []
        for sid in stages_of.get(gid, []):
            runs = [t[0] for t in stage_tasks.get(sid, [])]
            if len(runs) >= 2 and statistics.median(runs) > 0:
                skews.append(max(runs) / statistics.median(runs))
        out[gid] = {
            "s": b - a,
            "jobs": len(jobs),
            "driver_s": max(0.0, (b - a) - _union_s([i for i in intervals if i[1] > i[0]])),
            "executor_run_s": sum(t[0] for t in tasks) / 1000.0,
            "gc_s": sum(t[1] for t in tasks) / 1000.0,
            "shuffle_mb": sum(t[2] for t in tasks) / 1e6,
            "aqe_replans": replans_of.get(gid, 0),
            "task_skew": max(skews) if skews else (1.0 if tasks else 0.0),
        }
    return out


def count_plans(events, text: str) -> dict[str, int]:
    """{job group id: number of its SQL executions whose physical plan
    description contains ``text``}."""
    out = defaultdict(int)
    for e in events:
        if e.get("Event") == SQL_START and text in (e.get("physicalPlanDescription") or ""):
            out[e.get("jobGroupId")] += 1
    return dict(out)
