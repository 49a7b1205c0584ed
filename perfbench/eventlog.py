"""Reduce an uncompressed, non-rolling Spark event log to one record
per job: submission and completion time (epoch ms), job group, stages
that ran, tasks, summed executor run time and shuffle bytes."""

from __future__ import annotations

import glob
import json
import os


def find_log(log_dir: str) -> str:
    """The single event-log file a one-application run leaves in
    ``log_dir`` (``.inprogress`` while the context is alive)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise FileNotFoundError(f"expected one event log in {log_dir}, found {len(paths)}")
    return paths[0]


def reduce_jobs(lines) -> list[dict]:
    """One dict per job, in submission order. Stages that were skipped
    (their shuffle output reused) never complete and are not counted."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "job": jid,
                "group": props.get("spark.jobGroup.id"),
                "submit_ms": ev.get("Submission Time"),
                "end_ms": None,
                "stages": 0,
                "tasks": 0,
                "executor_run_ms": 0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "ok": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["end_ms"] = ev.get("Completion Time")
                j["ok"] = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            j = jobs.get(stage_job.get(sid, -1))
            if j is not None:
                j["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if j is None:
                continue
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            j["tasks"] += 1
            j["executor_run_ms"] += m.get("Executor Run Time", 0)
            j["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            j["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: (j["submit_ms"] or 0, j["job"]))


def read_jobs(log_dir: str) -> list[dict]:
    with open(find_log(log_dir), encoding="utf-8") as f:
        return reduce_jobs(f)
