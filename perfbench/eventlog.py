"""Fold an uncompressed, non-rolling Spark event log into per-layer metrics.

Stdlib only. Spark writes one JSON object per line; the parser reads the
job, stage, task and streaming-progress events and keeps those of the
timed window: jobs submitted inside it, their stages' tasks, and
micro-batches whose trigger started inside it.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from datetime import datetime

MB = float(1 << 20)

# Streaming micro-batch phases reported in ``durationMs``, with the name
# each is published under, as its share of the total trigger time.
STREAM_PHASES = {
    "addBatch": "add_batch",
    "queryPlanning": "query_planning",
    "walCommit": "wal_commit",
    "commitOffsets": "commit_offsets",
    "latestOffset": "latest_offset",
    "getBatch": "get_batch",
}

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN = "time to run Python workers"


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _skew(run_ms_by_stage: dict[int, list[float]]) -> float:
    """Largest max/median task run time over stages with >= 4 tasks."""
    worst = 1.0
    for runs in run_ms_by_stage.values():
        if len(runs) < 4:
            continue
        med = statistics.median(runs)
        if med > 0:
            worst = max(worst, max(runs) / med)
    return worst


def read_events(path: str):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def fold(events, start_ms: float, end_ms: float, cores: int) -> dict[str, float]:
    """Per-layer metrics for the window ``[start_ms, end_ms]`` (epoch ms)."""
    jobs: dict[int, tuple[float, float | None]] = {}
    stage_job: dict[int, int] = {}
    run_ms: dict[int, list[float]] = defaultdict(list)
    acc: dict[str, float] = defaultdict(float)
    progress: list[dict] = []

    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            submit = float(e["Submission Time"])
            if start_ms <= submit <= end_ms:
                jobs[e["Job ID"]] = (submit, None)
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]] = (jobs[e["Job ID"]][0], float(e["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            if e.get("Stage ID") not in stage_job:
                continue
            tm = e.get("Task Metrics") or {}
            run_ms[e["Stage ID"]].append(float(tm.get("Executor Run Time", 0)))
            acc["tasks"] += 1
            acc["run_ms"] += tm.get("Executor Run Time", 0)
            acc["cpu_ns"] += tm.get("Executor CPU Time", 0)
            acc["gc_ms"] += tm.get("JVM GC Time", 0)
            acc["spill"] += tm.get("Disk Bytes Spilled", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            acc["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            acc["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            im = tm.get("Input Metrics") or {}
            acc["in_bytes"] += im.get("Bytes Read", 0)
            acc["in_rows"] += im.get("Records Read", 0)
            acc["out_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                name = a.get("Name")
                if name in (_PY_SENT, _PY_RETURNED, _PY_RUN):
                    acc[name] += float(a.get("Update") or 0)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            p = e.get("progress") or {}
            if start_ms <= _iso_ms(p["timestamp"]) <= end_ms:
                progress.append(p)

    wall_ms = max(end_ms - start_ms, 1.0)
    spans = [(a, b) for a, b in jobs.values() if b is not None]
    out = {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(run_ms)),
        "spark.tasks": acc["tasks"],
        "spark.task_run_s": acc["run_ms"] / 1000.0,
        "spark.task_cpu_s": acc["cpu_ns"] / 1e9,
        "spark.gc_s": acc["gc_ms"] / 1000.0,
        "spark.shuffle_read_mb": acc["shuffle_read"] / MB,
        "spark.shuffle_write_mb": acc["shuffle_write"] / MB,
        "spark.spill_mb": acc["spill"] / MB,
        "spark.task_skew_max": _skew(run_ms),
        "spark.core_busy_frac": acc["run_ms"] / (wall_ms * cores),
        "spark.job_busy_s": _union_ms(spans) / 1000.0,
        "io.input_mb": acc["in_bytes"] / MB,
        "io.input_rows": acc["in_rows"],
        "io.output_mb": acc["out_bytes"] / MB,
        "python.to_workers_mb": acc[_PY_SENT] / MB,
        "python.from_workers_mb": acc[_PY_RETURNED] / MB,
        "python.run_frac": acc[_PY_RUN] / acc["run_ms"] if acc["run_ms"] else 0.0,
    }
    out.update(fold_progress(progress))
    return out


def fold_progress(progress: list[dict]) -> dict[str, float]:
    """Streaming micro-batch totals; phases as shares of trigger time."""
    trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
    out = {
        "streaming.batches": float(len(progress)),
        "streaming.input_rows": float(
            sum(src.get("numInputRows", 0) for p in progress for src in p.get("sources", []))
        ),
    }
    for phase, name in STREAM_PHASES.items():
        spent = sum(p["durationMs"].get(phase, 0) for p in progress)
        out[f"streaming.{name}_frac"] = spent / trigger if trigger else 0.0
    commit = sum(
        op.get("commitTimeMs", 0) for p in progress for op in p.get("stateOperators", [])
    )
    out["streaming.state_commit_frac"] = commit / trigger if trigger else 0.0
    last_rows: dict[str, float] = {}
    for p in progress:
        last_rows[p["id"]] = float(
            sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
        )
    out["streaming.state_rows"] = sum(last_rows.values())
    return out
