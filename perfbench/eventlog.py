"""Spark event-log reader: attributes jobs, stages and task metrics to
the tracer span that was open when each job was submitted.

The session is started with ``spark.eventLog.compress=false`` (Spark
4's default zstd codec needs the ``zstandard`` module); the log may be a
single file or rolling ``eventlog_v2_*/events_*`` files, so every file
under the log directory is read in name order.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

SPARK_COUNTS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)


def _log_files(log_dir: Path) -> list[Path]:
    """Event files in replay order: ``events_<n>_<app>`` by ``n`` inside
    each rolling directory, or plain per-application files."""

    def key(p: Path):
        n = p.name.split("_")[1] if p.name.startswith("events_") else "0"
        return (str(p.parent), int(n) if n.isdigit() else 0, p.name)

    files = [
        p
        for p in log_dir.rglob("*")
        if p.is_file() and not p.name.startswith((".", "appstatus")) and not p.name.endswith(".crc")
    ]
    return sorted(files, key=key)


def _events(log_dir: Path):
    for f in _log_files(log_dir):
        with f.open(encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def per_span(log_dir: Path) -> tuple[dict[int, dict], dict[int, list[tuple[float, float]]]]:
    """``(counts, stage_intervals)`` keyed by span id: Spark counts per
    span (see ``SPARK_COUNTS``) and the ``[submit, complete]`` wall
    intervals (epoch seconds) of the stages its jobs ran."""
    stage_span: dict[int, int] = {}
    counts: dict[int, dict] = defaultdict(lambda: dict.fromkeys(SPARK_COUNTS, 0))
    intervals: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            if not desc.startswith("span:"):
                continue
            sid = int(desc[5:])
            counts[sid]["jobs"] += 1
            for st in ev.get("Stage IDs", []):
                stage_span[st] = sid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            if sid is None or "Submission Time" not in info:
                continue  # skipped stage (shuffle reuse) or untraced job
            counts[sid]["stages"] += 1
            intervals[sid].append((info["Submission Time"] / 1e3, info["Completion Time"] / 1e3))
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if sid is None or not m:
                continue
            c = counts[sid]
            c["tasks"] += 1
            c["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return dict(counts), dict(intervals)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
