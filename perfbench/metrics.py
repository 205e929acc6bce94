"""Turns rounds, spans and the Spark event log into the reported metrics.

``END_TO_END`` and ``PER_LAYER`` are the metric lists ``BENCHMARK.json``
declares; every run reports each of them.  A layer a workload never
calls reports 0 (e.g. ``lakehouse.*`` on extract_chain) — see README.
Per-entry catalog timings of catalog_queries are in the record's span
table, not in ``PER_LAYER``, because that workload is not in
``BENCHMARK.json``.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from pathlib import Path

import eventlog

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
}

#: traced entry points, reported as the median seconds per call
CALL_TIMES = [
    "plans.parse",
    "plans.rewrite",
    "sources.register_views",
    "engine.build_query",
    "engine.run_job",
    "engine.run_incremental",
    "operators.clean_pipeline",
    "sinks.write_partitioned_parquet",
    "sinks.register_external_table",
    "sinks.ledger.claim_run",
    "sinks.ledger.update_item",
    "sinks.ledger.get",
    "sinks.notify.publish",
    "orchestrator.run_plan_file",
    "orchestrator.plan_move",
    *[
        f"lakehouse.{m}"
        for m in ("append", "merge_upsert", "delete_where", "compact", "snapshot", "read_change_feed", "latest_version")
    ],
]
#: entry points whose self time (duration minus traced children) is reported
SELF_TIMES = ["engine.run_job", "engine.run_incremental", "orchestrator.run_plan_file"]
#: per-round stats a workload computes, mean over the rounds
ROUND_STATS = {
    "sinks.files_written": ("extract_chain", "files_written", "count"),
    "sinks.partitions_written": ("extract_chain", "partitions_written", "count"),
    "sinks.bytes_written": ("extract_chain", "bytes_written", "B"),
    "sinks.files_per_partition": ("extract_chain", "files_per_partition", "ratio"),
    "sinks.stored_bytes_per_row": ("extract_chain", "stored_bytes_per_row", "B/row"),
    "orchestrator.jobs_skipped": ("extract_chain", "jobs_skipped", "count"),
    "lakehouse.files_added": ("acid_ingest", "files_added", "count"),
    "lakehouse.files_removed": ("acid_ingest", "files_removed", "count"),
    "lakehouse.log_commits": ("acid_ingest", "log_commits", "count"),
    "lakehouse.checkpoints": ("acid_ingest", "checkpoints", "count"),
    "lakehouse.bytes_rewritten_per_byte_changed": ("acid_ingest", "bytes_rewritten_per_byte_changed", "ratio"),
    "lakehouse.bytes_changed": ("acid_ingest", "bytes_changed", "B"),
    "lakehouse.disk_bytes_per_live_byte": ("acid_ingest", "disk_bytes_per_live_byte", "ratio"),
    "lakehouse.files_per_partition": ("acid_ingest", "files_per_partition", "ratio"),
    "lakehouse.stored_bytes_per_row": ("acid_ingest", "stored_bytes_per_row", "B/row"),
}
#: op-level latencies by op type, from the untraced rounds of a traced run
OP_TYPES = {
    "op.job_p50_s": lambda n: n.startswith("job."),
    "op.append_p50_s": lambda n: n == "append",
    "op.merge_p50_s": lambda n: n == "merge",
    "op.delete_p50_s": lambda n: n == "delete",
    "op.read_p50_s": lambda n: n.startswith("read_"),
    "op.compact_s": lambda n: n == "compact",
}
SPARK_UNITS = {
    k: "s" if k.endswith("_s") else "B" if k.endswith("_bytes") else "count" for k in eventlog.SPARK_COUNTS
}

PER_LAYER = {
    **{f"{n}_s": "s" for n in CALL_TIMES},
    **{f"{n}_self_s": "s" for n in SELF_TIMES},
    "sources.views_registered": "count",
    "sinks.ledger.events": "count",
    **{k: unit for k, (_, _, unit) in ROUND_STATS.items()},
    **{k: "s" for k in OP_TYPES},
    **{f"spark.{k}": u for k, u in SPARK_UNITS.items()},
    "spark.driver_only_s": "s",
    "trace.overhead_s": "s",
    "setup.warm_pass_s": "s",
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _pack(values: dict, units: dict) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}


def end_to_end(rounds, setup_s: float) -> dict:
    wall = sum(r.wall_s for r in rounds)
    return _pack(
        {
            "setup_s": setup_s,
            "wall_s": _median([r.wall_s for r in rounds]),
            "rows_per_s": sum(r.rows for r in rounds) / wall if wall else 0.0,
        },
        END_TO_END,
    )


def span_walls(tracer, event_dir: Path):
    """Per span id: ``(wall, self, driver_only)``, and the event-log
    counts attributed to each span id."""
    counts, intervals = eventlog.per_span(event_dir) if event_dir.exists() else ({}, {})
    children = defaultdict(list)
    for s in tracer.spans:
        if s.parent is not None:
            children[s.parent].append(s.id)

    def subtree(sid):
        out = list(intervals.get(sid, []))
        for c in children[sid]:
            out += subtree(c)
        return out

    self_t = tracer.self_times()
    rows = {}
    for s in tracer.spans:
        wall = s.end - s.start
        rows[s.id] = (wall, self_t[s.id], wall - eventlog.covered(subtree(s.id), s.start, s.end))
    return rows, counts


def span_table(tracer, walls) -> dict:
    """Per span name: calls and summed wall / self / driver-only time
    and Spark counts — the layer table written to the record."""
    rows, counts = walls
    table: dict[str, dict] = {}
    for s in tracer.spans:
        t = table.setdefault(
            s.name, {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "driver_only_s": 0.0, **dict.fromkeys(SPARK_UNITS, 0)}
        )
        wall, self_s, drv = rows[s.id]
        t["calls"] += 1
        t["wall_s"] += wall
        t["self_s"] += self_s
        t["driver_only_s"] += drv
        for k, v in counts.get(s.id, {}).items():
            t[k] += v
    return table


def per_layer(record: dict, rounds, traced, tracer, walls, warm_s: float) -> dict:
    rows, counts = walls
    by_name = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s)
    values: dict[str, float] = {}
    for n in CALL_TIMES:
        values[f"{n}_s"] = _median([rows[s.id][0] for s in by_name[n]])
    for n in SELF_TIMES:
        values[f"{n}_self_s"] = _median([rows[s.id][1] for s in by_name[n]])
    values["sources.views_registered"] = _median([s.value for s in by_name["sources.register_views"]])
    values["sinks.ledger.events"] = record.get("ledger_events", 0)

    workload = record["workload"]
    for key, (wl, stat, _) in ROUND_STATS.items():
        if wl == workload:
            values[key] = statistics.fmean(r.stats.get(stat, 0.0) for r in rounds)

    plain = [r for r, t in zip(rounds, traced) if not t]
    on = [r for r, t in zip(rounds, traced) if t]
    for key, match in OP_TYPES.items():
        values[key] = _median([o.latency_s for r in plain for o in r.ops if match(o.name)])

    n_on = max(1, len(on))
    for k in SPARK_UNITS:
        values[f"spark.{k}"] = sum(c.get(k, 0) for c in counts.values()) / n_on
    roots = [s for s in tracer.spans if s.parent is None]
    values["spark.driver_only_s"] = _median([rows[s.id][2] for s in roots])
    values["trace.overhead_s"] = _median([r.wall_s for r in on]) - _median([r.wall_s for r in plain])
    values["setup.warm_pass_s"] = warm_s
    return _pack(values, PER_LAYER)
