"""Layer tracer: spans around the calls into each package layer, taken
from the benchmark's own files by wrapping public functions at the name
the caller resolves (``engine.clean_pipeline`` is imported by name into
``engine``, so patching ``operators.cleaning`` alone would miss it).

Spans live in memory as ``(id, name, start, end, parent, run)`` and are
written out when the run ends.  While a span is open its id is the
Spark job description, so the event log attributes every Spark job to
the innermost enclosing span (``eventlog.py``).
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass

PKG = "platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    value: float | None = None  # result size, for the entry points in SIZED


#: entry points whose result length is recorded on the span
SIZED = {"sources.register_views"}


def layer_targets() -> list[tuple[object, str, str]]:
    """``(owner, attribute, span name)`` for every traced entry point."""
    import importlib

    def mod(name):
        return importlib.import_module(f"{PKG}.{name}")

    engine = mod("engine")
    orch = mod("orchestrator")
    sink = mod("sinks.parquet_sink")
    ledger = mod("sinks.ledger").Ledger
    lake = mod("lakehouse").TransactionLog
    return [
        (mod("plans.model").ExtractionPlan, "from_file", "plans.parse"),
        (engine, "to_spark_sql", "plans.rewrite"),
        (mod("sources.registry").SourceRegistry, "register_views_for_query", "sources.register_views"),
        (engine.Engine, "build_query_df", "engine.build_query"),
        (engine.Engine, "run_job", "engine.run_job"),
        (engine.Engine, "run_incremental", "engine.run_incremental"),
        (engine, "clean_pipeline", "operators.clean_pipeline"),
        (engine, "write_partitioned_parquet", "sinks.write_partitioned_parquet"),
        (sink, "register_external_table", "sinks.register_external_table"),
        (ledger, "claim_run", "sinks.ledger.claim_run"),
        (ledger, "update_item", "sinks.ledger.update_item"),
        (ledger, "get", "sinks.ledger.get"),
        (mod("sinks.notify").NotificationLog, "publish", "sinks.notify.publish"),
        (orch.Orchestrator, "run_plan_file", "orchestrator.run_plan_file"),
        (orch.Orchestrator, "_move_plan_file", "orchestrator.plan_move"),
        *[
            (lake, m, f"lakehouse.{m}")
            for m in (
                "append",
                "merge_upsert",
                "delete_where",
                "compact",
                "snapshot",
                "read_change_feed",
                "latest_version",
            )
        ],
    ]


class Tracer:
    def __init__(self, spark_context=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark_context
        self._patched: list[tuple[object, str, object]] = []
        self.run = ""

    # ---- spans ----------------------------------------------------------

    def _describe(self, span: Span | None) -> None:
        if self._sc is not None:
            self._sc.setJobDescription(f"span:{span.id}" if span else None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0, parent.id if parent else None, self.run)
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._describe(parent)

    # ---- patching -------------------------------------------------------

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if name in SIZED:
                    s.value = len(out)
                return out

        return traced

    def install(self, targets) -> None:
        for owner, attr, name in targets:
            raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            if isinstance(raw, classmethod):
                new = classmethod(self._wrap(raw.__func__, name))
            else:
                new = self._wrap(raw, name)
            self._patched.append((owner, attr, raw))
            setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, raw = self._patched.pop()
            setattr(owner, attr, raw)

    # ---- readouts -------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover
        (children of one single-threaded caller never overlap)."""
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.id: (s.end - s.start) - child[s.id] for s in self.spans}
