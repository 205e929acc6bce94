"""The three workloads.  Each drives the package only through its public
entry points (``Orchestrator``, ``Engine``, ``TransactionLog`` and the
``__spark_entry__`` query catalog), one closed-loop client, and checks
every result against the DuckDB oracle outside the timed calls.

The harness (``run.py``) times three steps: ``setup_round`` (repeated;
the last one's inputs are used), ``warm`` (one full round, discarded)
and ``run_round`` (repeated until the run's seconds are spent).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

import datagen
import oracle
import specs
from tracer import PKG

#: prior runs in extract_chain's ledger: a year of daily extracts of
#: ~30 tables
LEDGER_PRIOR_RUNS = 10_000
#: extract_chain rounds (the warm round included) whose queues and
#: oracle counts are prepared during set-up; a longer run prepares
#: further rounds between rounds, never inside one
ROUNDS_PLANNED = 4


@dataclass
class Op:
    name: str
    latency_s: float
    rows: int = 0
    error: str | None = None


@dataclass
class Round:
    wall_s: float
    ops: list[Op] = field(default_factory=list)
    #: correctness checks beyond the ops' own: (name, error or None)
    checks: list[tuple[str, str | None]] = field(default_factory=list)
    stats: dict[str, float] = field(default_factory=dict)

    @property
    def rows(self) -> int:
        return sum(o.rows for o in self.ops)


def _pkg(name: str):
    import importlib

    return importlib.import_module(f"{PKG}.{name}")


def disk_usage(path: Path) -> tuple[int, int, int]:
    """``(total bytes, data files, partition dirs holding data files)``
    under ``path``; data files are Spark's ``part-*`` outputs."""
    total = files = 0
    dirs = set()
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            if n.startswith("part-") and n.endswith(".parquet"):
                files += 1
                dirs.add(dirpath)
    return total, files, len(dirs)


class Workload:
    name = ""

    def __init__(self, harness, seed: int, scale: float):
        self.h = harness
        self.seed = seed
        self.scale = scale
        self.work: Path = harness.work

    @property
    def spark(self):
        return self.h.spark

    def setup_round(self, k: int) -> None:
        """Fresh session, seeded inputs in a fresh directory, oracle."""
        self.h.restart_spark()
        self.data = self.work / f"data{k}"
        self.counts = datagen.write_tables(self.data, self.seed, self.scale)
        self.con = oracle.connect(self.data)
        self.prepare(k)

    def prepare(self, k: int) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """One full round before timing: JIT, codegen and lazily built
        state land in set-up, not in the measured rounds."""
        self.round(0, "warm", None)

    def run_round(self, r: int, tracer) -> Round:
        return self.round(r + 1, f"r{r}", tracer)

    def round(self, k: int, tag: str, tracer) -> Round:
        raise NotImplementedError


def _count_and_checksum(df) -> dict:
    """Live rows and the exact-cents ``o_totalprice`` checksum
    (``oracle.CHECKSUM_SQL``) in one pass."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)), (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long")
    ).first()
    return {"count": row[0], "checksum": row[1] or 0}


def _span(tracer, name: str):
    from contextlib import nullcontext

    return tracer.span(name) if tracer is not None else nullcontext()


# ---------------------------------------------------------------------------


class ExtractChain(Workload):
    """The paper's plan-driven path: plan files in ``run_now/`` →
    ``Orchestrator`` → ``Engine.run_job`` → partitioned parquet + Hive
    catalog → ledger → reconcile → notification."""

    name = "extract_chain"

    def prepare(self, k: int) -> None:
        self.ledger_path = self.work / f"ledger{k}.jsonl"
        with self.ledger_path.open("w", encoding="utf-8") as f:
            for ev in datagen.ledger_history(self.seed, LEDGER_PRIOR_RUNS):
                f.write(json.dumps(ev) + "\n")
        self.queues = {}
        for r in range(ROUNDS_PLANNED):
            self.queue(r)
        self.registry = _pkg("sources.registry").SourceRegistry(self.spark, parquet_root=str(self.data))
        self.ledger = _pkg("sinks.ledger").Ledger(self.ledger_path)
        # probe: the registry resolves every source table
        self.registry.register_views_for_query()

    def queue(self, k: int):
        """Round ``k``'s plan queue with oracle counts filled in, and
        the rows it should land per table."""
        if k not in self.queues:
            q = specs.extract_queue(self.seed, k, self.counts["orders"])
            self.queues[k] = (q, oracle.fill_expected(self.con, q))
        return self.queues[k]

    def engine(self, tag: str):
        """An engine writing to a fresh lake and catalog database."""
        engine = _pkg("engine")
        cfg = engine.EngineConfig(target_root=str(self.work / f"lake_{tag}"), target_database=f"datalake_{tag}")
        notes = _pkg("sinks.notify").NotificationLog(self.work / f"notify_{tag}.jsonl")
        return engine.Engine(self.spark, self.registry, cfg, self.ledger, notes)

    def round(self, k: int, tag: str, tracer) -> Round:
        queue, landed = self.queue(k)
        engine = self.engine(tag)
        orch = _pkg("orchestrator").Orchestrator(engine, self.work / f"queue_{tag}", max_concurrent_runs=1)
        for fname, plan, _ in queue:
            (orch.queue_root / "run_now" / fname).write_text(json.dumps(plan, indent=1))
        t0 = time.time()
        with _span(tracer, "op.run_now"):
            outcomes = orch.run_now()
        t1 = time.time()
        rnd = Round(wall_s=t1 - t0)

        # per-job latency: claim -> notification, from the notification
        # log's timestamps (jobs run back to back on one thread, so each
        # job spans from the previous job's notification to its own)
        expected = [
            j["ExpectedAmountOfRecords"]
            for name, plan, _ in queue
            if "duplicate" not in name
            for j in (plan["Jobs"] if plan.get("SequentialMultipleParts") else [plan])
        ]
        results = [res for o in outcomes for res in o.results]
        stamps = [
            datetime.fromisoformat(e["ts"]).timestamp()
            for e in engine.notifications.entries()
        ]
        prev = t0
        for i, res in enumerate(results):
            end = stamps[i] if i < len(stamps) else t1
            err = res.error
            if err is None and (res.reconcile_status != "ok" or res.row_count != expected[i]):
                err = f"reconcile={res.reconcile_status} rows={res.row_count} expected={expected[i]}"
            rnd.ops.append(Op(f"job.{res.source_table}", end - prev, res.row_count or 0, err))
            prev = end
        if len(results) != len(expected):
            rnd.checks.append(("jobs", f"{len(results)} results for {len(expected)} jobs"))

        skipped = sum(len(o.skipped) for o in outcomes)
        want_skip = specs.duplicate_parts(queue)
        bad_moves = [o.plan_file for o in outcomes if not (o.moved_to or "").count("/succeeded/")]
        for table, rows in landed.items():
            got = self.spark.sql(f"SELECT count(*) FROM datalake_{tag}.sybaseiq_{table}").first()[0]
            err = None if got == rows else f"catalog count {got} != {rows}"
            rnd.checks.append((f"catalog.{table}", err))
        rnd.checks.append(
            (
                "dedup_gate",
                None if skipped == want_skip and not bad_moves else f"skipped {skipped}/{want_skip}, unmoved {bad_moves}",
            )
        )
        total, files, parts = disk_usage(self.work / f"lake_{tag}")
        rnd.stats = {
            "jobs_skipped": skipped,
            "files_written": files,
            "partitions_written": parts,
            "bytes_written": total,
            "files_per_partition": files / max(1, parts),
            "stored_bytes_per_row": total / max(1, rnd.rows),
        }
        shutil.rmtree(self.work / f"lake_{tag}", ignore_errors=True)
        shutil.rmtree(self.work / f"queue_{tag}", ignore_errors=True)
        return rnd


# ---------------------------------------------------------------------------


class AcidIngest(Workload):
    """The same engine with the ACID sink: incremental appends over an
    ``o_orderkey`` watermark mixed with merges, deletion-vector deletes,
    snapshot/time-travel/change-feed reads and a final compaction."""

    name = "acid_ingest"

    def prepare(self, k: int) -> None:
        self.ops = specs.acid_ops(self.seed, self.counts["orders"])
        self.truth = oracle.acid_truth(self.con, self.ops)
        self.registry = _pkg("sources.registry").SourceRegistry(self.spark, parquet_root=str(self.data))
        # probe: the registry resolves every source table
        self.registry.register_views_for_query()

    def round(self, k: int, tag: str, tracer) -> Round:
        from pyspark.sql import functions as F

        ops, truth = self.ops, self.truth
        engine_mod = _pkg("engine")
        plan_model = _pkg("plans.model")
        lake = _pkg("lakehouse")
        root = self.work / f"acid_{tag}"
        engine = engine_mod.Engine(
            self.spark,
            self.registry,
            engine_mod.EngineConfig(target_root=str(root), acid=True),
            _pkg("sinks.ledger").Ledger(self.work / f"acid_ledger_{tag}.jsonl"),
        )
        plan_dir = self.work / f"acid_plans_{tag}"
        plan_dir.mkdir(parents=True, exist_ok=True)
        table = None
        rnd = Round(wall_s=0.0)
        for i, op in enumerate(ops):
            kind = op["op"]
            want = truth.expected(i, op)
            got: dict = {}
            rows = 0
            if kind == "append":
                path = plan_dir / f"batch_{op['plan']['MigrationPart']:03d}.json"
                path.write_text(json.dumps(op["plan"]))
            t0 = time.perf_counter()
            try:
                with _span(tracer, f"op.{kind}"):
                    if kind == "append":
                        job = plan_model.ExtractionPlan.from_file(path).jobs[0]
                        res = engine.run_incremental(job, "o_orderkey")
                        rows = res.row_count
                        if table is None:
                            table = lake.TransactionLog(res.sink.path)
                    elif kind == "merge":
                        src = table.snapshot(
                            self.spark, where=f"o_orderkey >= {op['lo']} AND o_orderkey < {op['hi']}"
                        ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(op["delta"]))
                        table.merge_upsert(src, ["o_orderkey"])
                    elif kind == "delete":
                        table.delete_where(self.spark, f"o_orderkey % 100 = {op['residue']}", mode="dv")
                    elif kind == "compact":
                        table.compact(self.spark)
                    elif kind == "read_current":
                        got = _count_and_checksum(table.snapshot(self.spark))
                    elif kind == "read_filtered":
                        got = {"count": table.snapshot(self.spark, where=f"o_orderkey >= {op['lo']} AND o_orderkey < {op['hi']}").count()}
                    elif kind == "read_time_travel":
                        got = {"count": table.snapshot(self.spark, version=op["version"]).count()}
                    elif kind == "read_change_feed":
                        got = {"count": table.read_change_feed(self.spark, op["from_version"], op["version"]).count()}
                latency = time.perf_counter() - t0
                err = self._check(table, op, truth, want, got, rows)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
                latency = time.perf_counter() - t0
                err = f"{type(e).__name__}: {e}"[:500]
            rnd.wall_s += latency
            rnd.ops.append(Op(kind, latency, rows or 0, err))
        if table is not None:
            rnd.stats = self._table_stats(table, truth)
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(plan_dir, ignore_errors=True)
        return rnd

    def _check(self, table, op, truth, want, got, rows) -> str | None:
        kind = op["op"]
        if kind.startswith("read"):
            bad = oracle.mismatches(want, got)
            return "; ".join(bad) or None
        if table is None or table.latest_version() != op["version"]:
            return f"version {table and table.latest_version()} != {op['version']}"
        if kind == "append" and rows != truth.changed[op["version"]]:
            return f"appended {rows} rows, expected {truth.changed[op['version']]}"
        if kind == "compact":
            return "; ".join(oracle.mismatches(want, _count_and_checksum(table.snapshot(self.spark)))) or None
        return None

    def _table_stats(self, table, truth) -> dict[str, float]:
        """Write/space amplification of the finished table, from
        ``history()`` commit metrics and the live file manifest."""
        hist = table.history()
        metrics = [h.operation_metrics for h in hist]
        rewrites = [(h, m) for h, m in zip(hist, metrics) if h.op != "append" and h.data_change]
        rewritten = sum(m["bytes_added"] for _, m in rewrites)
        live_rows = truth.count[hist[-1].version]
        state_files = {r.path: r.size_bytes for r in table.files_df(self.spark).collect()}
        live_bytes = sum(state_files.values())
        total, files, parts = disk_usage(table.table_path)
        avg_row = live_bytes / max(1, live_rows)
        bytes_changed = sum(truth.changed.get(h.version, 0) for h, _ in rewrites) * avg_row
        return {
            "files_added": sum(m["num_added_files"] for m in metrics),
            "files_removed": sum(m["num_removed_files"] for m in metrics),
            "log_commits": len(hist),
            "checkpoints": len(list(table.log_path.glob("_checkpoint.*.json"))),
            "bytes_rewritten_per_byte_changed": rewritten / max(1.0, bytes_changed),
            "bytes_changed": bytes_changed,
            "disk_bytes_per_live_byte": total / max(1, live_bytes),
            "files_per_partition": len(state_files) / max(1, parts),
            "stored_bytes_per_row": total / max(1, live_rows),
        }


# ---------------------------------------------------------------------------


class CatalogQueries(Workload):
    """The read-only query surface: the headline catalog entries through
    a noop sink, row counts checked against ``oracle_sql()``."""

    name = "catalog_queries"

    def prepare(self, k: int) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.expected = oracle.catalog_counts(self.con, entry.oracle_sql(), specs.CATALOG_ENTRIES)
        # probe: the cheapest entry over the fresh inputs
        self._run_entry("text_quality_scores")

    def _run_entry(self, name: str) -> int:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"rows_{name}")
        df = self.queries[name](self.spark, str(self.data)).observe(obs, F.count(F.lit(1)).alias("n"))
        df.write.format("noop").mode("overwrite").save()
        return int(obs.get["n"])

    def _between(self) -> None:
        # isolate entries like bench.py: operators persist reused frames
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def round(self, k: int, tag: str, tracer) -> Round:
        rnd = Round(wall_s=0.0)
        for name in specs.catalog_order(self.seed, k):
            self._between()
            t0 = time.perf_counter()
            try:
                with _span(tracer, f"query_catalog.{name}"):
                    n = self._run_entry(name)
                latency = time.perf_counter() - t0
                err = None if n == self.expected[name] else f"rows {n} != oracle {self.expected[name]}"
            except Exception as e:  # noqa: BLE001 — a failed entry is counted, the run goes on
                latency, n = time.perf_counter() - t0, 0
                err = f"{type(e).__name__}: {e}"[:500]
            rnd.wall_s += latency
            rnd.ops.append(Op(name, latency, n, err))
        return rnd


WORKLOADS = {w.name: w for w in (ExtractChain, AcidIngest, CatalogQueries)}
