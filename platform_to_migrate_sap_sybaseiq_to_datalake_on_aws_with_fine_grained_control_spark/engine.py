"""End-to-end plan execution (SURVEY.md §3 "idiomatic collapse").

One ``run_job`` call performs what the reference spreads across
Lambda → Step Functions → Glue → Lambda:

    resolve sources → rewrite + run Query (Spark SQL) → count →
    cleaning pipeline → partitioned parquet + catalog sink →
    ledger updates → reconciliation → notification.

``run_incremental`` is not a second pipeline but a watermark mode of
that one run path (``Engine._run``; an extension beyond the
reference's append-only full slices): it extracts only the rows past
the ledger-stored high watermark, always appends, and advances the
watermark after a successful write — with the same ledger lifecycle,
failure routing, reconciliation and notification as ``run_job``.

Scale notes (100 TB):

* ``count_strategy="cache"`` reproduces the reference's
  ``cache(); count()`` (``sybaseiq_extractor.py:295-297``) — fine when
  the extract fits the cluster's storage memory.
  ``count_strategy="observe"`` (default) attaches a Spark ``observe``
  metric to the write so the row count is collected as a side effect of
  the single write pass — no second scan, no cache pressure; this is
  the write-then-count variant SURVEY.md §4 recommends at scale.
* The plan's ``NumPartitions``/bounds become a ranged, range-
  partitioned scan only when requested; otherwise parallelism is left
  to the file scan + AQE.  On the file path the N-way split ranges
  over ``(ColumnForPartitioningOnS3, ColumnForPartitioningOnSpark)``
  when the sink column survived the Query's projection: each task
  then holds a contiguous run of partition values, so a partition
  directory gets one file (two at a range boundary) instead of one
  per task, while the Spark column still splits a dominant sink value
  across all N tasks.
"""

from __future__ import annotations

import posixpath
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.cleaning import clean_pipeline, schema_tree_string
from .operators.layout import apply_output_sizing
from .plans.dialect import to_spark_sql
from .plans.model import ExtractionJob
from .sinks.ledger import Ledger, utc_now_str
from .sinks.notify import (
    NotificationLog,
    build_notification,
    reconcile_counts,
)
from .sinks.parquet_sink import SinkResult, write_partitioned_parquet
from .sources.registry import SourceRegistry


@dataclass
class RunResult:
    execution_hash_id: str
    source_table: str
    status: str
    row_count: int | None = None
    reconcile_status: str | None = None
    sink: SinkResult | None = None
    final_schema: str | None = None
    execution_time_s: float = 0.0
    error: str | None = None
    details: dict[str, Any] = field(default_factory=dict)


@dataclass
class EngineConfig:
    target_root: str
    target_database: str = "datalake"
    count_strategy: str = "observe"  # "observe" | "cache" | "none"
    # "tiered" (reference-parity 8/16/24 file counts) needs the PRE-write
    # row count, so it only takes effect with count_strategy="cache";
    # under "observe" the sizing is always adaptive (AQE coalesce).
    output_sizing: str = "adaptive"  # "adaptive" | "tiered"
    sink_mode: str = "append"
    register_catalog: bool = True
    # K6 post-write maintenance (ANALYZE with the reference's
    # partition-index retry semantics); off by default — stats refresh
    # is a policy choice, not part of the write path.
    post_write_analyze: bool = False
    # drift-tolerant appends: align each batch to the widened merge of
    # the dataset's schema (operators/schema_evolution.py) before the
    # write; off by default to preserve the reference's strict contract.
    evolve_schema: bool = False
    # ACID sink: route the K1 write through the manifest-commit
    # transaction log (lakehouse.py) — atomic visibility, snapshot
    # isolation, time travel, O(delta) change feeds.  Reads go through
    # lakehouse.snapshot(); Hive-metastore registration is skipped in
    # this mode (a path-registered metastore table would list the
    # directory and see unreferenced pre-vacuum files — correct shared-
    # metastore reads need a reader-integrated table format, which is
    # exactly what the log implements for lakehouse.snapshot readers).
    acid: bool = False
    # acid-mode small-file policy: after each append, partition dirs
    # holding MORE than this many live files are compacted in one
    # scoped dataChange=false commit (0/None = no auto-OPTIMIZE).
    acid_autocompact_files: int | None = None


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        registry: SourceRegistry,
        config: EngineConfig,
        ledger: Ledger | None = None,
        notifications: NotificationLog | None = None,
    ):
        self.spark = spark
        self.registry = registry
        self.config = config
        self.ledger = ledger
        self.notifications = notifications
        # per-target serialization for the NON-ACID sink: two threads
        # appending the same parquet dir share one FileOutputCommitter
        # _temporary/ staging dir — the first commit deletes it under
        # the second job (silent row loss).  Held only around the
        # write (reads/transforms stay parallel); ACID writes skip it
        # — the transaction log's OCC is the arbitration.  Lives HERE,
        # not in the orchestrator, so every direct run_job caller is
        # protected too.
        self._sink_locks: dict[str, threading.Lock] = {}
        self._sink_locks_guard = threading.Lock()

    def _sink_lock(self, path_suffix: str):
        # normalize before keying: 'a/b', 'a/b/' and './a/b' address
        # the same physical directory and must share ONE lock — two
        # differently-spelled suffixes with distinct locks would bypass
        # the FileOutputCommitter serialization this exists to provide
        key = posixpath.normpath(path_suffix.strip()) if path_suffix else ""
        with self._sink_locks_guard:
            return self._sink_locks.setdefault(key, threading.Lock())

    # ------------------------------------------------------------------

    def build_query_df(self, job: ExtractionJob) -> DataFrame:
        """S1/S2/P1 — resolve sources, rewrite dialect, run the Query.

        JDBC path (S1/S2): when the job carries a connection string and
        the registry has JDBC enabled, the Query ships verbatim to the
        source engine (source dialect, exactly like the reference) as a
        partitioned or single-connection read.  Parquet path otherwise:
        register views, rewrite the dialect, run natively.
        """
        if job.jdbc_connection_string and self.registry.jdbc_enabled:
            from .sources.secrets import get_credentials

            user, password = (
                get_credentials(job.credentials_secret_arn)
                if job.credentials_secret_arn
                else ("", "")
            )
            return self.registry.jdbc_scan(
                url=job.jdbc_connection_string,
                query=job.query,
                user=user,
                password=password,
                partition_column=job.column_for_partitioning_on_spark,
                lower_bound=job.lower_bound,
                upper_bound=job.upper_bound,
                num_partitions=job.num_partitions,
            )
        table_map = self.registry.register_views_for_query()
        if job.source_table not in table_map and self.registry.resolve_path(job.source_table):
            table_map.update(self.registry.register_views_for_query([job.source_table]))
        sql = to_spark_sql(
            job.query,
            table_map,
            known_prefixes={(job.source_database, job.source_schema)},
        )
        df = self.spark.sql(sql)
        split = _range_split_columns(job, df.columns)
        if split:
            # the range filter semantics already live inside the Query's
            # WHERE clause; this only sets the write's N-way split
            df = df.repartitionByRange(job.num_partitions, *map(F.col, split))
        return df

    def validate_job(self, job: ExtractionJob) -> dict[str, Any]:
        """Dry-run / EXPLAIN mode: resolve sources, rewrite the dialect,
        build the FULL cleaned plan, and report schema + physical plan +
        partitioning facts without executing a write, count, or cache —
        Catalyst plans (and therefore validates) the query, but no job
        runs. The pre-flight check a plan author runs before queueing
        an extraction against a 100 TB source: catches unresolved
        tables/columns, dialect rewrite failures, and a partition
        column that did not survive the Query's projection, at
        planning cost only.
        """
        import io
        from contextlib import redirect_stdout

        out: dict[str, Any] = {
            "execution_hash_id": job.execution_hash_id,
            "source_table": job.source_table,
            "status": "VALID",
            "issues": [],
        }
        try:
            df, cleaned, partition_keys = self._prepare(
                job, datetime.now(timezone.utc).replace(tzinfo=None)
            )
            buf = io.StringIO()
            with redirect_stdout(buf):
                cleaned.explain("formatted")
            out["schema"] = schema_tree_string(cleaned)
            out["partition_keys"] = partition_keys
            out["physical_plan"] = buf.getvalue()
            out["source_path"] = (
                "jdbc"
                if job.jdbc_connection_string and self.registry.jdbc_enabled
                else "files"
            )
            if (
                job.partitioned_scan
                and job.num_partitions > 1
                and not _range_split_columns(job, df.columns)
            ):
                col = str(job.column_for_partitioning_on_spark).strip()
                out["issues"].append(
                    f"ColumnForPartitioningOnSpark {col!r} not in the projected "
                    f"columns — the {job.num_partitions}-way range split "
                    "would be skipped"
                )
            if not job.reconciliation_enabled:
                out["issues"].append(
                    "no ExpectedAmountOfRecords — reconciliation will be 'skipped'"
                )
        except Exception as e:  # noqa: BLE001 — validator reports, not raises
            out["status"] = "INVALID"
            out["error"] = str(e)
        return out

    def _write_sink(
        self,
        cleaned,
        job: ExtractionJob,
        partition_keys: list[str],
        mode: str,
        max_records_per_file: int | None = None,
    ) -> SinkResult:
        """K1 dispatch: raw parquet + metastore (reference parity) or,
        under ``config.acid``, one atomic transaction-log commit
        (lakehouse.py) — readers see the whole batch or none of it."""
        if self.config.acid:
            from pathlib import Path as _Path

            from .lakehouse import ConcurrentCommitError, TransactionLog

            path = str(_Path(self.config.target_root) / job.target_path_suffix)
            t = TransactionLog(path)
            if mode == "overwrite":
                version = t.overwrite(cleaned, partition_keys)
            else:
                version = t.append(
                    cleaned,
                    partition_keys,
                    evolve_schema=self.config.evolve_schema,
                    max_records_per_file=max_records_per_file,
                )
            if self.config.acid_autocompact_files:
                # small-file policy: rewrite ONLY partition dirs the
                # appends have fragmented past the threshold — one
                # dataChange=false commit, incremental readers see
                # nothing, a racing reader replays old or new state
                try:
                    t.compact(
                        self.spark,
                        min_files=self.config.acid_autocompact_files,
                    )
                except (ValueError, ConcurrentCommitError):
                    # nothing over threshold (the common case), or lost
                    # the race to a writer: the next run retries
                    pass
            return SinkResult(
                path=path,
                table=None,  # see EngineConfig.acid: metastore skipped
                partition_keys=partition_keys,
                mode=f"acid-{mode}@v{version}",
            )
        with self._sink_lock(job.target_path_suffix):
            return write_partitioned_parquet(
                cleaned,
                root=self.config.target_root,
                path_suffix=job.target_path_suffix,
                partition_keys=partition_keys,
                target_database=self.config.target_database
                if self.config.register_catalog
                else None,
                table_name=job.target_table_name
                if self.config.register_catalog
                else None,
                mode=mode,
                evolve_schema=self.config.evolve_schema,
                max_records_per_file=max_records_per_file,
            )

    def run_job(self, job: ExtractionJob) -> RunResult:
        return self._run(job)

    def run_incremental(self, job: ExtractionJob, watermark_column: str) -> RunResult:
        """``run_job`` in watermark mode: only the rows whose
        ``watermark_column`` is past the ledger-stored high watermark
        are extracted, and the watermark advances to the batch max."""
        return self._run(job, watermark_column)

    def last_watermark(self, job: ExtractionJob) -> str | None:
        if self.ledger is None:
            return None
        item = self.ledger.get(_wm_key(job), job.source_table)
        return item.get("HighWatermark") if item else None

    def _prepare(
        self,
        job: ExtractionJob,
        load_ts: datetime,
        watermark_column: str | None = None,
        last: str | None = None,
        observation: Observation | None = None,
    ) -> tuple[DataFrame, DataFrame, list[str]]:
        """Query frame -> cleaned frame, the prefix ``_run`` and
        ``validate_job`` share; returns ``(query_df, cleaned, keys)``.

        The run's one ``observation`` sits on the query frame: cleaning
        keeps every row, and the watermark max must be the native,
        untrimmed value the next run's filter compares against.
        """
        df = self.build_query_df(job)
        if watermark_column and last is not None:
            # the ledger stores the watermark as a string; compare in the
            # column's NATIVE type (lexicographically '9' > '10')
            wm_type = df.schema[watermark_column].dataType
            df = df.filter(F.col(watermark_column) > F.lit(last).cast(wm_type))
        if observation is not None:
            aggs = [F.count(F.lit(1)).alias("n")]
            if watermark_column:
                aggs.append(F.max(F.col(watermark_column)).alias("wm"))
            df = df.observe(observation, *aggs)
        cleaned, partition_keys = clean_pipeline(
            df,
            execution_hash_id=job.execution_hash_id,
            load_timestamp=load_ts,
            partition_column=job.column_for_partitioning_on_s3 if job.partitioned_sink else None,
        )
        return df, cleaned, partition_keys

    def _run(self, job: ExtractionJob, watermark_column: str | None = None) -> RunResult:
        """The one body of every plan-job run: ledger lifecycle, query,
        clean, count, write, reconcile and notification, with
        ``watermark_column`` selecting the incremental mode."""
        hash_id = job.execution_hash_id
        t0 = time.time()
        if self.ledger:
            self.ledger.update_item(hash_id, job.source_table, GlueJobStartTimestamp=utc_now_str())
        load_ts = datetime.now(timezone.utc).replace(tzinfo=None)
        details: dict[str, Any] = {}

        try:
            last = self.last_watermark(job) if watermark_column else None
            strategy = self.config.count_strategy
            # one single-pass observation: the row count under "observe",
            # plus the batch's watermark max in incremental mode
            observe = strategy == "observe" or watermark_column
            observation = Observation(f"rows_{hash_id[:8]}") if observe else None
            _, cleaned, partition_keys = self._prepare(
                job, load_ts, watermark_column, last, observation
            )
            final_schema = schema_tree_string(cleaned)

            row_count: int | None = None
            cached: DataFrame | None = None
            # adaptive sizing bounds file size per WRITE (never via a
            # session conf — it would leak into later tiered jobs);
            # tiered mode must not set it or the coalesce(n) file
            # counts would be re-split past the tier boundary.
            max_rpf: int | None = 5_000_000
            if strategy == "cache":
                # reference parity: cache + count before the write
                # (sybaseiq_extractor.py:295-297)
                cached = cleaned.cache()
                row_count = cached.count()
                cleaned = apply_output_sizing(cached, row_count, mode=self.config.output_sizing)
                if self.config.output_sizing == "tiered":
                    max_rpf = None
            # otherwise sizing is always adaptive (AQE coalesce): tiered
            # sizing needs the PRE-write count, which observe learns only
            # after the write (EngineConfig.output_sizing)

            try:
                sink = self._write_sink(
                    cleaned,
                    job,
                    partition_keys,
                    # an incremental overwrite would drop earlier increments
                    mode="append" if watermark_column else self.config.sink_mode,
                    max_records_per_file=max_rpf,
                )
                if observation is not None:
                    metrics = observation.get
                    row_count = int(metrics["n"])
            finally:
                if cached is not None:
                    # the exact DataFrame cached (sizing may have rebound
                    # `cleaned`); in a finally, so a failed write does not
                    # leave the extract pinned for the rest of a chain
                    cached.unpersist()

            if sink.table and self.config.post_write_analyze:
                from .operators.maintenance import post_write_maintenance

                post_write_maintenance(self.spark, sink.table)

            if watermark_column:
                wm = metrics["wm"]  # native type; stringified to store
                new_wm = last if wm is None else str(wm)  # None: no new rows
                if self.ledger and wm is not None:
                    self.ledger.put_item(
                        {
                            "ExecutionHashId": _wm_key(job),
                            "SourceTable": job.source_table,
                            "HighWatermark": new_wm,
                        }
                    )
                details = {"last_watermark": last, "new_watermark": new_wm}

            result = RunResult(
                execution_hash_id=hash_id,
                source_table=job.source_table,
                status="SUCCEEDED",
                row_count=row_count,
                reconcile_status=reconcile_counts(job.expected_amount_of_records, row_count),
                sink=sink,
                final_schema=final_schema,
                details=details,
            )
            end = {"GlueAmountOfRecords": row_count, "GlueFinalTableSchema": final_schema}
        except Exception as e:  # noqa: BLE001 — C4 failure routing
            result = RunResult(hash_id, job.source_table, "FAILED", error=str(e))
            end = {"ErrorMessage": str(e)[:2000]}
        result.execution_time_s = time.time() - t0
        if self.ledger:
            self.ledger.update_item(
                hash_id,
                job.source_table,
                GlueJobFinalStatus=result.status,
                GlueJobEndTimestamp=utc_now_str(),
                ExecutionTime=int(result.execution_time_s),
                **end,
            )

        if self.notifications:
            self.notifications.publish(
                build_notification(
                    state=result.status,
                    source_name=job.source_name,
                    source_table=job.source_table,
                    migration_part=job.migration_part,
                    reconcile_status=result.reconcile_status or "skipped",
                    run_details={
                        "ExecutionHashId": hash_id,
                        "GlueAmountOfRecords": result.row_count,
                        "ExpectedAmountOfRecords": job.expected_amount_of_records,
                        "ExecutionTime": int(result.execution_time_s),
                        "Query": job.query,
                        "Error": result.error,
                    },
                )
            )
        return result


def _range_split_columns(job: ExtractionJob, columns: list[str]) -> list[str]:
    """The file path's N-way range-split key: ``[sink col, Spark col]``
    (matched case-insensitively against the projected ``columns``), the
    sink column dropped when it did not survive the projection or is
    the Spark column; ``[]`` (no split) when the Spark column did not
    survive or the plan asks for no partitioned scan."""
    if not (job.partitioned_scan and job.num_partitions > 1):
        return []
    norm = {c.lower(): c for c in columns}
    spark_col = norm.get(str(job.column_for_partitioning_on_spark).strip().lower())
    if spark_col is None:
        return []
    sink_col = (
        norm.get(str(job.column_for_partitioning_on_s3).strip().lower())
        if job.partitioned_sink
        else None
    )
    return [sink_col, spark_col] if sink_col not in (None, spark_col) else [spark_col]


def _wm_key(job: ExtractionJob) -> str:
    """Ledger key of the ``(source, table)`` high-watermark row."""
    return f"IncrementalWatermark-{job.source_name}-{job.source_table}"
