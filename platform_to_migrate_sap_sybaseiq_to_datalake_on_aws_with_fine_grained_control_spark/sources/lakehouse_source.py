"""Spark 4 Python Data Source connector for the transaction log.

``spark.read.format("lakehouse")`` / ``spark.readStream.format(
"lakehouse")`` / ``writeStream.format("lakehouse")`` over a
:class:`~..lakehouse.TransactionLog` table, built on the public
Python Data Source API (``pyspark.sql.datasource``, SPARK-44076).

Why this exists (and what each half is FOR):

* **Streaming read** — the log becomes a first-class Structured
  Streaming *source* with commit versions as offsets (the published
  Delta streaming-source design): Spark's own offset checkpointing
  gives exactly-once delivery of every appended file across restarts,
  ``dataChange: false`` compactions are never re-delivered, and
  non-append commits fail loudly (or are skipped under
  ``skipChangeCommits``) instead of silently corrupting the delta.
  There is no JVM-side equivalent without shipping a custom DSv2 jar.
* **Streaming write** — each micro-batch lands as ONE atomic log
  commit; with ``txnAppId`` the (appId, batchId) pair is recorded in
  the commit so a replayed batch after a crash commits nothing twice
  (the published Delta idempotent-writes contract).
* **Batch read** — snapshot/time-travel reads through the same
  connector, mainly so the source is testable end-to-end; for
  interactive batch work prefer ``TransactionLog.snapshot``, whose
  JVM parquet scan (whole-stage codegen, vectorized reader) is the
  fast path.  The connector read path is Arrow-batched Python — fine
  for the incremental trickle a stream delivers, deliberately not the
  100 TB table-scan path.

Scale notes: one :class:`InputPartition` per committed file, so read
parallelism tracks the commit's file count; deletion vectors are
applied per-file from the partition metadata (no join needed — the
positions were committed per file); all driver-side planning is
O(commits + files-in-range) metadata IO against the log, never a
directory listing.

Reference anchors: the reference's extraction control plane moves
tables by full re-extract (``glue_workflow_stack.py``); an
incremental, exactly-once feed of the same tables is what its
``Query``-plan consumers would need at lake scale.
"""

from __future__ import annotations

import datetime
import decimal
import uuid
from dataclasses import dataclass, field
from pathlib import Path
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ..lakehouse import TransactionLog, _collect_file_stats


# Hive escapePathName's character set: partition VALUES containing
# these must be %XX-escaped in dir names or the layout corrupts (a
# literal '/' would nest directories; '=' would split the kv pair).
# Spark's own writer escapes them; the stream writer must match so its
# dirs parse identically on read.
_HIVE_ESCAPE = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(0x20)}


def _hive_escape(value: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch for ch in value
    )


# ---- partition-value coercion (hive dir string -> typed value) ----------


def _coerce_partition_value(raw: str | None, spark_type_name: str):
    """Hive-style partition dirs store values as strings; the schema
    says what they are.  ``None`` (the __HIVE_DEFAULT_PARTITION__
    marker) stays NULL for every type."""
    if raw is None:
        return None
    t = spark_type_name
    if t in ("byte", "short", "integer", "long"):
        return int(raw)
    if t in ("float", "double"):
        return float(raw)
    if t == "boolean":
        return raw.lower() == "true"
    if t == "date":
        return datetime.date.fromisoformat(raw)
    if t.startswith("decimal"):
        return decimal.Decimal(raw)
    if t.startswith("timestamp"):
        return datetime.datetime.fromisoformat(raw)
    return raw  # string and friends


def _file_to_batches(
    abs_path: str,
    partition_values: dict,
    deleted_rows: list[int],
    schema: StructType,
    rename: dict | None = None,
) -> Iterator:
    """Read one committed parquet file into Arrow record batches:
    drop DV-deleted row positions, inject typed partition-column
    values, align columns to the committed schema (widen-only casts,
    e.g. an int32 file under an int64 table schema).

    ``rename`` (a TOTAL physical→logical map for column-mapped tables)
    aliases file columns to the logical view first; file columns NOT
    in the map are dead (dropped/renamed-away) and excluded — their
    physical name may since have been reused by a new logical column."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pq.read_table(abs_path)
    if deleted_rows:
        dead = set(deleted_rows)
        keep = [i for i in range(table.num_rows) if i not in dead]
        table = table.take(pa.array(keep, type=pa.int64()))
    if rename:
        keep_cols = [c for c in table.column_names if c in rename]
        table = table.select(keep_cols).rename_columns(
            [rename[c] for c in keep_cols]
        )
    target = to_arrow_schema(schema)
    by_type = {f.name: f.dataType for f in schema.fields}
    cols = []
    for fld in target:
        if fld.name in table.column_names:
            cols.append(table.column(fld.name).cast(fld.type))
        else:
            v = _coerce_partition_value(
                partition_values.get(fld.name), by_type[fld.name].typeName()
            )
            cols.append(pa.array([v] * table.num_rows).cast(fld.type))
    yield from pa.table(cols, schema=target).to_batches()


@dataclass
class LakehouseFilePartition(InputPartition):
    abs_path: str
    partition_values: dict = field(default_factory=dict)
    deleted_rows: list = field(default_factory=list)
    # change-feed fields: commit version the file belongs to, and
    # whether it is a _cdf sidecar (carries its own _change_type) or a
    # data file to synthesize "insert" rows from
    commit_version: int = 0
    is_cdf: bool = False
    # column-mapped tables: TOTAL physical→logical map ({} = identity)
    rename: dict = field(default_factory=dict)


def _feed_batches(partition: "LakehouseFilePartition", schema: StructType):
    """Change-feed read of one partition: table columns aligned to the
    stream's (feed-less) base schema, ``_change_type`` taken from the
    ``_cdf`` sidecar or synthesized as ``insert`` for an append's data
    file, ``_commit_version`` stamped from the commit."""
    import pyarrow as pa

    base = StructType(schema.fields[:-2])  # strip the two feed columns
    if partition.is_cdf:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        raw = pq.read_table(partition.abs_path)
        if partition.rename:
            # sidecar bytes carry physical names; alias to the pinned
            # logical view, dropping dead (unmapped) physicals
            keep = [
                c
                for c in raw.column_names
                if c in partition.rename or c == "_change_type"
            ]
            raw = raw.select(keep).rename_columns(
                [partition.rename.get(c, c) for c in keep]
            )
        target = to_arrow_schema(base)
        # sidecars written before a column-add lack the new field —
        # null-fill, exactly like the batch feed's align_to_schema
        cols = [
            raw.column(f.name).cast(f.type)
            if f.name in raw.column_names
            else pa.nulls(raw.num_rows, f.type)
            for f in target
        ]
        ct = raw.column("_change_type").cast(pa.string())
        src = pa.table(
            cols + [ct], schema=target.append(pa.field("_change_type", pa.string()))
        )
        batches = src.to_batches()
    else:
        batches = (
            b.append_column(
                "_change_type", pa.array(["insert"] * b.num_rows, pa.string())
            )
            for b in _file_to_batches(
                partition.abs_path,
                partition.partition_values,
                partition.deleted_rows,
                base,
                partition.rename,
            )
        )
    for b in batches:
        yield b.append_column(
            "_commit_version",
            pa.array([partition.commit_version] * b.num_rows, pa.int64()),
        )


def _total_rename(schema: StructType, mapping: dict) -> dict:
    """TOTAL physical→logical map over the live columns of ``schema``
    (the feed columns excluded); {} when the mapping is identity so
    plain tables skip the alias path entirely."""
    if not mapping:
        return {}
    live = [
        f.name
        for f in schema.fields
        if f.name not in ("_change_type", "_commit_version")
    ]
    return {mapping.get(n, n): n for n in live}


def _logical_pv(pv: dict, rename: dict) -> dict:
    """Partition values are keyed by PHYSICAL dir names; the reader
    injects them under logical column names (dead keys dropped)."""
    if not rename:
        return pv
    return {rename[k]: v for k, v in pv.items() if k in rename}


def _dv_positions_by_file(table_path: Path, dvs: list[dict]) -> dict[str, list[int]]:
    """Resolve active deletion vectors to {file basename: [row idx]}.
    Driver-side pyarrow read of the (tiny) DV sidecars."""
    import pyarrow.parquet as pq

    out: dict[str, list[int]] = {}
    for d in dvs or []:
        t = pq.read_table(str(table_path / d["path"]))
        for fn, ridx in zip(
            t.column("file_name").to_pylist(), t.column("row_index").to_pylist()
        ):
            out.setdefault(fn, []).append(ridx)
    return out


# ---- batch reader --------------------------------------------------------


class LakehouseBatchReader(DataSourceReader):
    def __init__(self, path: str, schema: StructType, version: int | None):
        self.path = path
        self.schema = schema
        self.version = version

    def partitions(self):
        log = TransactionLog(self.path)
        state = log._replay(self.version or log.latest_version())
        TransactionLog._check_features(state)
        dv_by_file = _dv_positions_by_file(log.table_path, state.get("dvs") or [])
        rename = _total_rename(self.schema, state.get("column_mapping") or {})
        parts = [
            LakehouseFilePartition(
                abs_path=str(log.table_path / rel),
                partition_values=_logical_pv(
                    add.get("partition_values") or {}, rename
                ),
                deleted_rows=dv_by_file.get(rel.rsplit("/", 1)[-1], []),
                rename=rename,
            )
            for rel, add in sorted(state["files"].items())
        ]
        # a committed-but-empty table (everything deleted/overwritten
        # away) still needs ONE partition — Spark invokes read() with
        # None when the batch list is empty
        return parts or [LakehouseFilePartition(abs_path="")]

    def read(self, partition: LakehouseFilePartition):
        if partition is None or not partition.abs_path:
            return  # empty-table marker partition
        yield from _file_to_batches(
            partition.abs_path,
            partition.partition_values,
            partition.deleted_rows,
            self.schema,
            partition.rename,
        )


# ---- streaming reader ----------------------------------------------------


class LakehouseStreamReader(DataSourceStreamReader):
    """Commit-version offsets: offset N means "delivered through
    commit N".  ``partitions(start, end)`` replays the log records in
    ``(start, end]`` — deterministic, so a restarted query re-plans
    the identical batch from its checkpointed offsets (exactly-once).

    Per commit: pure appends deliver their added files as inserts;
    ``dataChange: false`` commits (OPTIMIZE/compaction) deliver
    nothing — the table was rewritten, not changed; any other data
    change (overwrite, merge, delete, restore) raises unless
    ``skipChangeCommits`` is set, mirroring the published Delta
    streaming-source contract."""

    def __init__(
        self,
        path: str,
        schema: StructType,
        starting_version: int,
        skip_change_commits: bool,
        read_change_feed: bool = False,
        rename: dict | None = None,
        max_files_per_trigger: int | None = None,
        max_bytes_per_trigger: int | None = None,
    ):
        self.path = path
        self.schema = schema
        self.starting_version = starting_version
        self.skip_change_commits = skip_change_commits
        self.read_change_feed = read_change_feed
        # physical→logical map pinned WITH the schema: physical names
        # are frozen, so one map reads files/sidecars from every commit
        # in the stream regardless of when their logical names changed
        self.rename = rename or {}
        self.max_files_per_trigger = max_files_per_trigger
        self.max_bytes_per_trigger = max_bytes_per_trigger
        # rate-limit cursor: the last offset this reader handed out.
        # Restart-safe: a fresh reader starts at starting_version and
        # partitions() re-syncs it forward to the checkpointed end, so
        # a stale cursor can only cost an empty catch-up batch, never
        # re-deliver or skip (delivery is governed by (start, end]).
        self._cursor = starting_version

    def initialOffset(self) -> dict:
        return {"version": self.starting_version}

    def latestOffset(self) -> dict:
        log = TransactionLog(self.path)
        latest = log.latest_version()
        unlimited = (
            self.max_files_per_trigger is None
            and self.max_bytes_per_trigger is None
        )
        if unlimited or latest <= self._cursor:
            self._cursor = max(self._cursor, latest)
            return {"version": latest}
        # admission control (the published maxFilesPerTrigger /
        # maxBytesPerTrigger design, discretized to COMMIT granularity
        # — a commit is the atomic delivery unit here, so a single
        # commit larger than the cap is still admitted whole, always
        # >= 1 commit per trigger): advance the offset only while the
        # accumulated file/sidecar count AND byte size stay within
        # budget, so a backfill from version 0 of a 10^5-commit table
        # becomes bounded micro-batches instead of one batch reading
        # the entire table.
        end = self._cursor
        f_budget = self.max_files_per_trigger or float("inf")
        b_budget = self.max_bytes_per_trigger or float("inf")
        while end < latest:
            rec = log._read_commit(end + 1)
            if not rec.get("dataChange", True):
                n, size = 0, 0
            elif self.read_change_feed and rec.get("cdf") is not None:
                n = len(rec["cdf"])
                size = sum(c.get("size") or 0 for c in rec["cdf"])
            else:
                adds = rec.get("add") or []
                n = len(adds)
                size = sum(a.get("size") or 0 for a in adds)
            if end > self._cursor and (n > f_budget or size > b_budget):
                break
            end += 1
            f_budget -= n
            b_budget -= size
            if f_budget <= 0 or b_budget <= 0:
                break
        self._cursor = end
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        self._cursor = max(self._cursor, end["version"])
        log = TransactionLog(self.path)
        parts: list[LakehouseFilePartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            rec = log._read_commit(v)
            if not rec.get("dataChange", True):
                continue  # compaction: rewrite, not a change
            if self.read_change_feed:
                # CDF mode: merge/delete are representable (their _cdf
                # sidecars ARE the row-level delta); only full
                # refreshes/rewinds are not
                if rec.get("op") in ("overwrite", "restore"):
                    if self.skip_change_commits:
                        continue
                    raise ValueError(
                        f"change-feed stream of {self.path} hit a "
                        f"{rec['op']!r} at version {v} (full refresh, "
                        "not a delta) — restart from a fresh snapshot "
                        "or set skipChangeCommits=true"
                    )
                if rec.get("cdf") is not None:
                    for c in rec["cdf"]:
                        parts.append(
                            LakehouseFilePartition(
                                abs_path=str(log.table_path / c["path"]),
                                commit_version=v,
                                is_cdf=True,
                                rename=self.rename,
                            )
                        )
                    continue
            elif rec.get("op") != "append" or rec.get("remove") or rec.get("dv"):
                if self.skip_change_commits:
                    continue
                raise ValueError(
                    f"streaming read of {self.path} hit a "
                    f"{rec.get('op')!r} data change at version {v}; an "
                    "incremental feed cannot represent it — restart from "
                    "a fresh snapshot or set skipChangeCommits=true"
                )
            for a in rec.get("add", []):
                parts.append(
                    LakehouseFilePartition(
                        abs_path=str(log.table_path / a["path"]),
                        partition_values=_logical_pv(
                            a.get("partition_values") or {}, self.rename
                        ),
                        commit_version=v,
                        rename=self.rename,
                    )
                )
        return parts

    def read(self, partition: LakehouseFilePartition):
        if self.read_change_feed:
            yield from _feed_batches(partition, self.schema)
        else:
            yield from _file_to_batches(
                partition.abs_path,
                partition.partition_values,
                partition.deleted_rows,
                self.schema,
                partition.rename,
            )

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; the log needs nothing


# ---- streaming writer ----------------------------------------------------


@dataclass
class LakehouseCommitMessage(WriterCommitMessage):
    adds: list = field(default_factory=list)


class LakehouseStreamWriter(DataSourceStreamArrowWriter):
    """Each micro-batch = ONE atomic append commit.

    Executors receive Arrow record batches directly (the
    ``DataSourceStreamArrowWriter`` fast path — no per-row Python
    objects), write uuid-named parquet files under the table dir
    (invisible until a commit references them — the log's staging
    rule), and report their add-entries, complete with footer row
    counts and data-skipping stats, in the commit message.  The
    driver-side ``commit(messages, batchId)`` folds them into a
    single log commit; with ``txnAppId`` the (appId, batchId) pair is
    recorded and checked so a crash-replayed batch is a no-op (the
    Delta idempotent-writes design).  ``abort`` unlinks the staged
    files — an aborted batch leaves zero trace."""

    def __init__(
        self,
        path: str,
        schema: StructType,
        partition_keys: list[str],
        txn_app_id: str | None,
        merge_schema: bool = False,
    ):
        self.path = path
        self.write_schema = schema
        self.commit_schema = schema  # may widen under mergeSchema
        self.partition_keys = partition_keys
        self.txn_app_id = txn_app_id
        log = TransactionLog(path)
        state = log._replay(log.latest_version())
        if state["constraints"]:
            raise ValueError(
                f"streaming write to {path}: table has CHECK constraints "
                f"{sorted(state['constraints'])}; the streaming sink cannot "
                "enforce them batch-atomically — drop them or use "
                "foreachBatch with TransactionLog.append"
            )
        if state.get("column_mapping"):
            raise ValueError(
                f"streaming write to {path}: table has renamed columns "
                "(non-identity column mapping); the sink stages bytes "
                "under the stream's own names — use foreachBatch with "
                "TransactionLog.append, which maps logical to physical"
            )
        if state.get("generated"):
            raise ValueError(
                f"streaming write to {path}: table declares generated "
                f"columns {sorted(state['generated'])}; the sink cannot "
                "compute or validate them batch-atomically — use "
                "foreachBatch with TransactionLog.append"
            )
        if state.get("identity"):
            raise ValueError(
                f"streaming write to {path}: table declares identity "
                f"columns {sorted(state['identity'])}; the sink cannot "
                "allocate watermark-owned values — use foreachBatch "
                "with TransactionLog.append"
            )
        if state["schema"] is not None:
            existing = StructType.fromJson(state["schema"])
            if merge_schema:
                # column-add / widen-only evolution: staged files keep
                # the STREAM's schema, the commit declares the widened
                # union — old files read null-filled/cast-up under it
                # (the same versioned-schema-authority rule appends use)
                from ..operators.schema_evolution import merge_schemas

                self.commit_schema = merge_schemas([existing, schema])
            elif [f.name.lower() for f in schema.fields] != [
                f.name.lower() for f in existing.fields
            ]:
                raise ValueError(
                    "stream schema drift: "
                    f"{schema.simpleString()} vs {existing.simpleString()} "
                    "(set mergeSchema=true for widen-only evolution)"
                )
            if state["partition_keys"] and partition_keys not in (
                [],
                state["partition_keys"],
            ):
                raise ValueError(
                    f"partitionKeys {partition_keys} != table's "
                    f"{state['partition_keys']}"
                )
            self.partition_keys = state["partition_keys"] or partition_keys

    # -- executor side --

    def write(self, iterator) -> LakehouseCommitMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches or sum(b.num_rows for b in batches) == 0:
            return LakehouseCommitMessage(adds=[])
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.write_schema)
        # Spark hands Arrow batches in its own arrow typing; align to
        # the schema the commit will declare (names + widen-only casts)
        table = pa.Table.from_batches(batches).select(target.names).cast(target)
        tp = Path(self.path)
        adds: list[dict] = []

        def _emit(sub: "pa.Table", part_vals: dict):
            rel_dir = Path(".")
            for k in self.partition_keys:
                v = part_vals[k]
                rel_dir = rel_dir / (
                    f"{k}={_hive_escape(str(v))}"
                    if v is not None
                    else f"{k}=__HIVE_DEFAULT_PARTITION__"
                )
            rel = rel_dir / f"{uuid.uuid4().hex[:12]}-stream.parquet"
            dest = tp / rel
            dest.parent.mkdir(parents=True, exist_ok=True)
            drop = [c for c in self.partition_keys if c in sub.column_names]
            pq.write_table(sub.drop_columns(drop) if drop else sub, str(dest))
            pf = pq.ParquetFile(str(dest))
            adds.append(
                {
                    "path": rel.as_posix(),
                    "size": dest.stat().st_size,
                    "rows": pf.metadata.num_rows,
                    "partition_values": {
                        k: None if part_vals[k] is None else str(part_vals[k])
                        for k in self.partition_keys
                    },
                    "stats": _collect_file_stats(pf),
                }
            )

        if not self.partition_keys:
            _emit(table, {})
        else:
            import pyarrow.compute as pc

            keys = table.select(self.partition_keys)
            combos = keys.group_by(self.partition_keys).aggregate([])
            for combo in combos.to_pylist():
                mask = None
                for k, v in combo.items():
                    m = (
                        pc.is_null(table.column(k))
                        if v is None
                        else pc.equal(table.column(k), pa.scalar(v))
                    )
                    mask = m if mask is None else pc.and_(mask, m)
                _emit(table.filter(mask), combo)
        return LakehouseCommitMessage(adds=adds)

    # -- driver side --

    def commit(self, messages, batchId: int) -> None:
        # the commit half of TransactionLog.append(txn_app=...).  The
        # stream's schema was derived at query start, so EVERY batch
        # reconciles (read version None): a concurrent widening is not
        # reverted by a later micro-batch, and a rename/drop landing
        # mid-stream rebinding any stream column raises (staged stream
        # bytes carry LOGICAL names physically).
        TransactionLog(self.path)._commit_append(
            "append",
            None,
            [a for m in messages if m is not None for a in m.adds],
            {"schema_json": self.commit_schema.jsonValue(), "keys": self.partition_keys},
            txn=None if self.txn_app_id is None else (self.txn_app_id, batchId),
        )

    def abort(self, messages, batchId: int) -> None:
        tp = Path(self.path)
        for m in messages:
            if m is not None:
                for a in m.adds:
                    (tp / a["path"]).unlink(missing_ok=True)


# ---- the DataSource ------------------------------------------------------


class LakehouseDataSource(DataSource):
    """``format("lakehouse")`` — see module docstring.

    Options: ``path`` (table dir; or pass to ``load()``), ``version``
    (batch time travel), ``timestampAsOf`` (batch time travel by ISO
    timestamp — resolved to the last commit at or before it; mutually
    exclusive with ``version``), ``startingVersion`` (stream: first delivered
    commit is startingVersion+1; default 0 = the whole table as the
    initial batch), ``skipChangeCommits`` (stream read: skip
    unrepresentable data changes instead of raising),
    ``readChangeFeed`` (stream read: deliver the row-level change feed
    — table schema + ``_change_type`` + ``_commit_version``; merge and
    delete commits stream their ``_cdf`` sidecars, appends synthesize
    inserts, only overwrite/restore raise), ``maxFilesPerTrigger``
    (stream read: admission control — each micro-batch advances only
    through as many commits as fit the file budget, commit-granular,
    always >= 1 commit per trigger), ``maxBytesPerTrigger`` (same,
    budgeted on committed file sizes; composable — the tighter budget
    wins), ``partitionKeys`` (stream write,
    comma-separated), ``txnAppId`` (stream write: idempotent-commit
    identity)."""

    @classmethod
    def name(cls) -> str:
        return "lakehouse"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("lakehouse source requires a path")
        return p

    def _cdf(self) -> bool:
        return str(self.options.get("readchangefeed", "")).lower() == "true"

    def _pinned_version(self) -> int:
        """Resolve 'latest' ONCE per DataSource instance: schema() and
        the batch reader's partitions() must describe the SAME version,
        or a commit landing between the two calls would hand new files
        to an old schema."""
        v = getattr(self, "_resolved_version", None)
        if v is None:
            ts = self.options.get("timestampasof")
            if ts and self.options.get("version"):
                raise ValueError(
                    "version and timestampAsOf are mutually exclusive"
                )
            if ts:
                v = TransactionLog(self._path()).version_at_timestamp(ts)
            else:
                v = int(
                    self.options.get("version")
                    or TransactionLog(self._path()).latest_version()
                )
            self._resolved_version = v
        return v

    def schema(self) -> StructType:
        log = TransactionLog(self._path())
        state = log._replay(self._pinned_version())
        if state["schema"] is None:
            raise ValueError(f"{self._path()} has no commits yet")
        s = StructType.fromJson(state["schema"])
        if self._cdf():
            s = s.add("_change_type", "string", False).add(
                "_commit_version", "long", False
            )
        return s

    def reader(self, schema: StructType) -> LakehouseBatchReader:
        if self._cdf():
            raise ValueError(
                "readChangeFeed is a streaming option; for a batch feed "
                "use TransactionLog.read_change_feed (JVM scan)"
            )
        return LakehouseBatchReader(self._path(), schema, self._pinned_version())

    def streamReader(self, schema: StructType) -> LakehouseStreamReader:
        log = TransactionLog(self._path())
        state = log._replay(self._pinned_version())
        TransactionLog._check_features(state)
        return LakehouseStreamReader(
            self._path(),
            schema,
            int(self.options.get("startingversion") or 0),
            str(self.options.get("skipchangecommits", "")).lower() == "true",
            read_change_feed=self._cdf(),
            rename=_total_rename(schema, state.get("column_mapping") or {}),
            max_files_per_trigger=(
                int(self.options["maxfilespertrigger"])
                if self.options.get("maxfilespertrigger")
                else None
            ),
            max_bytes_per_trigger=(
                int(self.options["maxbytespertrigger"])
                if self.options.get("maxbytespertrigger")
                else None
            ),
        )

    def streamWriter(self, schema: StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "lakehouse streaming sink is append-only (complete-mode "
                "overwrite per batch is not a log-commit shape)"
            )
        keys = [
            k.strip()
            for k in (self.options.get("partitionkeys") or "").split(",")
            if k.strip()
        ]
        return LakehouseStreamWriter(
            self._path(),
            schema,
            keys,
            self.options.get("txnappid"),
            merge_schema=str(self.options.get("mergeschema", "")).lower()
            == "true",
        )


def register_lakehouse_source(spark) -> None:
    """Idempotent ``spark.dataSource.register`` of the connector."""
    spark.dataSource.register(LakehouseDataSource)
