"""Partitioned Parquet + catalog sink (SURVEY.md §2.5 K1/K2).

Reference behavior (``sybaseiq_extractor.py:118-257``): write
glueparquet to ``{root}/{SourceName}/{SourceSchema}/{SourceTable}/``,
Hive partition keys ``["year","month","day"]`` (temporal) or
``[column]`` (categorical) or none, append-only, and register/update
the catalog table ``{TargetDatabase}.{SourceName}_{SourceTable}``.

Spark-native mapping: ``df.write.partitionBy(keys).parquet(path)`` plus
Spark-catalog registration of an external table over that path.  The
append-only contract is preserved by default (``mode="append"``); the
safer dynamic-partition-overwrite the reference left commented out
(``sybaseiq_extractor.py:132-147``) is available via
``mode="overwrite"`` with ``partitionOverwriteMode=dynamic`` (set in
the session factory).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.errors import AnalysisException


@dataclass
class SinkResult:
    path: str
    table: str | None
    partition_keys: list[str]
    mode: str


def _safe_table_name(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9_]", "_", name)


_SCHEMA_SIDECAR = "_schema.json"


def _existing_data_schema(spark: SparkSession, path: str, keys: list[str]):
    """Schema of the data columns already at ``path``, or None when
    nothing is there yet.

    Source of truth is the ``_schema.json`` sidecar this sink writes on
    evolving appends (the Delta-transaction-log pattern, O(1) at any
    dataset size).  Fallback for datasets that predate evolution is a
    plain footer read — safe there because without evolution every
    file shares one schema (Spark's own ``mergeSchema`` cannot merge
    int/long-widened files, which is exactly why the sidecar exists).
    Partition-key columns are excluded: their read-back types are
    directory-inferred (``year=2020`` comes back int) and must not
    participate in type reconciliation."""
    from pyspark.sql.types import StructType

    import json

    side = Path(path) / _SCHEMA_SIDECAR
    lk = {k.lower() for k in keys}
    if side.exists():
        sch = StructType.fromJson(json.loads(side.read_text()))
        return StructType([f for f in sch.fields if f.name.lower() not in lk])
    if not Path(path).exists():
        return None
    try:
        sch = spark.read.parquet(path).schema
    except AnalysisException as e:
        # ONLY a missing/empty path means "first write".  A transient
        # IO error or corrupt footer treated as first-write would skip
        # alignment AND overwrite the sidecar with the new frame's
        # schema, permanently misdescribing the older files.
        if "PATH_NOT_FOUND" in str(e) or "UNABLE_TO_INFER_SCHEMA" in str(e):
            return None
        raise
    return StructType([f for f in sch.fields if f.name.lower() not in lk])


def _widened_schema(df: DataFrame, path: str, keys: list[str]):
    """The widened merge of the data schema already at ``path`` and
    ``df``'s data columns, followed by ``df``'s partition-key fields;
    None when nothing is there yet."""
    from pyspark.sql.types import StructType

    from ..operators.schema_evolution import merge_schemas

    existing = _existing_data_schema(df.sparkSession, path, keys)
    if existing is None:
        return None
    lk = {k.lower() for k in keys}
    data = [f for f in df.schema.fields if f.name.lower() not in lk]
    merged = merge_schemas([existing, StructType(data)])
    return StructType(merged.fields + [f for f in df.schema.fields if f.name.lower() in lk])


def _write_schema_sidecar(path: str, schema) -> None:
    import json

    (Path(path) / _SCHEMA_SIDECAR).write_text(json.dumps(schema.jsonValue()))


def write_partitioned_parquet(
    df: DataFrame,
    root: str,
    path_suffix: str,
    partition_keys: list[str] | None = None,
    target_database: str | None = None,
    table_name: str | None = None,
    mode: str = "append",
    evolve_schema: bool = False,
    max_records_per_file: int | None = None,
) -> SinkResult:
    """K1/K2 — partitioned parquet write + catalog registration.

    Scale note: the partition values the write produced are collected
    as a side effect of the write itself (``observe`` +
    ``collect_set``) — no second scan, no full-listing ``MSCK`` — so
    catalog registration after an append touches only the just-written
    partitions.

    ``evolve_schema=True`` makes appends drift-tolerant: the incoming
    frame is aligned to the widened merge of the existing dataset's
    schema and its own (typed-null backfill for columns it lacks,
    widen-only casts for columns that grew — see
    ``operators.schema_evolution``), and the catalog table is
    re-registered with the merged schema, under which parquet reads
    surface old files' missing columns as nulls.  Narrowing or
    incompatible drift still raises — no silent truncation.
    """
    path = str(Path(root) / path_suffix)
    keys = partition_keys or []

    evolving = evolve_schema and mode == "append"
    if evolving:
        from ..operators.schema_evolution import align_to_schema

        target = _widened_schema(df, path, keys)
        if target is not None:
            df = align_to_schema(df, target)

    to_write = df
    obs = None
    if table_name and keys:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        to_write = df.observe(
            obs, F.collect_set(F.struct(*[F.col(k).cast("string").alias(k) for k in keys])).alias("parts")
        )

    writer = to_write.write.mode(mode).format("parquet")
    if max_records_per_file is not None:
        # per-write file-size bound (adaptive sizing) — a writer
        # option, NOT a session conf, so it cannot leak into later
        # tiered-mode writes in the same session
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if keys:
        writer = writer.partitionBy(*keys)
    # capture BEFORE the write: a static overwrite deletes the whole
    # directory, sidecar included, before laying down the new files
    had_sidecar = (Path(path) / _SCHEMA_SIDECAR).exists()
    writer.save(path)
    if evolving:
        _write_schema_sidecar(path, df.schema)
    elif mode == "overwrite" and had_sidecar:
        # A sidecar written by prior evolving appends would otherwise
        # survive the overwrite (dynamic partitionOverwriteMode leaves
        # root-level files intact) and later evolving appends would
        # reconcile against a schema that no longer describes the data.
        dynamic = (
            str(
                df.sparkSession.conf.get(
                    "spark.sql.sources.partitionOverwriteMode", "static"
                )
            ).lower()
            == "dynamic"
        )
        if keys and dynamic:
            # Partitions NOT touched by this write survive with their
            # old schema, so the honest dataset schema is the widened
            # merge of the stale sidecar and the overwriting frame.
            _write_schema_sidecar(path, _widened_schema(df, path, keys))
        else:
            # Static overwrite replaces the whole dataset: the frame's
            # own schema IS the dataset schema now.
            _write_schema_sidecar(path, df.schema)

    qualified = None
    if table_name:
        spark = df.sparkSession
        new_parts = None
        if obs is not None:
            new_parts = [tuple(getattr(r, k) for k in keys) for r in obs.get["parts"]]
        qualified = register_external_table(
            spark,
            path,
            table_name,
            target_database,
            partition_keys=keys,
            schema=df.schema,
            new_partitions=new_parts,
            full_refresh=(mode == "overwrite"),
        )
    return SinkResult(path=path, table=qualified, partition_keys=keys, mode=mode)


def register_external_table(
    spark: SparkSession,
    path: str,
    table_name: str,
    database: str | None = None,
    partition_keys: list[str] | None = None,
    schema=None,
    new_partitions: list[tuple] | None = None,
    full_refresh: bool = False,
) -> str:
    """Catalog registration analog of ``enableUpdateCatalog``
    (``sybaseiq_extractor.py:158-163``).

    Scale behavior (100 TB): the steady-state append path is
    metadata-only and O(just-written partitions) —

    * first registration: ``CREATE TABLE`` from the *written
      DataFrame's* ``schema`` (no ``spark.read.parquet`` re-scan of the
      dataset), then one ``MSCK`` to discover any partitions written
      before the table existed (once per table lifetime);
    * subsequent appends: ``ALTER TABLE ... ADD IF NOT EXISTS
      PARTITION`` for exactly ``new_partitions`` — no full listing
      (an unpartitioned table only drops the session's cached
      relation);
    * column-set drift or ``full_refresh`` (overwrite mode):
      re-create + one ``MSCK``.

    ``schema=None`` keeps the legacy infer-from-path behavior for
    direct callers.
    """
    if database:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {_safe_table_name(database)}")
        qualified = f"{_safe_table_name(database)}.{_safe_table_name(table_name)}"
    else:
        qualified = _safe_table_name(table_name)

    if schema is None:
        schema = spark.read.parquet(path).schema
    keys = [k.lower() for k in (partition_keys or [])]
    data_cols = [f for f in schema.fields if f.name.lower() not in keys]
    part_cols = [f for f in schema.fields if f.name.lower() in keys]

    exists = spark.catalog.tableExists(qualified)
    if exists and not full_refresh:
        import json

        from pyspark.sql.types import StructType

        # compare (name, type) pairs: a type-widening evolve-append
        # (int -> long) leaves the column SET identical, but a catalog
        # table still typed int over INT64 files fails every read with
        # SchemaColumnConvertNotSupportedException until re-created.
        # This runs on every append, so it reads only the schema the
        # catalog stores: resolving the relation (spark.table) would list
        # an unpartitioned table's files and cache that listing
        state = spark._jsparkSession.sessionState()
        ident = state.sqlParser().parseTableIdentifier(qualified)
        meta = state.catalog().getTableMetadata(ident)
        stored = StructType.fromJson(json.loads(meta.schema().json()))

        def name_types(fields):
            return {(f.name.lower(), f.dataType.simpleString()) for f in fields}

        if name_types(stored.fields) != name_types(schema.fields):
            exists = False  # schema drift -> re-create below
        elif not part_cols:
            # the append registers nothing new, so a relation an earlier
            # read resolved keeps its stale file listing: drop it (no
            # re-listing here; the next read lists once)
            state.catalog().invalidateCachedTable(ident)

    if not exists or full_refresh:
        spark.sql(f"DROP TABLE IF EXISTS {qualified}")
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in data_cols + part_cols
        )
        stmt = f"CREATE TABLE {qualified} ({ddl}) USING PARQUET"
        if part_cols:
            stmt += " PARTITIONED BY (" + ", ".join(f"`{f.name}`" for f in part_cols) + ")"
        stmt += f" LOCATION '{path}'"
        spark.sql(stmt)
        if part_cols:
            # one-time full discovery (also covers pre-registration writes)
            spark.sql(f"MSCK REPAIR TABLE {qualified}")
        return qualified

    if part_cols and new_partitions:
        key_order = {k.lower(): i for i, k in enumerate(keys)}
        specs = []
        for values in new_partitions:
            pairs = []
            for f in part_cols:
                v = values[key_order[f.name.lower()]]
                # backslash escaping: Spark's Hive-style lexer
                # CONCATENATES adjacent string literals, so SQL-style
                # '' doubling turns 'O''Brien' into 'OBrien' silently
                v = (
                    "__HIVE_DEFAULT_PARTITION__"
                    if v is None
                    else str(v).replace("\\", "\\\\").replace("'", "\\'")
                )
                pairs.append(f"`{f.name}`='{v}'")
            specs.append("PARTITION (" + ", ".join(pairs) + ")")
        spark.sql(f"ALTER TABLE {qualified} ADD IF NOT EXISTS " + " ".join(specs))
    return qualified
