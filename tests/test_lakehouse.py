"""Transaction-log (ACID lakehouse) suite — the manifest-commit layer
over partitioned parquet (``lakehouse.py``, round 6).

Covers the four properties raw parquet + stage-and-swap cannot give
(r5 VERDICT gap #1): atomic commit visibility, snapshot isolation
through OPTIMIZE/overwrite, O(delta) incremental reads, and versioned
schema authority — plus the failure modes: crash-before-commit, commit
races, torn logs, vacuum retention.
"""

from __future__ import annotations

import json

import pytest

from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
    ConcurrentCommitError,
    TransactionLog,
)
from tests.conftest import count_spark_jobs


def _ids(df):
    return sorted(r.id for r in df.collect())


@pytest.fixture
def tbl(tmp_path):
    return TransactionLog(tmp_path / "t", checkpoint_interval=3)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["id", "v", "year"])


def test_append_snapshot_time_travel(spark, tbl):
    assert tbl.append(_df(spark, [(1, "a", "2024")]), ["year"]) == 1
    assert tbl.append(_df(spark, [(2, "b", "2025")])) == 2
    assert _ids(tbl.snapshot(spark, version=1)) == [1]
    assert _ids(tbl.snapshot(spark, version=2)) == [1, 2]
    assert _ids(tbl.snapshot(spark)) == [1, 2]
    # partition column round-trips through hive dirs + basePath
    assert {r.year for r in tbl.snapshot(spark).collect()} == {"2024", "2025"}


def test_timestamp_time_travel(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    ts_between = json.loads(
        (tbl.log_path / f"{str(1).zfill(20)}.json").read_text()
    )["ts"]
    tbl.append(_df(spark, [(2, "b", "2024")]))
    assert _ids(tbl.snapshot(spark, timestamp=ts_between)) == [1]
    with pytest.raises(ValueError, match="no commit at or before"):
        tbl.version_at_timestamp("1999-01-01T00:00:00+00:00")


def test_crash_before_commit_is_invisible(spark, tbl):
    """Atomic visibility: files staged (even moved into the table dir)
    without a commit record do not exist for readers; vacuum sweeps
    them."""
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    # simulate a writer that died after moving its files in
    orphan_adds = tbl._stage_files(_df(spark, [(9, "z", "2024")]), ["year"])
    assert orphan_adds  # files physically present in the table dir
    assert _ids(tbl.snapshot(spark)) == [1]
    deleted = tbl.vacuum(min_age_s=0)
    assert any(a["path"] in deleted for a in orphan_adds)
    assert _ids(tbl.snapshot(spark)) == [1]


@pytest.mark.slow
def test_snapshot_isolation_through_compact_and_overwrite(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2024")]), ["year"])
    tbl.append(_df(spark, [(3, "c", "2025")]))
    pinned = tbl.snapshot(spark, version=2)
    assert tbl.compact(spark) == 3
    tbl.overwrite(_df(spark, [(7, "x", "2026")]), ["year"])
    # the pinned frame's file list is stable: old files are
    # unreferenced by the new commits, never deleted by them
    assert _ids(pinned) == [1, 2, 3]
    assert _ids(tbl.snapshot(spark)) == [7]
    assert _ids(tbl.snapshot(spark, version=2)) == [1, 2, 3]


def test_compact_reduces_files_preserves_rows(spark, tbl):
    df = spark.range(0, 200).selectExpr(
        "CAST(id AS INT) AS id", "CAST(id AS STRING) AS v",
        "CAST(2020 + id % 2 AS STRING) AS year",
    ).repartition(8)
    tbl.append(df, ["year"])
    files_before = len(tbl._replay(1)["files"])
    v = tbl.compact(spark, target_files_per_partition=1)
    files_after = len(tbl._replay(v)["files"])
    assert files_after == 2 < files_before
    assert tbl.snapshot(spark).count() == 200
    assert not tbl.history()[-1].data_change


@pytest.mark.slow
def test_incremental_read_skips_rewrites(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.append(_df(spark, [(2, "b", "2024")]))
    tbl.compact(spark)
    tbl.append(_df(spark, [(3, "c", "2025")]))
    assert _ids(tbl.read_changes(spark, 0)) == [1, 2, 3]
    assert _ids(tbl.read_changes(spark, 1)) == [2, 3]  # compact invisible
    assert tbl.read_changes(spark, 2, 3).count() == 0
    # overwrite resets the delta: earlier adds are dead rows
    tbl.overwrite(_df(spark, [(9, "z", "2026")]), ["year"])
    assert _ids(tbl.read_changes(spark, 1)) == [9]


def test_schema_evolution_widen_through_commits(spark, tbl):
    tbl.append(
        spark.createDataFrame([(1, 10, "2024")], "id INT, v INT, year STRING"),
        ["year"],
    )
    tbl.append(
        spark.createDataFrame(
            [(2, 2**40, "2025")], "id INT, v LONG, year STRING"
        ),
        evolve_schema=True,
    )
    got = tbl.snapshot(spark)
    assert dict(got.dtypes)["v"] == "bigint"
    assert {r.v for r in got.collect()} == {10, 2**40}
    # old snapshot reads under ITS committed schema (still int)
    assert dict(tbl.snapshot(spark, version=1).dtypes)["v"] == "int"


def test_append_schema_drift_without_evolve_raises(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    with pytest.raises(ValueError, match="evolve_schema"):
        tbl.append(
            spark.createDataFrame([(2, "2024")], ["id", "year"]),
        )
    with pytest.raises(ValueError, match="partition keys"):
        tbl.append(_df(spark, [(3, "c", "2024")]), ["v"])


def test_commit_conflict_detection_and_append_retry(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    # a racing writer lands version 2 first
    racing = {
        "version": 2, "op": "append", "dataChange": True,
        "ts": "2026-01-01T00:00:00+00:00", "txn": "race",
        "schema": tbl._replay(1)["schema"], "partition_keys": ["year"],
        "add": [], "remove": [],
    }
    tbl._try_commit(2, racing)
    with pytest.raises(ConcurrentCommitError):
        tbl._try_commit(2, racing)
    # blind appends retry onto the next version transparently
    assert tbl.append(_df(spark, [(2, "b", "2024")])) == 3
    assert _ids(tbl.snapshot(spark)) == [1, 2]


def _created(spark, tbl):
    tbl.create(_df(spark, [(1, "a", "2024")]).schema)


def _two_appends(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.append(_df(spark, [(2, "b", "2024")]))


_STRICT_OPS = {
    "add_check_constraint": (
        _two_appends, lambda spark, t: t.add_check_constraint(spark, "pos", "id > 0")
    ),
    "restore": (_two_appends, lambda spark, t: t.restore(1)),
    "add_bloom_index": (_two_appends, lambda spark, t: t.add_bloom_index("id")),
    "add_generated_column": (
        _created, lambda spark, t: t.add_generated_column("g", "id * 2")
    ),
    "set_partition_spec": (_two_appends, lambda spark, t: t.set_partition_spec([])),
    "rename_column": (_two_appends, lambda spark, t: t.rename_column("v", "w")),
    "drop_column": (_two_appends, lambda spark, t: t.drop_column("v")),
    "overwrite": (
        _two_appends,
        lambda spark, t: t.overwrite(_df(spark, [(5, "e", "2024")]), ["year"]),
    ),
}


@pytest.mark.parametrize("op", sorted(_STRICT_OPS))
def test_strict_ops_refuse_an_interleaved_append(spark, tbl, monkeypatch, op):
    """The strict commit policy: these ops validate or derive their
    record from the state they read, so a commit landing between that
    read and their own commit must surface, never be rebased over.  A
    foreign append lands from inside the op's first replay; the op
    raises and the log holds only the foreign commit."""
    setup, run = _STRICT_OPS[op]
    setup(spark, tbl)
    v0 = tbl.latest_version()
    orig = TransactionLog._replay
    raced = {"done": False}

    def replay_then_race(self, *a, **k):
        state = orig(self, *a, **k)
        if self is tbl and not raced["done"]:
            raced["done"] = True
            TransactionLog(tbl.table_path).append(_df(spark, [(9, "z", "2024")]))
        return state

    monkeypatch.setattr(TransactionLog, "_replay", replay_then_race)
    with pytest.raises(ConcurrentCommitError):
        run(spark, tbl)
    assert raced["done"]
    assert tbl.latest_version() == v0 + 1
    assert tbl._read_commit(v0 + 1)["op"] == "append"


def test_torn_log_raises(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.append(_df(spark, [(2, "b", "2024")]))
    (tbl.log_path / f"{str(1).zfill(20)}.json").unlink()
    with pytest.raises(FileNotFoundError, match="torn"):
        tbl.snapshot(spark)


@pytest.mark.slow
def test_checkpoint_replay_equals_full_replay(spark, tbl):
    for i in range(7):  # interval=3 -> checkpoints at 3 and 6
        tbl.append(_df(spark, [(i, "x", str(2020 + i % 2))]), ["year"])
    assert (tbl.log_path / "_last_checkpoint").exists()
    full = tbl._replay(7, use_checkpoint=False)
    fast = tbl._replay(7, use_checkpoint=True)
    assert full == fast
    assert _ids(tbl.snapshot(spark)) == list(range(7))
    # a pinned PRE-checkpoint version replays correctly too
    assert _ids(tbl.snapshot(spark, version=2)) == [0, 1]


@pytest.mark.slow
def test_chained_checkpoints_equal_full_replay_mixed_ops(spark, tbl):
    """Checkpoint writes are INCREMENTAL (previous checkpoint + tail,
    never a from-scratch log walk — the walk is O(commits²) over a
    table's life).  Chaining is only sound if every state-machine
    field survives the checkpoint round-trip, so drive a mixed op
    sequence (appends, DV delete, constraint, merge, compact) across
    several checkpoint boundaries at interval=3 and pin
    checkpointed == full-walk state at the end."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    tbl.add_check_constraint(spark, "id_pos", "id > 0")  # v2
    tbl.append(_df(spark, [(3, "c", "2024")]))  # v3 -> ckpt
    tbl.delete_where(spark, "id = 2", mode="dv")  # v4 (DV state)
    tbl.merge_upsert(_df(spark, [(3, "C", "2024")]), ["id"])  # v5
    tbl.append(_df(spark, [(4, "d", "2025")]))  # v6 -> chained ckpt
    tbl.compact(spark)  # v7
    v = tbl.append(_df(spark, [(5, "e", "2024")]))  # v8
    assert v == 8
    full = tbl._replay(8, use_checkpoint=False)
    fast = tbl._replay(8, use_checkpoint=True)
    # the fast path must start from the chained checkpoint, not v1
    assert tbl._load_checkpoint_at_or_before(8)["version"] == 6
    for key in full:
        assert fast[key] == full[key], f"state field {key} diverged"
    assert sorted(_ids(tbl.snapshot(spark))) == [1, 3, 4, 5]
    assert {r.v for r in tbl.snapshot(spark).collect()} >= {"C", "e"}


def test_vacuum_retention(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.append(_df(spark, [(2, "b", "2024")]))
    tbl.overwrite(_df(spark, [(9, "z", "2026")]), ["year"])
    deleted = tbl.vacuum(retain_versions=2, min_age_s=0)
    # v3 (latest) and v2 retained: v2's files include v1's, so nothing
    # from v1/v2 is deletable; only nothing or staging dirs go
    assert _ids(tbl.snapshot(spark, version=2)) == [1, 2]
    assert _ids(tbl.snapshot(spark)) == [9]
    deleted = tbl.vacuum(retain_versions=1, min_age_s=0)
    assert deleted  # now v1/v2's files are unreferenced
    assert _ids(tbl.snapshot(spark)) == [9]
    with pytest.raises(Exception):
        tbl.snapshot(spark, version=2).collect()


def test_null_partition_values_round_trip(spark, tbl):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", "2024")], ["id", "v", "year"]
    )
    tbl.append(df, ["year"])
    got = {(r.id, r.year) for r in tbl.snapshot(spark).collect()}
    assert got == {(1, None), (2, "2024")}
    state = tbl._replay(1)
    vals = {a["partition_values"]["year"] for a in state["files"].values()}
    assert None in vals and "2024" in vals


def test_empty_table_snapshot_raises(spark, tbl):
    with pytest.raises(ValueError, match="no commits"):
        tbl.snapshot(spark)
    with pytest.raises(ValueError, match="nothing to compact"):
        tbl.compact(spark)


def test_engine_acid_mode_end_to_end(spark, tmp_path):
    """EngineConfig.acid routes the K1 write through the transaction
    log: each run_job is one atomic commit, re-runs of the same plan
    append new versions, and reads go through lakehouse.snapshot —
    including time travel back to the first extraction."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.engine import (
        Engine,
        EngineConfig,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.model import (
        ExtractionPlan,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        SourceRegistry,
    )
    from tests.conftest import SF_SMALL

    eng = Engine(
        spark,
        SourceRegistry(spark, parquet_root=SF_SMALL),
        EngineConfig(
            target_root=str(tmp_path / "lake"),
            register_catalog=False,
            acid=True,
        ),
        None,
        None,
    )
    plan = ExtractionPlan.from_dict(
        {
            "SourceName": "sybaseiq",
            "SourceDatabase": "iqdemo",
            "SourceSchema": "dba",
            "SourceTable": "region",
            "Query": "SELECT * FROM region",
            "MigrationPart": 1,
            "ExpectedAmountOfRecords": " ",
        }
    )
    r1 = eng.run_job(plan.jobs[0])
    assert r1.status == "SUCCEEDED" and r1.row_count == 5
    assert r1.sink.mode == "acid-append@v1"
    assert r1.sink.table is None  # metastore skipped in acid mode

    t = TransactionLog(r1.sink.path)
    assert t.latest_version() == 1
    assert t.snapshot(spark).count() == 5

    # second run = second atomic commit; v1 pinned
    plan2 = ExtractionPlan.from_dict(
        {
            "SourceName": "sybaseiq",
            "SourceDatabase": "iqdemo",
            "SourceSchema": "dba",
            "SourceTable": "region",
            "Query": "SELECT * FROM region WHERE r_regionkey < 2",
            "MigrationPart": 2,
            "ExpectedAmountOfRecords": " ",
        }
    )
    r2 = eng.run_job(plan2.jobs[0])
    assert r2.status == "SUCCEEDED" and r2.row_count == 2
    assert t.latest_version() == 2
    assert t.snapshot(spark).count() == 7
    assert t.snapshot(spark, version=1).count() == 5
    assert t.read_changes(spark, 1).count() == 2


@pytest.mark.slow
def test_merge_upsert_semantics_and_file_pruning(spark, tbl):
    """Copy-on-write MERGE: matched keys update, unmatched insert, and
    ONLY files containing matched keys are rewritten — the 2024 file
    has no matched key and must survive the commit untouched."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    files_v1 = tbl._replay(1)["files"]
    f2024 = [r for r in files_v1 if "year=2024" in r]
    f2025 = [r for r in files_v1 if "year=2025" in r]
    assert f2024 and f2025

    src = _df(spark, [(2, "B2", "2025"), (3, "c", "2026")])
    v = tbl.merge_upsert(src, ["id"])
    assert v == 2
    got = {(r.id, r.v, r.year) for r in tbl.snapshot(spark).collect()}
    assert got == {(1, "a", "2024"), (2, "B2", "2025"), (3, "c", "2026")}

    rec = tbl._read_commit(2)
    assert rec["op"] == "merge" and rec["dataChange"]
    assert rec["remove"] == f2025  # pruned: only the matched file
    assert set(f2024) <= set(tbl._replay(2)["files"])  # untouched survives
    # snapshot isolation: pre-merge version still reads the old value
    assert {(r.id, r.v) for r in tbl.snapshot(spark, version=1).collect()} == {
        (1, "a"), (2, "b"),
    }


def test_merge_into_empty_table_is_insert(spark, tbl):
    v = tbl.merge_upsert(_df(spark, [(1, "a", "2024")]), ["id"])
    assert v == 1
    assert _ids(tbl.snapshot(spark)) == [1]


@pytest.mark.slow
def test_merge_schema_drift_gates(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="evolve_schema"):
        tbl.merge_upsert(
            spark.createDataFrame([(1, "2024")], ["id", "year"]), ["id"]
        )
    # widen-merge path: extra column backfills nulls on carried rows
    src = spark.createDataFrame(
        [(1, "A", "2024", 7)], ["id", "v", "year", "extra"]
    )
    tbl.merge_upsert(src, ["id"], evolve_schema=True)
    got = {(r.id, r.v, r.extra) for r in tbl.snapshot(spark).collect()}
    assert got == {(1, "A", 7)}


def test_delete_where_semantics_and_pruning(spark, tbl):
    """DELETE rewrites only files with matching rows; a NULL predicate
    keeps the row (SQL DELETE semantics); a whole-file delete is a
    metadata-only remove."""
    tbl.append(
        spark.createDataFrame(
            [(1, 5, "2024"), (2, None, "2024"), (3, 9, "2025")],
            "id INT, v INT, year STRING",
        ),
        ["year"],
    )
    files_v1 = tbl._replay(1)["files"]
    f2025 = [r for r in files_v1 if "year=2025" in r]

    v = tbl.delete_where(spark, "v > 4 AND year = '2024'")
    got = {(r.id, r.v) for r in tbl.snapshot(spark).collect()}
    assert got == {(2, None), (3, 9)}  # NULL v kept, 2025 untouched
    rec = tbl._read_commit(v)
    assert rec["op"] == "delete"
    assert all("year=2024" in r for r in rec["remove"])
    assert set(f2025) <= set(tbl._replay(v)["files"])

    # whole-file delete: every 2025 row matches -> pure metadata remove
    v2 = tbl.delete_where(spark, "year = '2025'")
    rec2 = tbl._read_commit(v2)
    assert rec2["remove"] == f2025
    assert sum(a["rows"] for a in rec2["add"]) == 0
    assert {r.id for r in tbl.snapshot(spark).collect()} == {2}


def test_delete_nothing_matches_is_metadata_noop(spark, tbl):
    """A delete that matches no row commits nothing: the version holds
    and no commit file is written (the same rule as update and merge)."""
    v0 = tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    before = tbl._replay(v0)
    for mode in ("cow", "dv"):
        assert tbl.delete_where(spark, "id = 999", mode=mode) == v0
    assert tbl.latest_version() == v0
    assert not tbl._commit_file(v0 + 1).exists()
    assert tbl._replay(v0) == before
    assert _ids(tbl.snapshot(spark)) == [1]


@pytest.mark.slow
def test_change_feed_row_level_types(spark, tbl):
    """read_change_feed delivers exact per-row changes: appends
    synthesize inserts, merges stage pre/post-image + insert rows,
    deletes stage delete rows, compaction contributes nothing, and an
    overwrite in range raises (full refresh, not a delta)."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    tbl.merge_upsert(_df(spark, [(2, "B2", "2025"), (3, "c", "2026")]), ["id"])
    tbl.compact(spark)
    tbl.delete_where(spark, "id = 1")

    feed = tbl.read_change_feed(spark, 0).collect()
    got = {(r.id, r.v, r._change_type, r._commit_version) for r in feed}
    assert got == {
        (1, "a", "insert", 1),
        (2, "b", "insert", 1),
        (2, "b", "update_preimage", 2),
        (2, "B2", "update_postimage", 2),
        (3, "c", "insert", 2),
        (1, "a", "delete", 4),
    }
    # sub-ranges slice cleanly; the compact commit (v3) is invisible
    assert {r._commit_version for r in tbl.read_change_feed(spark, 1, 3).collect()} == {2}
    assert tbl.read_change_feed(spark, 4).count() == 0

    tbl.overwrite(_df(spark, [(9, "z", "2026")]), ["year"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overwrite"):
        tbl.read_change_feed(spark, 0).collect()
    # a range ending BEFORE the overwrite still reads
    assert len(tbl.read_change_feed(spark, 0, 4).collect()) == 6


def test_change_feed_survives_vacuum_of_retained_versions(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.delete_where(spark, "id = 1")
    tbl.vacuum(retain_versions=2, min_age_s=0)  # both commits retained
    got = {(r.id, r._change_type) for r in tbl.read_change_feed(spark, 0).collect()}
    assert got == {(1, "insert"), (1, "delete")}


def test_change_feed_groups_span_rename_widening_and_row_level(spark, tbl):
    """A feed over appends before and after a RENAME, an int->long
    evolve append, a MERGE (sidecar) and a DV DELETE reads one scan per
    group of alike commits, and still tags every row with its own
    commit's version under the to-version names and types."""
    from collections import Counter

    schema = "id int, v string, year string"
    tbl.append(spark.createDataFrame([(1, "a", "2024"), (2, "b", "2025")], schema), ["year"])
    tbl.rename_column("v", "val")  # v2
    tbl.append(spark.createDataFrame([(3, "c", "2024")], "id int, val string, year string"))
    tbl.append(
        spark.createDataFrame([(4, "d", "2025")], "id long, val string, year string"),
        evolve_schema=True,
    )  # v4: id widens to long
    tbl.merge_upsert(
        spark.createDataFrame([(1, "A", "2024")], "id long, val string, year string"), ["id"]
    )  # v5
    tbl.delete_where(spark, "id = 2", mode="dv")  # v6
    feed = tbl.read_change_feed(spark, 0)
    assert dict(feed.dtypes)["id"] == "bigint"
    got = Counter((r.id, r.val, r._change_type, r._commit_version) for r in feed.collect())
    assert got == Counter(
        [
            (1, "a", "insert", 1),
            (2, "b", "insert", 1),
            (3, "c", "insert", 3),
            (4, "d", "insert", 4),
            (1, "a", "update_preimage", 5),
            (1, "A", "update_postimage", 5),
            (2, "b", "delete", 6),
        ]
    )
    # three append groups (pre-rename, post-rename, widened) + one
    # sidecar group for the merge and the delete
    plan = feed._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation [") == 4, plan


def test_building_a_read_runs_no_spark_job(spark, tbl):
    """Building a read frame is planning only: past Spark's parallel-
    listing cutoff (32 paths) and with a live deletion vector, no
    snapshot/change read starts a job before the caller runs it."""
    df = spark.range(48).selectExpr(
        "id", "CAST(id AS STRING) AS v", "CAST(id % 2 AS STRING) AS year"
    )
    tbl.append(df.coalesce(1), ["year"], max_records_per_file=1)
    tbl.append(_df(spark, [(100, "x", "2024")]), ["year"])
    tbl.delete_where(spark, "id = 3", mode="dv")
    state = tbl._replay(tbl.latest_version())
    assert len(state["files"]) >= 40 and state["dvs"]
    builds = {
        "snapshot": lambda: tbl.snapshot(spark),
        "snapshot_where": lambda: tbl.snapshot(spark, where="id < 10"),
        "read_changes": lambda: tbl.read_changes(spark, 0),
        "read_change_feed": lambda: tbl.read_change_feed(spark, 0),
    }
    jobs = {name: count_spark_jobs(spark, build) for name, build in builds.items()}
    assert jobs == dict.fromkeys(builds, 0)
    assert tbl.snapshot(spark).count() == 48
    assert tbl.read_change_feed(spark, 0).count() == 50


# ---- data skipping (file-level column stats) --------------------------


def test_commit_records_file_stats(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024"), (5, "m", "2024")]), ["year"])
    rec = json.loads((tbl.log_path / f"{str(1).zfill(20)}.json").read_text())
    stats = {a["path"]: a["stats"] for a in rec["add"]}
    merged_min = min(s["id"]["min"] for s in stats.values())
    merged_max = max(s["id"]["max"] for s in stats.values())
    assert (merged_min, merged_max) == (1, 5)
    for s in stats.values():
        assert s["id"]["nulls"] == 0
        assert "year" not in s  # partition col lives in partition_values


def test_data_skipping_prunes_and_stays_exact(spark, tbl):
    # one file per id-range via maxRecordsPerFile over a sorted frame
    df = spark.range(100).selectExpr(
        "CAST(id AS INT) AS id", "CAST(id AS STRING) AS v", "'2024' AS year"
    ).orderBy("id")
    tbl.append(df.coalesce(1), max_records_per_file=25)
    all_files = tbl.matching_files("id >= 0")
    assert len(all_files) == 4
    hit = tbl.matching_files("id BETWEEN 30 AND 40")
    assert len(hit) == 1
    # the pruned snapshot returns exactly the predicate's rows
    assert _ids(tbl.snapshot(spark, where="id BETWEEN 30 AND 40")) == list(
        range(30, 41)
    )
    # point lookup touches one file; conjunction composes
    assert len(tbl.matching_files("id = 99")) == 1
    assert len(tbl.matching_files("id = 99 AND v = '99'")) == 1
    # an impossible predicate scans nothing but still answers
    assert tbl.matching_files("id > 1000") == []
    assert tbl.snapshot(spark, where="id > 1000").count() == 0


def test_data_skipping_partition_values_compose_with_stats(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    assert len(tbl.matching_files("year = '2024'")) == 1
    assert len(tbl.matching_files("year = '2024' AND id <= 1")) == 1
    assert len(tbl.matching_files("year = '2024' AND id = 2")) == 0
    assert _ids(tbl.snapshot(spark, where="year = '2024'")) == [1]


def test_data_skipping_unsupported_shapes_never_wrong(spark, tbl):
    """OR / NOT / expressions: the skipper must keep every file and the
    filter still produces exact results."""
    df = spark.range(50).selectExpr(
        "CAST(id AS INT) AS id", "CAST(id AS STRING) AS v", "'2024' AS year"
    )
    tbl.append(df.coalesce(1).orderBy("id"), max_records_per_file=10)
    n_files = len(tbl.matching_files("id IS NOT NULL"))
    for pred in ("id = 3 OR id = 47", "NOT (id < 49)", "id + 1 = 5"):
        assert len(tbl.matching_files(pred)) == n_files
    assert _ids(tbl.snapshot(spark, where="id = 3 OR id = 47")) == [3, 47]


def test_zorder_compact_tightens_skipping(spark, tbl):
    """After z-order compaction the per-file bounds on BOTH clustered
    columns narrow, so a point-range predicate scans a strict subset."""
    import pyspark.sql.functions as F

    df = (
        spark.range(400)
        .select(
            F.col("id").cast("int").alias("id"),
            F.pmod(F.col("id") * 37, F.lit(400)).cast("int").alias("k"),
            F.lit("x").alias("v"),
            F.lit("2024").alias("year"),
        )
    )
    # shuffled write: every file spans nearly the full id/k domain
    tbl.append(df.orderBy(F.pmod(F.col("id") * 101, F.lit(13))), max_records_per_file=50)
    before = len(tbl.matching_files("id BETWEEN 0 AND 49 AND k BETWEEN 0 AND 49"))
    tbl.compact(spark, target_files_per_partition=8, zorder_by=("id", "k"))
    total = len(tbl.matching_files("id IS NOT NULL"))
    after = len(tbl.matching_files("id BETWEEN 0 AND 49 AND k BETWEEN 0 AND 49"))
    assert total >= 4
    assert after < before
    got = tbl.snapshot(
        spark, where="id BETWEEN 0 AND 49 AND k BETWEEN 0 AND 49"
    ).count()
    want = df.filter("id BETWEEN 0 AND 49 AND k BETWEEN 0 AND 49").count()
    assert got == want


# ---- fifth wave: RESTORE, CHECK constraints, append-rebase OCC --------


def test_restore_to_version(spark, tbl):
    """RESTORE moves the table FORWARD to an old state in one commit;
    the restored-away versions stay time-travelable."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2024")]), ["year"])
    tbl.append(_df(spark, [(3, "c", "2025")]))
    tbl.delete_where(spark, "id = 2")
    assert _ids(tbl.snapshot(spark)) == [1, 3]
    v = tbl.restore(1)
    assert v == 4
    assert _ids(tbl.snapshot(spark)) == [1, 2]
    # history preserved: pre-restore states still readable
    assert _ids(tbl.snapshot(spark, version=3)) == [1, 3]
    assert tbl.history()[-1].op == "restore"
    # a feed crossing the rewind is not a delta
    with pytest.raises(ValueError, match="restore"):
        tbl.read_change_feed(spark, 0, 4).collect()


def test_restore_validations(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.overwrite(_df(spark, [(2, "b", "2024")]), ["year"])
    with pytest.raises(ValueError, match="earlier version"):
        tbl.restore(2)
    with pytest.raises(ValueError, match="earlier version"):
        tbl.restore(0)
    # vacuum away v1's files -> restore must refuse to commit dangling refs
    tbl.vacuum(retain_versions=1, min_age_s=0)
    with pytest.raises(ValueError, match="vacuumed"):
        tbl.restore(1)


@pytest.mark.slow
def test_check_constraint_enforcement(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.add_check_constraint(spark, "id_pos", "id > 0")
    before_v = tbl.latest_version()
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        ConstraintViolationError,
    )

    with pytest.raises(ConstraintViolationError, match="id_pos"):
        tbl.append(_df(spark, [(-5, "bad", "2024")]))
    # violating write left NO trace: no commit, no staged files
    assert tbl.latest_version() == before_v
    assert _ids(tbl.snapshot(spark)) == [1]
    assert tbl.vacuum(retain_versions=10, min_age_s=0) == []
    # NULL passes (SQL CHECK semantics: only FALSE violates)
    tbl.append(_df(spark, [(None, "n", "2024"), (7, "g", "2024")]))
    assert sorted(
        r.id for r in tbl.snapshot(spark).collect() if r.id is not None
    ) == [1, 7]
    # merge enforcement: a violating upsert aborts atomically
    with pytest.raises(ConstraintViolationError, match="id_pos"):
        tbl.merge_upsert(_df(spark, [(-1, "m", "2024")]), ["id"])
    assert tbl.latest_version() == before_v + 1


def test_add_constraint_rejects_violating_existing_data(spark, tbl):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        ConstraintViolationError,
    )

    tbl.append(_df(spark, [(-1, "a", "2024")]), ["year"])
    with pytest.raises(ConstraintViolationError, match="existing"):
        tbl.add_check_constraint(spark, "id_pos", "id > 0")
    assert tbl._replay(tbl.latest_version())["constraints"] == {}


@pytest.mark.slow
def test_constraint_survives_checkpoint_and_drop(spark, tbl):
    """checkpoint_interval=3: the constraint commit is rolled into a
    checkpoint and must still be enforced when replay starts there."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        ConstraintViolationError,
    )

    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.add_check_constraint(spark, "id_pos", "id > 0")
    tbl.append(_df(spark, [(2, "b", "2024")]))  # v3 -> checkpoint written
    assert (tbl.log_path / "_last_checkpoint").exists()
    with pytest.raises(ConstraintViolationError):
        tbl.append(_df(spark, [(-2, "x", "2024")]))
    tbl.drop_check_constraint("id_pos")
    tbl.append(_df(spark, [(-2, "x", "2024")]))
    assert _ids(tbl.snapshot(spark)) == [-2, 1, 2]
    with pytest.raises(ValueError, match="no constraint"):
        tbl.drop_check_constraint("id_pos")


def test_rmw_rebases_over_concurrent_append(spark, tbl):
    """WriteSerializable: a delete losing its version race to a pure
    append rebases and commits — appends only add files, so the staged
    removes stay valid; the appended rows are simply not seen."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2024")]), ["year"])
    orig = TransactionLog._try_commit
    raced = {"done": False}

    def racing(self, v, rec):
        if rec.get("op") == "delete" and not raced["done"]:
            raced["done"] = True
            TransactionLog(tbl.table_path).append(
                _df(spark, [(9, "z", "2024")])
            )
        return orig(self, v, rec)

    tbl._try_commit = racing.__get__(tbl)
    v = tbl.delete_where(spark, "id = 2")
    assert raced["done"] and v == 3
    assert _ids(tbl.snapshot(spark)) == [1, 9]


@pytest.mark.slow
def test_rmw_conflicts_with_concurrent_rewrite(spark, tbl):
    """A concurrent rewrite of the SAME file invalidates the staged
    removes -> the race surfaces instead of rebasing.  (Since the
    disjoint-footprint rule landed, conflict granularity is per FILE:
    both rows are pinned into one file here; rewrites of files outside
    the read surface rebase — see the disjoint-footprint tests.)"""
    tbl.append(
        _df(spark, [(1, "a", "2024"), (2, "b", "2024")]).coalesce(1),
        ["year"],
    )
    orig = TransactionLog._try_commit
    raced = {"done": False}

    def racing(self, v, rec):
        if rec.get("op") == "delete" and not raced["done"]:
            raced["done"] = True
            TransactionLog(tbl.table_path).delete_where(spark, "id = 1")
        return orig(self, v, rec)

    tbl._try_commit = racing.__get__(tbl)
    with pytest.raises(ConcurrentCommitError, match="delete"):
        tbl.delete_where(spark, "id = 2")


# ---- deletion vectors (merge-on-read DELETE) --------------------------


@pytest.mark.slow
def test_dv_delete_is_metadata_only_and_exact(spark, tbl):
    """mode='dv' writes NO data files — deletions land as a (file,
    row_index) sidecar anti-joined out on read; compaction
    materializes and drops them; restore rewinds to a DV state."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2024"),
                           (3, "c", "2024"), (4, "d", "2024")]), ["year"])
    v2 = tbl.delete_where(spark, "id = 2", mode="dv")
    rec = json.loads((tbl.log_path / f"{str(v2).zfill(20)}.json").read_text())
    assert rec["add"] == [] and rec["remove"] == []
    assert rec["dv"] and all(e["rows"] > 0 for e in rec["dv"])
    assert _ids(tbl.snapshot(spark)) == [1, 3, 4]
    assert _ids(tbl.snapshot(spark, version=1)) == [1, 2, 3, 4]
    # row-level CDF is mode-agnostic
    feed = tbl.read_change_feed(spark, 1, v2).collect()
    assert [(r.id, r._change_type) for r in feed] == [(2, "delete")]
    # vectors stack
    tbl.delete_where(spark, "id = 3", mode="dv")
    assert _ids(tbl.snapshot(spark)) == [1, 4]
    # compaction reads THROUGH the vectors and drops them
    tbl.compact(spark)
    assert tbl._replay(tbl.latest_version())["dvs"] == []
    assert _ids(tbl.snapshot(spark)) == [1, 4]
    # restore to the one-vector state rewinds data AND vector state
    tbl.restore(v2)
    assert _ids(tbl.snapshot(spark)) == [1, 3, 4]


@pytest.mark.slow
def test_dv_interplay_with_merge_cow_and_vacuum(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2024"), (3, "c", "2024"),
                           (4, "d", "2025"), (5, "e", "2025"), (6, "f", "2025")]),
               ["year"])
    tbl.delete_where(spark, "id = 2", mode="dv")
    # merge rewrites only 2025 files; the 2024 vector must survive
    tbl.merge_upsert(_df(spark, [(4, "D", "2025")]), ["id"])
    assert sorted((r.id, r.v) for r in tbl.snapshot(spark).collect()) == [
        (1, "a"), (3, "c"), (4, "D"), (5, "e"), (6, "f")]
    # cow delete in the other partition: vector still survives
    tbl.delete_where(spark, "id = 5")
    assert _ids(tbl.snapshot(spark)) == [1, 3, 4, 6]
    st = tbl._replay(tbl.latest_version())
    assert len(st["dvs"]) == 1
    # vacuum keeps the sidecar of the retained snapshot
    tbl.vacuum(retain_versions=1, min_age_s=0)
    assert (tbl.table_path / st["dvs"][0]["path"]).exists()
    assert _ids(tbl.snapshot(spark)) == [1, 3, 4, 6]


# ---- property: random op sequences vs a pure-Python model -------------


@pytest.mark.slow
def test_log_state_machine_random_ops(spark, tmp_path):
    """Hypothesis drives random append / merge / delete(cow|dv) /
    overwrite / compact / restore / rename / drop+re-add sequences
    against a dict-of-rows reference model; after every op the
    snapshot must equal the model, and at the end every historical
    version must still replay to its recorded model state UNDER ITS
    OWN column names (time travel is never corrupted by later ops,
    including later renames)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op_strategy = st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(1, 3)),
            st.tuples(st.just("merge"), st.integers(0, 9)),
            st.tuples(st.just("merge_clauses"), st.integers(0, 9)),
            st.tuples(st.just("delete_cow"), st.integers(2, 5)),
            st.tuples(st.just("delete_dv"), st.integers(2, 5)),
            st.tuples(st.just("overwrite"), st.integers(1, 3)),
            st.tuples(st.just("compact"), st.just(0)),
            st.tuples(st.just("purge_dvs"), st.just(0)),
            st.tuples(st.just("restore"), st.integers(1, 6)),
            st.tuples(st.just("rename"), st.just(0)),
            st.tuples(st.just("drop_readd"), st.just(0)),
            st.tuples(st.just("respec"), st.just(0)),
            st.tuples(st.just("update"), st.integers(2, 5)),
            st.tuples(st.just("update_dv"), st.integers(2, 5)),
            st.tuples(st.just("clone"), st.just(0)),
        ),
        min_size=3,
        max_size=7,
    )

    counter = {"n": 0, "case": 0}

    @given(ops=op_strategy, use_gen=st.booleans(), use_identity=st.booleans())
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def run(ops, use_gen, use_identity):
        counter["case"] += 1
        t = TransactionLog(tmp_path / f"pt{counter['case']}")
        model: dict[int, int | None] = {}
        # per-version record: model rows + the value column's LOGICAL
        # name at that version (None while dropped); keyed by version
        # because metadata commits (the generated-column declaration)
        # occupy versions the model does not snapshot
        history: dict[int, tuple[dict, str | None]] = {}
        clones: list[tuple[TransactionLog, dict, str | None]] = []
        name = "v"  # current logical name of the value column
        # some cases declare an identity column at creation: every
        # write allocates it, and distinct-count == row-count must
        # hold on every final state the random history produces
        if use_identity:
            from pyspark.sql.types import StructType

            t.create(
                StructType()
                .add("id", "long")
                .add("v", "long")
                .add("year", "string")
                .add("rid", "long"),
                partition_keys=["year"],
                identity={"rid": {"start": 7, "step": 3}},
            )
        # some cases declare a generated column before the first
        # write: every append/merge/overwrite must compute it, and it
        # must hold on every row of every later state
        if use_gen:
            t.add_generated_column("g", "pmod(id, 10)")

        def fresh_rows(n):
            out = []
            for _ in range(n):
                counter["n"] += 1
                out.append((counter["n"], counter["n"] * 10, "2024"))
            return out

        def df_of(rows):
            return spark.createDataFrame(rows, ["id", name, "year"])

        def record(version, col="__cur__"):
            assert version not in history
            history[version] = (dict(model), name if col == "__cur__" else col)

        def snap_set(df, col):
            if col is None:
                return {(r.id, None) for r in df.collect()}
            return {(r.id, getattr(r, col)) for r in df.collect()}

        for op, arg in ops:
            if op == "append":
                rows = fresh_rows(arg)
                # evolve=True: a drop+re-add leaves the value column
                # LAST in the table schema, and the model's frames are
                # built (id, value, year) — align instead of drifting.
                # keys only on the FIRST append: afterwards the
                # committed spec (which respec toggles) is authoritative
                v = t.append(
                    df_of(rows),
                    None if t.latest_version() else ["year"],
                    evolve_schema=True,
                )
                model.update({r[0]: r[1] for r in rows})
            elif op == "merge":
                if not model:
                    continue
                upd = sorted(model)[: arg % (len(model) + 1)]
                rows = [(k, (model[k] or 0) + 1, "2024") for k in upd]
                rows += fresh_rows(1)
                v = t.merge_upsert(df_of(rows), ["id"])
                model.update({r[0]: r[1] for r in rows})
            elif op == "merge_clauses":
                # the full clause grammar against the model: matched
                # rows update when the NEW value is even, else delete;
                # one fresh row always inserts; unmatched target rows
                # with id % 7 == 0 get +100 via NOT MATCHED BY SOURCE
                if not model:
                    continue
                upd = sorted(model)[: arg % (len(model) + 1)]
                rows = [(k, (model[k] or 0) + 5, "2024") for k in upd]
                rows += fresh_rows(1)
                v = t.merge(
                    df_of(rows),
                    ["id"],
                    when_matched=[
                        {"cond": f"s.{name} % 2 = 0", "action": "update",
                         "set": "*"},
                        {"action": "delete"},
                    ],
                    when_not_matched=[{"action": "insert"}],
                    when_not_matched_by_source=[
                        {"cond": "t.id % 7 = 0", "action": "update",
                         "set": {name: f"t.{name} + 100"}},
                    ],
                )
                src_ids = {r[0] for r in rows}
                for k, val, _ in rows:
                    if k in model:
                        if val % 2 == 0:
                            model[k] = val
                        else:
                            del model[k]
                    else:
                        model[k] = val
                for k in list(model):
                    if (
                        k not in src_ids
                        and k % 7 == 0
                        and model[k] is not None
                    ):
                        model[k] += 100
            elif op in ("delete_cow", "delete_dv"):
                if not model:
                    continue
                mode = "dv" if op == "delete_dv" else "cow"
                before = t.latest_version()
                v = t.delete_where(spark, f"id % {arg} = 0", mode=mode)
                if not any(k % arg == 0 for k in model):
                    assert v == before  # zero-match deletes commit nothing
                    continue
                for k in [k for k in model if k % arg == 0]:
                    del model[k]
            elif op in ("update", "update_dv"):
                if not any(k % arg == 0 for k in model):
                    continue  # zero-match updates commit nothing
                v = t.update_where(
                    spark,
                    {name: f"{name} + 1"},
                    f"id % {arg} = 0",
                    mode="dv" if op == "update_dv" else "cow",
                )
                for k in model:
                    if k % arg == 0 and model[k] is not None:
                        model[k] += 1  # NULL + 1 stays NULL
            elif op == "clone":
                # zero-copy clone of the CURRENT state into a side
                # table; the stash must still hold at the end no
                # matter what later ops do to the source
                if (
                    not t.latest_version()
                    or t._replay(t.latest_version())["schema"] is None
                ):
                    continue
                c = TransactionLog(
                    tmp_path / f"pt{counter['case']}-clone{len(clones)}"
                )
                t.clone_to(c.table_path)
                clones.append((c, dict(model), name))
                continue  # no source version consumed; nothing to record
            elif op == "overwrite":
                rows = fresh_rows(arg)
                v = t.overwrite(df_of(rows), ["year"])
                model.clear()
                model.update({r[0]: r[1] for r in rows})
            elif op == "compact":
                if not t.latest_version() or not t._replay(
                    t.latest_version()
                )["files"]:
                    continue
                v = t.compact(spark)
            elif op == "purge_dvs":
                # REORG APPLY (PURGE): only when live vectors exist;
                # rewrites their covered files, model unchanged
                if not t.latest_version() or not t._replay(
                    t.latest_version()
                )["dvs"]:
                    continue
                v = t.compact(spark, purge_dvs=True)
                assert t._replay(v)["dvs"] == []
            elif op == "restore":
                # only restore to versions where the value column
                # exists (drop-gap targets would need schema surgery
                # in the model's frame builder, not the log), and
                # never to the latest recorded version (a no-op
                # restore is refused)
                latest_rec = max(history, default=0)
                targets = [
                    ver
                    for ver, (_, n) in sorted(history.items())
                    if n is not None and ver < latest_rec
                ]
                if not targets:
                    continue
                target = targets[arg % len(targets)]
                v = t.restore(target)
                model.clear()
                model.update(history[target][0])
                name = history[target][1]
            elif op == "rename":
                # needs a committed schema (the generated-column
                # declaration alone leaves schema None)
                if (
                    not t.latest_version()
                    or t._replay(t.latest_version())["schema"] is None
                ):
                    continue
                new = "w" if name == "v" else "v"
                v = t.rename_column(name, new)
                name = new
            elif op == "respec":
                if (
                    not t.latest_version()
                    or t._replay(t.latest_version())["schema"] is None
                ):
                    continue
                cur = t._replay(t.latest_version())["partition_keys"]
                v = t.set_partition_spec([] if cur else ["year"])
            elif op == "drop_readd":
                if not t.latest_version() or not model:
                    continue
                v = t.drop_column(name)
                for k in model:
                    model[k] = None  # values gone from the logical view
                record(v, col=None)  # the gap version has NO value col
                rows = fresh_rows(1)
                v = t.append(df_of(rows), evolve_schema=True)
                model.update({r[0]: r[1] for r in rows})
            record(v)
            got = (
                snap_set(t.snapshot(spark), name)
                if t.latest_version()
                else set()
            )
            assert got == set(model.items()), f"after {op}({arg})"
        # every historical version still replays exactly, under the
        # column name it had THEN
        for v, (snap, vname) in sorted(history.items()):
            got = snap_set(t.snapshot(spark, version=v), vname)
            assert got == set(snap.items()), f"time travel to v{v}"
        # the generated column holds on EVERY row of the final state
        if use_gen and history and model:
            assert all(
                r.g == r.id % 10 for r in t.snapshot(spark).collect()
            ), "generated invariant"
        # clones stay frozen at their stash regardless of later source ops
        for c, snap, cname in clones:
            got = snap_set(c.snapshot(spark), cname)
            assert got == set(snap.items()), "clone drift"
        # identity stays unique across every random write history
        if use_identity and history and model:
            snap = t.snapshot(spark)
            rids = [r.rid for r in snap.collect()]
            assert len(set(rids)) == len(rids), "identity uniqueness"
            assert all(
                r is not None and r >= 7 and (r - 7) % 3 == 0 for r in rids
            ), "identity lattice"
        # the row-level change feed is COMPLETE: folding every feed row
        # from v0 re-derives the final state exactly (inserts/
        # postimages assert, deletes retract) — valid whenever the
        # history contains no full-refresh op (overwrite/restore raise
        # in the feed by contract) and no column drop (a schema-level
        # removal is invisible to a row-level feed — the same caveat
        # the published CDF design documents)
        executed_ops = {op for op, _ in ops}
        wrote = t.latest_version() and (
            t._replay(t.latest_version())["schema"] is not None
        )
        if wrote and not executed_ops & {
            "overwrite",
            "restore",
            "drop_readd",
        }:
            folded: dict[int, int] = {}
            feed = t.read_change_feed(spark, 0).collect()
            for r in sorted(feed, key=lambda r: r._commit_version):
                if r._change_type in ("insert", "update_postimage"):
                    folded[r.id] = getattr(r, name)
                elif r._change_type == "delete":
                    folded.pop(r.id, None)
            assert folded == model, "CDF fold != final state"
        # the Python Data Source connector agrees with the JVM read on
        # whatever state the random history produced (DVs, compactions,
        # restores, renames and all)
        if wrote:
            from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.lakehouse_source import (
                register_lakehouse_source,
            )

            register_lakehouse_source(spark)
            via_connector = snap_set(
                spark.read.format("lakehouse").load(str(t.table_path)), name
            )
            assert via_connector == set(model.items()), "connector read"

    run()


@pytest.mark.slow
def test_concurrent_blind_appends_all_land(spark, tbl):
    """16 writer threads blind-appending simultaneously: every commit
    must land under a distinct version (create-if-absent + retry), no
    append may be lost or duplicated, and the final snapshot is the
    union of all writers' rows.  This is the multi-writer story a
    shared lake lives on — os.link create-if-absent arbitrates exactly
    like a conditional PUT would on an object store."""
    from concurrent.futures import ThreadPoolExecutor

    tbl.append(_df(spark, [(0, "seed", "2024")]), ["year"])
    frames = [
        _df(spark, [(i, f"w{i}", "2024")]) for i in range(1, 17)
    ]  # build frames up front: the race should be in the COMMIT path

    with ThreadPoolExecutor(max_workers=16) as pool:
        versions = list(pool.map(lambda df: tbl.append(df), frames))

    assert sorted(versions) == list(range(2, 18)), "versions must be gapless"
    assert tbl.latest_version() == 17
    assert _ids(tbl.snapshot(spark)) == list(range(17))
    # every version replays: no torn intermediate state anywhere
    for v in range(1, 18):
        assert len(tbl._replay(v)["files"]) >= 1


@pytest.mark.slow
def test_partial_compact_where_scopes_rewrite(spark, tbl):
    """OPTIMIZE ... WHERE rewrites ONLY matching partition dirs: the
    other partition's file list is untouched (same rel paths), total
    rows are identical, and the dataChange=false commit delivers
    nothing to incremental readers."""
    for i in range(3):  # 3 small files per partition
        tbl.append(_df(spark, [(i * 2, "a", "2024"), (i * 2 + 1, "b", "2025")]),
                   ["year"])
    before = tbl._replay(tbl.latest_version())["files"]
    f24 = {r for r in before if r.startswith("year=2024")}
    f25 = {r for r in before if r.startswith("year=2025")}
    assert len(f24) == 3 and len(f25) == 3

    v = tbl.compact(spark, where="year = '2024'")
    after = tbl._replay(v)["files"]
    assert {r for r in after if r.startswith("year=2025")} == f25
    assert len({r for r in after if r.startswith("year=2024")}) == 1
    assert _ids(tbl.snapshot(spark)) == list(range(6))
    assert tbl.read_changes(spark, v - 1, v).count() == 0


@pytest.mark.slow
def test_partial_compact_min_files_policy(spark, tbl):
    """min_files only rewrites partition dirs holding more live files
    than the threshold — the incremental small-file policy."""
    for i in range(3):
        tbl.append(_df(spark, [(i, "a", "2024")]), ["year"])
    tbl.append(_df(spark, [(9, "b", "2025")]))
    before = tbl._replay(tbl.latest_version())["files"]
    f25 = {r for r in before if r.startswith("year=2025")}

    tbl.compact(spark, min_files=2)
    after = tbl._replay(tbl.latest_version())["files"]
    assert {r for r in after if r.startswith("year=2025")} == f25
    assert len({r for r in after if r.startswith("year=2024")}) == 1
    assert _ids(tbl.snapshot(spark)) == [0, 1, 2, 9]
    with pytest.raises(ValueError, match="nothing to compact"):
        tbl.compact(spark, min_files=2)  # everything already at 1 file


@pytest.mark.slow
def test_partial_compact_keeps_surviving_deletion_vectors(spark, tbl):
    """A DV spanning both partitions: partial compact of one partition
    materializes its deletions and keeps the vector active for the
    untouched partition's rows."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2024"),
                           (3, "c", "2025"), (4, "d", "2025")]), ["year"])
    tbl.append(_df(spark, [(5, "e", "2024")]))
    tbl.delete_where(spark, "id IN (2, 4)", mode="dv")
    assert _ids(tbl.snapshot(spark)) == [1, 3, 5]

    v = tbl.compact(spark, where="year = '2024'")
    st = tbl._replay(v)
    assert st["dvs"], "vector covering the untouched partition must survive"
    assert _ids(tbl.snapshot(spark)) == [1, 3, 5]
    # 2024 deletions are physical now: full compact afterwards drops all
    tbl.compact(spark)
    assert tbl._replay(tbl.latest_version())["dvs"] == []
    assert _ids(tbl.snapshot(spark)) == [1, 3, 5]


def test_engine_acid_autocompact_policy(spark, tmp_path):
    """acid_autocompact_files: repeated appends fragment a partition
    dir past the threshold; the next run's scoped dataChange=false
    OPTIMIZE collapses it — rows identical, incremental readers see
    nothing from the compaction commits."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.engine import (
        Engine,
        EngineConfig,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.model import (
        ExtractionPlan,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        SourceRegistry,
    )
    from tests.conftest import SF_SMALL

    eng = Engine(
        spark,
        SourceRegistry(spark, parquet_root=SF_SMALL),
        EngineConfig(
            target_root=str(tmp_path / "lake"),
            register_catalog=False,
            acid=True,
            acid_autocompact_files=2,
        ),
        None,
        None,
    )
    plan = ExtractionPlan.from_dict(
        {
            "SourceName": "sybaseiq",
            "SourceDatabase": "iqdemo",
            "SourceSchema": "dba",
            "SourceTable": "region",
            "Query": "SELECT * FROM region",
            "MigrationPart": 1,
            "ExpectedAmountOfRecords": " ",
        }
    )
    for _ in range(3):
        assert eng.run_job(plan.jobs[0]).status == "SUCCEEDED"
    t = TransactionLog(tmp_path / "lake" / "sybaseiq" / "dba" / "region")
    ops = [c.op for c in t.history()]
    assert ops.count("append") == 3
    assert "compact" in ops, "threshold=2 must have triggered an OPTIMIZE"
    st = t._replay(t.latest_version())
    # the un-partitioned dir is back at <= threshold live files
    assert len(st["files"]) <= 2
    assert t.snapshot(spark).count() == 15
    # compaction commits contributed nothing to the change stream
    inc = t.read_changes(spark, 0).count()
    assert inc == 15


def test_append_racing_widen_commits_widened_schema(spark, tbl, monkeypatch):
    """A blind append that loses the version race to a concurrent
    int->long widening must commit the WIDENED schema (its narrower
    files read fine under it), never revert schema authority — the
    failure mode: long parquet files under a re-committed int schema
    are unreadable."""
    ints = spark.createDataFrame([(1, 10, "2024")], "id int, v int, year string")
    tbl.append(ints, ["year"])

    wide = spark.createDataFrame(
        [(2, 1 << 40, "2025")], "id long, v long, year string"
    )
    orig = tbl._stage_files
    fired = {"done": False}

    def stage_then_race(df, keys, *a, **k):
        adds = orig(df, keys, *a, **k)
        if not fired["done"]:
            fired["done"] = True
            TransactionLog(tbl.table_path).append(wide, evolve_schema=True)
        return adds

    monkeypatch.setattr(tbl, "_stage_files", stage_then_race)
    v = tbl.append(
        spark.createDataFrame([(3, 30, "2024")], "id int, v int, year string")
    )
    assert v == 3  # retried onto the next version
    st = tbl._replay(v)
    assert StructTypeFromJson(st["schema"])["v"].dataType.simpleString() == "bigint"
    out = tbl.snapshot(spark)
    assert sorted((r.id, r.v) for r in out.collect()) == [
        (1, 10), (2, 1 << 40), (3, 30),
    ]


def StructTypeFromJson(j):
    from pyspark.sql.types import StructType

    return StructType.fromJson(j)


def test_append_racing_incompatible_schema_raises(spark, tbl, monkeypatch):
    """If the interleaved commit's schema does NOT cover this append
    (a column the table no longer has, an incompatible type), the
    retry must raise instead of silently committing either schema."""
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    replacement = spark.createDataFrame(
        [(9, 9.5, "2025")], "id long, v double, year string"
    )  # v: string -> double is not a widening of either side
    orig = tbl._stage_files
    fired = {"done": False}

    def stage_then_race(df, keys, *a, **k):
        adds = orig(df, keys, *a, **k)
        if not fired["done"]:
            fired["done"] = True
            TransactionLog(tbl.table_path).overwrite(replacement, ["year"])
        return adds

    monkeypatch.setattr(tbl, "_stage_files", stage_then_race)
    with pytest.raises(ConcurrentCommitError, match="schema change"):
        tbl.append(_df(spark, [(2, "b", "2024")]))


def test_vacuum_age_guard_protects_inflight_writes(spark, tbl):
    """Default vacuum must NOT sweep what a concurrent writer just
    staged: freshly-staged (uncommitted) files and fresh _staging-*
    dirs are younger than the retention threshold, so the racing
    write can still commit and read back intact."""
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    # a racing writer mid-flight: files staged, commit not yet landed
    adds = tbl._stage_files(_df(spark, [(2, "b", "2024")]), ["year"])
    staging = tbl.table_path / "_staging-pretend-live"
    staging.mkdir()
    (staging / "part-0.parquet").write_bytes(b"in-flight bytes")

    assert tbl.vacuum() == []  # age guard: nothing is old enough
    assert all((tbl.table_path / a["path"]).exists() for a in adds)
    assert staging.exists()

    # the racing writer now commits its staged files — table intact
    rec = {
        "version": 2, "op": "append", "dataChange": True,
        "ts": "2026-01-01T00:00:00+00:00", "txn": "race",
        "schema": tbl._replay(1)["schema"], "partition_keys": ["year"],
        "add": adds, "remove": [],
    }
    tbl._try_commit(2, rec)
    assert _ids(tbl.snapshot(spark)) == [1, 2]
    # with the guard waived (maintenance window), the dead dir goes
    import shutil as _shutil

    _shutil.rmtree(staging)
    assert tbl.vacuum(min_age_s=0) == []  # everything referenced now


def test_partial_compact_with_zorder(spark, tbl):
    """OPTIMIZE ... WHERE + ZORDER compose: only the matching
    partition is rewritten, clustered on the z-key, and the untouched
    partition keeps its exact file list."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.randrange(1000), "2024") for i in range(200)] + [
        (1000 + i, i, "2025") for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["id", "v", "year"]).repartition(6)
    tbl.append(df, ["year"])
    before = tbl._replay(tbl.latest_version())["files"]
    f25 = {r for r in before if r.startswith("year=2025")}

    v = tbl.compact(
        spark, target_files_per_partition=2, zorder_by=("id", "v"),
        where="year = '2024'",
    )
    after = tbl._replay(v)["files"]
    assert {r for r in after if r.startswith("year=2025")} == f25
    assert 1 <= len({r for r in after if r.startswith("year=2024")}) <= 3
    got = sorted((r.id, r.v) for r in tbl.snapshot(spark).collect())
    assert got == sorted((i, v_) for i, v_, _ in rows)


# ---- shallow clone -------------------------------------------------------


def _parquet_under(root):
    return sorted(
        p for p in root.rglob("*.parquet") if "_txn_log" not in p.parts
    )


def test_shallow_clone_zero_copy_and_independent(spark, tbl, tmp_path):
    """CLONE commits a new table referencing the source's files in
    place (zero bytes copied); afterwards the two logs are fully
    independent — writes to either never move the other."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    tbl.append(_df(spark, [(3, "c", "2024")]))

    clone = TransactionLog(tmp_path / "c")
    assert tbl.clone_to(clone.table_path) == 1
    # zero-copy: the clone dir holds ONLY its log
    assert _parquet_under(clone.table_path) == []
    assert _ids(clone.snapshot(spark)) == [1, 2, 3]
    # partition values derive through the source basePath
    assert {r.year for r in clone.snapshot(spark).collect()} == {
        "2024",
        "2025",
    }

    # divergence: clone append is invisible to the source and vice versa
    clone.append(_df(spark, [(4, "d", "2026")]))
    tbl.append(_df(spark, [(9, "z", "2024")]))
    assert _ids(clone.snapshot(spark)) == [1, 2, 3, 4]
    assert _ids(tbl.snapshot(spark)) == [1, 2, 3, 9]
    # the clone's own append landed under the CLONE dir
    assert len(_parquet_under(clone.table_path)) > 0

    with pytest.raises(ValueError, match="not empty"):
        tbl.clone_to(clone.table_path)


def test_clone_at_version_pins_history(spark, tbl, tmp_path):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.append(_df(spark, [(2, "b", "2024")]))
    clone = TransactionLog(tmp_path / "c")
    tbl.clone_to(clone.table_path, version=1)
    assert _ids(clone.snapshot(spark)) == [1]
    rec = json.loads((clone.log_path / f"{str(1).zfill(20)}.json").read_text())
    assert rec["clone_of"]["version"] == 1


def test_clone_carries_deletion_vectors_and_constraints(spark, tbl, tmp_path):
    """Merge-on-read state and CHECK constraints travel with the
    clone: the clone reads THROUGH the source's deletion vectors, and
    a violating write to the clone is refused by the cloned
    constraint."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        ConstraintViolationError,
    )

    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2024"), (3, "c", "2024")]), ["year"])
    tbl.add_check_constraint(spark, "pos_id", "id > 0")
    tbl.delete_where(spark, "id = 2", mode="dv")

    clone = TransactionLog(tmp_path / "c")
    tbl.clone_to(clone.table_path)
    assert _ids(clone.snapshot(spark)) == [1, 3]
    with pytest.raises(ConstraintViolationError):
        clone.append(_df(spark, [(-5, "x", "2024")]))


def test_clone_compact_materializes_and_survives_source_vacuum(
    spark, tbl, tmp_path
):
    """compact() on a shallow clone rewrites the referenced data into
    the clone's own dir (= deep clone), after which vacuuming the
    source — the published shallow-clone hazard — no longer affects
    it."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    clone = TransactionLog(tmp_path / "c")
    tbl.clone_to(clone.table_path)

    clone.compact(spark, target_files_per_partition=1)
    state = clone._replay(clone.latest_version())
    assert all("base" not in a for a in state["files"].values())
    assert len(_parquet_under(clone.table_path)) > 0

    # source moves on and vacuums the files the clone used to reference
    tbl.overwrite(_df(spark, [(7, "q", "2024")]), ["year"])
    tbl.vacuum(min_age_s=0)
    assert _ids(clone.snapshot(spark)) == [1, 2]


@pytest.mark.slow
def test_clone_merge_rewrites_locally(spark, tbl, tmp_path):
    """Copy-on-write MERGE on a clone prunes to the affected CLONED
    file, rewrites it under the clone dir, and never touches the
    source's bytes."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    src_files = _parquet_under(tbl.table_path)
    clone = TransactionLog(tmp_path / "c")
    tbl.clone_to(clone.table_path)

    clone.merge_upsert(_df(spark, [(1, "A", "2024"), (5, "e", "2025")]), ["id"])
    got = {(r.id, r.v) for r in clone.snapshot(spark).collect()}
    assert got == {(1, "A"), (2, "b"), (5, "e")}
    # source bytes and view unchanged
    assert _parquet_under(tbl.table_path) == src_files
    assert {(r.id, r.v) for r in tbl.snapshot(spark).collect()} == {
        (1, "a"),
        (2, "b"),
    }
    # the unaffected 2025 cloned file is still referenced in place
    state = clone._replay(clone.latest_version())
    assert any("base" in a for a in state["files"].values())


def test_clone_of_clone_keeps_original_base(spark, tbl, tmp_path):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    c1 = TransactionLog(tmp_path / "c1")
    tbl.clone_to(c1.table_path)
    c2 = TransactionLog(tmp_path / "c2")
    c1.clone_to(c2.table_path)
    state = c2._replay(1)
    assert all(
        a["base"] == str(tbl.table_path.resolve())
        for a in state["files"].values()
    )
    assert _ids(c2.snapshot(spark)) == [1]


# ---- column mapping (rename / drop without rewrite) ------------------------


def test_rename_column_is_metadata_only(spark, tbl):
    """RENAME COLUMN commits zero data files; reads alias the frozen
    physical name to the new logical one, and time travel shows each
    version under ITS name."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    before = _parquet_under(tbl.table_path)
    v = tbl.rename_column("v", "val")
    assert v == 2
    assert _parquet_under(tbl.table_path) == before  # zero bytes moved
    snap = tbl.snapshot(spark)
    assert sorted(snap.columns) == ["id", "val", "year"]
    assert sorted((r.id, r.val) for r in snap.collect()) == [(1, "a"), (2, "b")]
    # time travel: v1 still reads under the OLD name
    assert sorted(tbl.snapshot(spark, version=1).columns) == ["id", "v", "year"]
    with pytest.raises(ValueError, match="already exists"):
        tbl.rename_column("id", "val")
    with pytest.raises(ValueError, match="no column"):
        tbl.rename_column("nope", "x")


def test_rename_partition_column_and_appends(spark, tbl):
    """Partition columns rename too: hive dirs keep the physical name,
    reads alias, and appends written under the NEW logical name land
    in the same physical layout."""
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.rename_column("year", "yr")
    tbl.append(spark.createDataFrame([(2, "b", "2024")], ["id", "v", "yr"]))
    snap = tbl.snapshot(spark)
    assert sorted(snap.columns) == ["id", "v", "yr"]
    assert sorted((r.id, r.yr) for r in snap.collect()) == [
        (1, "2024"),
        (2, "2024"),
    ]
    # both files physically live under year=2024 (frozen physical dir)
    files = tbl._replay(tbl.latest_version())["files"]
    assert all(rel.startswith("year=2024/") for rel in files)
    # stale logical partition key now refused
    with pytest.raises(ValueError, match="partition keys"):
        tbl.append(_df(spark, [(3, "c", "2024")]), ["year"])


def test_drop_column_then_readd_never_resurrects(spark, tbl):
    """DROP retires the physical name; a later evolve-append re-adding
    the same logical name binds a FRESH physical, so the dead bytes in
    old files never leak back."""
    tbl.append(_df(spark, [(1, "secret", "2024")]), ["year"])
    tbl.drop_column("v")
    assert sorted(tbl.snapshot(spark).columns) == ["id", "year"]
    tbl.append(
        spark.createDataFrame([(2, "new", "2024")], ["id", "v", "year"]),
        evolve_schema=True,
    )
    got = {(r.id, r.v) for r in tbl.snapshot(spark).collect()}
    assert got == {(1, None), (2, "new")}  # old 'secret' stays dead
    state = tbl._replay(tbl.latest_version())
    assert state["retired_physical"] == ["v"]
    assert state["column_mapping"]["v"].startswith("v_")
    with pytest.raises(ValueError, match="partition key"):
        tbl.drop_column("year")


def test_rename_data_skipping_and_predicates(spark, tbl):
    """snapshot(where=...) on a renamed column still prunes: the
    logical predicate is translated to the frozen physical name before
    the stats/partition-value bound math."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    tbl.rename_column("year", "yr")
    tbl.rename_column("id", "key")
    assert len(tbl.matching_files("yr = '2024'")) == 1
    assert len(tbl.matching_files("key >= 2")) == 1
    got = tbl.snapshot(spark, where="yr = '2024' AND key <= 1").collect()
    assert [(r.key, r.yr) for r in got] == [(1, "2024")]


@pytest.mark.slow
def test_rename_merge_delete_and_feed_span_rename(spark, tbl):
    """Copy-on-write MERGE and DV DELETE on a renamed table write
    physical bytes under the frozen names, and a change feed spanning
    the rename comes back entirely under the to-version names."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    tbl.rename_column("v", "val")  # v2
    tbl.merge_upsert(
        spark.createDataFrame([(1, "UPD", "2024")], ["id", "val", "year"]),
        ["id"],
    )  # v3
    tbl.delete_where(spark, "id = 2", mode="dv")  # v4
    assert sorted(
        (r.id, r.val) for r in tbl.snapshot(spark).collect()
    ) == [(1, "UPD")]
    feed = tbl.read_change_feed(spark, 1)
    rows = sorted(
        (r.id, r.val, r._change_type, r._commit_version)
        for r in feed.collect()
    )
    assert rows == [
        (1, "UPD", "update_postimage", 3),
        (1, "a", "update_preimage", 3),
        (2, "b", "delete", 4),
    ]
    # staged bytes kept the PHYSICAL name (v), not the logical alias
    import pyarrow.parquet as pq

    merged = [
        p
        for p in tbl.table_path.rglob("*.parquet")
        if "_txn_log" not in p.parts and "_cdf" not in p.parts and "_dv" not in p.parts
    ]
    assert all("v" in pq.ParquetFile(p).schema_arrow.names for p in merged)
    assert not any(
        "val" in pq.ParquetFile(p).schema_arrow.names for p in merged
    )


def test_rename_restore_rewinds_mapping(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.rename_column("v", "val")
    tbl.restore(1)
    snap = tbl.snapshot(spark)
    assert sorted(snap.columns) == ["id", "v", "year"]
    assert tbl._replay(tbl.latest_version())["column_mapping"] == {}


def test_rename_blocked_by_referencing_constraint(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.add_check_constraint(spark, "pos_id", "id > 0")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        tbl.rename_column("id", "key")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        tbl.drop_column("id")
    tbl.drop_check_constraint("pos_id")
    tbl.rename_column("id", "key")
    assert sorted(tbl.snapshot(spark).columns) == ["key", "v", "year"]


def test_append_racing_rename_raises(spark, tbl, monkeypatch):
    """A blind append whose staged bytes predate a concurrent RENAME
    must not land: its physical layout was planned under the old
    mapping."""
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    orig = TransactionLog._stage_files
    raced = {"done": False}

    def stage_then_rename(self, *a, **k):
        adds = orig(self, *a, **k)
        if not raced["done"]:
            raced["done"] = True
            TransactionLog(self.table_path).rename_column("v", "val")
        return adds

    monkeypatch.setattr(TransactionLog, "_stage_files", stage_then_rename)
    with pytest.raises(ConcurrentCommitError, match="rename/drop"):
        tbl.append(_df(spark, [(2, "b", "2024")]))


@pytest.mark.slow
def test_rename_connector_batch_and_stream(spark, tbl, tmp_path):
    """The Python Data Source reads mapped tables: physical file
    columns alias to the logical view, partition values inject under
    the logical name, and the streaming sink refuses mapped tables
    loudly."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.lakehouse_source import (
        register_lakehouse_source,
    )

    register_lakehouse_source(spark)
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    tbl.rename_column("year", "yr")
    tbl.delete_where(spark, "id = 2", mode="dv")
    got = spark.read.format("lakehouse").load(str(tbl.table_path))
    assert sorted(got.columns) == ["id", "v", "yr"]
    assert sorted((r.id, r.yr) for r in got.collect()) == [(1, "2024")]

    q = (
        spark.readStream.format("lakehouse")
        .option("skipChangeCommits", "true")
        .load(str(tbl.table_path))
        .writeStream.format("memory")
        .queryName("maptest")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from maptest").collect()
    assert sorted(r.yr for r in rows) == ["2024", "2025"]  # pre-DV commits

    # the sink's refusal fires at writer construction
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.lakehouse_source import (
        LakehouseStreamWriter,
    )

    with pytest.raises(ValueError, match="renamed columns"):
        LakehouseStreamWriter(
            str(tbl.table_path), tbl.snapshot(spark).schema, [], None
        )


# ---- partition spec evolution ---------------------------------------------


def _layouts(tbl):
    files = tbl._replay(tbl.latest_version())["files"]
    return sorted(
        {tuple(sorted(a.get("partition_values") or {})) for a in files.values()}
    ), files


def test_partition_spec_evolution_mixed_layouts(spark, tbl):
    """set_partition_spec changes the layout for FUTURE writes only:
    old files keep their hive dirs and stay referenced (zero rewrite),
    reads union the layout generations, and per-file pruning works on
    both (old files via partition values, new via column stats — and
    vice versa for the new spec's column)."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    before = _parquet_under(tbl.table_path)
    tbl.set_partition_spec(["v"])
    assert _parquet_under(tbl.table_path) == before  # metadata-only
    tbl.append(_df(spark, [(3, "c", "2024"), (4, "d", "2026")]))

    layouts, files = _layouts(tbl)
    assert layouts == [("v",), ("year",)]
    got = sorted((r.id, r.v, r.year) for r in tbl.snapshot(spark).collect())
    assert got == [(1, "a", "2024"), (2, "b", "2025"), (3, "c", "2024"), (4, "d", "2026")]
    # pruning across generations: year=2024 keeps the old 2024 dir file
    # (partition value) plus the one new file whose stats span 2024
    assert len(tbl.matching_files("year = '2024'")) == 2
    assert len(tbl.matching_files("v = 'c'")) == 1
    with pytest.raises(ValueError, match="not in"):
        tbl.set_partition_spec(["nope"])
    with pytest.raises(ValueError, match="already"):
        tbl.set_partition_spec(["v"])


def test_partition_spec_compact_migrates_layout(spark, tbl):
    """OPTIMIZE after a spec change rewrites what it touches into the
    CURRENT spec — the incremental path from old layout to new."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    tbl.set_partition_spec(["v"])
    tbl.append(_df(spark, [(3, "c", "2024")]))
    tbl.delete_where(spark, "id = 2", mode="dv")
    tbl.compact(spark, target_files_per_partition=1)
    layouts, files = _layouts(tbl)
    assert layouts == [("v",)]  # everything migrated
    assert tbl._replay(tbl.latest_version())["dvs"] == []
    assert _ids(tbl.snapshot(spark)) == [1, 3]


def test_partition_spec_to_unpartitioned_and_back(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.set_partition_spec([])
    tbl.append(_df(spark, [(2, "b", "2025")]))
    layouts, _ = _layouts(tbl)
    assert layouts == [(), ("year",)]
    tbl.set_partition_spec(["year"])
    tbl.append(_df(spark, [(3, "c", "2026")]))
    assert _ids(tbl.snapshot(spark)) == [1, 2, 3]
    assert {r.year for r in tbl.snapshot(spark).collect()} == {
        "2024", "2025", "2026",
    }


def test_append_racing_spec_change_commits_new_spec(spark, tbl, monkeypatch):
    """A blind append that loses the version race to a concurrent
    set_partition_spec commits THEIR spec (its own files keep the old
    layout — mixed generations read fine) instead of reverting layout
    authority."""
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    orig = TransactionLog._stage_files
    raced = {"done": False}

    def stage_then_respec(self, *a, **k):
        adds = orig(self, *a, **k)
        if not raced["done"]:
            raced["done"] = True
            TransactionLog(self.table_path).set_partition_spec(["v"])
        return adds

    monkeypatch.setattr(TransactionLog, "_stage_files", stage_then_respec)
    v = tbl.append(_df(spark, [(2, "b", "2024")]))
    st = tbl._replay(v)
    assert st["partition_keys"] == ["v"]  # theirs won
    assert _ids(tbl.snapshot(spark)) == [1, 2]
    # the next append (no race) lands under the new spec
    monkeypatch.setattr(TransactionLog, "_stage_files", orig)
    tbl.append(_df(spark, [(3, "c", "2024")]))
    layouts, _ = _layouts(tbl)
    assert ("v",) in layouts


def test_partition_spec_restore_rewinds_spec(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.set_partition_spec(["v"])
    tbl.append(_df(spark, [(2, "b", "2024")]))
    tbl.restore(1)
    assert tbl._replay(tbl.latest_version())["partition_keys"] == ["year"]
    tbl.append(_df(spark, [(4, "d", "2027")]))
    layouts, files = _layouts(tbl)
    assert layouts == [("year",)]
    assert _ids(tbl.snapshot(spark)) == [1, 4]


def test_partition_spec_with_renamed_partition_column(spark, tbl):
    """Spec evolution composes with column mapping: the spec is stored
    in PHYSICAL names, so evolving to a renamed column's new logical
    name resolves through the mapping."""
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.rename_column("v", "val")
    tbl.set_partition_spec(["val"])  # logical name of physical 'v'
    assert tbl._replay(tbl.latest_version())["partition_keys"] == ["v"]
    tbl.append(
        spark.createDataFrame([(2, "b", "2025")], ["id", "val", "year"])
    )
    files = tbl._replay(tbl.latest_version())["files"]
    assert any(rel.startswith("v=b/") for rel in files)  # physical dir
    got = sorted((r.id, r.val, r.year) for r in tbl.snapshot(spark).collect())
    assert got == [(1, "a", "2024"), (2, "b", "2025")]


# ---- protocol reader features ---------------------------------------------


def test_reader_features_declared_and_monotone(spark, tbl, tmp_path):
    """Commits whose semantics an unaware reader would silently
    misread declare the required feature; the set is monotone across
    later commits (the published table-features protocol design)."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2024")]), ["year"])
    assert tbl._replay(1)["reader_features"] == set()
    tbl.rename_column("v", "val")
    tbl.delete_where(spark, "id = 2", mode="dv")
    feats = tbl._replay(tbl.latest_version())["reader_features"]
    assert feats == {"columnMapping", "deletionVectors"}
    # monotone through a compaction that drops the vectors
    tbl.compact(spark, target_files_per_partition=1)
    assert tbl._replay(tbl.latest_version())["reader_features"] == feats
    clone = TransactionLog(tmp_path / "c")
    tbl.clone_to(clone.table_path)
    assert clone._replay(1)["reader_features"] == feats | {"externalFiles"}


def test_unknown_reader_feature_refuses_reads(spark, tbl):
    """A table requiring a feature this build does not know must fail
    loudly on EVERY read path — an unaware read would return wrong
    data, which is worse."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        UnsupportedTableFeatureError,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.lakehouse_source import (
        register_lakehouse_source,
    )

    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    # a future writer lands a commit requiring a feature we don't have
    rec = json.loads((tbl.log_path / f"{str(1).zfill(20)}.json").read_text())
    rec2 = dict(
        rec,
        version=2,
        op="future_op",
        add=[],
        remove=[],
        reader_features=["timeTravelByRowId"],
    )
    (tbl.log_path / f"{str(2).zfill(20)}.json").write_text(json.dumps(rec2))

    with pytest.raises(UnsupportedTableFeatureError, match="timeTravelByRowId"):
        tbl.snapshot(spark)
    with pytest.raises(UnsupportedTableFeatureError):
        tbl.read_change_feed(spark, 1)
    register_lakehouse_source(spark)
    with pytest.raises(Exception, match="timeTravelByRowId"):
        spark.read.format("lakehouse").load(str(tbl.table_path)).collect()
    # pinned reads BEFORE the feature commit still work
    assert _ids(tbl.snapshot(spark, version=1)) == [1]


# ---- generated columns -----------------------------------------------------


@pytest.mark.slow
def test_generated_column_computed_validated_partitions(spark, tbl):
    """A declared generated column is computed for writes that omit
    it, validated on the staged bytes for writes that supply it, and
    serves as a partition key (the hidden-partitioning layout
    pattern: writers only supply the source column)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        ConstraintViolationError,
    )

    tbl.add_generated_column("yr", "substring(d, 1, 4)")
    df = spark.createDataFrame(
        [(1, "2024-03-01"), (2, "2025-07-09")], ["id", "d"]
    )
    tbl.append(df, ["yr"])
    snap = tbl.snapshot(spark)
    assert sorted(snap.columns) == ["d", "id", "yr"]
    assert sorted((r.id, r.yr) for r in snap.collect()) == [
        (1, "2024"),
        (2, "2025"),
    ]
    files = tbl._replay(tbl.latest_version())["files"]
    assert sorted({rel.split("/")[0] for rel in files}) == [
        "yr=2024",
        "yr=2025",
    ]
    assert len(tbl.matching_files("yr = '2024'")) == 1

    # a supplied-but-wrong value is refused on the STAGED bytes
    with pytest.raises(ConstraintViolationError, match="_gen_yr"):
        tbl.append(
            spark.createDataFrame(
                [(3, "2026-01-01", "1999")], ["id", "d", "yr"]
            )
        )
    # merge computes it for the source side too
    tbl.merge_upsert(
        spark.createDataFrame([(1, "2024-12-31")], ["id", "d"]), ["id"]
    )
    assert sorted((r.id, r.yr) for r in tbl.snapshot(spark).collect()) == [
        (1, "2024"),
        (2, "2025"),
    ]
    # several more commits so replay goes through a checkpoint
    tbl.append(spark.createDataFrame([(7, "2027-01-01")], ["id", "d"]))
    tbl.append(spark.createDataFrame([(8, "2028-01-01")], ["id", "d"]))
    assert tbl._replay(tbl.latest_version())["generated"] == {
        "yr": "substring(d, 1, 4)"
    }


def test_generated_column_declaration_rules(spark, tbl):
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    with pytest.raises(ValueError, match="already holds data files"):
        tbl.add_generated_column("yr", "substring(year, 1, 4)")


def test_generated_column_blocks_rename_drop_and_stream_sink(spark, tbl):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.lakehouse_source import (
        LakehouseStreamWriter,
    )

    tbl.add_generated_column("yr", "substring(d, 1, 4)")
    tbl.append(spark.createDataFrame([(1, "2024-01-01")], ["id", "d"]), ["yr"])
    with pytest.raises(ValueError, match="generated"):
        tbl.rename_column("d", "dt")  # referenced by the expression
    with pytest.raises(ValueError, match="generated"):
        tbl.rename_column("yr", "y")  # the generated column itself
    with pytest.raises(ValueError, match="generated"):
        LakehouseStreamWriter(
            str(tbl.table_path), tbl.snapshot(spark).schema, [], None
        )


def test_vacuum_dry_run_and_history_metrics(spark, tbl):
    """VACUUM ... DRY RUN lists candidates without deleting; commit
    history exposes DESCRIBE-HISTORY operation metrics derived from
    the footer-harvested add actions."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    tbl.overwrite(_df(spark, [(3, "c", "2024")]), ["year"])

    candidates = tbl.vacuum(retain_versions=1, min_age_s=0, dry_run=True)
    assert len(candidates) == 2  # v1's two partition files, listed only
    assert all((tbl.table_path / c).exists() for c in candidates)
    assert _ids(tbl.snapshot(spark, version=1)) == [1, 2]  # untouched

    assert tbl.vacuum(retain_versions=1, min_age_s=0) == candidates

    h = tbl.history()
    m1 = h[0].operation_metrics
    assert (m1["num_added_files"], m1["num_added_rows"]) == (2, 2)
    m2 = h[1].operation_metrics
    assert m2["num_removed_files"] == 2
    assert m2["num_added_rows"] == 1
    assert m2["bytes_added"] > 0


def test_parquet_checkpoint_and_legacy_json_compat(spark, tbl):
    """Checkpoints store file actions COLUMNAR (parquet) next to a
    small JSON metadata sidecar; a legacy single-JSON checkpoint (the
    pre-parquet form, files inline) still loads, and a torn pair
    (metadata without its parquet) falls back to older checkpoints
    instead of failing."""
    for i in range(4):  # checkpoint_interval=3 → checkpoint at v3
        tbl.append(_df(spark, [(i, f"r{i}", "2024")]), ["year"])
    ck_json = tbl.log_path / f"_checkpoint.{str(3).zfill(20)}.json"
    ck_parq = tbl.log_path / f"_checkpoint.{str(3).zfill(20)}.parquet"
    assert ck_json.exists() and ck_parq.exists()
    meta = json.loads(ck_json.read_text())
    assert "files" not in meta  # actions live in the parquet half
    assert _ids(tbl.snapshot(spark)) == [0, 1, 2, 3]
    full = tbl._replay(4, use_checkpoint=False)
    via_ckpt = tbl._replay(4)
    assert via_ckpt["files"] == full["files"]
    assert via_ckpt["schema"] == full["schema"]

    # legacy form: one JSON with files inline — still loads
    legacy = dict(meta, files=sorted(full["files"].items()))
    ck_parq.unlink()
    ck_json.write_text(json.dumps(legacy))
    assert tbl._replay(4)["files"] == full["files"]

    # torn pair: metadata without parquet or inline files → fall back
    # (here: no older checkpoint, so full replay from v1)
    ck_json.write_text(json.dumps(meta))
    assert tbl._replay(4)["files"] == full["files"]


@pytest.mark.slow
def test_checkpoint_scales_to_many_files(spark, tbl):
    """A checkpoint over thousands of add actions round-trips exactly
    (the columnar form is the 10^6-file path at 100 TB; this pins the
    encoding at 4-digit scale)."""
    df = spark.createDataFrame(
        [(i, f"v{i}", "2024") for i in range(3000)], ["id", "v", "year"]
    ).repartition(4)
    tbl.append(df, ["year"], max_records_per_file=2)  # ~1500 files
    tbl.append(_df(spark, [(9001, "x", "2025")]))
    tbl.append(_df(spark, [(9002, "y", "2025")]))  # v3 → checkpoint
    full = tbl._replay(3, use_checkpoint=False)
    via = tbl._replay(3)
    assert len(full["files"]) > 1000
    assert via["files"] == full["files"]
    assert tbl.snapshot(spark).count() == 3002


def test_create_table_contract_before_first_writer(spark, tbl):
    """Explicit CREATE TABLE commits schema authority, partition spec,
    constraints, and generated declarations before any data exists; a
    created-but-empty table snapshots as an empty frame under its
    schema, and the first writers inherit the full contract."""
    from pyspark.sql.types import StructType
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        ConstraintViolationError,
    )

    schema = (
        StructType()
        .add("id", "long")
        .add("d", "string")
        .add("yr", "string")
    )
    assert (
        tbl.create(
            schema,
            partition_keys=["yr"],
            constraints={"pos_id": "id > 0"},
            generated={"yr": "substring(d, 1, 4)"},
        )
        == 1
    )
    empty = tbl.snapshot(spark)
    assert empty.columns == ["id", "d", "yr"] and empty.count() == 0

    # writer supplies only (id, d): yr computed, landed in its dir,
    # frame order normalized to the CREATE order
    tbl.append(spark.createDataFrame([(1, "2024-02-03")], ["id", "d"]))
    got = tbl.snapshot(spark).collect()
    assert [(r.id, r.yr) for r in got] == [(1, "2024")]
    files = tbl._replay(tbl.latest_version())["files"]
    assert all(rel.startswith("yr=2024/") for rel in files)
    # the created constraint enforces from write one
    with pytest.raises(ConstraintViolationError, match="pos_id"):
        tbl.append(spark.createDataFrame([(-9, "2024-01-01")], ["id", "d"]))
    with pytest.raises(ValueError, match="already has commits"):
        tbl.create(schema)
    with pytest.raises(ValueError, match="not in"):
        TransactionLog(tbl.table_path.parent / "t2").create(
            schema, partition_keys=["nope"]
        )


# ---- UPDATE ... SET ... WHERE ----------------------------------------------


def test_update_where_cow_semantics(spark, tbl):
    """UPDATE rewrites ONLY files containing matches, carries missed
    rows unchanged, evaluates every SET against the PRE-update row
    (swap works), treats NULL predicates as no-match, stages exact
    pre/postimage CDF rows, and a zero-match update commits nothing."""
    tbl.append(
        spark.createDataFrame(
            [(1, 10.0, "2024"), (2, 20.0, "2024"), (3, 30.0, "2025")],
            ["id", "p", "year"],
        ),
        ["year"],
    )
    before = tbl._replay(1)["files"]
    f25 = {r for r in before if r.startswith("year=2025")}
    v = tbl.update_where(spark, {"p": "p * 2"}, "id <= 2")
    assert v == 2
    got = sorted((r.id, r.p) for r in tbl.snapshot(spark).collect())
    assert got == [(1, 20.0), (2, 40.0), (3, 30.0)]
    after = tbl._replay(v)["files"]
    assert {r for r in after if r.startswith("year=2025")} == f25  # pruned
    feed = tbl.read_change_feed(spark, 1)
    assert sorted((r.id, r.p, r._change_type) for r in feed.collect()) == [
        (1, 10.0, "update_preimage"),
        (1, 20.0, "update_postimage"),
        (2, 20.0, "update_preimage"),
        (2, 40.0, "update_postimage"),
    ]
    # no-match: metadata no-op, version unchanged
    assert tbl.update_where(spark, {"p": "0.0"}, "id = 99") == v
    with pytest.raises(ValueError, match="SET columns"):
        tbl.update_where(spark, {"nope": "1"}, "id = 1")


def test_update_swap_and_generated_recompute(spark, tbl):
    """SET expressions all see the pre-update row (a=b, b=a swaps);
    updating a generated column's SOURCE recomputes the generated
    value, and SETting the generated column directly is refused."""
    tbl.add_generated_column("yr", "substring(d, 1, 4)")
    tbl.append(
        spark.createDataFrame([(1, "2024-05-05")], ["id", "d"]), ["yr"]
    )
    tbl.update_where(spark, {"d": "'2030-01-01'"}, "id = 1")
    r = tbl.snapshot(spark).collect()[0]
    assert (r.d, r.yr) == ("2030-01-01", "2030")  # generated follows
    files = tbl._replay(tbl.latest_version())["files"]
    assert all(rel.startswith("yr=2030/") for rel in files)
    with pytest.raises(ValueError, match="GENERATED"):
        tbl.update_where(spark, {"yr": "'1999'"}, "id = 1")

    t2 = TransactionLog(tbl.table_path.parent / "swap")
    t2.append(spark.createDataFrame([(1, 5.0, 7.0)], ["id", "a", "b"]))
    t2.update_where(spark, {"a": "b", "b": "a"}, "id = 1")
    assert [(r.a, r.b) for r in t2.snapshot(spark).collect()] == [(7.0, 5.0)]


def test_update_on_renamed_and_dv_table(spark, tbl):
    """UPDATE composes with column mapping (logical SET on a renamed
    column writes the frozen physical bytes) and with active deletion
    vectors (deleted rows are not updated or resurrected)."""
    tbl.append(
        spark.createDataFrame(
            [(1, 10.0, "2024"), (2, 20.0, "2024")], ["id", "p", "year"]
        ),
        ["year"],
    )
    tbl.rename_column("p", "price")
    tbl.delete_where(spark, "id = 2", mode="dv")
    tbl.update_where(spark, {"price": "price + 1"}, "id >= 1")
    got = sorted((r.id, r.price) for r in tbl.snapshot(spark).collect())
    assert got == [(1, 11.0)]  # row 2 stays deleted, not updated back


# ---- identity columns ------------------------------------------------------


@pytest.mark.slow
def test_identity_column_allocation(spark, tbl):
    """GENERATED ALWAYS AS IDENTITY: values allocate above the
    committed watermark per write (unique across appends, never
    reused after overwrite), merge keeps matched rows' ids and
    allocates for inserts, supplied values and SETs are refused, and
    the declaration blocks rename/drop."""
    from pyspark.sql.types import StructType

    schema = StructType().add("rid", "long").add("name", "string")
    tbl.create(schema, identity={"rid": {"start": 100, "step": 2}})
    tbl.append(spark.createDataFrame([("a",), ("b",)], ["name"]))
    first = {r.name: r.rid for r in tbl.snapshot(spark).collect()}
    assert all(i >= 100 and (i - 100) % 2 == 0 for i in first.values())
    assert len(set(first.values())) == 2

    tbl.append(spark.createDataFrame([("c",)], ["name"]))
    snap = {r.name: r.rid for r in tbl.snapshot(spark).collect()}
    assert len(set(snap.values())) == 3
    assert snap["c"] > max(first.values())  # above the watermark

    # merge: matched keeps its id, insert allocates a fresh one
    tbl.merge_upsert(spark.createDataFrame([("a",), ("z",)], ["name"]), ["name"])
    after = {r.name: r.rid for r in tbl.snapshot(spark).collect()}
    assert after["a"] == first["a"]
    assert after["z"] not in set(snap.values())
    assert len(set(after.values())) == 4

    # overwrite still allocates ABOVE the old watermark
    tbl.overwrite(spark.createDataFrame([("q",)], ["name"]))
    q_id = tbl.snapshot(spark).collect()[0].rid
    assert q_id > max(after.values())

    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        tbl.append(spark.createDataFrame([(1, "x")], ["rid", "name"]))
    with pytest.raises(ValueError, match="IDENTITY"):
        tbl.update_where(spark, {"rid": "1"}, "name = 'q'")
    with pytest.raises(ValueError, match="identity"):
        tbl.rename_column("rid", "row_id")
    with pytest.raises(ValueError, match="identity"):
        tbl.drop_column("rid")


def test_identity_racing_append_raises(spark, tbl, monkeypatch):
    """Two appends allocating from the same read-time watermark would
    hand out overlapping ids — the loser of the version race must
    raise, never rebase."""
    from pyspark.sql.types import StructType

    schema = StructType().add("rid", "long").add("name", "string")
    tbl.create(schema, identity={"rid": {}})
    tbl.append(spark.createDataFrame([("seed",)], ["name"]))
    orig = TransactionLog._stage_files
    raced = {"done": False}

    def stage_then_race(self, *a, **k):
        adds = orig(self, *a, **k)
        if not raced["done"]:
            raced["done"] = True
            TransactionLog(self.table_path).append(
                spark.createDataFrame([("intruder",)], ["name"])
            )
        return adds

    monkeypatch.setattr(TransactionLog, "_stage_files", stage_then_race)
    with pytest.raises(ConcurrentCommitError, match="identity allocation"):
        tbl.append(spark.createDataFrame([("late",)], ["name"]))


def test_clone_carries_generated_and_identity_declarations(spark, tbl, tmp_path):
    """Writes to a clone must compute generated columns and allocate
    identity values exactly like writes to the source — the
    declarations travel with the clone commit."""
    from pyspark.sql.types import StructType

    schema = (
        StructType().add("rid", "long").add("d", "string").add("yr", "string")
    )
    tbl.create(
        schema,
        identity={"rid": {"start": 1, "step": 1}},
        generated={"yr": "substring(d, 1, 4)"},
    )
    tbl.append(spark.createDataFrame([("2024-01-01",)], ["d"]))
    c = TransactionLog(tmp_path / "c")
    tbl.clone_to(c.table_path)
    st = c._replay(1)
    assert st["generated"] == {"yr": "substring(d, 1, 4)"}
    assert st["identity"]["rid"]["high"] > 1

    c.append(spark.createDataFrame([("2025-02-02",)], ["d"]))
    rows = {(r.d, r.yr) for r in c.snapshot(spark).collect()}
    assert rows == {("2024-01-01", "2024"), ("2025-02-02", "2025")}
    rids = [r.rid for r in c.snapshot(spark).collect()]
    assert len(set(rids)) == 2 and all(r is not None for r in rids)


# ---- bloom filter index ----------------------------------------------------


@pytest.mark.slow
def test_bloom_index_point_lookup_skipping(spark, tbl):
    """A declared bloom index prunes equality/IN lookups on a
    high-cardinality UNSORTED column whose per-file min/max spans the
    domain; results stay exact (no false negatives by construction),
    pre-declaration files simply never bloom-skip, and OPTIMIZE
    indexes what it rewrites."""
    import random

    rng = random.Random(42)
    keys = list(range(10000, 10400))
    rng.shuffle(keys)
    df = spark.createDataFrame(
        [(k, f"u{k}") for k in keys], ["custkey", "name"]
    ).coalesce(1)
    tbl.append(df, max_records_per_file=100)  # 4 files, pre-declaration
    tbl.add_bloom_index("custkey")
    # pre-declaration files have no bloom: no skipping beyond stats
    assert all(
        "bloom" not in a
        for a in tbl._replay(tbl.latest_version())["files"].values()
    )
    tbl.compact(spark, target_files_per_partition=4)
    files = tbl._replay(tbl.latest_version())["files"]
    assert all("bloom" in a for a in files.values())

    target = keys[123]
    m = tbl.matching_files(f"custkey = {target}")
    assert len(m) < len(files)  # bloom pruned something
    got = tbl.snapshot(spark, where=f"custkey = {target}").collect()
    assert [(r.custkey, r.name) for r in got] == [(target, f"u{target}")]
    # absent key: every bloom says no
    assert tbl.matching_files("custkey = 99999999") == []
    # IN-list unions the per-literal verdicts
    m2 = tbl.matching_files(f"custkey IN ({keys[1]}, {keys[300]})")
    assert 1 <= len(m2) <= len(files)



@pytest.mark.slow
def test_bloom_index_string_and_declaration_rules(spark, tbl):
    tbl.append(
        spark.createDataFrame(
            [(f"id-{i}", float(i)) for i in range(300)], ["uid", "x"]
        ).coalesce(1),
        max_records_per_file=100,
    )
    with pytest.raises(ValueError, match="hash-canonical"):
        tbl.add_bloom_index("x")  # float: str() not canonical
    tbl.add_bloom_index("uid", fpp=0.001)
    with pytest.raises(ValueError, match="already declared"):
        tbl.add_bloom_index("uid")
    tbl.compact(spark, target_files_per_partition=3)
    files = tbl._replay(tbl.latest_version())["files"]
    assert len(tbl.matching_files("uid = 'id-250'")) == 1
    assert tbl.matching_files("uid = 'missing'") == []
    # checkpoint round-trips the blooms (interval=3 hit at v3)
    via = tbl._replay(tbl.latest_version())
    full = tbl._replay(tbl.latest_version(), use_checkpoint=False)
    assert via["files"] == full["files"]
    assert via["bloom_index"] == {"uid": {"fpp": 0.001}}


# ---- round-7 conflict/metadata regressions --------------------------------


def test_append_racing_generated_declaration_raises(spark, tbl, monkeypatch):
    """A blind append that read an EMPTY pre-declaration table must not
    retry past an interleaved generated-column declaration: its staged
    rows never computed the column (they would read NULL, violating
    the declare-before-first-write invariant)."""
    orig = TransactionLog._stage_files
    raced = {"done": False}

    def stage_then_declare(self, *a, **k):
        adds = orig(self, *a, **k)
        if not raced["done"]:
            raced["done"] = True
            TransactionLog(self.table_path).add_generated_column(
                "twice", "v * 2"
            )
        return adds

    monkeypatch.setattr(TransactionLog, "_stage_files", stage_then_declare)
    with pytest.raises(ConcurrentCommitError, match="generated/identity"):
        tbl.append(spark.createDataFrame([(1, 10)], ["id", "v"]))
    # the loser left no trace; a re-run that sees the declaration works
    monkeypatch.setattr(TransactionLog, "_stage_files", orig)
    tbl.append(spark.createDataFrame([(1, 10)], ["id", "v"]))
    row = tbl.snapshot(spark).collect()[0]
    assert row.twice == 20


# ---- round-11 conflict regressions (ADVICE r10) ---------------------------


def test_append_racing_check_constraint_raises(spark, tbl, monkeypatch):
    """A blind append must not retry past a CHECK constraint that
    landed between its read and its commit: the staged rows were never
    validated against it (add_check_constraint's strict guard only
    covers commits landing during ITS validation scan), so without the
    reconcile-side check a violating batch would land unchecked —
    breaking the 'violating writes leave no trace' invariant."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        ConstraintViolationError,
    )

    tbl.append(_df(spark, [(1, "a", "2024")]))
    orig = TransactionLog._stage_files
    raced = {"done": False}

    def stage_then_constrain(self, *a, **k):
        adds = orig(self, *a, **k)
        if not raced["done"]:
            raced["done"] = True
            TransactionLog(self.table_path).add_check_constraint(
                spark, "pos", "id > 0"
            )
        return adds

    monkeypatch.setattr(TransactionLog, "_stage_files", stage_then_constrain)
    with pytest.raises(ConcurrentCommitError, match="CHECK constraints"):
        tbl.append(_df(spark, [(-5, "z", "2024")]))
    monkeypatch.setattr(TransactionLog, "_stage_files", orig)
    # loser left no trace; the re-run sees — and is gated by — the
    # interleaved constraint
    assert _ids(tbl.snapshot(spark)) == [1]
    with pytest.raises(ConstraintViolationError):
        tbl.append(_df(spark, [(-5, "z", "2024")]))
    tbl.append(_df(spark, [(2, "b", "2024")]))
    assert _ids(tbl.snapshot(spark)) == [1, 2]


def test_append_racing_constraint_drop_adopts(spark, tbl, monkeypatch):
    """The mirror case: a constraint DROPPED in the read→commit gap is
    harmless (our rows passed a superset), so the append adopts it —
    no spurious conflict, and the drop is not reverted."""
    tbl.append(_df(spark, [(1, "a", "2024")]))
    tbl.add_check_constraint(spark, "pos", "id > 0")
    orig = TransactionLog._stage_files
    raced = {"done": False}

    def stage_then_drop(self, *a, **k):
        adds = orig(self, *a, **k)
        if not raced["done"]:
            raced["done"] = True
            TransactionLog(self.table_path).drop_check_constraint("pos")
        return adds

    monkeypatch.setattr(TransactionLog, "_stage_files", stage_then_drop)
    tbl.append(_df(spark, [(2, "b", "2024")]))
    assert _ids(tbl.snapshot(spark)) == [1, 2]
    assert tbl._replay(tbl.latest_version())["constraints"] == {}


def test_publish_racing_check_constraint_raises(
    spark, tbl, tmp_path, monkeypatch
):
    """publish_from is the same blind-append commit shape, so the same
    race applies: a CHECK landing between publish's read and its
    commit must raise, not land never-validated staged rows."""
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    stg = TransactionLog(tmp_path / "stg")
    tbl.clone_to(stg.table_path)
    stg.append(_df(spark, [(-3, "c", "2024")]))
    orig = TransactionLog._try_commit
    raced = {"done": False}

    def race_then_commit(self, version, record):
        if not raced["done"]:
            raced["done"] = True
            TransactionLog(self.table_path).add_check_constraint(
                spark, "pos", "id > 0"
            )
        return orig(self, version, record)

    monkeypatch.setattr(TransactionLog, "_try_commit", race_then_commit)
    with pytest.raises(ConcurrentCommitError, match="CHECK constraints"):
        tbl.publish_from(stg, since_version=1, spark=spark)
    assert _ids(tbl.snapshot(spark)) == [1]


@pytest.mark.slow
def test_expire_snapshots_e2e(spark, tbl):
    """r10 VERDICT item 5: metadata retention.  expire → horizon
    advances, time travel INSIDE the horizon stays bit-identical,
    BELOW it raises a clear SnapshotExpiredError; vacuum's floor
    follows the horizon so files pinned only by expired snapshots
    reclaim; history/version_at_timestamp start at the horizon."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        SnapshotExpiredError,
    )

    for i in range(4):  # v1..v4
        tbl.append(_df(spark, [(i, f"v{i}", "2024")]))
    tbl.overwrite(_df(spark, [(100, "new", "2025")]))  # v5: old files dead
    tbl.append(_df(spark, [(101, "tail", "2025")]))  # v6
    latest = tbl.latest_version()
    assert latest == 6
    pre = {v: _ids(tbl.snapshot(spark, version=v)) for v in (4, 5, 6)}

    info = tbl.expire_snapshots(retain_last=3)  # horizon = 4
    assert info["earliest"] == 4
    assert info["expired_versions"] == [1, 2, 3]
    assert tbl.earliest_version() == 4
    # bit-identical reads at/above the horizon
    for v, ids in pre.items():
        assert _ids(tbl.snapshot(spark, version=v)) == ids, v
    # below: clear expiry error, not "torn log"
    with pytest.raises(SnapshotExpiredError, match="earliest readable"):
        tbl.snapshot(spark, version=2)
    with pytest.raises(SnapshotExpiredError):
        tbl.read_changes(spark, 1, 3)
    assert [c.version for c in tbl.history()][0] == 4
    with pytest.raises(ValueError, match="expired"):
        tbl.version_at_timestamp("1990-01-01T00:00:00")

    # second expiry past the overwrite, then vacuum reclaims the four
    # append-era files (pinned until now by the retained v4)
    tbl.expire_snapshots(retain_last=2)  # horizon = 5
    assert tbl.earliest_version() == 5
    deleted = tbl.vacuum(retain_versions=99, min_age_s=0)
    assert len(deleted) >= 4
    for v in (5, 6):
        assert _ids(tbl.snapshot(spark, version=v)) == pre[v]
    # appends continue normally post-expiry
    tbl.append(_df(spark, [(102, "after", "2025")]))
    assert _ids(tbl.snapshot(spark)) == [100, 101, 102]


@pytest.mark.slow
def test_expire_snapshots_keeps_stream_txn_watermark(spark, tbl):
    """streamTxn idempotence watermarks from expired commits fold into
    the expiry marker — a stream resuming after retention GC still
    skips its already-committed batch (exactly-once survives)."""
    tbl.append(_df(spark, [(1, "a", "2024")]), txn_app="appA", txn_version=7)
    for i in range(2, 7):
        tbl.append(_df(spark, [(i, "x", "2024")]))
    tbl.expire_snapshots(retain_last=2)
    assert tbl.earliest_version() == tbl.latest_version() - 1
    assert tbl.last_txn_version("appA") == 7
    # replaying the old batch is a no-op, exactly like pre-expiry
    v0 = tbl.latest_version()
    got = tbl.append(
        _df(spark, [(1, "a", "2024")]), txn_app="appA", txn_version=7
    )
    assert got == v0 and tbl.latest_version() == v0


def test_first_idempotent_append_scans_the_log_once(spark, tbl, monkeypatch):
    """A new app's first ``append(txn_app=...)`` scans the log for the
    app's watermark once: the commit re-checks only the commits that
    landed after the append's own check, not the whole log again."""
    for i in range(9):  # v9 is a checkpoint: the replay reads no commit
        tbl.append(_df(spark, [(i, "x", "2024")]))
    n = tbl.latest_version()
    reads = []
    orig = TransactionLog._read_commit

    def counting(self, version):
        reads.append(version)
        return orig(self, version)

    monkeypatch.setattr(TransactionLog, "_read_commit", counting)
    v = tbl.append(_df(spark, [(99, "y", "2024")]), txn_app="new-app", txn_version=0)
    assert v == n + 1
    assert len(reads) <= n + 3, sorted(reads)
    # the watermark is recorded and a replay of the batch is a no-op
    assert tbl.last_txn_version("new-app") == 0
    assert tbl.append(_df(spark, [(99, "y", "2024")]), txn_app="new-app", txn_version=0) == v


@pytest.mark.slow
def test_metadata_tables_snapshots_and_files(spark, tbl):
    """snapshots_df / files_df — the Iceberg metadata-table / Delta
    DESCRIBE HISTORY inspection surface: queryable commit history and
    live-file manifest (file-level planning without touching data);
    the snapshots floor follows the expiry horizon."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])
    tbl.append(_df(spark, [(3, "c", "2024")]))
    tbl.delete_where(spark, "id = 2", mode="dv")
    snaps = tbl.snapshots_df(spark).orderBy("version").collect()
    assert [r.version for r in snaps] == [1, 2, 3]
    assert snaps[0].op == "append"
    assert snaps[0].n_added_files >= 1 and snaps[0].added_rows == 2
    assert snaps[0].added_bytes > 0
    files = tbl.files_df(spark).collect()
    state = tbl._replay(tbl.latest_version())
    assert len(files) == len(state["files"])
    assert any(r.has_deletion_vector for r in files)
    assert sum(r.n_rows for r in files) == 3  # physical rows; DV masks
    assert any('"year": "2024"' in r.partition_values for r in files)
    tbl.expire_snapshots(retain_last=2)
    assert [
        r.version for r in tbl.snapshots_df(spark).orderBy("version").collect()
    ] == [2, 3]


@pytest.mark.slow
def test_expire_snapshots_self_heals_crash_orphans(spark, tbl):
    """A crash between a previous expire's marker rename and its
    unlink loop leaves below-marker commit files the marker-derived
    range would never revisit — the next expire glob-sweeps them
    (even when nothing NEW expires), so the log cannot grow forever
    after one bad crash."""
    for i in range(6):
        tbl.append(_df(spark, [(i, "x", "2024")]))
    tbl.expire_snapshots(retain_last=3)  # horizon = 4
    # simulate the crash leftovers: commits 1 and 2 reappear on disk
    for v in (1, 2):
        (tbl.log_path / f"{v:020d}.json").write_text('{"orphan": true}')
    info = tbl.expire_snapshots(retain_last=3)  # nothing new to expire
    assert info["expired_versions"] == []
    assert info["swept_orphans"] == 2
    assert not (tbl.log_path / f"{1:020d}.json").exists()
    assert not (tbl.log_path / f"{2:020d}.json").exists()
    assert _ids(tbl.snapshot(spark)) == [0, 1, 2, 3, 4, 5]
    # the expired-range path also sweeps below its horizon
    for v in (1, 2):
        (tbl.log_path / f"{v:020d}.json").write_text('{"orphan": true}')
    tbl.append(_df(spark, [(9, "y", "2024")]))
    tbl.expire_snapshots(retain_last=3)  # horizon = 5: real work + sweep
    assert not (tbl.log_path / f"{1:020d}.json").exists()
    assert tbl.earliest_version() == 5


@pytest.mark.slow
def test_expire_snapshots_older_than_and_dry_run(spark, tbl):
    """older_than horizons cap at retain_last; dry_run deletes
    nothing."""
    for i in range(5):
        tbl.append(_df(spark, [(i, "r", "2024")]))
    far_future = "2999-01-01T00:00:00"
    preview = tbl.expire_snapshots(
        retain_last=2, older_than=far_future, dry_run=True
    )
    assert preview["dry_run"] and preview["expired_versions"] == [1, 2, 3]
    assert tbl.earliest_version() == 1  # nothing deleted
    # time bound stricter than retain_last: nothing is old enough
    info = tbl.expire_snapshots(retain_last=2, older_than="1990-01-01T00:00:00")
    assert info["expired_versions"] == []
    assert tbl.earliest_version() == 1
    # retain_last caps the far-future time bound at the newest 2
    info = tbl.expire_snapshots(retain_last=2, older_than=far_future)
    assert info["earliest"] == 4
    assert _ids(tbl.snapshot(spark)) == [0, 1, 2, 3, 4]


def test_publish_racing_partition_spec_change_raises(
    spark, tbl, tmp_path, monkeypatch
):
    """publish validated spec equality against staging at read time,
    so an interleaved set_partition_spec raises (strict_spec) instead
    of the append path's silent adoption — files must not land under a
    spec they were never checked against (docstring parity)."""
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    stg = TransactionLog(tmp_path / "stg")
    tbl.clone_to(stg.table_path)
    stg.append(_df(spark, [(3, "c", "2025")]))
    orig = TransactionLog._try_commit
    raced = {"done": False}

    def race_then_commit(self, version, record):
        if not raced["done"]:
            raced["done"] = True
            TransactionLog(self.table_path).set_partition_spec([])
        return orig(self, version, record)

    monkeypatch.setattr(TransactionLog, "_try_commit", race_then_commit)
    with pytest.raises(ConcurrentCommitError, match="partition-spec"):
        tbl.publish_from(stg, since_version=1)
    assert _ids(tbl.snapshot(spark)) == [1]


@pytest.mark.slow
def test_overwrite_rekeys_bloom_index(spark, tbl):
    """Overwrite resets column_mapping, so the bloom index (keyed by
    PHYSICAL names) must be re-keyed alongside: post-overwrite files
    keep building blooms under the new physical (= logical) names, and
    an index whose column the new frame dropped is removed rather than
    left to attach to an unrelated future column."""
    tbl.append(
        spark.createDataFrame(
            [(i, f"u{i}") for i in range(200)], ["custkey", "name"]
        ).coalesce(1),
        max_records_per_file=50,
    )
    tbl.add_bloom_index("custkey")
    tbl.rename_column("custkey", "ck")  # index stays keyed "custkey"
    assert "custkey" in tbl._replay(tbl.latest_version())["bloom_index"]
    tbl.overwrite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(300, 500)], ["ck", "name"]
        ).coalesce(1)
    )
    st = tbl._replay(tbl.latest_version())
    assert st["column_mapping"] == {}
    # re-keyed to the post-reset physical name...
    assert st["bloom_index"] == {"ck": {"fpp": 0.01}}
    # ...and the overwrite's own files already carry blooms under it
    assert all("ck" in (a.get("bloom") or {}) for a in st["files"].values())
    assert tbl.matching_files("ck = 99999999") == []
    got = tbl.snapshot(spark, where="ck = 321").collect()
    assert [(r.ck, r.name) for r in got] == [(321, "v321")]

    # an overwrite that DROPS the indexed column drops the index
    tbl.overwrite(spark.createDataFrame([("only",)], ["name"]))
    assert tbl._replay(tbl.latest_version())["bloom_index"] == {}


def test_merge_identity_ids_consistent_between_table_and_feed(spark, tbl):
    """The ids a merge commits to the table must be the ids its change
    feed delivers (the allocation is materialized once — a re-executed
    nondeterministic plan could diverge between the two stagings)."""
    from pyspark.sql.types import StructType

    schema = StructType().add("rid", "long").add("name", "string")
    tbl.create(schema, identity={"rid": {"start": 1, "step": 1}})
    tbl.append(spark.createDataFrame([("a",), ("b",)], ["name"]))
    v = tbl.merge_upsert(
        spark.createDataFrame([("a",), ("x",), ("y",)], ["name"]), ["name"]
    )
    table_ids = {r.name: r.rid for r in tbl.snapshot(spark).collect()}
    feed = tbl.read_change_feed(spark, from_version=v - 1, to_version=v)
    feed_ids = {
        r.name: r.rid
        for r in feed.collect()
        if r._change_type in ("insert", "update_postimage")
    }
    assert feed_ids == {n: table_ids[n] for n in feed_ids}


@pytest.mark.slow
def test_bloom_staging_runs_executor_side(spark, tbl, monkeypatch):
    """With a declared bloom index, staging's data-proportional work
    (re-reading the indexed column, hashing values) must run as ONE
    distributed job — the driver keeps only O(files) renames.  Without
    one, the cheap footer-only driver harvest still runs (no job-launch
    latency on metadata-priced appends)."""
    from pyspark import SparkContext

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark import (
        lakehouse,
    )

    df = spark.createDataFrame([(i, f"u{i}") for i in range(100)], ["k", "s"])
    calls = {"jobs": 0, "driver_harvests": 0}
    orig_harvest = lakehouse._harvest
    orig_parallelize = SparkContext.parallelize

    def harvest_spy(*a):
        # counts driver-side calls only: an executor runs a pickled copy
        calls["driver_harvests"] += 1
        return orig_harvest(*a)

    def parallelize_spy(self, *a, **k):
        calls["jobs"] += 1
        return orig_parallelize(self, *a, **k)

    monkeypatch.setattr(lakehouse, "_harvest", harvest_spy)
    monkeypatch.setattr(SparkContext, "parallelize", parallelize_spy)
    tbl.append(df.coalesce(1))
    # no index: footer-only driver harvest, no Spark job
    assert calls == {"jobs": 0, "driver_harvests": 1}
    tbl.add_bloom_index("k")
    tbl.append(df.coalesce(1), max_records_per_file=25)
    # index declared: one Spark job harvests all four files
    assert calls == {"jobs": 1, "driver_harvests": 1}
    st = tbl._replay(tbl.latest_version())
    indexed = [a for a in st["files"].values() if "bloom" in a]
    assert len(indexed) == 4  # every post-declaration file carries one
    assert tbl.matching_files("k = 999999") == []


# ---- staging contract ----------------------------------------------------

#: the keys (in order) of every committed entry kind; ``bloom`` follows
#: ``stats`` only on tables with a declared bloom index
_ADD_KEYS = ["path", "size", "rows", "partition_values", "stats"]
_CDF_KEYS = ["path", "size", "rows"]
_DV_KEYS = ["path", "size", "rows", "files"]
#: top-level keys of a row-level rewrite commit on a table without
#: live deletion vectors (``dvs`` joins them only when the read state
#: has some)
_REWRITE_KEYS = {
    "version", "op", "dataChange", "ts", "txn", "schema",
    "partition_keys", "add", "remove", "cdf", "column_mapping",
}
_TOP_KEYS = {
    "append": _REWRITE_KEYS - {"cdf"} | {"retired_physical"},
    "delete_dv": _REWRITE_KEYS | {"dv", "reader_features"},
    "update_dv": _REWRITE_KEYS | {"dv", "reader_features"},
    "compact": _REWRITE_KEYS - {"cdf"},
}


@pytest.mark.parametrize(
    "op, kinds",
    [
        ("append", {"add"}),
        ("merge", {"add", "cdf"}),
        ("merge_upsert", {"add", "cdf"}),
        ("delete_cow", {"add", "cdf"}),
        ("delete_dv", {"cdf", "dv"}),
        ("update", {"add", "cdf"}),
        ("compact", {"add"}),
        ("update_dv", {"add", "cdf", "dv"}),
    ],
)
def test_staging_commits_entry_contract(spark, tbl, monkeypatch, op, kinds):
    """Every write path stages through one routine: committed add / cdf
    / dv entries carry exactly their contract keys, the commit record
    exactly its top-level keys, and nothing staged but uncommitted — a
    ``_staging-*`` dir or a zero-row task output — is left in the table
    dir."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark import (
        lakehouse,
    )

    rows = [(i, f"v{i}", "2024" if i % 2 else "2025") for i in range(8)]
    base = spark.createDataFrame(rows, ["id", "v", "year"])
    # unpartitioned: only a single-directory write gives an empty task
    # its own (zero-row) file
    tbl.append(base)
    tbl.append(base.filter("id < 2"))
    zero_row = []
    orig = lakehouse._harvest

    def spy(*a):
        facts = orig(*a)
        if facts is None:
            zero_row.append(a[-1])
        return facts

    monkeypatch.setattr(lakehouse, "_harvest", spy)
    src = spark.createDataFrame([(1, "new", "2024"), (99, "ins", "2025")], ["id", "v", "year"])
    if op == "append":
        # task 0 is empty, and Spark still writes it a zero-row file
        tbl.append(base.repartition(4, "id").filter(F.spark_partition_id() != 0))
    elif op == "merge":
        tbl.merge(
            src, ["id"],
            when_matched=[{"action": "update", "set": "*"}],
            when_not_matched=[{"action": "insert", "values": "*"}],
        )
    elif op == "merge_upsert":
        tbl.merge_upsert(src, ["id"])
    elif op == "delete_cow":
        tbl.delete_where(spark, "id = 3")
    elif op == "delete_dv":
        tbl.delete_where(spark, "id = 3", mode="dv")
    elif op == "update":
        tbl.update_where(spark, {"v": "'upd'"}, "id = 3")
    elif op == "update_dv":
        tbl.update_where(spark, {"v": "'upd'"}, "id = 3", mode="dv")
    else:
        tbl.compact(spark)
    rec = json.loads((tbl.log_path / f"{str(tbl.latest_version()).zfill(20)}.json").read_text())
    top = _TOP_KEYS.get(op, _REWRITE_KEYS)
    assert set(rec) == top, sorted(set(rec) ^ top)
    for kind, keys in (("add", _ADD_KEYS), ("cdf", _CDF_KEYS), ("dv", _DV_KEYS)):
        entries = rec.get(kind) or []
        assert bool(entries) == (kind in kinds), kind
        assert all(list(e) == keys for e in entries), (kind, entries)
    assert not list(tbl.table_path.glob("_staging-*"))
    empty = [
        f for f in tbl.table_path.rglob("*.parquet")
        if pq.ParquetFile(f).metadata.num_rows == 0
    ]
    assert empty == []
    if op == "append":
        assert zero_row  # the case above really staged a zero-row file


# ---- Spark-job budget ------------------------------------------------------

#: Spark jobs each operation may run on the fixed 60-row table below
#: (8 shuffle partitions, the test session's config).  At this size a
#: commit's cost is its job count, not its rows: a rise fails here.
_JOB_BUDGET = {
    "append": 1,
    "merge_upsert": 15,
    "update_cow": 4,
    "update_dv": 5,
    "delete_cow": 4,
    "delete_dv": 4,
    "compact": 2,
    "update_cow_checked": 6,
    # a predicate the file stats exclude everywhere scans no file
    "delete_cow_miss": 0,
    "delete_dv_miss": 0,
}


@pytest.mark.parametrize("op", sorted(_JOB_BUDGET))
def test_lakehouse_op_spark_job_budget(spark, tbl, op):
    schema = "id long, v string, p double, year string"
    rows = [(i, f"v{i}", i * 1.5, "2024" if i % 2 else "2025") for i in range(60)]
    tbl.append(spark.createDataFrame(rows[:30], schema), ["year"])
    tbl.append(spark.createDataFrame(rows[30:], schema))
    if op == "update_cow_checked":
        tbl.add_check_constraint(spark, "p_nonneg", "p >= 0")
    src = spark.createDataFrame(
        [(5, "up5", 0.5, "2024"), (40, "up40", 4.0, "2025"), (100, "ins", 1.0, "2024")],
        schema,
    )
    run = {
        "append": lambda: tbl.append(spark.createDataFrame(rows[:5], schema)),
        "merge_upsert": lambda: tbl.merge_upsert(src, ["id"]),
        "update_cow": lambda: tbl.update_where(spark, {"v": "'upd'"}, "id = 7"),
        "update_dv": lambda: tbl.update_where(
            spark, {"v": "'upd'"}, "id = 7", mode="dv"
        ),
        "delete_cow": lambda: tbl.delete_where(spark, "id = 7"),
        "delete_dv": lambda: tbl.delete_where(spark, "id = 7", mode="dv"),
        "delete_cow_miss": lambda: tbl.delete_where(spark, "id = 999"),
        "delete_dv_miss": lambda: tbl.delete_where(spark, "id = 999", mode="dv"),
        "compact": lambda: tbl.compact(spark),
        "update_cow_checked": lambda: tbl.update_where(
            spark, {"p": "p + 1"}, "id = 7"
        ),
    }[op]
    v0 = tbl.latest_version()
    jobs = count_spark_jobs(spark, run)
    # the op really committed (a delete matching no row commits nothing)
    assert tbl.latest_version() == v0 + (0 if op.endswith("_miss") else 1)
    assert jobs <= _JOB_BUDGET[op], f"{op} ran {jobs} Spark jobs"


# ---- full-clause MERGE (round 7) ------------------------------------------


def _merge_tbl(spark, tbl):
    """id/qty/status target: two files so clause merges can prune."""
    tbl.append(
        spark.createDataFrame(
            [(1, 10, "open"), (2, 20, "open"), (3, 30, "hold")],
            ["id", "qty", "status"],
        ).coalesce(1)
    )
    tbl.append(
        spark.createDataFrame(
            [(4, 40, "open"), (5, 50, "closed")], ["id", "qty", "status"]
        ).coalesce(1)
    )
    return tbl


def _rows(df):
    return sorted((r.id, r.qty, r.status) for r in df.collect())


@pytest.mark.slow
def test_merge_clauses_conditional_update_delete_insert(spark, tbl):
    """WHEN MATCHED AND cond THEN UPDATE / WHEN MATCHED THEN DELETE /
    WHEN NOT MATCHED AND cond THEN INSERT — first-true clause wins per
    row, unmatched-no-clause source rows drop, untouched files carry."""
    _merge_tbl(spark, tbl)
    src = spark.createDataFrame(
        [(1, 100, "open"), (3, 300, "hold"), (6, 60, "new"), (7, 7, "tiny")],
        ["id", "qty", "status"],
    )
    v = tbl.merge(
        src,
        ["id"],
        when_matched=[
            {"cond": "s.qty > 200", "action": "update",
             "set": {"qty": "s.qty", "status": "'bulk'"}},
            {"action": "delete"},
        ],
        when_not_matched=[
            {"cond": "s.qty >= 50", "action": "insert", "values": "*"},
        ],
    )
    # id=1 matched, s.qty=100 <= 200 -> second clause: DELETE
    # id=3 matched, s.qty=300 -> update qty=300 status='bulk'
    # id=6 unmatched, qty 60 >= 50 -> insert; id=7 unmatched small -> drop
    assert _rows(tbl.snapshot(spark)) == [
        (2, 20, "open"),
        (3, 300, "bulk"),
        (4, 40, "open"),
        (5, 50, "closed"),
        (6, 60, "new"),
    ]
    # file pruning: the (4,5) file had no matched key and no by-source
    # clause — it must not have been rewritten
    rec = json.loads((tbl.log_path / f"{str(v).zfill(20)}.json").read_text())
    assert len(rec["remove"]) == 1
    # clause-faithful CDF
    feed = tbl.read_change_feed(spark, from_version=v - 1, to_version=v)
    types = sorted(
        (r.id, r._change_type) for r in feed.collect()
    )
    assert types == [
        (1, "delete"),
        (3, "update_postimage"),
        (3, "update_preimage"),
        (6, "insert"),
    ]


@pytest.mark.slow
def test_merge_clauses_not_matched_by_source(spark, tbl):
    """WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE|UPDATE — the
    CDC full-sync shape: rows absent from the source expire."""
    _merge_tbl(spark, tbl)
    src = spark.createDataFrame([(1, 11, "open"), (2, 22, "open")],
                                ["id", "qty", "status"])
    tbl.merge(
        src,
        ["id"],
        when_matched=[{"action": "update", "set": "*"}],
        when_not_matched_by_source=[
            {"cond": "t.status = 'hold'", "action": "delete"},
            {"action": "update", "set": {"status": "'stale'"}},
        ],
    )
    assert _rows(tbl.snapshot(spark)) == [
        (1, 11, "open"),
        (2, 22, "open"),
        (4, 40, "stale"),
        (5, 50, "stale"),
    ]


@pytest.mark.slow
def test_merge_clauses_by_source_only_prunes_by_condition(spark, tbl):
    """A conditional by-source merge with NO matched clauses rewrites
    only the files its condition can hit; matched rows in them carry."""
    _merge_tbl(spark, tbl)
    src = spark.createDataFrame([(4, 0, "x")], ["id", "qty", "status"])
    v = tbl.merge(
        src,
        ["id"],
        when_not_matched_by_source=[
            {"cond": "t.status = 'closed'", "action": "delete"},
        ],
    )
    assert _rows(tbl.snapshot(spark)) == [
        (1, 10, "open"),
        (2, 20, "open"),
        (3, 30, "hold"),
        (4, 40, "open"),  # matched: carried, wm absent
    ]
    rec = json.loads((tbl.log_path / f"{str(v).zfill(20)}.json").read_text())
    assert len(rec["remove"]) == 1  # only the (4,5) file held 'closed'


@pytest.mark.slow
def test_merge_clauses_validation_and_ambiguity(spark, tbl):
    _merge_tbl(spark, tbl)
    with pytest.raises(ValueError, match="at least one WHEN"):
        tbl.merge(spark.createDataFrame([(1, 1, "a")], ["id", "qty", "status"]), ["id"])
    with pytest.raises(ValueError, match="unreachable"):
        tbl.merge(
            spark.createDataFrame([(1, 1, "a")], ["id", "qty", "status"]),
            ["id"],
            when_matched=[{"action": "delete"}, {"action": "update", "set": "*"}],
        )
    dup = spark.createDataFrame(
        [(1, 5, "a"), (1, 6, "b")], ["id", "qty", "status"]
    )
    with pytest.raises(ValueError, match="ambiguous"):
        tbl.merge(dup, ["id"], when_matched=[{"action": "update", "set": "*"}])
    with pytest.raises(ValueError, match="ambiguous"):
        tbl.merge_upsert(dup, ["id"])
    # SET/VALUES may only name table columns
    with pytest.raises(ValueError, match=r"\['qtty'\]"):
        tbl.merge(
            dup.limit(1),
            ["id"],
            when_matched=[{"action": "update", "set": {"qtty": "s.qty"}}],
        )
    with pytest.raises(ValueError, match=r"\['stat'\]"):
        tbl.merge(
            dup.limit(1),
            ["id"],
            when_not_matched=[{"action": "insert", "values": {"stat": "'x'"}}],
        )
    assert tbl.latest_version() == 2  # every rejected merge left no commit
    assert _rows(tbl.snapshot(spark))[0] == (1, 10, "open")
    # duplicate UNMATCHED keys insert twice (SQL allows it)
    dup2 = spark.createDataFrame(
        [(9, 1, "a"), (9, 2, "b")], ["id", "qty", "status"]
    )
    tbl.merge(dup2, ["id"], when_not_matched=[{"action": "insert"}])
    assert [r.id for r in tbl.snapshot(spark).collect()].count(9) == 2


def test_merge_clauses_empty_table_and_noop(spark, tbl):
    src = spark.createDataFrame([(1, 10, "open"), (2, 2, "t")],
                                ["id", "qty", "status"])
    with pytest.raises(ValueError, match=r"\['stat'\]"):
        tbl.merge(
            src, ["id"],
            when_not_matched=[{"action": "insert", "values": {"stat": "'x'"}}],
        )
    v = tbl.merge(
        src, ["id"],
        when_not_matched=[{"cond": "s.qty >= 10", "action": "insert"}],
    )
    assert v == 1
    assert _rows(tbl.snapshot(spark)) == [(1, 10, "open")]
    # nothing matches, nothing inserts -> metadata no-op, version holds
    v2 = tbl.merge(
        spark.createDataFrame([(99, 0, "z")], ["id", "qty", "status"]),
        ["id"],
        when_matched=[{"action": "delete"}],
    )
    assert v2 == 1 and tbl.latest_version() == 1
    # an empty upsert source follows the same rule: no commit
    v3 = tbl.merge_upsert(
        spark.createDataFrame([], "id BIGINT, qty BIGINT, status STRING"), ["id"]
    )
    assert v3 == 1 and tbl.latest_version() == 1


@pytest.mark.slow
def test_merge_clauses_identity_and_generated(spark, tbl):
    """Inserts allocate identity; matched updates retain target ids;
    generated columns recompute from post-merge values; SET may not
    target either."""
    from pyspark.sql.types import StructType

    schema = (
        StructType().add("rid", "long").add("name", "string").add("qty", "long")
        .add("dbl", "long")
    )
    tbl.create(schema, generated={"dbl": "qty * 2"},
               identity={"rid": {"start": 1, "step": 1}})
    tbl.append(spark.createDataFrame([("a", 1), ("b", 2)], ["name", "qty"]))
    before = {r.name: r.rid for r in tbl.snapshot(spark).collect()}
    with pytest.raises(ValueError, match="identity/generated"):
        tbl.merge(
            spark.createDataFrame([("a", 9)], ["name", "qty"]),
            ["name"],
            when_matched=[{"action": "update", "set": {"dbl": "1"}}],
        )
    tbl.merge(
        spark.createDataFrame([("a", 10), ("c", 30)], ["name", "qty"]),
        ["name"],
        when_matched=[{"action": "update", "set": {"qty": "s.qty"}}],
        when_not_matched=[{"action": "insert"}],
    )
    after = {r.name: (r.rid, r.qty, r.dbl) for r in tbl.snapshot(spark).collect()}
    assert after["a"] == (before["a"], 10, 20)  # id kept, generated recomputed
    assert after["b"][1:] == (2, 4)
    assert after["c"][0] not in before.values() and after["c"][1:] == (30, 60)


@pytest.mark.slow
def test_update_where_dv_mode(spark, tbl):
    """Merge-on-read UPDATE: preimage positions land in a deletion
    vector, postimages append as new files — ZERO rewrites of the
    affected files — and the CDF is identical to cow mode."""
    rows = [(i, float(i), "2024") for i in range(1, 9)]
    tbl.append(_df(spark, rows), ["year"], max_records_per_file=4)
    cow = TransactionLog(tbl.table_path.parent / "cow")
    cow.append(_df(spark, rows), ["year"], max_records_per_file=4)

    files_before = set(tbl._replay(tbl.latest_version())["files"])
    v = tbl.update_where(spark, {"v": "v * 10"}, "id % 3 = 0", mode="dv")
    vc = cow.update_where(spark, {"v": "v * 10"}, "id % 3 = 0")

    got = {(r.id, r.v) for r in tbl.snapshot(spark).collect()}
    want = {(i, x * 10 if i % 3 == 0 else x) for i, x, _ in rows}
    assert got == want
    assert got == {(r.id, r.v) for r in cow.snapshot(spark).collect()}

    rec = json.loads((tbl.log_path / f"{str(v).zfill(20)}.json").read_text())
    assert rec["remove"] == [] and rec["dv"]  # zero rewrites, DV landed
    st = tbl._replay(tbl.latest_version())
    assert files_before <= set(st["files"])  # old files all still live
    assert "deletionVectors" in st["reader_features"]

    # the feed is mode-agnostic: identical rows either way
    feed = lambda t, ver: sorted(  # noqa: E731
        (r.id, r.v, r._change_type)
        for r in t.read_change_feed(spark, ver - 1, ver).collect()
    )
    assert feed(tbl, v) == feed(cow, vc)

    # compact reads through the vectors and materializes
    tbl.compact(spark)
    st2 = tbl._replay(tbl.latest_version())
    assert not st2["dvs"]
    assert {(r.id, r.v) for r in tbl.snapshot(spark).collect()} == want

    # a second dv update over already-dv-updated rows still lands
    tbl.update_where(spark, {"v": "v + 1"}, "id = 3", mode="dv")
    assert {(r.id, r.v) for r in tbl.snapshot(spark).collect()} == {
        (i, x + 1 if i == 3 else x) for i, x in want
    }


@pytest.mark.slow
def test_cross_process_blind_appends_all_land(spark, tmp_path):
    """The os.link create-if-absent arbitration proven across REAL
    driver PROCESSES (separate JVMs, separate Python interpreters) —
    the in-thread race test shares one interpreter, which this
    retires (r6 VERDICT item 5).  Two drivers blind-append N batches
    each into one table from a synchronized start: every commit must
    land under a unique gapless version (losers retried under fresh
    versions), and no row is lost."""
    import subprocess
    import sys
    import time

    n_batches, rows_per = 4, 10
    table = tmp_path / "xproc"
    worker = tmp_path / "worker.py"
    repo = str(tbl_repo_root())
    worker.write_text(
        f"""
import json, sys, time
from pathlib import Path

sys.path.insert(0, {repo!r})
tag, n, rows = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
table, barrier = {str(table)!r}, {str(tmp_path / "go")!r}

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .appName("xproc-" + tag)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
    ConcurrentCommitError,
    TransactionLog,
)

log = TransactionLog(table)
Path(barrier + "-ready-" + tag).write_text("")
while not Path(barrier).exists():
    time.sleep(0.02)
committed, hard_retries = [], 0
for i in range(n):
    df = spark.createDataFrame(
        [(tag, i, j) for j in range(rows)], ["writer", "batch", "j"]
    )
    while True:
        try:
            committed.append(log.append(df))
            break
        except ConcurrentCommitError:
            hard_retries += 1
Path(table + "-" + tag + ".json").write_text(
    json.dumps({{"committed": committed, "hard_retries": hard_retries}})
)
spark.stop()
"""
    )
    procs = [
        subprocess.Popen(
            [sys.executable, str(worker), tag, str(n_batches), str(rows_per)],
            cwd=str(tmp_path),
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for tag in ("a", "b")
    ]
    deadline = time.time() + 240
    while time.time() < deadline and not all(
        (tmp_path / f"go-ready-{t}").exists() for t in ("a", "b")
    ):
        if any(p.poll() is not None for p in procs):
            break  # a worker died before the barrier: fall through
        time.sleep(0.1)
    (tmp_path / "go").write_text("")  # both JVMs warm: race for real
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err.decode()[-3000:]

    results = {
        t: json.loads((tmp_path / f"xproc-{t}.json").read_text())
        for t in ("a", "b")
    }
    all_versions = sorted(
        v for r in results.values() for v in r["committed"]
    )
    total = 2 * n_batches
    # gapless, collision-free: every loser retried under a fresh version
    assert all_versions == list(range(1, total + 1)), (results, all_versions)

    t = TransactionLog(table)
    assert t.latest_version() == total
    snap = t.snapshot(spark)
    assert snap.count() == total * rows_per
    per_writer = {
        r.writer: r.n
        for r in snap.groupBy("writer").count().withColumnRenamed("count", "n").collect()
    }
    assert per_writer == {"a": n_batches * rows_per, "b": n_batches * rows_per}


def tbl_repo_root():
    from pathlib import Path as _P

    return _P(__file__).resolve().parent.parent


# ---- disjoint-footprint concurrency (Delta conflict matrix) ------------


def _race_once(tbl, trigger_op, racing_fn):
    """Patch ``tbl._try_commit`` to run ``racing_fn`` (a concurrent
    writer) exactly once, right before the first ``trigger_op`` commit
    attempt — deterministically interleaving a second writer between
    the loser's read and its commit."""
    orig = TransactionLog._try_commit
    raced = {"done": False}

    def racing(self, v, rec):
        if rec.get("op") == trigger_op and not raced["done"]:
            raced["done"] = True
            racing_fn()
        return orig(self, v, rec)

    tbl._try_commit = racing.__get__(tbl)
    return raced


def test_disjoint_partition_deletes_both_commit(spark, tbl):
    """Two DELETEs scoped to different partitions do not serialize:
    the loser's read surface (stats-pruned file set) is disjoint from
    the winner's removes, so it rebases like an append instead of
    raising — concurrent per-partition pipelines can share a table."""
    tbl.append(
        _df(spark, [(1, "a", "2024"), (2, "b", "2024"), (3, "c", "2025")]),
        ["year"],
    )
    raced = _race_once(
        tbl,
        "delete",
        lambda: TransactionLog(tbl.table_path).delete_where(
            spark, "year = '2025'"
        ),
    )
    v = tbl.delete_where(spark, "id = 2 AND year = '2024'")
    assert raced["done"] and v == 3
    assert _ids(tbl.snapshot(spark)) == [1]  # both deletes landed


def test_disjoint_compact_rebases_over_delete(spark, tbl):
    """OPTIMIZE scoped to one partition tolerates a concurrent DELETE
    in another: its read surface is exactly the files it rewrites."""
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.append(_df(spark, [(2, "b", "2024")]))
    tbl.append(_df(spark, [(3, "c", "2025")]))
    raced = _race_once(
        tbl,
        "compact",
        lambda: TransactionLog(tbl.table_path).delete_where(
            spark, "year = '2025'"
        ),
    )
    v = tbl.compact(spark, where="year = '2024'")
    assert raced["done"] and v == 5
    state = tbl._replay(v)
    files_2024 = [f for f in state["files"] if "year=2024" in f]
    assert len(files_2024) == 1  # compacted
    assert _ids(tbl.snapshot(spark)) == [1, 2]  # delete's effect kept


def test_rebased_commit_recomputes_dv_survival(spark, tbl):
    """The DV survival list is a full-replace record field computed at
    read time; a rebase past a disjoint DV-adding rewrite MUST
    recompute it or the winner's logically-deleted rows resurrect."""
    tbl.append(
        _df(spark, [(1, "a", "2024"), (2, "b", "2024"), (3, "c", "2025")]),
        ["year"],
    )
    # v2: DVs exist on the 2024 file -> the loser's record carries "dvs"
    tbl.delete_where(spark, "id = 1", mode="dv")
    raced = _race_once(
        tbl,
        "delete",
        # winner: disjoint DV-delete in the OTHER partition
        lambda: TransactionLog(tbl.table_path).delete_where(
            spark, "id = 3", mode="dv"
        ),
    )
    v = tbl.delete_where(spark, "year = '2024'")  # cow: removes 2024 file
    assert raced["done"] and v == 4
    # without the recompute the stale "dvs" list would drop the
    # winner's vector and id=3 would come back from the dead
    assert _ids(tbl.snapshot(spark)) == []
    state = tbl._replay(v)
    covered = {b for d in state["dvs"] for b in d["files"]}
    live_2025 = {
        f.rsplit("/", 1)[-1] for f in state["files"] if "year=2025" in f
    }
    assert live_2025 and live_2025 <= covered  # winner's vector survived


@pytest.mark.slow
def test_merge_rebases_over_disjoint_key_rewrite(spark, tbl):
    """An equi-key MERGE reads the target only through its join keys,
    so it declares a min/max-key read surface: a concurrent rewrite
    whose removed files hold no key in the source's range (here a
    delete of the 2025 partition vs a merge keyed id=1, which lives in
    2024) is provably invisible to the merge's match decisions and the
    merge rebases instead of raising — partition-scoped merge
    pipelines stop serializing (VERDICT r7 item 4)."""
    tbl.append(
        _df(spark, [(1, "a", "2024"), (3, "c", "2025")]), ["year"]
    )
    raced = _race_once(
        tbl,
        "merge",
        lambda: TransactionLog(tbl.table_path).delete_where(
            spark, "year = '2025'"
        ),
    )
    v = tbl.merge_upsert(_df(spark, [(1, "A", "2024")]), ["id"])
    assert raced["done"] and v == 3
    snap = tbl.snapshot(spark)
    assert _ids(snap) == [1]  # delete landed
    assert [r.v for r in snap.collect()] == ["A"]  # merge landed


@pytest.mark.slow
def test_merge_conflicts_on_overlapping_key_range(spark, tbl):
    """The conflict case still raises: the concurrent delete removed
    the very file holding the merge's key range, so the merge's read
    surface intersects the winner's removes and its staged match
    decisions are stale."""
    tbl.append(
        _df(spark, [(1, "a", "2024"), (2, "b", "2024")]).coalesce(1),
        ["year"],
    )
    raced = _race_once(
        tbl,
        "merge",
        lambda: TransactionLog(tbl.table_path).delete_where(
            spark, "id = 2"
        ),
    )
    with pytest.raises(ConcurrentCommitError, match="merge"):
        tbl.merge_upsert(_df(spark, [(1, "A", "2024")]), ["id"])
    assert raced["done"]


@pytest.mark.slow
def test_merge_by_source_clause_stays_strict(spark, tbl):
    """WHEN NOT MATCHED BY SOURCE inspects EVERY target row (a row
    acts because no source key matches it), so such a merge declares
    no read surface and even a disjoint-partition rewrite still
    conflicts — its removed rows could flip a by-source outcome."""
    tbl.append(
        _df(spark, [(1, "a", "2024"), (3, "c", "2025")]), ["year"]
    )
    raced = _race_once(
        tbl,
        "merge",
        lambda: TransactionLog(tbl.table_path).delete_where(
            spark, "year = '2025'"
        ),
    )
    with pytest.raises(ConcurrentCommitError, match="merge"):
        tbl.merge(
            _df(spark, [(1, "A", "2024")]),
            ["id"],
            when_matched=[{"action": "update", "set": "*", "cond": None}],
            when_not_matched_by_source=[{"action": "delete", "cond": None}],
        )
    assert raced["done"]


@pytest.mark.slow
def test_overlapping_file_deletes_still_conflict(spark, tbl):
    """Same-file concurrency is NOT tolerated: the winner removed a
    file inside the loser's read surface (both rows share one file, so
    either predicate's stats admit it)."""
    tbl.append(
        _df(spark, [(1, "a", "2024"), (2, "b", "2024")]).coalesce(1),
        ["year"],
    )
    raced = _race_once(
        tbl,
        "delete",
        lambda: TransactionLog(tbl.table_path).delete_where(
            spark, "id = 1"
        ),
    )
    with pytest.raises(ConcurrentCommitError, match="delete"):
        tbl.delete_where(spark, "id = 2")
    assert raced["done"]


def test_concurrent_disjoint_partition_deletes_threads(spark, tbl):
    """8 writer threads each deleting its OWN partition concurrently:
    under the disjoint-footprint rule every delete must land (losers
    rebase past the winners instead of raising), versions are gapless,
    and the final table holds exactly the undeleted partitions."""
    from concurrent.futures import ThreadPoolExecutor

    rows = [(i * 10 + j, f"r{i}{j}", f"y{i}") for i in range(8) for j in range(2)]
    tbl.append(_df(spark, rows), ["year"])

    def drop_part(i: int) -> int:
        return TransactionLog(tbl.table_path).delete_where(
            spark, f"year = 'y{i}'"
        )

    with ThreadPoolExecutor(max_workers=8) as pool:
        versions = list(pool.map(drop_part, range(0, 8, 2)))  # y0 y2 y4 y6

    assert sorted(versions) == [2, 3, 4, 5], "all four deletes must land"
    kept = {r.year for r in tbl.snapshot(spark).collect()}
    assert kept == {"y1", "y3", "y5", "y7"}
    assert len(_ids(tbl.snapshot(spark))) == 8


def test_compact_purge_dvs_rewrites_only_covered_files(spark, tbl):
    """REORG APPLY (PURGE): compaction scoped to the DV-covered files
    materializes the logical deletions and drops the vectors without
    touching the rest of the table."""
    tbl.append(
        _df(spark, [(0, "a", "2024"), (1, "b", "2025")]), ["year"]
    )
    tbl.append(_df(spark, [(2, "c", "2024"), (3, "d", "2025")]))
    before = set(tbl._replay(2)["files"])
    assert len(before) == 4
    tbl.delete_where(spark, "id = 0", mode="dv")  # one vector, one file
    state = tbl._replay(3)
    covered = {b for d in state["dvs"] for b in d["files"]}
    assert len(covered) == 1

    v = tbl.compact(spark, purge_dvs=True)
    after = tbl._replay(v)
    assert after["dvs"] == []  # vector materialized and dropped
    rec = json.loads((tbl.log_path / f"{str(v).zfill(20)}.json").read_text())
    removed = {r.rsplit("/", 1)[-1] for r in rec["remove"]}
    assert removed == covered  # ONLY the covered file rewrote
    untouched = {f for f in before if f.rsplit("/", 1)[-1] not in covered}
    assert untouched <= set(after["files"])  # others keep their paths
    assert _ids(tbl.snapshot(spark)) == [1, 2, 3]

    with pytest.raises(ValueError, match="no live deletion vectors"):
        tbl.compact(spark, purge_dvs=True)


def test_vacuum_sweeps_purged_dv_sidecars(spark, tbl):
    """After a purge the vector sidecars are referenced by no retained
    version; vacuum must sweep them (and must NOT while a retained
    snapshot still reads through them)."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2024")]), ["year"])
    tbl.delete_where(spark, "id = 1", mode="dv")
    dv_files = [d["path"] for d in tbl._replay(2)["dvs"]]
    assert dv_files
    tbl.compact(spark, purge_dvs=True)  # v3: vectors materialized
    # v2 retained -> its vector must survive the sweep
    kept = tbl.vacuum(retain_versions=2, min_age_s=0)
    assert not set(dv_files) & set(kept)
    # only v3 retained -> the sidecar is garbage now
    swept = tbl.vacuum(retain_versions=1, min_age_s=0)
    assert set(dv_files) <= set(swept)
    assert _ids(tbl.snapshot(spark)) == [2]


@pytest.mark.slow
def test_cross_process_disjoint_deletes_both_commit(spark, tmp_path):
    """The disjoint-footprint rebase proven across REAL driver
    processes: two JVMs, synchronized start, each deleting its OWN
    partition of one table.  Both must commit WITHOUT surfacing
    ConcurrentCommitError to the caller (the loser rebases inside
    _commit's rmw policy), versions gapless, final state = both
    deletions."""
    import subprocess
    import sys
    import time

    table = tmp_path / "xdel"
    seed = _df(
        spark,
        [(1, "a", "2024"), (2, "b", "2024"), (3, "c", "2025"), (4, "d", "2025")],
    )
    TransactionLog(table).append(seed, ["year"])
    worker = tmp_path / "worker.py"
    repo = str(tbl_repo_root())
    worker.write_text(
        f"""
import json, sys, time
from pathlib import Path

sys.path.insert(0, {repo!r})
tag, year = sys.argv[1], sys.argv[2]
table, barrier = {str(table)!r}, {str(tmp_path / "go")!r}

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .appName("xdel-" + tag)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
    TransactionLog,
)

log = TransactionLog(table)
Path(barrier + "-ready-" + tag).write_text("")
while not Path(barrier).exists():
    time.sleep(0.02)
try:
    v = log.delete_where(spark, "year = '" + year + "'")
    out = {{"version": v}}
except Exception as e:  # noqa: BLE001 — recorded for the assert
    out = {{"error": type(e).__name__ + ": " + str(e)[:200]}}
Path(table + "-" + tag + ".json").write_text(json.dumps(out))
spark.stop()
"""
    )
    procs = [
        subprocess.Popen(
            [sys.executable, str(worker), tag, year],
            cwd=str(tmp_path),
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for tag, year in (("a", "2024"), ("b", "2025"))
    ]
    deadline = time.time() + 240
    while time.time() < deadline and not all(
        (tmp_path / f"go-ready-{t}").exists() for t in ("a", "b")
    ):
        if any(p.poll() is not None for p in procs):
            break
        time.sleep(0.1)
    (tmp_path / "go").write_text("")
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err.decode()[-3000:]

    import json as _json

    results = {
        t: _json.loads((tmp_path / f"xdel-{t}.json").read_text())
        for t in ("a", "b")
    }
    assert all("version" in r for r in results.values()), results
    assert sorted(r["version"] for r in results.values()) == [2, 3], results
    t = TransactionLog(table)
    assert t.latest_version() == 3
    assert _ids(t.snapshot(spark)) == []  # both partitions deleted


@pytest.mark.slow
def test_cross_process_disjoint_key_merges_both_commit(spark, tmp_path):
    """The MERGE read-surface narrowing proven across REAL driver
    processes (VERDICT r7 item 4 'done' bar): two JVMs, synchronized
    start, each merge_upserting keys that live in its OWN partition.
    Each merge's min/max-key read surface misses the other's removes,
    so both commit WITHOUT surfacing ConcurrentCommitError (the loser
    rebases inside _commit's rmw policy); versions gapless; final state
    carries both updates."""
    import subprocess
    import sys
    import time

    table = tmp_path / "xmerge"
    seed = _df(
        spark,
        [(1, "a", "2024"), (2, "b", "2024"), (3, "c", "2025"), (4, "d", "2025")],
    )
    TransactionLog(table).append(seed, ["year"])
    worker = tmp_path / "worker.py"
    repo = str(tbl_repo_root())
    worker.write_text(
        f"""
import json, sys, time
from pathlib import Path

sys.path.insert(0, {repo!r})
tag, key, year = sys.argv[1], int(sys.argv[2]), sys.argv[3]
table, barrier = {str(table)!r}, {str(tmp_path / "go")!r}

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .appName("xmerge-" + tag)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
    TransactionLog,
)

log = TransactionLog(table)
src = spark.createDataFrame(
    [(key, "UP-" + tag, year)], ["id", "v", "year"]
)
Path(barrier + "-ready-" + tag).write_text("")
while not Path(barrier).exists():
    time.sleep(0.02)
try:
    v = log.merge_upsert(src, ["id"])
    out = {{"version": v}}
except Exception as e:  # noqa: BLE001 — recorded for the assert
    out = {{"error": type(e).__name__ + ": " + str(e)[:200]}}
Path(table + "-" + tag + ".json").write_text(json.dumps(out))
spark.stop()
"""
    )
    procs = [
        subprocess.Popen(
            [sys.executable, str(worker), tag, key, year],
            cwd=str(tmp_path),
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for tag, key, year in (("a", "1", "2024"), ("b", "3", "2025"))
    ]
    deadline = time.time() + 240
    while time.time() < deadline and not all(
        (tmp_path / f"go-ready-{t}").exists() for t in ("a", "b")
    ):
        if any(p.poll() is not None for p in procs):
            break
        time.sleep(0.1)
    (tmp_path / "go").write_text("")
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err.decode()[-3000:]

    import json as _json

    results = {
        t: _json.loads((tmp_path / f"xmerge-{t}.json").read_text())
        for t in ("a", "b")
    }
    assert all("version" in r for r in results.values()), results
    assert sorted(r["version"] for r in results.values()) == [2, 3], results
    t = TransactionLog(table)
    assert t.latest_version() == 3
    rows = {
        r.id: r.v for r in t.snapshot(spark).collect()
    }
    assert rows == {1: "UP-a", 2: "b", 3: "UP-b", 4: "d"}


def test_publish_from_wap_loop(spark, tbl, tmp_path):
    """WRITE-AUDIT-PUBLISH: staged batch promotes as ONE metadata-only
    commit referencing staged files in place; an abandoned staging
    never touches main's history."""
    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2025")]), ["year"])

    stg = TransactionLog(tmp_path / "stg")
    tbl.clone_to(stg.table_path)
    stg.append(_df(spark, [(3, "c", "2024"), (4, "d", "2026")]))
    v = tbl.publish_from(stg, since_version=1)
    assert v == 2
    assert _ids(tbl.snapshot(spark)) == [1, 2, 3, 4]
    # zero-copy: publish wrote no parquet under main; the published
    # entries reference the staging dir
    rec = json.loads(
        (tbl.table_path / "_txn_log" / "00000000000000000002.json").read_text()
    ) if (tbl.table_path / "_txn_log").exists() else None
    if rec is None:  # log layout differs — assert via replay instead
        state = tbl._replay(2)
        pub = [p for p in state["files"] if str(stg.table_path) in p]
        assert len(pub) >= 1
    else:
        assert rec["op"] == "publish"
        assert all(str(stg.table_path.resolve()) in a["path"] for a in rec["add"])
    # partition values still derive correctly through the staging base
    assert {r.year for r in tbl.snapshot(spark).collect()} == {
        "2024", "2025", "2026",
    }
    # time travel: v1 never saw the published batch
    assert _ids(tbl.snapshot(spark, version=1)) == [1, 2]

    # abandoned staging (audit failure path): main history unchanged
    stg_bad = TransactionLog(tmp_path / "stg_bad")
    tbl.clone_to(stg_bad.table_path)
    stg_bad.append(_df(spark, [(99, "poison", "2024")]))
    assert _ids(tbl.snapshot(spark)) == [1, 2, 3, 4]


@pytest.mark.slow
def test_publish_from_refuses_base_mutation_and_drift(spark, tbl, tmp_path):
    """Publish is strictly additive: a staging that restated or
    deleted cloned base data, carries DVs, has nothing staged, or
    evolved the schema is refused."""
    import pytest as _pytest

    tbl.append(_df(spark, [(1, "a", "2024"), (2, "b", "2024")]), ["year"])

    # nothing staged
    stg0 = TransactionLog(tmp_path / "s0")
    tbl.clone_to(stg0.table_path)
    with _pytest.raises(ValueError, match="nothing|no staged"):
        tbl.publish_from(stg0, since_version=1)

    # base restated via copy-on-write delete
    stg1 = TransactionLog(tmp_path / "s1")
    tbl.clone_to(stg1.table_path)
    stg1.append(_df(spark, [(3, "c", "2024")]))
    stg1.delete_where(spark, "id = 1")
    with _pytest.raises(ValueError, match="mutated the cloned base"):
        tbl.publish_from(stg1, since_version=1)

    # deletion vectors against the base
    stg2 = TransactionLog(tmp_path / "s2")
    tbl.clone_to(stg2.table_path)
    stg2.append(_df(spark, [(4, "d", "2024")]))
    stg2.delete_where(spark, "id = 2", mode="dv")
    with _pytest.raises(ValueError, match="mutated the cloned base"):
        tbl.publish_from(stg2, since_version=1)

    # schema drift in the staged batch
    stg3 = TransactionLog(tmp_path / "s3")
    tbl.clone_to(stg3.table_path)
    stg3.append(
        spark.createDataFrame([(5, "e", "2024", "x")], ["id", "v", "year", "extra"]),
        evolve_schema=True,
    )
    with _pytest.raises(ValueError, match="schema drift"):
        tbl.publish_from(stg3, since_version=1)


def test_publish_from_concurrent_publishes_both_commit(spark, tbl, tmp_path):
    """Two WAP publishes racing on the same main table: publish is a
    blind append (disjoint staged footprints), so OCC retries past the
    loser's version collision and BOTH batches land, gaplessly."""
    import threading

    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    stgs = []
    for i, rows in enumerate(
        [[(10, "x", "2025")], [(20, "y", "2026"), (21, "z", "2026")]]
    ):
        stg = TransactionLog(tmp_path / f"stg{i}")
        tbl.clone_to(stg.table_path)
        stg.append(_df(spark, rows))
        stgs.append(stg)

    errs: list[Exception] = []
    barrier = threading.Barrier(2)

    def run(stg):
        try:
            barrier.wait()
            tbl.publish_from(stg, since_version=1)
        except Exception as e:  # pragma: no cover - failure readout
            errs.append(e)

    ts = [threading.Thread(target=run, args=(s,)) for s in stgs]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert tbl.latest_version() == 3  # v1 append + two publishes, gapless
    assert _ids(tbl.snapshot(spark)) == [1, 10, 20, 21]


def test_publish_from_refuses_widened_type_drift(spark, tbl, tmp_path):
    """Name sets match but staging widened a column type (int->long
    under evolve_schema) — publishing under main's narrower schema
    would leave long parquet unreadable; the type-level gate refuses."""
    ints = spark.createDataFrame(
        [(1, 10, "2024")], "id int, v int, year string"
    )
    tbl.append(ints, ["year"])
    stg = TransactionLog(tmp_path / "stg")
    tbl.clone_to(stg.table_path)
    stg.append(
        spark.createDataFrame(
            [(2, 1 << 40, "2024")], "id int, v long, year string"
        ),
        evolve_schema=True,
    )
    with pytest.raises(ValueError, match="schema drift"):
        tbl.publish_from(stg, since_version=1)
    assert tbl.latest_version() == 1  # main untouched


def test_wap_audit_gate_blocks_publish(spark, tbl, tmp_path):
    """The 'A' of WAP as an API: publish_from(audit=...) runs the
    audit over exactly the staged slice; False refuses the publish
    and main's history never moves."""
    tbl.append(_df(spark, [(1, "ok", "2024")]), ["year"])

    def audit(df):
        return df.filter(df.v == "poison").count() == 0

    stg_bad = TransactionLog(tmp_path / "stg_bad")
    tbl.clone_to(stg_bad.table_path)
    stg_bad.append(_df(spark, [(2, "poison", "2024")]))
    with pytest.raises(ValueError, match="audit refused"):
        tbl.publish_from(stg_bad, since_version=1, spark=spark, audit=audit)
    assert tbl.latest_version() == 1
    assert _ids(tbl.snapshot(spark)) == [1]

    # pass path: the audit sees ONLY the staged batch, not the base
    seen = {}

    def audit_spy(df):
        seen["ids"] = _ids(df)  # None return = pass

    stg_good = TransactionLog(tmp_path / "stg_good")
    tbl.clone_to(stg_good.table_path)
    stg_good.append(_df(spark, [(3, "good", "2025")]))
    tbl.publish_from(stg_good, since_version=1, spark=spark, audit=audit_spy)
    assert seen["ids"] == [3]
    assert _ids(tbl.snapshot(spark)) == [1, 3]

    # an audit needs a session to run on
    stg3 = TransactionLog(tmp_path / "stg3")
    tbl.clone_to(stg3.table_path)
    stg3.append(_df(spark, [(4, "d", "2024")]))
    with pytest.raises(ValueError, match="needs spark"):
        tbl.publish_from(stg3, since_version=1, audit=audit)


def test_publish_enforces_mains_current_constraints(spark, tbl, tmp_path):
    """A CHECK constraint added to main AFTER the clone still gates
    the publish (staging only enforced the clone-time set); refusal
    never sweeps staging-owned bytes."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        ConstraintViolationError,
    )

    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    stg = TransactionLog(tmp_path / "stg")
    tbl.clone_to(stg.table_path)
    tbl.add_check_constraint(spark, "id_pos", "id > 0")  # post-clone
    stg.append(_df(spark, [(-5, "bad", "2024")]))  # staging never saw it
    with pytest.raises(ConstraintViolationError, match="id_pos"):
        tbl.publish_from(stg, since_version=1, spark=spark)
    # staging's table still reads intact — its files were NOT unlinked
    assert _ids(stg.snapshot(spark)) == [-5, 1]
    # enforcement needs a session once main has constraints
    with pytest.raises(ValueError, match="needs spark"):
        tbl.publish_from(stg, since_version=1)
    # a compliant batch publishes through the same gate
    stg2 = TransactionLog(tmp_path / "stg2")
    tbl.clone_to(stg2.table_path)
    stg2.append(_df(spark, [(5, "good", "2024")]))
    tbl.publish_from(stg2, since_version=1, spark=spark)
    assert _ids(tbl.snapshot(spark)) == [1, 5]


def test_publish_racing_widen_commits_widened_schema(spark, tbl, tmp_path):
    """A publish that loses the version race to a concurrent int->long
    widening append must commit the WIDENED schema (its narrower
    staged files read fine under it) — re-stating the read-time
    schema would leave the widened files unreadable."""
    ints = spark.createDataFrame(
        [(1, 10, "2024")], "id int, v int, year string"
    )
    tbl.append(ints, ["year"])
    stg = TransactionLog(tmp_path / "stg")
    tbl.clone_to(stg.table_path)
    stg.append(
        spark.createDataFrame([(2, 20, "2024")], "id int, v int, year string")
    )
    wide = spark.createDataFrame(
        [(3, 1 << 40, "2025")], "id long, v long, year string"
    )
    raced = _race_once(
        tbl,
        "publish",
        lambda: TransactionLog(tbl.table_path).append(
            wide, evolve_schema=True
        ),
    )
    v = tbl.publish_from(stg, since_version=1)
    assert raced["done"] and v == 3
    st = tbl._replay(v)
    assert (
        StructTypeFromJson(st["schema"])["v"].dataType.simpleString()
        == "bigint"
    )
    out = sorted((r.id, r.v) for r in tbl.snapshot(spark).collect())
    assert out == [(1, 10), (2, 20), (3, 1 << 40)]


def test_publish_racing_rename_raises(spark, tbl, tmp_path):
    """A rename interleaving between publish's state read and its
    winning version is a real conflict: the staged files carry the
    old physical layout — raise, never silently revert the rename."""
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    stg = TransactionLog(tmp_path / "stg")
    tbl.clone_to(stg.table_path)
    stg.append(_df(spark, [(2, "b", "2024")]))
    raced = _race_once(
        tbl,
        "publish",
        lambda: TransactionLog(tbl.table_path).rename_column("v", "w"),
    )
    with pytest.raises(ConcurrentCommitError, match="raced"):
        tbl.publish_from(stg, since_version=1)
    assert raced["done"]


@pytest.mark.slow
def test_publish_identity_watermark_reconciles_and_refuses_overlap(
    spark, tbl, tmp_path
):
    """Identity across WAP: publishing staged allocations advances
    main's watermark so the next main append cannot reissue them;
    allocations on BOTH sides since the clone overlap and refuse."""
    from pyspark.sql.types import StructType

    schema = StructType().add("rid", "long").add("name", "string")
    tbl.create(schema, identity={"rid": {"start": 1, "step": 1}})
    tbl.append(spark.createDataFrame([("seed",)], ["name"]))

    stg = TransactionLog(tmp_path / "stg")
    tbl.clone_to(stg.table_path)
    stg.append(spark.createDataFrame([("s1",), ("s2",)], ["name"]))
    tbl.publish_from(stg, since_version=1)
    rids = [r.rid for r in tbl.snapshot(spark).collect()]
    assert len(set(rids)) == 3
    tbl.append(spark.createDataFrame([("m2",)], ["name"]))
    rids = [r.rid for r in tbl.snapshot(spark).collect()]
    assert len(set(rids)) == 4, f"watermark not advanced: {sorted(rids)}"

    # both sides allocated since the clone -> ranges overlap -> refuse
    stg2 = TransactionLog(tmp_path / "stg2")
    tbl.clone_to(stg2.table_path)
    stg2.append(spark.createDataFrame([("x",)], ["name"]))
    tbl.append(spark.createDataFrame([("y",)], ["name"]))
    with pytest.raises(ValueError, match="overlap"):
        tbl.publish_from(stg2, since_version=1)


def test_publish_refuses_declarations_staging_lacked(spark, tbl, tmp_path):
    """A generated-column declaration added to main after the clone
    means the staged rows never computed it — publish refuses."""
    from pyspark.sql.types import StructType

    schema = (
        StructType().add("id", "long").add("v", "string").add("year", "string")
    )
    tbl.create(schema, partition_keys=["year"])
    stg = TransactionLog(tmp_path / "stg")
    tbl.clone_to(stg.table_path)
    # staging writes under the clone-time contract (no declaration)
    stg.append(_df(spark, [(2, "2025-02-02", "wrong")]))
    # main (still empty) declares the generated column post-clone
    tbl.add_generated_column("year", "substring(v, 1, 4)")
    with pytest.raises(ValueError, match="never enforced"):
        tbl.publish_from(stg, since_version=1, spark=spark)


def test_clone_carries_bloom_index_declaration(spark, tbl, tmp_path):
    """The bloom-index declaration travels with a clone like
    generated/identity do: writes into the clone build bloom sidecars,
    so files WAP-published back into main can point-skip."""
    tbl.append(_df(spark, [(1, "a", "2024")]), ["year"])
    tbl.add_bloom_index("id")
    c = TransactionLog(tmp_path / "c")
    tbl.clone_to(c.table_path)
    st = c._replay(1)
    assert "id" in st["bloom_index"], "clone lost the bloom declaration"

    c.append(_df(spark, [(2, "b", "2024")]))
    # clone-local files carry no "base" (cloned entries point at main)
    new_adds = [
        a
        for a in c._replay(c.latest_version())["files"].values()
        if not a.get("base")
    ]
    assert new_adds and all("bloom" in a for a in new_adds), (
        "write into the clone did not build bloom sidecars"
    )
