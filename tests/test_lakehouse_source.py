"""Spark 4 Python Data Source connector over the transaction log
(``sources/lakehouse_source.py``): ``format("lakehouse")`` batch
reads (snapshot + time travel + deletion vectors + widened history),
a streaming SOURCE with commit-version offsets (exactly-once across
checkpoint restarts, compaction never re-delivered, non-append data
changes raise or skip), and a streaming SINK committing one atomic
log commit per micro-batch with Delta-style (txnAppId, batchId)
idempotent replay.
"""

from __future__ import annotations

import pytest

from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
    TransactionLog,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.lakehouse_source import (
    LakehouseCommitMessage,
    LakehouseStreamWriter,
    register_lakehouse_source,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["id", "v", "year"])


def _rows(df):
    return sorted((r.id, r.v, r.year) for r in df.collect())


@pytest.fixture
def tbl(tmp_path):
    return TransactionLog(tmp_path / "t")


@pytest.fixture(autouse=True)
def _register(spark):
    register_lakehouse_source(spark)


def _run_to(spark, src_path, dst_path, ck, **read_opts):
    """One availableNow leg: lakehouse source -> lakehouse sink."""
    reader = spark.readStream.format("lakehouse")
    for k, v in read_opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load(str(src_path))
        .writeStream.format("lakehouse")
        .option("checkpointLocation", str(ck))
        .option("partitionKeys", "year")
        .option("txnAppId", "test-app")
        .trigger(availableNow=True)
        .start(str(dst_path))
    )
    q.awaitTermination(180)


@pytest.mark.slow
def test_batch_read_matches_snapshot(spark, tbl):
    """Connector batch read == TransactionLog.snapshot on a table with
    partition columns AND an active deletion vector."""
    tbl.append(_df(spark, [(1, 10, "2024"), (2, 20, "2024"), (3, 30, "2025")]), ["year"])
    tbl.append(_df(spark, [(4, 40, "2025")]))
    tbl.delete_where(spark, "id = 2", mode="dv")
    got = spark.read.format("lakehouse").load(str(tbl.table_path))
    assert got.schema == tbl.snapshot(spark).schema
    assert _rows(got) == _rows(tbl.snapshot(spark))
    assert _rows(got) == [(1, 10, "2024"), (3, 30, "2025"), (4, 40, "2025")]


def test_batch_time_travel_option(spark, tbl):
    tbl.append(_df(spark, [(1, 10, "2024")]), ["year"])
    tbl.overwrite(_df(spark, [(9, 90, "2025")]), ["year"])
    v1 = spark.read.format("lakehouse").option("version", "1").load(str(tbl.table_path))
    assert _rows(v1) == [(1, 10, "2024")]
    latest = spark.read.format("lakehouse").load(str(tbl.table_path))
    assert _rows(latest) == [(9, 90, "2025")]


def test_batch_read_widened_history(spark, tbl):
    """An int32 file committed before an int->long evolution reads
    under the widened committed schema (the connector casts per file,
    like the JVM path does under the log's schema authority)."""
    ints = spark.createDataFrame([(1, 10, "2024")], "id int, v int, year string")
    longs = spark.createDataFrame([(2, 20, "2024")], "id long, v long, year string")
    tbl.append(ints, ["year"])
    tbl.append(longs, evolve_schema=True)
    got = spark.read.format("lakehouse").load(str(tbl.table_path))
    assert dict(got.dtypes)["v"] == "bigint"
    assert _rows(got) == [(1, 10, "2024"), (2, 20, "2024")]


@pytest.mark.slow
def test_stream_exactly_once_across_restart(spark, tbl, tmp_path):
    """Leg 1 delivers the table; a compaction plus a new append later,
    leg 2 (same checkpoint) delivers ONLY the new append — Spark's
    offset checkpoint + version-offset replay give exactly-once."""
    dst = TransactionLog(tmp_path / "dst")
    ck = tmp_path / "ck"
    tbl.append(_df(spark, [(1, 10, "2024"), (2, 20, "2024")]), ["year"])
    tbl.append(_df(spark, [(3, 30, "2025")]))
    _run_to(spark, tbl.table_path, dst.table_path, ck)
    assert _rows(dst.snapshot(spark)) == [(1, 10, "2024"), (2, 20, "2024"), (3, 30, "2025")]
    assert [c.op for c in dst.history()] == ["append"]

    tbl.compact(spark)  # dataChange: false — must not re-deliver
    tbl.append(_df(spark, [(4, 40, "2025")]))
    _run_to(spark, tbl.table_path, dst.table_path, ck)
    assert _rows(dst.snapshot(spark)) == [
        (1, 10, "2024"), (2, 20, "2024"), (3, 30, "2025"), (4, 40, "2025"),
    ]
    # one commit per leg; the compaction contributed zero rows/commits
    assert [c.op for c in dst.history()] == ["append", "append"]


@pytest.mark.slow
def test_stream_raises_on_change_commit(spark, tbl, tmp_path):
    """A merge/delete in the source range fails the stream loudly; the
    skipChangeCommits opt-in skips it and keeps the feed append-only."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    dst = TransactionLog(tmp_path / "dst")
    tbl.append(_df(spark, [(1, 10, "2024"), (2, 20, "2024")]), ["year"])
    tbl.delete_where(spark, "id = 1", mode="cow")
    with pytest.raises(StreamingQueryException, match="skipChangeCommits"):
        _run_to(spark, tbl.table_path, dst.table_path, tmp_path / "ck1")
    # opt-in: the delete commit is skipped; only the append's rows flow
    _run_to(
        spark, tbl.table_path, dst.table_path, tmp_path / "ck2",
        skipChangeCommits="true",
    )
    assert _rows(dst.snapshot(spark)) == [(1, 10, "2024"), (2, 20, "2024")]


@pytest.mark.slow
def test_stream_starting_version(spark, tbl, tmp_path):
    tbl.append(_df(spark, [(1, 10, "2024")]), ["year"])
    tbl.append(_df(spark, [(2, 20, "2025")]))
    dst = TransactionLog(tmp_path / "dst")
    _run_to(
        spark, tbl.table_path, dst.table_path, tmp_path / "ck",
        startingVersion="1",
    )
    assert _rows(dst.snapshot(spark)) == [(2, 20, "2025")]


@pytest.mark.slow
def test_stream_sink_commit_shape(spark, tbl, tmp_path):
    """The sink's commit is a real log commit: hive partition dirs,
    per-file row counts, data-skipping stats — downstream snapshot(),
    data skipping, and CDF-synthesized inserts all work on it."""
    dst = TransactionLog(tmp_path / "dst")
    tbl.append(_df(spark, [(1, 10, "2024"), (2, 20, "2025")]), ["year"])
    _run_to(spark, tbl.table_path, dst.table_path, tmp_path / "ck")
    st = dst._replay(dst.latest_version())
    assert st["partition_keys"] == ["year"]
    adds = list(st["files"].values())
    assert {a["partition_values"]["year"] for a in adds} == {"2024", "2025"}
    assert all(a["rows"] >= 1 and a["stats"] for a in adds)
    # data skipping over the sink's committed stats
    assert len(dst.matching_files("year = '2024'")) < len(adds) or len(adds) == 1
    feed = dst.read_change_feed(spark, 0)
    assert {r._change_type for r in feed.collect()} == {"insert"}


@pytest.mark.slow
def test_stream_sink_idempotent_replay(spark, tbl, tmp_path):
    """Replaying a (txnAppId, batchId) the log has already seen commits
    nothing and sweeps the re-staged bytes (Delta idempotent writes)."""
    dst = TransactionLog(tmp_path / "dst")
    tbl.append(_df(spark, [(1, 10, "2024")]), ["year"])
    _run_to(spark, tbl.table_path, dst.table_path, tmp_path / "ck")
    v = dst.latest_version()
    w = LakehouseStreamWriter(
        str(dst.table_path), tbl.snapshot(spark).schema, [], "test-app"
    )
    # batchId 0 already committed by the leg above -> no-op
    w.commit([LakehouseCommitMessage(adds=[])], batchId=0)
    assert dst.latest_version() == v
    # a NEW batchId commits
    w.commit([LakehouseCommitMessage(adds=[])], batchId=1)
    assert dst.latest_version() == v + 1


def test_stream_sink_rejects_constrained_table(spark, tbl, tmp_path):
    """CHECK constraints need batch-atomic enforcement the sink can't
    provide without a session — refuse loudly instead of silently
    skipping validation."""
    dst = TransactionLog(tmp_path / "dst")
    dst.append(_df(spark, [(1, 10, "2024")]), ["year"])
    dst.add_check_constraint(spark, "pos_v", "v > 0")
    with pytest.raises(ValueError, match="CHECK constraints"):
        LakehouseStreamWriter(
            str(dst.table_path), _df(spark, [(1, 10, "2024")]).schema, [], None
        )


@pytest.mark.slow
def test_stream_restart_after_source_widening(spark, tbl, tmp_path):
    """The classic production failure, on the connector surface: a
    checkpointed stream stops, the source schema widens int->long, the
    stream resumes.  The restarted query re-reads schema() (now the
    widened committed schema), the old version offsets stay valid, the
    pre-widening int32 files cast up per file, and the sink's log
    carries the widened schema forward — end state matches batch."""
    dst = TransactionLog(tmp_path / "dst")
    ck = tmp_path / "ck"
    ints = spark.createDataFrame([(1, 10, "2024")], "id int, v int, year string")
    tbl.append(ints, ["year"])
    _run_to(spark, tbl.table_path, dst.table_path, ck)
    assert dict(dst.snapshot(spark).dtypes)["v"] == "int"

    big = 1 << 40
    longs = spark.createDataFrame(
        [(2, big, "2025")], "id long, v long, year string"
    )
    tbl.append(longs, evolve_schema=True)
    _run_to(spark, tbl.table_path, dst.table_path, ck)
    out = dst.snapshot(spark)
    assert dict(out.dtypes)["v"] == "bigint"
    assert _rows(out) == [(1, 10, "2024"), (2, big, "2025")]
    # exactly-once held through the restart: one commit per leg
    assert [c.op for c in dst.history()] == ["append", "append"]


@pytest.mark.slow
def test_stream_change_feed_matches_batch_feed(spark, tbl, tmp_path):
    """readChangeFeed=true streams the row-level CDF: appends become
    insert rows, a merge streams its update_preimage/postimage/insert
    sidecar, a DV delete streams delete rows — altogether equal to the
    batch read_change_feed over the same range, delivered exactly once
    across a checkpoint restart."""
    tbl.append(_df(spark, [(1, 10, "2024"), (2, 20, "2025")]), ["year"])
    tbl.merge_upsert(_df(spark, [(2, 21, "2025"), (3, 30, "2025")]), ["id"])
    tbl.delete_where(spark, "id = 1", mode="dv")

    out = tmp_path / "feed"
    ck = tmp_path / "ck"

    def leg():
        q = (
            spark.readStream.format("lakehouse")
            .option("readChangeFeed", "true")
            .load(str(tbl.table_path))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    leg()

    def feed_rows(df):
        return sorted(
            (r.id, r.v, r.year, r._change_type, r._commit_version)
            for r in df.collect()
        )

    got = feed_rows(spark.read.parquet(str(out)))
    want = feed_rows(tbl.read_change_feed(spark, 0))
    assert got == want
    assert {r[3] for r in got} == {
        "insert", "update_preimage", "update_postimage", "delete",
    }

    # restart: only the NEW commit's feed rows arrive
    tbl.append(_df(spark, [(9, 90, "2024")]))
    leg()
    got2 = feed_rows(spark.read.parquet(str(out)))
    assert got2 == feed_rows(tbl.read_change_feed(spark, 0))
    assert len(got2) == len(got) + 1


def test_stream_change_feed_raises_on_overwrite(spark, tbl, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    tbl.append(_df(spark, [(1, 10, "2024")]), ["year"])
    tbl.overwrite(_df(spark, [(2, 20, "2024")]), ["year"])
    q = (
        spark.readStream.format("lakehouse")
        .option("readChangeFeed", "true")
        .load(str(tbl.table_path))
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="full refresh"):
        q.awaitTermination(180)


@pytest.mark.slow
def test_stream_sink_escapes_partition_values(spark, tbl, tmp_path):
    """Partition values containing hive-special characters ('=', '/',
    ':') must be %XX-escaped in the sink's dir names — a literal '/'
    would nest directories and corrupt the layout — and must round-trip
    exactly through a snapshot read."""
    dst = TransactionLog(tmp_path / "dst")
    tbl.append(
        _df(spark, [(1, 10, "a=b"), (2, 20, "c/d"), (3, 30, "e:f")]), ["year"]
    )
    _run_to(spark, tbl.table_path, dst.table_path, tmp_path / "ck")
    assert _rows(dst.snapshot(spark)) == [
        (1, 10, "a=b"), (2, 20, "c/d"), (3, 30, "e:f"),
    ]
    st = dst._replay(dst.latest_version())
    assert {a["partition_values"]["year"] for a in st["files"].values()} == {
        "a=b", "c/d", "e:f",
    }
    # no directory nesting leaked from the '/'
    assert not (dst.table_path / "year=c").exists()


@pytest.mark.slow
def test_stream_sink_merge_schema_column_add(spark, tbl, tmp_path):
    """mergeSchema=true lets a stream append a NEW column to an
    existing table: the commit declares the widened union, old files
    read null-filled under it, new rows carry their values."""
    dst = TransactionLog(tmp_path / "dst")
    dst.append(_df(spark, [(1, 10, "2024")]), ["year"])

    tbl.append(
        spark.createDataFrame(
            [(2, 20, "2025", "x")], "id long, v long, year string, extra string"
        ),
        ["year"],
    )
    q = (
        spark.readStream.format("lakehouse").load(str(tbl.table_path))
        .writeStream.format("lakehouse")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("mergeSchema", "true")
        .trigger(availableNow=True)
        .start(str(dst.table_path))
    )
    q.awaitTermination(180)
    out = dst.snapshot(spark)
    assert "extra" in out.columns
    got = sorted((r.id, r.v, r.year, r.extra) for r in out.collect())
    assert got == [(1, 10, "2024", None), (2, 20, "2025", "x")]
    # without the option the same drift still refuses loudly
    with pytest.raises(ValueError, match="mergeSchema"):
        LakehouseStreamWriter(
            str(dst.table_path),
            _df(spark, [(1, 1, "y")]).select("id", "v").schema,
            [],
            None,
        )


@pytest.mark.slow
def test_stream_change_feed_spans_column_add(spark, tbl, tmp_path):
    """A CDF sidecar staged BEFORE a column-add lacks the new field;
    the streamed feed must null-fill it under the widened stream
    schema (like the batch feed's align_to_schema) instead of
    crashing."""
    tbl.append(_df(spark, [(1, 10, "2024"), (2, 20, "2024")]), ["year"])
    tbl.delete_where(spark, "id = 2", mode="dv")  # sidecar, old schema
    tbl.append(
        spark.createDataFrame(
            [(3, 30, "2024", "x")], "id long, v long, year string, extra string"
        ),
        evolve_schema=True,
    )
    out = tmp_path / "feed"
    q = (
        spark.readStream.format("lakehouse")
        .option("readChangeFeed", "true")
        .load(str(tbl.table_path))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r.id, r.extra, r._change_type)
        for r in spark.read.parquet(str(out)).collect()
    )
    assert got == [
        (1, None, "insert"),
        (2, None, "delete"),
        (2, None, "insert"),
        (3, "x", "insert"),
    ]


@pytest.mark.slow
def test_max_files_per_trigger_admission(spark, tbl):
    """Rate-limited offsets: latestOffset advances only through as
    many commits as fit the file budget (commit-granular, >= 1 commit
    per trigger), so a deep backlog becomes bounded micro-batches."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.lakehouse_source import (
        LakehouseStreamReader,
    )

    for i in range(6):  # 6 commits x 2 files each (one per partition)
        tbl.append(
            _df(spark, [(2 * i, i, "2024"), (2 * i + 1, i, "2025")]),
            ["year"] if i == 0 else None,
        )
    schema = spark.read.format("lakehouse").load(str(tbl.table_path)).schema

    r = LakehouseStreamReader(
        str(tbl.table_path), schema, 0, False, max_files_per_trigger=4
    )
    ends = [r.latestOffset()["version"] for _ in range(4)]
    assert ends == [2, 4, 6, 6]  # 2 commits (4 files) per trigger

    # a single over-budget commit is still admitted whole (progress
    # guarantee), one commit per trigger
    r1 = LakehouseStreamReader(
        str(tbl.table_path), schema, 0, False, max_files_per_trigger=1
    )
    assert [r1.latestOffset()["version"] for _ in range(3)] == [1, 2, 3]

    # restart with a stale cursor: partitions() re-syncs forward, so
    # the next trigger continues from the checkpointed end
    r2 = LakehouseStreamReader(
        str(tbl.table_path), schema, 0, False, max_files_per_trigger=4
    )
    r2.partitions({"version": 4}, {"version": 5})  # checkpoint says 5
    assert r2.latestOffset()["version"] == 6  # not a rewind to 2


@pytest.mark.slow
def test_max_files_per_trigger_end_to_end(spark, tbl, tmp_path):
    """The option plumbs through format("lakehouse"); under availableNow
    each RUN drains one capped micro-batch from the checkpoint (the
    Python data-source API has no availableNow catch-up loop), so
    repeated runs step through the backlog exactly once — two commits
    (2 files each, budget 2 -> 1 commit) per run, never re-delivered."""
    for i in range(4):
        tbl.append(
            _df(spark, [(2 * i, i, "2024"), (2 * i + 1, i, "2025")]),
            ["year"] if i == 0 else None,
        )
    dst = TransactionLog(tmp_path / "dst")
    seen = []
    for _ in range(4):
        _run_to(
            spark,
            tbl.table_path,
            dst.table_path,
            tmp_path / "ck",
            maxFilesPerTrigger="2",
        )
        seen.append(len(_rows(
            spark.read.format("lakehouse").load(str(dst.table_path))
        )))
    assert seen == [2, 4, 6, 8]  # one 2-file commit per run, no replays
    got = spark.read.format("lakehouse").load(str(dst.table_path))
    assert _rows(got) == _rows(tbl.snapshot(spark))


def test_batch_read_timestamp_as_of(spark, tbl):
    """timestampAsOf resolves to the last commit at or before the ISO
    timestamp — including schema: the read describes THAT version."""
    import json as _json

    tbl.append(_df(spark, [(1, 1, "2024")]), ["year"])
    ts_v1 = _json.loads(
        (tbl.log_path / f"{str(1).zfill(20)}.json").read_text()
    )["ts"]
    tbl.append(_df(spark, [(2, 2, "2024")]))
    got = (
        spark.read.format("lakehouse")
        .option("timestampAsOf", ts_v1)
        .load(str(tbl.table_path))
    )
    assert _rows(got) == [(1, 1, "2024")]
    with pytest.raises(Exception, match="mutually exclusive"):
        (
            spark.read.format("lakehouse")
            .option("timestampAsOf", ts_v1)
            .option("version", "2")
            .load(str(tbl.table_path))
            .collect()
        )


def test_max_bytes_per_trigger_admission(spark, tbl):
    """Byte-budgeted offsets: each commit's admitted size comes from
    the committed add actions; an over-budget single commit is still
    admitted whole, and the files/bytes budgets compose (tighter wins)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.lakehouse_source import (
        LakehouseStreamReader,
    )

    for i in range(4):
        tbl.append(
            _df(spark, [(2 * i, i, "2024"), (2 * i + 1, i, "2025")]),
            ["year"] if i == 0 else None,
        )
    per_commit = sum(
        a["size"]
        for a in TransactionLog(tbl.table_path)._read_commit(1)["add"]
    )
    schema = spark.read.format("lakehouse").load(str(tbl.table_path)).schema
    # budget ~= 1.5 commits of bytes -> 1 commit per trigger after the
    # first admission exhausts most of it
    r = LakehouseStreamReader(
        str(tbl.table_path), schema, 0, False,
        max_bytes_per_trigger=int(per_commit * 1.5),
    )
    assert [r.latestOffset()["version"] for _ in range(4)] == [1, 2, 3, 4]
    # byte budget generous, file budget tight -> file budget governs
    r2 = LakehouseStreamReader(
        str(tbl.table_path), schema, 0, False,
        max_files_per_trigger=2, max_bytes_per_trigger=10**9,
    )
    assert r2.latestOffset()["version"] == 1  # 2 files = first commit


def test_stream_sink_commits_on_expired_log(spark, tbl):
    """The sink's idempotence check honours the expiry horizon: after
    ``expire_snapshots`` removed the commit that carries an app's
    ``streamTxn``, a replayed batch is still a no-op (the watermark
    folded into the expiry marker) and new batches, of that app or a
    new one, commit instead of tripping over the expired records."""
    schema = _df(spark, [(1, 10, "2024")]).schema
    tbl.create(schema)

    def commit(app, batch):
        LakehouseStreamWriter(str(tbl.table_path), schema, [], app).commit(
            [LakehouseCommitMessage(adds=[])], batchId=batch
        )

    commit("A", 0)  # v2 carries streamTxn A/0
    for i in range(6):
        commit(None, i)  # v3..v8
    tbl.expire_snapshots(retain_last=2)
    assert tbl.earliest_version() == 7
    commit("A", 0)  # replay: already committed at v2
    assert tbl.latest_version() == 8
    commit("A", 1)
    assert tbl.latest_version() == 9
    assert tbl._read_commit(9)["streamTxn"] == {"appId": "A", "batchId": 1}
    commit("B", 0)
    assert tbl.latest_version() == 10
    assert tbl.last_txn_version("A") == 1 and tbl.last_txn_version("B") == 0
