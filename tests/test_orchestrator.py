"""End-to-end orchestrator tests: queue dirs, dispatch, dedup gate,
sequential chains, reconciliation outcomes, plan-file lifecycle."""

from __future__ import annotations

import json
import re

import pytest

from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.engine import (
    Engine,
    EngineConfig,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.orchestrator import (
    Orchestrator,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.model import (
    ExtractionPlan,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.ledger import (
    Ledger,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.notify import (
    NotificationLog,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
    SourceRegistry,
)
from tests.conftest import SF_SMALL


@pytest.fixture()
def orch(spark, tmp_path):
    eng = Engine(
        spark,
        SourceRegistry(spark, parquet_root=SF_SMALL),
        EngineConfig(target_root=str(tmp_path / "lake"), register_catalog=False),
        Ledger(tmp_path / "ledger.jsonl"),
        NotificationLog(tmp_path / "notify.jsonl"),
    )
    return Orchestrator(eng, tmp_path / "queue")


def _plan_dict(query="SELECT * FROM region", table="region", part=1, **kw):
    d = {
        "SourceName": "sybaseiq",
        "SourceDatabase": "iqdemo",
        "SourceSchema": "dba",
        "SourceTable": table,
        "Query": query,
        "MigrationPart": part,
        "ExpectedAmountOfRecords": " ",
    }
    d.update(kw)
    return d


def test_run_now_queue_lifecycle(orch):
    qdir = orch.queue_root / "run_now"
    (qdir / "good.json").write_text(json.dumps(_plan_dict()))
    (qdir / "done_old.json").write_text(json.dumps(_plan_dict()))  # skipped: 'done'
    (qdir / "notes.txt").write_text("not a plan")

    outcomes = orch.dispatch({})
    assert len(outcomes) == 1
    assert outcomes[0].succeeded
    assert not (qdir / "good.json").exists()
    assert (orch.queue_root / "succeeded" / "good.json").exists()
    assert (qdir / "done_old.json").exists()  # untouched


def test_failed_plan_moves_to_failed(orch):
    qdir = orch.queue_root / "run_now"
    (qdir / "bad.json").write_text(
        json.dumps(_plan_dict(query="SELECT * FROM no_such_table"))
    )
    outcomes = orch.run_now()
    assert not outcomes[0].succeeded
    assert (orch.queue_root / "failed" / "bad.json").exists()
    # ledger recorded the failure
    state = orch.engine.ledger.current_state()
    assert any(v.get("GlueJobFinalStatus") == "FAILED" for v in state.values())


def test_dedup_gate_skips_second_run(orch):
    plan = ExtractionPlan.from_dict(_plan_dict())
    first = orch.run_plan(plan)
    assert first.results and first.results[0].status == "SUCCEEDED"
    second = orch.run_plan(plan)
    assert second.results == [] and len(second.skipped) == 1
    # skip marker row recorded (JobHasRunOrIsRunning-…)
    assert any(
        str(k[0]).startswith("JobHasRunOrIsRunning-")
        for k in orch.engine.ledger.current_state()
    )


def test_sequential_chain_continues_past_failure(orch):
    plan = ExtractionPlan.from_dict(
        {
            "SourceName": "sybaseiq",
            "SourceDatabase": "iqdemo",
            "SourceSchema": "dba",
            "SequentialMultipleParts": True,
            "Jobs": [
                _plan_dict(part=1),
                _plan_dict(query="SELECT * FROM missing_tbl", table="nation", part=2),
                _plan_dict(query="SELECT * FROM nation", table="nation", part=3),
            ],
        }
    )
    out = orch.run_plan(plan)
    statuses = [r.status for r in out.results]
    assert statuses == ["SUCCEEDED", "FAILED", "SUCCEEDED"]
    assert not out.succeeded


def test_inactive_plan_dropped(orch):
    out = orch.run_plan(ExtractionPlan.from_dict(_plan_dict(Active=False)))
    assert out.results == [] and out.skipped == []


def test_reconciliation_warning_notification(orch):
    plan = ExtractionPlan.from_dict(
        _plan_dict(ExpectedAmountOfRecords=123456789)  # will mismatch
    )
    out = orch.run_plan(plan)
    assert out.results[0].reconcile_status == "mismatch"
    subjects = [e["subject"] for e in orch.engine.notifications.entries()]
    assert any(" WITH WARNING" in s and "[WITH WARNING]" not in s for s in subjects)
    assert all(len(s) <= 99 for s in subjects)


def test_schedule_scan(orch):
    d = orch.queue_root / "run_on_schedule_2"
    d.mkdir(parents=True, exist_ok=True)
    (d / "a.json").write_text(json.dumps(_plan_dict()))
    outcomes = orch.dispatch({"schedule_number": 2})
    assert len(outcomes) == 1 and outcomes[0].succeeded


REFERENCE_PLAN_DIR = "/root/reference/MigrationPlans/sybaseiq/migrationplans"


@pytest.mark.skipif(
    not __import__("pathlib").Path(REFERENCE_PLAN_DIR).exists(),
    reason="reference plans not present",
)
def test_reference_example_plans_run_verbatim(spark, tmp_path):
    """The reference repo's own example plan JSONs run UNMODIFIED:
    bracket identifiers, three-part names, sequential two-part chains,
    S3 date partitioning, and reconciliation mismatch -> WITH WARNING
    all behave as the reference platform would (JDBC falls back to the
    registered local table since no Sybase server exists here)."""
    from datetime import date
    from pathlib import Path

    # the table the reference example extracts
    rows = [
        (i, date(2024, 1 + (i % 3), 1 + (i % 27)), f"cat{i % 4}", i * 1.5)
        for i in range(1, 101)
    ]
    src = spark.createDataFrame(
        rows, ["Row ID", "order_date", "category", "Sales$"]
    )
    src_path = str(tmp_path / "superstore_src")
    src.write.mode("overwrite").parquet(src_path)

    eng = Engine(
        spark,
        SourceRegistry(spark, table_paths={"tb_tableau_superstore": src_path}),
        EngineConfig(target_root=str(tmp_path / "lake"), register_catalog=False),
        Ledger(tmp_path / "ledger.jsonl"),
        NotificationLog(tmp_path / "notify.jsonl"),
    )
    plan_file = Path(REFERENCE_PLAN_DIR) / "run_on_schedule_1" / "example1-sybase.json"
    plan = ExtractionPlan.from_file(plan_file)
    assert plan.active and len(plan.jobs) == 2

    results = [eng.run_job(j) for j in plan.jobs]
    assert [r.status for r in results] == ["SUCCEEDED", "SUCCEEDED"]
    # part 1 extracts Row ID <= 4997 (all 100 local rows); part 2 none
    assert results[0].row_count == 100
    assert results[1].row_count == 0
    # expected 4997 vs 100 -> mismatch -> ' WITH WARNING' subject
    assert results[0].reconcile_status == "mismatch"
    subjects = [e["subject"] for e in eng.notifications.entries()]
    assert any(" WITH WARNING" in s for s in subjects)
    # S3 partition column order_date is temporal -> year/month/day dirs
    out = results[0].sink
    assert out.partition_keys == ["year", "month", "day"]
    part_dirs = {p.name for p in Path(out.path).iterdir() if p.is_dir()}
    assert any(d.startswith("year=") for d in part_dirs)
    # the second reference example (postgres engine) parses verbatim too
    p2 = ExtractionPlan.from_file(
        Path(REFERENCE_PLAN_DIR) / "run_on_schedule_1" / "example2-postgre.json"
    )
    assert p2.jobs and p2.jobs[0].jdbc_connection_string


@pytest.mark.slow
def test_iterative_operators_record_ledger_rounds(spark, tmp_path):
    """VERDICT r4 item 6: iterative operators surface round counts and
    convergence deltas in the K3 ledger so unattended runs can alarm on
    non-convergence via the normal final_status monitoring."""
    import pytest as _pytest

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.dedup import (
        connected_components,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog_stats import (
        trade_pagerank_nations,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.ledger import (
        Ledger,
    )

    led = Ledger(tmp_path / "ledger.jsonl")

    # a 12-deep chain: converges, multiple rounds, decreasing deltas
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    labels = connected_components(pairs, max_iterations=20, ledger=led)
    assert labels.select("label").distinct().count() == 1
    row = led.get("iterative-connected_components", "_iterative_ops")
    assert row["Converged"] is True
    assert 1 <= row["Rounds"] <= 6  # pointer jumping: O(log diameter)
    assert row["GlueJobFinalStatus"] == "SUCCEEDED"
    assert len(row["ConvergenceDeltas"]) == row["Rounds"]

    # non-convergence is recorded BEFORE the raise
    led2 = Ledger(tmp_path / "ledger2.jsonl")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=1, ledger=led2)
    row2 = led2.get("iterative-connected_components", "_iterative_ops")
    assert row2["Converged"] is False
    assert row2["GlueJobFinalStatus"] == "FAILED"
    assert row2["Rounds"] == row2["MaxRounds"] == 1

    # pagerank: fixed iterations, per-round L1 movement trace
    trade_pagerank_nations(spark, "/root/testdata/sf0.001", ledger=led).collect()
    prow = led.get("iterative-trade_pagerank_nations", "_iterative_ops")
    assert prow["Rounds"] == prow["MaxRounds"]
    assert len(prow["ConvergenceDeltas"]) == prow["Rounds"]
    # rank movement must shrink as damping compounds
    d = [float(x) for x in prow["ConvergenceDeltas"]]
    assert d[-1] < d[0]


def test_malformed_plan_file_routes_to_failed(orch, tmp_path):
    """r5 review fix: a malformed plan file must be moved to failed/
    and must not wedge the queue for the well-formed plans behind it."""
    import json

    run_now = tmp_path / "queue" / "run_now"
    run_now.mkdir(parents=True, exist_ok=True)
    (run_now / "0-bad.json").write_text("{not json")
    good = {
        "SourceName": "s", "SourceDatabase": "d", "SourceSchema": "x",
        "SourceTable": "nation", "Query": "SELECT * FROM nation",
    }
    (run_now / "1-good.json").write_text(json.dumps(good))

    outcomes = orch.run_now()
    assert len(outcomes) == 2
    bad, ok = outcomes
    assert bad.parse_error and not bad.succeeded
    assert bad.moved_to and bad.moved_to.endswith("failed/0-bad.json")
    assert ok.succeeded
    assert not list(run_now.glob("*.json"))  # queue fully drained


def test_with_retry_rejects_nonpositive_attempts():
    import pytest as _pytest

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.orchestrator import (
        with_retry,
    )

    with _pytest.raises(ValueError, match="attempts"):
        with_retry(lambda: 1, attempts=0)


def test_salted_join_rejects_outer_small_side(spark):
    """r5 review fix: right/full outer would surface unmatched small
    rows once per salt replica; left keeps big-side semantics exact."""
    import pytest as _pytest

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.skew import (
        salted_join,
    )

    big = spark.createDataFrame([(1, "x")], "k int, v string")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k int, d string")
    for how in ("right", "full", "full_outer", "right_outer"):
        with _pytest.raises(ValueError, match="salt replica"):
            salted_join(big, dim, "k", salt=4, how=how)
    # left: unmatched BIG rows appear exactly once
    big2 = spark.createDataFrame([(1, "x"), (9, "y")], "k int, v string")
    out = salted_join(big2, dim, "k", salt=4, how="left").collect()
    assert len(out) == 2
    assert {r.k: r.d for r in out} == {1: "a", 9: None}


def test_reconcile_unmeasured_count_is_skipped():
    """r5 review fix: count_strategy='none' leaves actual=None — an
    unmeasured count is 'skipped', never a WARNING-grade mismatch."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.notify import (
        reconcile_counts,
    )

    assert reconcile_counts(1000, None) == "skipped"
    assert reconcile_counts(None, None) == "skipped"
    assert reconcile_counts(5, 5) == "ok"
    assert reconcile_counts(5, 6) == "mismatch"


def test_jdbc_partitioned_scan_requires_bounds():
    import pytest as _pytest

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        SourceRegistry,
    )

    with _pytest.raises(ValueError, match="LowerBound"):
        SourceRegistry.jdbc_scan_options(
            "jdbc:x", "SELECT 1", "u", "p", partition_column="id"
        )


def test_view_cache_survives_rebind(spark, tmp_path):
    """r5 review fix: register_views_for_query rebinding a view name
    must invalidate register_parquet_views' cache entry, so the next
    parquet-views call re-registers instead of serving stale data."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        SourceRegistry,
        register_parquet_views,
    )
    from tests.conftest import SF_SMALL

    register_parquet_views(spark, SF_SMALL, ["nation"])
    n_small = spark.sql("SELECT count(*) AS n FROM nation").collect()[0].n

    other = str(tmp_path / "nation.parquet")
    spark.sql("SELECT * FROM nation LIMIT 3").write.parquet(other)
    reg = SourceRegistry(spark, table_paths={"nation": other})
    reg.register_views_for_query(["nation"])
    assert spark.sql("SELECT count(*) AS n FROM nation").collect()[0].n == 3

    # the cache must NOT falsely skip: this used to keep serving 3 rows
    register_parquet_views(spark, SF_SMALL, ["nation"])
    assert spark.sql("SELECT count(*) AS n FROM nation").collect()[0].n == n_small


# ---- C7 at the orchestrator level: concurrent plan dispatch ------------


def _mk_orch(spark, tmp_path, max_concurrent_runs):
    eng = Engine(
        spark,
        SourceRegistry(spark, parquet_root=SF_SMALL),
        EngineConfig(target_root=str(tmp_path / "lake"), register_catalog=False),
        Ledger(tmp_path / "ledger.jsonl"),
        NotificationLog(tmp_path / "notify.jsonl"),
    )
    return Orchestrator(
        eng, tmp_path / "queue", max_concurrent_runs=max_concurrent_runs
    )


def test_concurrent_schedule_scan_runs_all_plans_gaplessly(spark, tmp_path):
    """N plans dispatched over a 4-thread pool: every plan runs exactly
    once, every ledger lifecycle lands (N create rows, N SUCCEEDED),
    all files move to succeeded/ — the reference's MaxConcurrentRuns=50
    behavior (template2.yaml:641) at the orchestrator level."""
    orch = _mk_orch(spark, tmp_path, max_concurrent_runs=4)
    sched = orch.queue_root / "run_on_schedule_7"
    sched.mkdir()
    tables = ["region", "nation", "customer", "supplier", "part", "orders"]
    for i, t in enumerate(tables):
        (sched / f"plan{i}.json").write_text(
            json.dumps(_plan_dict(query=f"SELECT * FROM {t}", table=t))
        )

    outcomes = orch.run_schedule(7)
    assert len(outcomes) == len(tables)
    assert all(o.succeeded for o in outcomes), [
        (o.plan_file, o.parse_error) for o in outcomes
    ]
    # outcome order follows file order despite concurrent execution
    assert [o.plan_file.split("/")[-1] for o in outcomes] == [
        f"plan{i}.json" for i in range(len(tables))
    ]
    led = orch.engine.ledger
    state = led.current_state()
    runs = {
        k: v
        for k, v in state.items()
        if not k[0].startswith("JobHasRunOrIsRunning")
    }
    assert len(runs) == len(tables), sorted(runs)
    assert all(
        v.get("GlueJobFinalStatus") == "SUCCEEDED" for v in runs.values()
    ), {k: v.get("GlueJobFinalStatus") for k, v in runs.items()}
    # every event line parsed (no torn/interleaved writes)
    assert all("_event_ts" in ev for ev in led.events())
    done = sorted(p.name for p in (orch.queue_root / "succeeded").iterdir())
    assert done == sorted(f"plan{i}.json" for i in range(len(tables)))


def test_concurrent_duplicate_plans_run_once_past_dedup_gate(spark, tmp_path):
    """The SAME plan queued under 4 names and dispatched concurrently:
    the atomic claim admits exactly ONE run; the other three record
    skip markers and still lifecycle to succeeded/ (idempotent
    redelivery, reference routing/lambda_function.py:78-111)."""
    orch = _mk_orch(spark, tmp_path, max_concurrent_runs=4)
    qdir = orch.queue_root / "run_now"
    payload = json.dumps(_plan_dict())  # identical -> same ExecutionHashId
    for i in range(4):
        (qdir / f"copy{i}.json").write_text(payload)

    outcomes = orch.dispatch({})
    assert len(outcomes) == 4
    assert all(o.succeeded for o in outcomes)
    ran = [o for o in outcomes if o.results]
    skipped = [o for o in outcomes if o.skipped and not o.results]
    assert len(ran) == 1, f"{len(ran)} copies ran past the dedup gate"
    assert len(skipped) == 3
    led = orch.engine.ledger
    state = led.current_state()
    creates = [
        k
        for k in state
        if not k[0].startswith("JobHasRunOrIsRunning")
    ]
    assert len(creates) == 1  # one claimed run row, ever
    markers = [
        k for k in state if k[0].startswith("JobHasRunOrIsRunning")
    ]
    assert len(markers) >= 1  # markers share a key; >=1 materialized


def test_claim_run_atomic_under_thread_hammer(tmp_path):
    """16 threads race claim_run on one key: exactly one wins."""
    import threading

    led = Ledger(tmp_path / "ledger.jsonl")
    wins: list[bool] = []
    barrier = threading.Barrier(16)

    def go():
        barrier.wait()
        wins.append(
            led.claim_run(
                {"ExecutionHashId": "h1", "SourceTable": "t", "Query": "q"}
            )
        )

    ts = [threading.Thread(target=go) for _ in range(16)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sum(wins) == 1
    # FAILED is retryable: after the loser marks failure, a new claim wins
    led.update_item("h1", "t", GlueJobFinalStatus="FAILED")
    assert led.claim_run(
        {"ExecutionHashId": "h1", "SourceTable": "t", "Query": "q"}
    )


def test_ledger_torn_tail_waits_and_bad_line_names_offset(tmp_path):
    """A partial trailing line stays unread until it is complete,
    instead of failing every read; a claim past it (under the
    single-writer rule, a crashed write) is refused before anything is
    written.  The next append closes a crash remnant off instead of
    absorbing its event, and a complete line that does not parse raises
    ValueError naming the path and byte offset."""
    path = tmp_path / "ledger.jsonl"
    led = Ledger(path)
    led.put_item({"ExecutionHashId": "h1", "SourceTable": "t", "GlueJobFinalStatus": "SUCCEEDED"})
    torn_at = path.stat().st_size
    with path.open("ab") as f:
        f.write(b'{"_op": "put", "ExecutionHashId": "h2", "SourceTable": "t"')
    size = path.stat().st_size
    for reader in (led, Ledger(path)):
        assert reader.get("h2", "t") is None
        assert reader.final_status("h1", "t") == "SUCCEEDED"
        assert set(reader.current_state()) == {("h1", "t")}
        with pytest.raises(
            ValueError, match=rf"{re.escape(str(path))}: unterminated .* byte offset {torn_at}\b"
        ):
            reader.claim_run({"ExecutionHashId": "h3", "SourceTable": "t"})
        assert path.stat().st_size == size
    with path.open("ab") as f:
        f.write(b', "GlueJobFinalStatus": "SUCCEEDED"}\n')
    assert led.final_status("h2", "t") == "SUCCEEDED"
    assert not led.claim_run({"ExecutionHashId": "h2", "SourceTable": "t"})
    assert led.claim_run({"ExecutionHashId": "h3", "SourceTable": "t"})

    # a crash remnant followed by an append: the remnant ends up on a
    # line of its own and the update row stays intact after it
    bad_at = path.stat().st_size
    with path.open("ab") as f:
        f.write(b'{"_op": "upd')
    led.update_item("h1", "t", GlueJobFinalStatus="FAILED")
    lines = path.read_bytes().split(b"\n")
    assert lines[-3] == b'{"_op": "upd' and lines[-1] == b""
    assert json.loads(lines[-2])["GlueJobFinalStatus"] == "FAILED"
    for reader in (led, Ledger(path)):
        with pytest.raises(ValueError, match=rf"{re.escape(str(path))}.*byte offset {bad_at}\b"):
            reader.claim_run({"ExecutionHashId": "h4", "SourceTable": "t"})


def test_concurrent_plans_same_acid_table_occ(spark, tmp_path):
    """Three plans targeting the SAME ACID table dispatched over a
    3-thread pool: the lakehouse OCC layer serializes the blind
    appends (version races retry), the ledger stays gapless, and the
    final snapshot holds every plan's rows — the full concurrency
    story end-to-end through the orchestrator."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        TransactionLog,
    )

    eng = Engine(
        spark,
        SourceRegistry(spark, parquet_root=SF_SMALL),
        EngineConfig(
            target_root=str(tmp_path / "lake"),
            register_catalog=False,
            acid=True,
        ),
        Ledger(tmp_path / "ledger.jsonl"),
        NotificationLog(tmp_path / "notify.jsonl"),
    )
    orch = Orchestrator(eng, tmp_path / "queue", max_concurrent_runs=3)
    qdir = orch.queue_root / "run_now"
    preds = [
        "r_regionkey < 2",
        "r_regionkey IN (2, 3)",
        "r_regionkey = 4",
    ]
    for i, pred in enumerate(preds):
        (qdir / f"p{i}.json").write_text(
            json.dumps(
                _plan_dict(query=f"SELECT * FROM region WHERE {pred}")
            )
        )

    outcomes = orch.dispatch({})
    assert all(o.succeeded for o in outcomes), [
        (o.plan_file, o.parse_error) for o in outcomes
    ]
    t = TransactionLog(tmp_path / "lake" / "sybaseiq" / "dba" / "region")
    ops = [c.op for c in t.history()]
    assert ops.count("append") == 3, ops  # all three landed, gapless
    assert t.snapshot(spark).count() == 5  # 2 + 2 + 1 regions


def test_sink_lock_key_normalized(spark, tmp_path):
    """Differently-spelled suffixes addressing the same physical dir
    ('a/b', 'a/b/', './a/b') must share ONE lock — distinct locks
    would bypass the FileOutputCommitter serialization (ADVICE r10)."""
    eng = Engine(
        spark,
        SourceRegistry(spark, parquet_root=SF_SMALL),
        EngineConfig(target_root=str(tmp_path / "lake"), register_catalog=False),
    )
    base = eng._sink_lock("a/b")
    assert eng._sink_lock("a/b/") is base
    assert eng._sink_lock("./a/b") is base
    assert eng._sink_lock("a/./b") is base
    assert eng._sink_lock("a/c") is not base


def _run_split_job(spark, tmp_path, days, partitioned=True):
    """``run_job`` over a 600-row ``(id, d)`` source whose date ``d``
    cycles through ``days`` days independently of ``id``: split 4 ways
    on ``id`` and Hive-partitioned on ``d`` (or neither, when not
    ``partitioned``).  Returns the result, the source row count and
    the run's Spark job count."""
    from datetime import date, timedelta

    from tests.conftest import count_spark_jobs

    rows = [(i, date(2024, 1, 1) + timedelta(days=i * 7 % days)) for i in range(600)]
    src_path = str(tmp_path / "src")
    spark.createDataFrame(rows, "id long, d date").write.parquet(src_path)
    eng = Engine(
        spark,
        SourceRegistry(spark, table_paths={"t": src_path}),
        EngineConfig(target_root=str(tmp_path / "lake"), register_catalog=False),
    )
    split = {"NumPartitions": 4, "ColumnForPartitioningOnSpark": "id",
             "ColumnForPartitioningOnS3": "d"}
    plan = ExtractionPlan.from_dict(
        {"SourceName": "s", "SourceDatabase": "db", "SourceSchema": "x",
         "SourceTable": "t", "Query": "SELECT * FROM t",
         **(split if partitioned else {})}
    )
    results = []
    jobs = count_spark_jobs(spark, lambda: results.append(eng.run_job(plan.jobs[0])))
    assert results[0].status == "SUCCEEDED", results[0].error
    return results[0], len(rows), jobs


def _data_files(result):
    from pathlib import Path

    return sorted(Path(result.sink.path).rglob("*.parquet"))


def test_range_split_gives_each_partition_dir_one_writer(spark, tmp_path):
    """The N-way split ranges over (sink column, Spark column): each of
    the 4 tasks writes a contiguous run of the 30 day directories, so a
    directory gets one file, two where a range boundary cuts it."""
    result, n_rows, _ = _run_split_job(spark, tmp_path, days=30)
    files = _data_files(result)
    dirs = {f.parent for f in files}
    assert len(dirs) == 30
    assert len(files) <= len(dirs) + 3, f"{len(files)} files in {len(dirs)} dirs"
    assert result.row_count == n_rows
    assert spark.read.parquet(result.sink.path).count() == n_rows


def test_range_split_spreads_one_sink_value_over_all_tasks(spark, tmp_path):
    """The Spark column stays the secondary key: when every row has the
    same sink value, its one directory still gets all 4 writers (a
    hash split on the sink column would give it one)."""
    result, n_rows, _ = _run_split_job(spark, tmp_path, days=1)
    files = _data_files(result)
    assert len({f.parent for f in files}) == 1
    assert len(files) == 4
    assert spark.read.parquet(result.sink.path).count() == n_rows


#: Spark jobs of one ``run_job``: a new sampling pass or re-scan fails here
_RUN_JOB_BUDGET = {"partitioned": 4, "unpartitioned": 2}


@pytest.mark.parametrize("shape", sorted(_RUN_JOB_BUDGET))
def test_run_job_spark_job_budget(spark, tmp_path, shape):
    _, _, jobs = _run_split_job(spark, tmp_path, days=30, partitioned=shape == "partitioned")
    assert jobs <= _RUN_JOB_BUDGET[shape], f"{shape} run_job ran {jobs} Spark jobs"


@pytest.mark.parametrize("phys_gib,heap", [(15, "7g"), (1, "1g"), (256, "48g")])
def test_default_driver_memory_follows_host(monkeypatch, phys_gib, heap):
    """Half of physical memory, floored at 1g and capped at 48g."""
    import os

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.session import (
        default_driver_memory,
    )

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    assert default_driver_memory() == heap
