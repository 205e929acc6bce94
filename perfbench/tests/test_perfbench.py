"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The smoke tests start Spark (one process per workload, ~1 min each).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import eventlog  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import specs  # noqa: E402
from tracer import Tracer  # noqa: E402


def test_same_seed_same_inputs_plans_and_ops():
    a, b = datagen.build_tables(5, 0.001), datagen.build_tables(5, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(datagen.build_tables(6, 0.001)["orders"])
    for r in range(3):
        assert specs.extract_queue(5, r, 1500) == specs.extract_queue(5, r, 1500)
    assert specs.acid_ops(5, 1500) == specs.acid_ops(5, 1500)
    assert specs.catalog_order(5, 1) == specs.catalog_order(5, 1)
    assert datagen.ledger_history(5, 50) == datagen.ledger_history(5, 50)


def test_rounds_get_distinct_dedup_keys_and_one_duplicate():
    q0, q1 = specs.extract_queue(5, 0, 1500), specs.extract_queue(5, 1, 1500)
    parts = lambda q: {  # noqa: E731
        (j["SourceTable"], j["MigrationPart"]) for _, p, _ in q for j in p.get("Jobs", [p])
    }
    assert not parts(q0) & parts(q1)
    assert specs.duplicate_parts(q0) == specs.LINEITEM_PARTS
    assert q0[1][1] == q0[3][1]  # the duplicate is byte-identical to its original


@pytest.fixture(scope="module")
def con(tmp_path_factory):
    d = tmp_path_factory.mktemp("data")
    datagen.write_tables(d, 5, 0.001)
    return oracle.connect(d)


def test_oracle_flags_dropped_row_and_perturbed_checksum(con):
    ops = specs.acid_ops(5, datagen.rows_at("orders", 0.001))
    truth = oracle.acid_truth(con, ops)
    i, op = next((i, o) for i, o in enumerate(ops) if o["op"] == "read_current")
    want = truth.expected(i, op)
    assert want["count"] > 0
    assert oracle.mismatches(want, dict(want)) == []
    assert oracle.mismatches(want, {**want, "count": want["count"] - 1})
    assert oracle.mismatches(want, {**want, "checksum": want["checksum"] + 1})


def test_oracle_counts_follow_the_op_list(con):
    n = datagen.rows_at("orders", 0.001)
    ops = specs.acid_ops(5, n)
    truth = oracle.acid_truth(con, ops)
    merge = next(o for o in ops if o["op"] == "merge")
    delete = next(o for o in ops if o["op"] == "delete")
    assert truth.count[specs.ACID_APPENDS] == n
    assert truth.changed[merge["version"]] == merge["hi"] - merge["lo"]
    assert truth.count[delete["version"]] == n - truth.changed[delete["version"]]
    assert truth.feed_rows[merge["version"]] == 2 * truth.changed[merge["version"]]


def test_fill_expected_counts_each_job(con):
    queue = specs.extract_queue(5, 0, datagen.rows_at("orders", 0.001))
    landed = oracle.fill_expected(con, queue)
    jobs = [j for _, p, _ in queue for j in p.get("Jobs", [p])]
    assert all(isinstance(j["ExpectedAmountOfRecords"], int) for j in jobs)
    assert landed["lineitem"] == datagen.rows_at("lineitem", 0.001)  # the parts cover it once


def test_self_time_and_stage_coverage():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    own = t.self_times()
    assert own[outer.id] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
    assert eventlog.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert eventlog.covered([(0, 2), (5, 8)], 1, 6) == 2


def test_tracer_restores_patched_functions():
    class Target:
        def f(self):
            return 1

        @classmethod
        def g(cls):
            return 2

    before = dict(Target.__dict__)
    t = Tracer()
    t.install([(Target, "f", "t.f"), (Target, "g", "t.g")])
    assert Target().f() == 1 and Target.g() == 2
    assert [s.name for s in t.spans] == ["t.f", "t.g"]
    t.uninstall()
    assert Target.__dict__["f"] is before["f"] and Target.__dict__["g"] is before["g"]


def test_benchmark_json_matches_metric_lists():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER


def test_refuses_outside_a_checkout(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_chain", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and not out.stdout.strip()


@pytest.mark.parametrize("workload", ["extract_chain", "acid_ingest", "catalog_queries"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    expected = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert set(result["metrics"]) == set(expected)
    if trace and workload == "extract_chain":
        assert result["metrics"]["orchestrator.jobs_skipped"]["value"] == specs.LINEITEM_PARTS
