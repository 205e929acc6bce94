"""Independent correctness oracle: DuckDB over the generated source
parquet, computed before the timed region.

* extract_chain — per-job row counts (written into the plans as
  ``ExpectedAmountOfRecords``, so the engine's own reconciliation is
  checked) and per-table catalog counts;
* acid_ingest — DuckDB replays the same op list as SQL
  (INSERT / UPDATE / DELETE) and records, per table version, the live
  row count, an exact-cents ``o_totalprice`` checksum and the number of
  change-feed rows each commit produces;
* catalog_queries — each entry's ``oracle_sql()`` row count.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

import duckdb

from datagen import BASE_ROWS

TABLES = ["region", "nation", *BASE_ROWS]

#: exact-cents checksum, identical text in both engines' semantics
CHECKSUM_SQL = "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)"


def connect(data_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / (t + '.parquet')}')")
    return con


def scalar(con: duckdb.DuckDBPyConnection, sql: str):
    return con.execute(sql).fetchone()[0]


def fill_expected(con, queue: list[tuple[str, dict, list[str]]]) -> dict[str, int]:
    """Set every job's ``ExpectedAmountOfRecords`` from DuckDB (in place)
    and return the expected landed rows per source table (the
    duplicate plan is skipped by the engine, so it lands nothing)."""
    landed: dict[str, int] = {}
    for name, plan, sqls in queue:
        jobs = plan["Jobs"] if plan.get("SequentialMultipleParts") else [plan]
        for job, sql in zip(jobs, sqls):
            job["ExpectedAmountOfRecords"] = int(scalar(con, sql))
            if "duplicate" not in name:
                table = job.get("SourceTable", plan.get("SourceTable"))
                landed[table] = landed.get(table, 0) + job["ExpectedAmountOfRecords"]
    return landed


@dataclass
class AcidTruth:
    """DuckDB's view of the table after each version."""

    count: dict[int, int] = field(default_factory=dict)
    checksum: dict[int, int] = field(default_factory=dict)
    changed: dict[int, int] = field(default_factory=dict)  # rows each commit touched
    feed_rows: dict[int, int] = field(default_factory=dict)  # CDF rows per commit
    filtered: dict[int, int] = field(default_factory=dict)  # op index -> count

    def expected(self, i: int, op: dict) -> dict:
        """Expected observation for op ``i`` of the list."""
        kind, v = op["op"], op["version"]
        if kind == "read_filtered":
            return {"count": self.filtered[i]}
        if kind == "read_time_travel":
            return {"count": self.count[v]}
        if kind == "read_change_feed":
            return {"count": sum(self.feed_rows[x] for x in range(op["from_version"] + 1, v + 1))}
        return {"count": self.count[v], "checksum": self.checksum[v]}


def acid_truth(con, ops: list[dict]) -> AcidTruth:
    truth = AcidTruth(count={0: 0}, checksum={0: 0})
    con.execute("CREATE OR REPLACE TEMP TABLE acid_t AS SELECT * FROM orders WHERE false")
    prev_upper = 0
    for i, op in enumerate(ops):
        kind = op["op"]
        if kind == "append":
            where = f"o_orderkey >= {prev_upper} AND o_orderkey < {op['upper']}"
            changed = feed = scalar(con, f"SELECT count(*) FROM orders WHERE {where}")
            con.execute(f"INSERT INTO acid_t SELECT * FROM orders WHERE {where}")
            prev_upper = op["upper"]
        elif kind == "merge":
            where = f"o_orderkey >= {op['lo']} AND o_orderkey < {op['hi']}"
            changed = scalar(con, f"SELECT count(*) FROM acid_t WHERE {where}")
            feed = 2 * changed  # update pre- and post-images
            con.execute(f"UPDATE acid_t SET o_totalprice = o_totalprice + {op['delta']} WHERE {where}")
        elif kind == "delete":
            where = f"o_orderkey % 100 = {op['residue']}"
            changed = feed = scalar(con, f"SELECT count(*) FROM acid_t WHERE {where}")
            con.execute(f"DELETE FROM acid_t WHERE {where}")
        elif kind == "compact":
            changed = feed = 0
        else:
            if kind == "read_filtered":
                truth.filtered[i] = scalar(
                    con,
                    f"SELECT count(*) FROM acid_t WHERE o_orderkey >= {op['lo']} AND o_orderkey < {op['hi']}",
                )
            continue
        v = op["version"]
        truth.changed[v] = changed
        truth.feed_rows[v] = feed
        truth.count[v] = scalar(con, "SELECT count(*) FROM acid_t")
        truth.checksum[v] = scalar(con, f"SELECT coalesce({CHECKSUM_SQL}, 0) FROM acid_t")
    return truth


def catalog_counts(con, oracle_sql: dict[str, str], entries: list[str]) -> dict[str, int]:
    return {e: int(scalar(con, f"SELECT count(*) FROM ({oracle_sql[e]}) q")) for e in entries}


def mismatches(expected: dict, observed: dict) -> list[str]:
    """Keys whose observed value differs from the expectation."""
    return [
        f"{k}: expected {v!r}, got {observed.get(k)!r}"
        for k, v in expected.items()
        if observed.get(k) != v
    ]
