"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` / ``oracle_sql()`` — the oracle-checked operator surface;
implementations live in
``platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog``.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark import (
    query_catalog as _catalog,
)

_SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q1-style pricing summary — the canonical shape of a plan
    ``Query`` in the reference platform, executed natively by Spark SQL.
    """
    return _catalog.queries()["q1_pricing_summary"](spark, _SF0001)


def _driver_verified_rounds() -> dict[str, int]:
    """name -> LATEST round whose ``CORRECTNESS_r{N}.json`` (next to this
    file) holds a green row for it (absent = never verified).

    Each round's correctness run checks only the first 50 ``queries()``
    entries, so the sample self-rotates: entries without a green row yet
    sort first (see ``_ordered_names``), and once a round's file lands
    they drop behind the still-unverified tail automatically.
    """
    latest: dict[str, int] = {}
    for p in sorted(Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(p.stem.split("_r")[-1])
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("err") is None and row.get("rows_match"):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _ordered_names() -> list[str]:
    """Catalog names with never-verified, oracle-backed entries first,
    then STALEST-green entries (age-based re-verification).

    Sort groups (stable within each, preserving registration order):
      0. has an oracle, no green row yet  — needs a CORRECTNESS row;
      1. rows-only (no oracle), no green row — records a weaker check;
      2. already verified, ordered by the round of their LATEST
         green row ASCENDING — once every entry holds at least one
         green row, the 50-draw continuously re-verifies the entries
         whose evidence is oldest, so a regression in an early-round
         entry cannot hide behind an old green forever.
    """
    rounds = _driver_verified_rounds()

    def key(e: _catalog.CatalogEntry) -> tuple[int, int]:
        if e.name in rounds:
            return (2, rounds[e.name])
        return (0 if e.oracle is not None else 1, 0)

    return [e.name for e in sorted(_catalog.catalog().values(), key=key)]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    qs = _catalog.queries()
    return {name: qs[name] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted => rows-only check)."""
    oracles = _catalog.oracle_sql()
    return {name: oracles[name] for name in _ordered_names() if name in oracles}
