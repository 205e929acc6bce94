from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = f"{TESTDATA_ROOT}/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", f"{TESTDATA_ROOT}/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark import (
        get_spark,
    )

    wh = tmp_path_factory.mktemp("warehouse")
    # 8 shuffle partitions for the TEST session (r12): the suite runs
    # hundreds of sub-second queries over sf0.001 inputs where 32-way
    # exchanges are pure scheduling overhead (~2x per-test cost,
    # measured).  Results are partition-count-invariant by the
    # engine's determinism design — the driver's own 8-core scaling
    # runs already exercise exactly this configuration — and plan
    # SHAPES (join strategies, pushdowns, window guards) do not depend
    # on the partition count.  Bench/production sessions keep the
    # core-count default from session.py.
    s = get_spark(app_name="tests", warehouse_dir=str(wh), shuffle_partitions=8)
    yield s


def count_spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through a job group once the
    listener bus has delivered every job-start event."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables pre-registered as views,
    mirroring the driver's oracle setup."""
    import duckdb

    con = duckdb.connect()
    for t in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]:
        p = Path(SF_ORACLE) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()
